"""Search operator tests: exact KNN semantics, pre-filtering, BM25 exact-term
retrieval, hybrid RRF, IVF vs exact agreement (FIXTURES.md tables 3-4)."""

import math

import pytest
from pyspark.sql import functions as F

from mcpvectordb_spark.config import TEST
from mcpvectordb_spark.embedder import HashEmbedder
from mcpvectordb_spark.ingest import ingest_batch
from mcpvectordb_spark.operators.bm25 import bm25_topk
from mcpvectordb_spark.operators.hybrid import rrf_topk
from mcpvectordb_spark.operators.knn import cosine, ivf_assign, ivf_topk, knn_topk
from mcpvectordb_spark.store import build_filter

EMB = HashEmbedder(dim=TEST.embedding_dim, config=TEST)


@pytest.fixture()
def filled(spark, store, mini_docs):
    ingest_batch(mini_docs, store, TEST, created_at="2026-01-01T00:00:00+00:00")
    return store


def test_knn_topk_bound_and_order(spark, filled):
    qv = EMB.embed_query("alpha beta gamma")
    hits = knn_topk(filled.read(), qv, 3, tie_col="id").collect()
    assert len(hits) == 3
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)
    # k larger than corpus → whole corpus, no error
    all_hits = knn_topk(filled.read(), qv, 1000, tie_col="id").collect()
    assert len(all_hits) == filled.count()


def test_knn_scores_match_numpy(spark, filled):
    import numpy as np

    qv = EMB.embed_query("alpha beta gamma").astype(np.float64)
    row = knn_topk(filled.read(), qv, 1, tie_col="id").first()
    ev = np.array(row["embedding"], dtype=np.float64)
    expected = float(np.dot(ev, qv) / (np.linalg.norm(ev) * np.linalg.norm(qv)))
    assert math.isclose(row["score"], expected, rel_tol=1e-9)


def test_knn_library_isolation(spark, filled):
    qv = EMB.embed_query("anything")
    hits = knn_topk(filled.read(), qv, 100, pre_filter=build_filter(library="lib_b"), tie_col="id")
    assert {r["library"] for r in hits.collect()} == {"lib_b"}
    none = knn_topk(filled.read(), qv, 5, pre_filter=build_filter(library="ghost"), tie_col="id")
    assert none.count() == 0


def test_knn_prefilter_applied_before_ranking(spark, filled):
    """Filter must restrict the candidate set, not trim the result; with a
    filter matching few rows, all of them surface even if globally low-ranked."""
    qv = EMB.embed_query("x")
    lib_b_total = filled.read().filter(F.col("library") == "lib_b").count()
    hits = knn_topk(filled.read(), qv, 100, pre_filter=build_filter(library="lib_b"), tie_col="id")
    assert hits.count() == lib_b_total


def test_bm25_exact_term_retrieval(spark, filled):
    """The reference's hybrid guarantee: an exact rare token must retrieve
    its chunk (reference test_store.py:690-708, token 'E-4021')."""
    hits = bm25_topk(filled.read(), "e-4021", 5, "id", "content").collect()
    assert hits, "rare exact token must match"
    top = filled.read().filter(F.col("id") == hits[0]["doc"]).first()
    assert "E-4021" in top["content"]


def test_bm25_absent_term_empty(spark, filled):
    assert bm25_topk(filled.read(), "zzzmissingterm", 5, "id", "content").count() == 0
    assert bm25_topk(filled.read(), "", 5, "id", "content").count() == 0


def test_rrf_fusion_rewards_presence_in_both_legs(spark):
    a = spark.createDataFrame([("d1", 10.0), ("d2", 5.0)], "doc string, score double")
    b = spark.createDataFrame([("d2", 0.9), ("d3", 0.8)], "doc string, score double")
    fused = {r["doc"]: r["rrf_score"] for r in rrf_topk([(a, "doc", "score"), (b, "doc", "score")], 10).collect()}
    # d2 appears in both legs → beats d1 and d3 (rank 1+2 vs single rank 1)
    assert fused["d2"] > fused["d1"] > 0
    assert fused["d2"] > fused["d3"] > 0
    assert math.isclose(fused["d2"], 1 / 62 + 1 / 61, rel_tol=1e-9)


def test_ivf_agrees_with_exact_when_probing_all(spark, filled):
    corpus = filled.read().select("id", "embedding")
    centroids = corpus.limit(3).select(
        F.col("id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = ivf_assign(corpus, centroids, corpus_id="id")
    qv = EMB.embed_query("alpha beta gamma")
    # probing ALL centroids makes IVF exhaustive → must equal exact KNN
    ivf_ids = [r["id"] for r in ivf_topk(assigned, centroids, qv, 5, nprobe=3, corpus_id="id").collect()]
    exact_ids = [r["id"] for r in knn_topk(corpus, qv, 5, tie_col="id").collect()]
    assert ivf_ids == exact_ids


def test_doc_and_query_prefixes_differ():
    d = EMB.embed_documents(["same text"])[0]
    q = EMB.embed_query("same text")
    assert not math.isclose(float(d @ q), 1.0, abs_tol=1e-6)


def test_knn_pandas_impl_matches_expr(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.first()["embedding"]]
    a = {r["vec_id"]: r["score"] for r in
         knn_topk(emb, qv, 20, tie_col="vec_id", impl="expr").collect()}
    b = {r["vec_id"]: r["score"] for r in
         knn_topk(emb, qv, 20, tie_col="vec_id", impl="pandas").collect()}
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12), (k, a[k], b[k])


def test_kmeans_ivf_end_to_end(spark):
    from mcpvectordb_spark.operators.knn import build_centroids_kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = build_centroids_kmeans(emb, k=8, vec_col="embedding")
    assert centroids.count() == 8
    assigned = ivf_assign(emb, centroids, corpus_id="vec_id")
    # every vector lands in exactly one cell
    assert assigned.count() == emb.count()
    qv = [float(x) for x in emb.first()["embedding"]]
    exact = [r["vec_id"] for r in knn_topk(emb, qv, 5, tie_col="vec_id").collect()]
    # probing every cell is exhaustive → identical to exact KNN
    full = [r["vec_id"] for r in
            ivf_topk(assigned, centroids, qv, 5, nprobe=8, corpus_id="vec_id").collect()]
    assert full == exact
    # probing 3/8 cells keeps the query's own cell → top-1 preserved
    probed = [r["vec_id"] for r in
              ivf_topk(assigned, centroids, qv, 5, nprobe=3, corpus_id="vec_id").collect()]
    assert probed[0] == exact[0]


def test_knn_edge_vectors_null_not_crash(spark):
    """Zero, NULL, and wrong-dimension vectors must score NULL (sorting
    last) in BOTH impls — the expr path used to throw DIVIDE_BY_ZERO under
    ANSI and the pandas path crashed on ragged input (code-review finds)."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0]), (3, None), (4, [3.0])],
        "id int, v array<float>",
    )
    for impl in ("expr", "pandas"):
        rows = knn_topk(df, [1.0, 0.0], 4, vec_col="v", tie_col="id", impl=impl).collect()
        assert rows[0]["id"] == 2 and rows[0]["score"] is not None, impl
        assert all(r["score"] is None for r in rows[1:]), impl


def test_sq8_matches_exact_knn(spark):
    """SQ8 coarse+refine must recover the exact top-k on the test corpus —
    at 64-d with refine_factor=4 the int8 approximation error is far below
    the neighbor score gaps."""
    from mcpvectordb_spark.operators.knn import knn_topk, knn_topk_sq8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in knn_topk(corpus, qv, 10, tie_col="vec_id").collect()]
    sq8 = [r["vec_id"] for r in knn_topk_sq8(corpus, qv, 10, tie_col="vec_id").collect()]
    assert sq8 == exact


def test_sq8_zero_vector_safe(spark):
    """A zero vector must quantize to zero codes (scale 0 guard), not
    throw ANSI division-by-zero."""
    from mcpvectordb_spark.operators.knn import sq8_quantize, sq8_quantize_query

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])], "id int, embedding array<float>"
    )
    rows = {r["id"]: r for r in sq8_quantize(df).collect()}
    assert rows[1]["sq8_code"] == [0, 0, 0]
    assert rows[2]["sq8_code"][1] == -127
    s, codes = sq8_quantize_query([0.0, 0.0])
    assert s == 0.0 and codes == [0, 0]


def test_sq8_refine_prunes_to_candidates(spark):
    """The refine stage's exact scoring must touch only k*refine rows —
    the coarse pass compiles to TakeOrderedAndProject."""
    from mcpvectordb_spark.operators.knn import knn_topk_sq8
    from mcpvectordb_spark.plans.explain import formatted_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    plan = formatted_plan(knn_topk_sq8(emb, qv, 10, tie_col="vec_id"))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_index_incremental_append_matches_rebuild(spark):
    """Index.append (O(batch) refresh) must produce identical scores to a
    full rebuild over the combined corpus, including a replaced doc."""
    from mcpvectordb_spark.operators.bm25 import Bm25Index, bm25_score

    old = spark.createDataFrame(
        [(1, "spark window join"), (2, "batch pipeline code"), (3, "old text to replace")],
        "id int, text string",
    )
    batch = spark.createDataFrame(
        [(3, "replacement text spark"), (4, "window functions in spark"), (5, "join strategies batch")],
        "id int, text string",
    )
    combined = old.filter(F.col("id") != 3).unionByName(batch)

    idx = Bm25Index.build(old, "id", "text")
    idx2 = idx.append(batch, "id", "text", replace_ids=[3])
    q = "spark window join"
    incremental = {
        r["doc"]: round(r["score"], 9)
        for r in bm25_score(combined, q, "id", "text", index=idx2).collect()
    }
    fresh = {
        r["doc"]: round(r["score"], 9)
        for r in bm25_score(combined, q, "id", "text").collect()
    }
    assert incremental == fresh and len(fresh) >= 4
    idx2.unpersist()
    idx.unpersist()


def test_knn_join_bucketed_matches_broadcast_when_probing_all(spark):
    """With nprobe == nlist the bucketed batch join is exhaustive and must
    equal the broadcast knn_join exactly."""
    from mcpvectordb_spark.operators.knn import ivf_assign, knn_join, knn_join_bucketed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned = ivf_assign(emb, centroids, corpus_id="vec_id")

    exact = knn_join(queries, emb, 3, corpus_id="vec_id")
    bucketed = knn_join_bucketed(queries, assigned, centroids, 3, nprobe=8, corpus_id="vec_id")
    key = lambda rows: sorted((r["query_id"], r["vec_id"], round(r["score"], 9)) for r in rows)  # noqa: E731
    assert key(bucketed.select("query_id", "vec_id", "score").collect()) == key(
        exact.select("query_id", "vec_id", "score").collect()
    )


def test_knn_join_bucketed_partial_probe_is_subset(spark):
    """nprobe < nlist trades recall for scan fraction: results must come
    only from probed cells and never exceed k per query."""
    from mcpvectordb_spark.operators.knn import ivf_assign, knn_join_bucketed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned = ivf_assign(emb, centroids, corpus_id="vec_id")
    out = knn_join_bucketed(queries, assigned, centroids, 3, nprobe=2, corpus_id="vec_id")
    counts = out.groupBy("query_id").count().collect()
    assert counts and all(r["count"] <= 3 for r in counts)


def test_truncated_knn_refine_recovers_exact_order(spark):
    """With refine wide enough, truncated-coarse + exact re-rank returns
    the same rows as full exact KNN, exactly ordered."""
    from mcpvectordb_spark.operators.knn import knn_topk, knn_truncated_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.orderBy("vec_id").first()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = knn_topk(corpus, q, 5, tie_col="vec_id").select("vec_id").collect()
    # refine = corpus size → candidate set is everything → must equal exact
    n = corpus.count()
    trunc = knn_truncated_topk(corpus, q, k=5, dims_coarse=8, refine=(n // 5) + 1).select("vec_id").collect()
    assert [r["vec_id"] for r in trunc] == [r["vec_id"] for r in exact]
    # narrow refine still returns k rows with scores descending
    got = knn_truncated_topk(corpus, q, k=5, dims_coarse=16, refine=4).collect()
    scores = [r["score"] for r in got]
    assert len(got) == 5 and scores == sorted(scores, reverse=True)


def test_weighted_fusion_blends_and_handles_missing_legs(spark):
    from mcpvectordb_spark.operators.hybrid import weighted_fuse_topk

    vec = spark.createDataFrame([(1, 0.9), (2, 0.5), (3, 0.1)], "id long, score double")
    fts = spark.createDataFrame([(2, 10.0), (4, 2.0)], "id long, score double")
    out = {r["doc"]: r["blend_score"] for r in weighted_fuse_topk(vec, fts, k=10, alpha=0.5).collect()}
    # doc2: vec norm (0.5-0.1)/0.8=0.5, fts norm 1.0 → 0.75 — the winner
    assert max(out, key=out.get) == 2
    assert abs(out[2] - 0.75) < 1e-9
    assert abs(out[1] - 0.5) < 1e-9          # vec-only doc: α·1.0
    assert abs(out[4] - 0.0) < 1e-9          # fts min normalizes to 0
    # constant-score leg normalizes to 1.0, not divide-by-zero
    const = spark.createDataFrame([(7, 3.0), (8, 3.0)], "id long, score double")
    got = {r["doc"]: r["blend_score"] for r in weighted_fuse_topk(const, fts, k=10, alpha=1.0).collect()}
    assert got[7] == 1.0 and got[8] == 1.0


def test_mean_pool_embeddings_math_and_norm(spark):
    from mcpvectordb_spark.operators.knn import mean_pool_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [3.0, 4.0])],
        "doc long, embedding array<double>",
    )
    out = {r["doc"]: r["doc_embedding"] for r in mean_pool_embeddings(df, "doc").collect()}
    import math
    # doc1 mean = (0.5, 0.5) → normalized (√2/2, √2/2)
    assert all(abs(v - math.sqrt(2) / 2) < 1e-12 for v in out[1])
    # doc2 single vector (3,4) → normalized (0.6, 0.8)
    assert abs(out[2][0] - 0.6) < 1e-12 and abs(out[2][1] - 0.8) < 1e-12
    raw = {r["doc"]: r["doc_embedding"] for r in mean_pool_embeddings(df, "doc", renormalize=False).collect()}
    assert raw[1] == [0.5, 0.5]


def test_api_search_blend_fusion(spark, tmp_path):
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.config import TEST

    db = VectorDB(spark, str(tmp_path / "store"), TEST)
    db.ingest_content("alpha beta gamma retrieval test document", source="s1", library="L")
    db.ingest_content("totally different subject matter entirely", source="s2", library="L")
    res = db.search("retrieval test", top_k=2, library="L", fusion="blend")
    assert res["status"] == "ok" and len(res["results"]) >= 1
    assert res["results"][0]["source"] == "s1"
    bad = db.search("x", fusion="nope")
    assert bad["status"] == "error"


def test_ivf_index_append_matches_rebuild(spark, tmp_path):
    """Persisted IVF index: appending a second batch against the FROZEN
    centroids yields cell-for-cell the same index as one full build, and
    search over the appended index equals search over the rebuilt one
    (the O(batch) maintenance twin of the reference's full-retrain path,
    store.py:197-202, 274)."""
    from mcpvectordb_spark.operators.knn import IvfIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select(F.col("vec_id").alias("id"), "embedding")
    centroids = emb.filter(F.col("id") < 8).select(
        F.col("id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    first = emb.filter(F.col("id") % 2 == 0)
    second = emb.filter(F.col("id") % 2 == 1)

    idx = IvfIndex.build(spark, first, centroids, str(tmp_path / "ivf"), corpus_id="id")
    idx.append(second)
    full = IvfIndex.build(spark, emb, centroids, str(tmp_path / "ivf_full"), corpus_id="id")

    cells_a = {(r["id"], int(r["centroid_id"])) for r in idx.assigned().collect()}
    cells_b = {(r["id"], int(r["centroid_id"])) for r in full.assigned().collect()}
    assert cells_a == cells_b and len(cells_a) == emb.count()

    qv = [float(x) for x in emb.filter(F.col("id") == 3).first()["embedding"]]
    got = [r["id"] for r in idx.search(qv, 5, nprobe=3).collect()]
    want = [r["id"] for r in full.search(qv, 5, nprobe=3).collect()]
    assert got == want and len(got) == 5

    # static prune: the scan only lists nprobe of the 8 cell directories
    q = idx.search(qv, 5, nprobe=3, static_prune=True)
    q.collect()
    scan = q._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 3


def test_bm25_fuzzy_recovers_typos(spark):
    """A query misspelled at edit distance 1 must retrieve what the exact
    query retrieves; unrelated words must not leak into the expansion."""
    from mcpvectordb_spark.operators.bm25 import bm25_topk, bm25_topk_fuzzy, fuzzy_terms

    docs = spark.createDataFrame(
        [(1, "the flink runtime handles watermark alignment"),
         (2, "spark shuffle partitions and broadcast joins"),
         (3, "completely unrelated cooking recipes with basil")],
        "doc_id long, text string",
    )
    exact = [r["doc"] for r in bm25_topk(docs, "watermark alignment", 2, "doc_id", "text").collect()]
    fuzzy = [r["doc"] for r in bm25_topk_fuzzy(docs, "watermrk alignmet", 2, "doc_id", "text").collect()]
    assert exact and fuzzy and exact[0] == fuzzy[0] == 1

    terms = {r["term"] for r in fuzzy_terms(docs, "watermrk", "doc_id", "text").collect()}
    assert terms == {"watermark"}  # nothing else within distance 1

    # no expansion at all → empty result, not an error
    assert bm25_topk_fuzzy(docs, "zzzzqqqq", 5, "doc_id", "text").count() == 0


def test_highlight_col_snippets(spark):
    from mcpvectordb_spark.operators.bm25 import highlight_col

    pad = "filler words here " * 10
    docs = spark.createDataFrame(
        [(1, pad + "the Spark engine shuffles data " + pad),
         (2, "no relevant terms at all in this one " * 5),
         (3, "spark right at the start of the text " + pad)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["snip"] for r in docs.select(
        "doc_id", highlight_col(F.col("text"), ["spark", "shuffles"]).alias("snip")
    ).collect()}
    assert "**Spark**" in out[1] and "**shuffles**" in out[1]  # case kept, marked
    assert len(out[1]) <= 80 + 4 * len("**")                    # windowed excerpt
    assert out[2] == ("no relevant terms at all in this one " * 5)[:80]  # head fallback
    assert out[3].startswith("**spark**")                       # window clamps at 1


def test_qlm_dirichlet_ranking_and_zero_hit_scores(spark):
    """Dirichlet QL: a doc containing the query terms outranks ones that
    don't; zero-hit docs still score (pure length normalizer, so shorter
    zero-hit docs rank higher); hand-computed score matches."""
    import math

    from mcpvectordb_spark.operators.qlm import qlm_score, qlm_topk

    docs = spark.createDataFrame(
        [(1, "spark shuffle spark join"),     # hits: spark x2
         (2, "completely unrelated words"),   # zero-hit, dl=3
         (3, "more unrelated filler text here and padding")],  # zero-hit, dl=7
        "doc_id long, text string",
    )
    mu = 10.0
    scores = {r["doc"]: r["score"] for r in
              qlm_score(docs, "spark spark", "doc_id", "text", mu=mu).collect()}
    # collection: 14 tokens total, cf(spark)=2 → p_c = 2/14
    expected_1 = 2.0 * math.log(1 + 2 / (mu * (2 / 14))) + 2.0 * math.log(mu / (4 + mu))
    assert scores[1] == pytest.approx(expected_1, rel=1e-12)
    assert scores[2] == pytest.approx(2.0 * math.log(mu / (3 + mu)), rel=1e-12)
    assert scores[1] > scores[2] > scores[3]  # hit first, then shorter zero-hit
    top = qlm_topk(docs, "spark spark", 2, "doc_id", "text", mu=mu).collect()
    assert [r["doc"] for r in top] == [1, 2]


def test_qlm_shares_bm25_index(spark):
    """One Bm25Index serves both scorers: qlm with a prebuilt index equals
    the lazy-stats path exactly."""
    from mcpvectordb_spark.operators.bm25 import Bm25Index
    from mcpvectordb_spark.operators.qlm import qlm_score

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    )
    idx = Bm25Index.build(docs, "doc_id", "text")
    try:
        lazy = {r["doc"]: r["score"] for r in
                qlm_score(docs, "alpha beta", "doc_id", "text").collect()}
        indexed = {r["doc"]: r["score"] for r in
                   qlm_score(docs, "alpha beta", "doc_id", "text", index=idx).collect()}
        assert lazy == indexed
    finally:
        idx.unpersist()


def test_rm3_expansion_recovers_term_free_doc(spark):
    """RM3: a doc sharing NO original query term but dominated by the
    feedback docs' companion vocabulary enters the second-pass ranking
    (score > 0), and original-term docs still lead."""
    from mcpvectordb_spark.operators.prf import rm3_topk

    docs = spark.createDataFrame(
        [(1, "spark shuffle partition exchange"),
         (2, "spark shuffle partition stage"),
         (3, "shuffle partition exchange stage"),   # no 'spark' — expansion-only
         (4, "completely unrelated prose about gardening and soil")],
        "doc_id long, text string",
    )
    out = rm3_topk(docs, "spark", 4, "doc_id", "text",
                   fb_docs=2, fb_terms=5, lam=0.5).collect()
    scores = {r["doc"]: r["score"] for r in out}
    assert 3 in scores and scores[3] > 0.0       # recovered via expansion
    assert 4 not in scores or scores.get(4, 0.0) == 0.0
    assert max(scores, key=scores.get) in (1, 2)  # original terms still lead


def test_rm3_lam1_equals_plain_bm25_ranking(spark):
    """λ=1 collapses RM3 to a c(t,q)/|q|-scaled BM25: same ranking, scores
    scaled by 1/|q| for a duplicate-free query."""
    from mcpvectordb_spark.operators.bm25 import bm25_topk
    from mcpvectordb_spark.operators.prf import rm3_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma " * (1 + i % 4)) for i in range(30)],
        "doc_id long, text string",
    )
    base = [(r["doc"], r["score"]) for r in
            bm25_topk(docs, "alpha gamma", 8, "doc_id", "text").collect()]
    rm3 = [(r["doc"], r["score"]) for r in
           rm3_topk(docs, "alpha gamma", 8, "doc_id", "text", lam=1.0).collect()]
    assert [d for d, _ in base] == [d for d, _ in rm3]
    for (_, s0), (_, s1) in zip(base, rm3):
        assert s1 == pytest.approx(s0 / 2.0, rel=1e-12)


def test_mmr_diversifies_redundant_pool(spark):
    """A pool of two tight clusters: plain relevance would pick the whole
    closer cluster first; MMR alternates clusters, and step-1 is the pure
    argmax-relevance pick."""
    from mcpvectordb_spark.operators.mmr import mmr_rerank

    # cluster A along x (rel ~0.9), cluster B along y (rel 0.5), A ⟂ B:
    # after one A pick, every other A member is fully penalized (sim 1)
    # while B is unpenalized — λ=0.5 must jump clusters, then jump back
    rows = []
    for i in range(3):
        rows.append((i, [1.0, 0.0, 0.001 * i], 0.9 - 0.0001 * i))       # A
        rows.append((10 + i, [0.0, 1.0, 0.001 * i], 0.5 - 0.0001 * i))  # B
    pool = spark.createDataFrame(
        rows, "id long, embedding array<double>, rel double"
    )
    out = [r["id"] for r in mmr_rerank(pool, 4, lam=0.5).collect()]
    assert out[0] == 0                      # argmax relevance
    assert out[1] in (10, 11, 12)           # second pick jumps clusters
    assert {out[2], out[3]} & {1, 2}        # then back to cluster A


def test_mmr_lam1_is_plain_relevance_order(spark):
    from mcpvectordb_spark.operators.mmr import mmr_rerank

    pool = spark.createDataFrame(
        [(i, [float(i), 1.0], 1.0 - 0.1 * i) for i in range(6)],
        "id long, embedding array<double>, rel double",
    )
    out = [r["id"] for r in mmr_rerank(pool, 5, lam=1.0).collect()]
    assert out == [0, 1, 2, 3, 4]


def test_embedding_quality_flags_each_offender(spark):
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.knn import embedding_quality

    good = [0.125] * 64
    rows = [
        (1, good),
        (2, [0.125] * 63 + [float("nan")]),
        (3, [0.125] * 63 + [float("inf")]),
        (4, [0.0] * 64),
        (5, [0.3] * 32),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in embedding_quality(df, "vec_id", "embedding", 64).collect()}
    assert out[1]["ok"] and out[1]["dim_ok"] and out[1]["finite_ok"] and out[1]["norm_ok"]
    assert out[1]["norm"] == 1.0
    assert not out[2]["finite_ok"] and out[2]["n_nonfinite"] == 1 and not out[2]["ok"]
    assert not out[3]["finite_ok"] and not out[3]["ok"]
    assert out[4]["finite_ok"] and not out[4]["norm_ok"] and not out[4]["ok"]  # zero vector
    assert not out[5]["dim_ok"] and out[5]["norm_ok"] and not out[5]["ok"]     # wrong dim


# -- the one-plan API search vs the composed reference operators -----------

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
          "nu xi omicron pi rho sigma tau upsilon").split()


@pytest.fixture(scope="module")
def search_db(spark, tmp_path_factory):
    """~60 chunks over three libraries and two file types, with repeated
    passages (tied vector and BM25 scores) — more rows than a leg's cut."""
    import random

    from mcpvectordb_spark.api import VectorDB

    rnd = random.Random(7)
    docs = []
    for i in range(16):
        text = " ".join(rnd.choice(_WORDS) for _ in range(70))
        docs.append((f"doc{i:02d}.{'md' if i % 3 else 'txt'}", "ab"[i % 2], text, None))
    docs.append(("twin1.md", "a", docs[0][2], None))  # clone: every score ties
    docs.append(("tiny.txt", "tiny", "alpha omega", None))
    db = VectorDB(spark, str(tmp_path_factory.mktemp("hybrid") / "store"), TEST)
    raw = spark.createDataFrame(docs, "source string, library string, content string, metadata string")
    ingest_batch(raw, db.store, TEST, embedder_factory=db._embedder_factory(),
                 created_at="2026-01-01T00:00:00+00:00")
    return db


def _reference_rows(db, query, top_k, library=None, filter=None, fusion="rrf"):  # noqa: A002
    """The search as the separate catalog operators compose it: both legs
    cut at top_k·refine_factor, fused, joined back to the store."""
    from mcpvectordb_spark.operators.hybrid import weighted_fuse_topk

    cfg = db.config
    chunks = db.store.read().filter(build_filter(library, filter))
    qv = [float(x) for x in db.embedder.embed_query(query)]
    cand = max(top_k, top_k * cfg.refine_factor)
    vec_leg = knn_topk(chunks, qv, cand, tie_col="id")
    if not cfg.hybrid_search_enabled:
        ranked = vec_leg.limit(top_k)
    else:
        bm_leg = bm25_topk(chunks, query, cand, "id", "content", k1=cfg.bm25_k1, b=cfg.bm25_b)
        vec = vec_leg.select(F.col("id").alias("doc"), "score")
        if fusion == "blend":
            fused = weighted_fuse_topk(vec, bm_leg, top_k, alpha=0.5, id_cols=("doc", "doc"),
                                       score_cols=("score", "score"), id_col="id", score_col="score")
        else:
            fused = rrf_topk([(bm_leg, "doc", "score"), (vec, "doc", "score")], top_k,
                             k0=cfg.rrf_k0, id_col="id", score_col="score")
        ranked = fused.join(chunks, "id")
    rows = ranked.orderBy(F.desc("score"), F.asc("id")).collect()
    return [(r["id"], round(r["score"], 9)) for r in rows]


def _api_rows(db, query, top_k, **kw):
    out = db.search(query, top_k=top_k, **kw)
    assert out["status"] == "ok", out
    return [(r["id"], round(r["score"], 9)) for r in out["results"]]


@pytest.mark.parametrize("fusion", ["rrf", "blend"])
@pytest.mark.parametrize("query,top_k,scope", [
    ("alpha beta gamma", 2, {}),                        # unscoped, cut < store
    ("delta theta", 3, {"library": "b"}),               # library scope
    ("kappa mu", 2, {"filter": {"file_type": "md"}}),   # metadata filter
    ("zzzz qqqq", 2, {}),                               # no BM25 hit: vector leg only
    ("gamma gamma Delta gamma", 2, {}),                 # repeated terms count once
    ("alpha", 5, {"library": "ghost"}),                 # empty scope
    ("alpha omega", 5, {"library": "tiny"}),            # fewer rows than top_k
])
def test_api_search_matches_composed_operators(search_db, fusion, query, top_k, scope):
    got = _api_rows(search_db, query, top_k, fusion=fusion, **scope)
    assert got == _reference_rows(search_db, query, top_k, fusion=fusion, **scope)
    if scope.get("library") == "ghost":
        assert got == []


def test_api_search_vector_only_matches_knn_topk(search_db):
    from dataclasses import replace

    search_db.config = replace(TEST, hybrid_search_enabled=False)
    try:
        for query, scope in (("alpha beta gamma", {}), ("delta", {"library": "a"})):
            got = _api_rows(search_db, query, 4, **scope)
            assert got == _reference_rows(search_db, query, 4, **scope)
            assert len(got) == 4
    finally:
        search_db.config = TEST


def test_api_search_matches_composed_operators_wide_vectors(spark, tmp_path):
    """At the API's 768-d default the vector leg runs the Arrow kernel;
    the one plan must use the very kernel knn_topk picks."""
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.config import DEFAULT

    db = VectorDB(spark, str(tmp_path / "store"), DEFAULT)
    raw = spark.createDataFrame(
        [(f"d{i}.md", "L", " ".join(_WORDS[(i * 3 + j) % len(_WORDS)] for j in range(12)), None)
         for i in range(12)],
        "source string, library string, content string, metadata string",
    )
    ingest_batch(raw, db.store, DEFAULT, embedder_factory=db._embedder_factory(),
                 created_at="2026-01-01T00:00:00+00:00")
    for fusion in ("rrf", "blend"):
        got = _api_rows(db, "alpha gamma zeta", 1, fusion=fusion)
        assert got == _reference_rows(db, "alpha gamma zeta", 1, fusion=fusion)


def test_api_search_runs_in_few_spark_jobs(spark, search_db):
    """A default hybrid search is one plan: a scan stage and a ranking
    stage, not a job per leg, per posting list and per fusion step."""
    sc = spark.sparkContext
    search_db.search("alpha beta", top_k=5)  # warm-up
    sc.setJobGroup("one-plan-search", "job count")
    try:
        out = search_db.search("alpha beta", top_k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out["status"] == "ok" and out["results"]
    assert len(sc.statusTracker().getJobIdsForGroup("one-plan-search")) <= 3


def test_mmr_string_and_bigint_ids_pick_alike(spark):
    """The API reranks string chunk ids, the catalog bigint ids: the same
    pool keyed either way must give the same picks and mmr values,
    including the smallest-id tie-break between identical rows."""
    from mcpvectordb_spark.operators.mmr import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0], 0.9),
        (1, [1.0, 0.0, 0.0], 0.9),    # identical to 0: a tie, 0 wins
        (2, [0.0, 1.0, 0.0], 0.6),
        (3, [0.0, 1.0, 0.1], 0.6),
        (4, [0.5, 0.5, 0.7], 0.7),
    ]
    schema = "id {}, embedding array<double>, rel double"
    big = spark.createDataFrame([(100 + i, v, r) for i, v, r in rows], schema.format("long"))
    strs = spark.createDataFrame([(f"c{100 + i}", v, r) for i, v, r in rows], schema.format("string"))
    a = [(r["step"], f"c{r['id']}", r["mmr"]) for r in mmr_rerank(big, 5, lam=0.6).collect()]
    b = [(r["step"], r["id"], r["mmr"]) for r in mmr_rerank(strs, 5, lam=0.6).collect()]
    assert a == b
    assert a[0][1] == "c100" and len(a) == 5
