"""Plan-hygiene regression tests: pushdown, pruning, broadcast, top-k
physical operators — the properties that keep these queries viable at
100 TB (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from mcpvectordb_spark.catalog import QUERIES
from mcpvectordb_spark.config import TEST
from mcpvectordb_spark.embedder import HashEmbedder
from mcpvectordb_spark.ingest import ingest_batch
from mcpvectordb_spark.operators.knn import knn_topk
from mcpvectordb_spark.plans.explain import (
    count_exchanges,
    pushed_filters,
    read_schema,
    uses_broadcast_join,
    uses_take_ordered,
)
from mcpvectordb_spark.store import build_filter

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert "l_orderkey" in pf, pf


def test_column_pruning_skips_embedding(spark, store, mini_docs):
    """Metadata-only queries must not read the fat embedding column
    (SURVEY §4: 'critical: skip reading 768-float embedding')."""
    ingest_batch(mini_docs, store, TEST, created_at="2026-01-01T00:00:00+00:00")
    q = store.libraries_df()
    rs = read_schema(q)
    assert "embedding" not in rs, rs


def test_library_scope_is_partition_pruning(spark, store, mini_docs):
    ingest_batch(mini_docs, store, TEST, created_at="2026-01-01T00:00:00+00:00")
    q = store.read().filter(build_filter(library="lib_a")).select("id")
    # partition column filter → PartitionFilters, not a post-scan Filter
    from mcpvectordb_spark.plans.explain import formatted_plan

    plan = formatted_plan(q)
    assert "PartitionFilters: [isnotnull(library" in plan or "library" in pushed_filters(q), plan


def test_knn_topk_compiles_to_take_ordered(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [0.1] * 64
    q = knn_topk(emb, qv, 10, tie_col="vec_id")
    assert uses_take_ordered(q), "global top-k must be TakeOrderedAndProject, not Sort+Limit"


def test_tpch_q3_broadcasts_dimension(spark):
    q = QUERIES["tpch_q3"](spark, SF)
    assert uses_broadcast_join(q)


def test_tpch_q5_broadcasts_all_dims(spark):
    q = QUERIES["tpch_q5"](spark, SF)
    assert uses_broadcast_join(q)


def test_tpch_q1_single_shuffle(spark):
    """Q1 is one hash aggregate: exactly one exchange (partial→final)."""
    q = QUERIES["tpch_q1"](spark, SF)
    assert count_exchanges(q) <= 1, count_exchanges(q)


def test_knn_join_is_broadcast_no_shuffle_of_corpus(spark):
    q = QUERIES["knn_batch"](spark, SF)
    assert uses_broadcast_join(q)


def test_decontaminate_broadcasts_eval_index(spark):
    """The 100 TB train side must stream through a map-side join; only the
    tiny eval shingle index gets shipped."""
    q = QUERIES["decontaminate"](spark, SF)
    assert uses_broadcast_join(q)


def test_stratified_sample_is_shuffle_free(spark):
    """The hash-gated sample is a pure narrow filter — any exchange here
    would shuffle the whole corpus to throw most of it away."""
    q = QUERIES["sample_stratified"](spark, SF)
    assert count_exchanges(q) == 0, count_exchanges(q)


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The bin-bucketed range join must plan as an equi (hash) join — a
    BroadcastNestedLoopJoin or CartesianProduct here means the non-equi
    predicate leaked into the join condition unbucketed."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["events_interval_join"](spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_tpch_ext_no_cartesian_or_nested_loop(spark):
    """The full 22-query TPC-H suite must plan every join as a hash join
    (broadcast or shuffled) — the deliberate 1-row scalar cross joins
    (Q11/Q15/Q22 pattern) are broadcast and must not degrade the fact
    side.  Any CartesianProduct over a fact table melts at 100 TB."""
    from mcpvectordb_spark.plans.explain import formatted_plan
    from mcpvectordb_spark.tpch_ext import TPCH_EXT_QUERIES

    for name, q in TPCH_EXT_QUERIES.items():
        tree = formatted_plan(q(spark, SF)).split("\n\n")[0]
        assert "CartesianProduct" not in tree, (name, tree)
        if name in ("tpch_q11", "tpch_q15"):
            # scalar subquery kept in-plan: 1-row broadcast nested loop is
            # the intended physical form, nothing else
            assert tree.count("BroadcastNestedLoopJoin") <= 1, (name, tree)
        else:
            assert "BroadcastNestedLoopJoin" not in tree, (name, tree)


def test_tpch_q8_broadcasts_every_dimension(spark):
    """Q8's six dimension lookups must all be map-side (broadcast) —
    the only permitted shuffle is the final year aggregation."""
    q = QUERIES["tpch_q8"](spark, SF)
    assert uses_broadcast_join(q)


def test_tpch_q2_decorrelates_to_window_not_self_join(spark):
    """The correlated min subquery is a window aggregate over one
    candidate pass — a second scan of lineitem would mean the
    decorrelation regressed to a self-join."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["tpch_q2"](spark, SF))
    assert plan.count("lineitem.parquet") <= 1 or plan.count("Scan parquet") <= 5, plan


def test_ivf_static_prune_reads_only_nprobe_partitions(spark, tmp_path):
    """SCALE.md's IVF claim, proven on a real partitioned layout: write
    ivf_assign output partitioned by centroid_id, probe with
    static_prune=True, and assert the scan (a) plans the probe as
    PartitionFilters (directory pruning, not a post-scan filter) and
    (b) physically lists only nprobe of nlist partition directories
    (the scan's numPartitions metric after execution)."""
    from mcpvectordb_spark.operators.knn import build_centroids_kmeans, ivf_assign, ivf_topk
    from mcpvectordb_spark.plans.explain import formatted_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = build_centroids_kmeans(emb, k=8, seed=7)
    out = str(tmp_path / "assigned")
    ivf_assign(emb, centroids, corpus_id="vec_id").write.partitionBy("centroid_id").parquet(out)
    assigned = spark.read.parquet(out)

    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    nprobe = 3
    q = ivf_topk(assigned, centroids, qv, 5, nprobe=nprobe, corpus_id="vec_id",
                 static_prune=True)
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200], plan

    rows = q.collect()
    scan = q._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = scan.metrics().apply("numPartitions").value()
    assert n_read == nprobe, f"scan read {n_read} partition dirs, expected {nprobe}"

    # static-pruned results == lazy semi-join results (same semantics)
    semi = ivf_topk(assigned, centroids, qv, 5, nprobe=nprobe, corpus_id="vec_id").collect()
    assert [r["vec_id"] for r in rows] == [r["vec_id"] for r in semi]


def test_round2_queries_no_cartesian(spark):
    """Round-2 catalog queries: no CartesianProduct anywhere; the only
    BroadcastNestedLoopJoins allowed are 1-row scalar broadcasts (the
    TPC-H Q11/Q15 pattern used by corpus-scalar crossJoins)."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    for name in ["text_keywords", "text_logprob", "bpe_pairs", "doc_embeddings",
                 "dedup_spans", "events_funnel", "events_cohorts",
                 "events_incremental_rollup", "events_quantile_sketch",
                 "hybrid_weighted", "weighted_sample", "knn_matryoshka",
                 # round-3 additions
                 "nb_lang_classify", "events_overlap_join"]:
        tree = formatted_plan(QUERIES[name](spark, SF)).split("\n\n")[0]
        assert "CartesianProduct" not in tree, (name, tree)
        # scalar 1-row broadcasts are fine; above the per-query budget
        # means a real join leaked into nested-loop form.
        # hybrid_weighted: 2 min-max normalize scalars + 2 bm25 stats scalars
        # nb_lang_classify: d_total + 2× vocab-size scalars + the
        #   class-count unseen table (all kilobyte broadcasts)
        budget = {"hybrid_weighted": 4, "nb_lang_classify": 4}.get(name, 2)
        assert tree.count("BroadcastNestedLoopJoin") <= budget, (name, tree)


def test_weighted_sample_is_take_ordered(spark):
    """A-ES sampling must compile to distributed top-n, not a global sort."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfpq_coarse_scan_static_prunes_and_prunes_columns(spark, tmp_path):
    """IvfPqIndex search's coarse pass on the partitioned layout must
    (a) plan the probed cells as PartitionFilters, (b) physically list
    only nprobe directories, and (c) push a (id, codes)-only ReadSchema
    into the coarse scan — the embedding column stays in parquet until
    the k*refine refine stage."""
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators import pq as pqm
    from mcpvectordb_spark.plans.explain import formatted_plan

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("embedding"))
    )
    cents = emb.filter(F.col("id") < 8).select(
        F.col("id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    idx = pqm.IvfPqIndex.build(spark, emb, cents, m=8, ksub=16, path=str(tmp_path / "ivfpq"))
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    q = idx.search(qv, 5, nprobe=3)
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:300]
    # coarse branch = the scan whose ReadSchema lacks the embedding column
    scans = [seg for seg in plan.split("Scan parquet") if "ReadSchema" in seg]
    coarse = [seg for seg in scans if "pq_codes" in seg.split("ReadSchema", 1)[1][:400]
              and "embedding" not in seg.split("ReadSchema", 1)[1][:400]]
    assert coarse, "no codes-only coarse scan found:\n" + plan

    # physical directory pruning on the persisted layout: a codes-only
    # coarse read of 3 cells lists exactly 3 partition dirs
    coarse_only = (
        idx.encoded().filter(F.col("centroid_id").isin([0, 1, 2])).select("id", "pq_codes")
    )
    coarse_only.collect()
    scan = coarse_only._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 3


def test_dq_audit_single_table_rules_fuse_into_one_scan(spark):
    """Every single-table DQ rule must fuse into one aggregation over one
    lineitem scan; the only extra scans belong to the referential check.
    One scan per rule would make a 100 TB audit cost |rules| passes."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["dq_audit"](spark, SF)
    plan = formatted_plan(q)
    # lineitem appears once for the fused rule scan + once in the
    # referential anti-join; a third occurrence means rules stopped fusing
    n_li = plan.count("lineitem.parquet")
    assert n_li <= 2, f"lineitem scanned {n_li}x — DQ rules no longer fuse"


def test_events_gapfill_single_window_pass(spark):
    """Gap-fill must stay one window over (key, bucket): the four anchor
    columns (pv/pb/nv/nb) share two frames over one sort, not four."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["events_gapfill"](spark, SF)
    plan = formatted_plan(q)
    # each Window node appears twice in a formatted plan (tree + details);
    # the past/future frames legitimately split across <= 3 nodes
    assert plan.count("Window") <= 6, plan.count("Window")


def test_attribution_is_window_only_no_join(spark):
    """Last-touch attribution rides the sessionizer's shape: one user-keyed
    window, zero joins — a per-conversion join would rescan events."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["events_attribution"](spark, SF)
    plan = formatted_plan(q)
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert bad not in plan, bad


def test_triangle_census_no_nested_loop(spark):
    """All triangle joins are equi-joins (the degree-orientation trick
    yields plain hash keys); the only BNLJ rows allowed are the final
    1-row scalar assemblies."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["copurchase_triangles"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    # wedge + closure joins are equi: at least two hash joins present
    assert plan.count("HashJoin") + plan.count("SortMergeJoin") >= 2


def test_winnowing_one_shuffle(spark):
    """Winnowing = explode (narrow) + one doc-keyed window + rollup: two
    exchanges max (window hash + final agg)."""
    q = QUERIES["winnowing_fp"](spark, SF)
    n = count_exchanges(q)
    assert n <= 3, n


def test_phrase_search_broadcasts_phrase_terms(spark):
    """The phrase/NEAR offset tables are tiny literals: the join against
    postings must broadcast, never shuffle the postings by token."""
    q = QUERIES["phrase_search"](spark, SF)
    assert uses_broadcast_join(q)
    from mcpvectordb_spark.plans.explain import formatted_plan

    assert "CartesianProduct" not in formatted_plan(q)


def test_xcf_no_cartesian_and_broadcast_scalars(spark):
    """Cross-correlation pair join is an equi-join on (t+lag); the
    per-key scalar tables broadcast."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["events_xcorr"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert uses_broadcast_join(q)


def test_ols_is_two_aggregates_no_join(spark):
    """Sufficient-statistics OLS: scan -> partial agg -> final agg; no
    join anywhere in the plan."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["parts_ols"](spark, SF)
    plan = formatted_plan(q)
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2


def test_gini_windows_run_over_blocks_not_rows(spark):
    """customers_gini: the only window inputs are the value-block tables
    (asc + desc cum windows, each single-partition over blocks) — pin
    the exchange count so a row-level sort can never sneak in.  Round 6
    raised the pin 9 → 12: the max_blocks guard gained a DISTRIBUTED
    per-bucket pre-guard (one hash-partitioned exchange of the block
    table per value_blocks call) so a runaway block table fails before
    any single-partition shuffle — the extra exchanges carry block rows,
    never corpus rows."""
    q = QUERIES["customers_gini"](spark, SF)
    n = count_exchanges(q)
    assert n <= 12, n


def test_isotropy_single_gram_pass(spark):
    """embedding_isotropy: the Gram matrix comes from ONE posexplode
    pass (no n^2 self-join): no cartesian, and the moment table joins
    are small-side."""
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["embedding_isotropy"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    # nested-loop joins only for 1-row scalar assemblies
    assert plan.count("Generate") >= 1  # the posexplode is present


def test_shapley_plan_is_scan_free_and_loop_free(spark):
    """events_shapley pins its block table eagerly: the returned plan
    must contain NO corpus scan (the corpus appears only in the
    checkpointed groupBy) and no nested-loop join beyond the 1-row
    scalar share total."""
    plan = (
        QUERIES["events_shapley"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan parquet" not in plan, "coalition algebra re-scans the corpus"
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "CartesianProduct" not in plan


def test_stump_argmax_is_take_ordered_and_window_partitioned(spark):
    """documents_stump: the candidate argmax compiles to
    TakeOrderedAndProject, and every cumulative window is PARTITIONED
    (by feature) — no single-partition stage."""
    q = QUERIES["documents_stump"](spark, SF)
    assert uses_take_ordered(q)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "feature#" in line, line
    # the pinned block table feeds both the totals and the cumulative
    # pass: the corpus appears only in the checkpointed groupBy
    assert "Scan parquet" not in plan, "stump re-scans the corpus"


def test_chi2_windows_are_partitioned(spark):
    """text_chi2_terms: both ranking windows carry partition keys (class
    + hash bucket first, then class over the bounded survivor set) —
    the vocab never funnels through one partition."""
    plan = (
        QUERIES["text_chi2_terms"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "cls#" in line, line


def test_silhouette_plan_is_join_free(spark):
    """embeddings_silhouette scores against broadcast centroid literals:
    no join of any kind in the plan — assignment and scoring are one
    map-only expression over the pinned base."""
    plan = (
        QUERIES["embeddings_silhouette"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for kind in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert kind not in plan, kind


# ---------------------------------------------------------------------------
# round-7 plan tripwires: unpartitioned windows + single-partition exchanges
# (tools/plan_report.py::audit_plan; verdict item 3)
# ---------------------------------------------------------------------------


def _audit():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import plan_report

    return plan_report


def test_audit_plan_flags_unpartitioned_window(spark):
    from pyspark.sql import Window

    pr = _audit()
    df = spark.range(10).withColumn("g", F.col("id") % 2)
    part = df.withColumn(
        "s", F.sum("id").over(Window.partitionBy("g").orderBy("id"))
    )._jdf.queryExecution().executedPlan().toString()
    unpart = df.withColumn(
        "s", F.sum("id").over(Window.orderBy("id"))
    )._jdf.queryExecution().executedPlan().toString()
    assert pr.audit_plan(part) == (0, 0)
    uwin, onep = pr.audit_plan(unpart)
    assert uwin == 1
    # the global window also forces an Exchange SinglePartition whose
    # consumer is a Sort, not a final aggregate — both tripwires fire
    assert onep >= 1


def test_audit_plan_flags_expression_keyed_unpartitioned_window(spark):
    """r8 ADVICE regression: an unpartitioned window whose first sort key
    prints as an inline expression (inner comma, e.g. `round(x#1, 6)
    DESC`) must still be flagged — the old regex required `,`/`)` right
    after one paren group and silently skipped it."""
    from pyspark.sql import Window

    pr = _audit()
    # raw-string pin of the exact shape from the advice finding
    raw = (
        "Window [row_number() windowspecdefinition(round(x#1, 6) DESC "
        "NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9], [round(x#1, 6) DESC NULLS LAST]"
    )
    assert pr._spec_is_unpartitioned(raw)
    # and a partitioned window with the same expression key must NOT flag
    raw_part = raw.replace(
        "windowspecdefinition(round(x#1, 6) DESC NULLS LAST",
        "windowspecdefinition(g#2, round(x#1, 6) DESC NULLS LAST",
    )
    assert not pr._spec_is_unpartitioned(raw_part)
    # live-plan version: Spark usually projects complex keys into _w0, but
    # the audit must hold regardless of how the key prints
    df = spark.range(10).withColumn("x", F.col("id") / 3.0)
    unpart = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.round("x", 6).desc()))
    )._jdf.queryExecution().executedPlan().toString()
    uwin, _ = pr.audit_plan(unpart)
    assert uwin == 1


def test_audit_plan_global_agg_single_partition_is_benign(spark):
    pr = _audit()
    plan = (
        spark.range(1000)
        .agg(F.sum("id").alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial+final scalar agg: the SinglePartition exchange moves one
    # combined row per task — the benign shape must NOT be flagged
    assert pr.audit_plan(plan) == (0, 0)


def test_list_documents_page_is_a_bounded_cut_of_the_planted_size_law(spark, tmp_path):
    """Sources s0..s19 hold 1e9-i chars and every other source < 1000, so
    page ranks 6..15 are exactly s5..s14; the rank window sees only the
    TakeOrdered cut, never the grouped listing."""
    pr = _audit()
    spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), F.col("id")).alias("source"),
        F.when(F.col("id") < 20, F.lit(1_000_000_000) - F.col("id"))
        .otherwise(F.col("id") % 997 + 1).cast("long").alias("n_chars"),
    ).write.parquet(str(tmp_path / "documents.parquet"))
    q = QUERIES["list_documents"](spark, str(tmp_path))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and pr.audit_plan(plan) == (0, 0)
    rows = q.orderBy("rank").collect()
    assert [(r["source"], r["total_chars"]) for r in rows] == [(f"s{i}", 1_000_000_000 - i) for i in range(5, 15)]

def test_plan_report_allowlist_is_valid():
    """Every ALLOW_BOUNDED entry must name a real catalog query and carry
    a non-empty justification; the allowlist may never silently grow to
    cover queries that do not exist."""
    pr = _audit()
    for name, reason in pr.ALLOW_BOUNDED.items():
        assert name in QUERIES, f"allowlisted unknown query {name}"
        assert reason.strip(), f"empty justification for {name}"
