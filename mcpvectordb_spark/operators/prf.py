"""Pseudo-relevance feedback query expansion (RM3).

Lavrenko & Croft 2001 relevance models, in the RM3 interpolation form
used by Anserini/Indri — the standard recall-boosting layer over a
lexical scorer.  The reference exposes only what LanceDB FTS ships
(/root/reference/src/mcpvectordb/store.py:294-307); this engine adds the
expansion stage as plain DataFrame algebra so it composes with BM25 and
the Dirichlet QL scorer.

Pipeline (all deterministic, fully SQL-expressible for the oracle):

    1. first-pass BM25 → top-f feedback documents (score desc, doc asc)
    2. RM1 relevance model over the feedback set, uniform doc weights:
           p_rm1(t) = (1/f) · Σ_{d∈F} tf(t,d) / dl_d
       keep the top-e terms by (p_rm1 desc, term asc)
    3. RM3 interpolation with the original query's MLE:
           w(t) = λ · c(t,q)/|q| + (1−λ) · p_rm1(t)
       over the UNION of query terms and expansion terms
    4. second-pass score: s(d) = Σ_t w(t) · bm25_term(t, d), top-k

Scale: the feedback set is f≈10 rows (broadcast), the expansion
vocabulary e+|q| terms (broadcast) — both passes are broadcast-semi
probes of the same posting list BM25 already maintains; no UDFs, no
extra corpus scans beyond the one posting-list build.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcpvectordb_spark.operators.bm25 import Bm25Index, bm25_weight_sql, doc_lens, doc_terms


def rm3_topk(
    df: DataFrame,
    query: str,
    k: int,
    id_col: str,
    text_col: str,
    fb_docs: int = 10,
    fb_terms: int = 10,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "score",
    index: Bm25Index | None = None,
) -> DataFrame:
    """RM3-expanded BM25 top-k; returns (doc, score)."""
    q_counts = Counter(t for t in query.lower().split() if t)
    spark = df.sparkSession
    if not q_counts:
        return spark.createDataFrame([], f"doc string, {score_col} double")
    q_len = float(sum(q_counts.values()))
    q_terms = sorted(q_counts)

    if index is None:
        posting = doc_terms(df, id_col, text_col).localCheckpoint(eager=False)
        lens = doc_lens(df, id_col, text_col)
    else:
        posting, lens = index.posting, index.lens
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = F.broadcast(
        lens.agg(F.count(F.lit(1)).cast("double").alias("__n"), F.avg("dl").alias("__avgdl"))
    )

    # ---- pass 1: BM25 over the original (distinct) query terms ----
    first = (
        posting.filter(F.col("term").isin(q_terms))
        .join(F.broadcast(dfreq.filter(F.col("term").isin(q_terms))), "term")
        .join(lens, "doc")
        .crossJoin(stats)
        .withColumn("w", F.expr(bm25_weight_sql("tf", "df", "dl", "__n", "__avgdl", k1, b)))
        .groupBy("doc")
        .agg(F.sum("w").alias("s1"))
    )
    # every ranked cut keys on a ROUNDED score (round-7 discipline): the
    # BM25/RM1 sums are partial-aggregation-order-dependent floats, so the
    # raw values differ cross-engine in the last ulp; 6dp (scores O(1-30))
    # and 9dp (p_rm1 probabilities O(1e-3)) sit far above ulp noise and
    # exactly match the oracle's CTE sort keys
    feedback = F.broadcast(
        first.orderBy(F.round(F.col("s1"), 6).desc(), F.asc("doc"))
        .limit(fb_docs).select("doc")
    )

    # ---- RM1 over the feedback docs (uniform doc weights) ----
    rm1 = (
        posting.join(feedback, "doc")
        .join(lens, "doc")
        .groupBy("term")
        .agg((F.sum(F.col("tf") / F.col("dl")) / F.lit(float(fb_docs))).alias("p_rm1"))
    )
    top_e = F.broadcast(
        rm1.orderBy(F.round(F.col("p_rm1"), 9).desc(), F.asc("term")).limit(fb_terms)
    )

    # ---- RM3 interpolation over q-terms ∪ expansion terms ----
    qdf = spark.createDataFrame(
        [(t, float(c) / q_len) for t, c in sorted(q_counts.items())],
        "term string, p_q double",
    )
    weights = F.broadcast(
        qdf.join(top_e, "term", "full_outer").select(
            "term",
            (
                F.lit(lam) * F.coalesce(F.col("p_q"), F.lit(0.0))
                + F.lit(1.0 - lam) * F.coalesce(F.col("p_rm1"), F.lit(0.0))
            ).alias("wt"),
        )
    )

    # ---- pass 2: weighted BM25 over the expanded term set ----
    scored = (
        posting.join(weights, "term")
        .join(F.broadcast(dfreq.join(weights.select("term"), "term", "left_semi")), "term")
        .join(lens, "doc")
        .crossJoin(stats)
        .withColumn("w", F.col("wt") * F.expr(
            bm25_weight_sql("tf", "df", "dl", "__n", "__avgdl", k1, b)))
        .groupBy("doc")
        .agg(F.sum("w").alias(score_col))
    )
    return scored.orderBy(
        F.round(F.col(score_col), 6).desc(), F.asc("doc")
    ).limit(k)


def clarity_score(
    df: DataFrame,
    query: str,
    id_col: str,
    text_col: str,
    fb_docs: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    index: Bm25Index | None = None,
) -> DataFrame:
    """Query clarity score (Cronen-Townsend et al., SIGIR 2002) — the
    classic query-performance predictor: the KL divergence (bits)
    between the relevance model of the query's top-`fb_docs` BM25
    results and the collection language model,

        clarity = sum_w p(w|Q) log2( p(w|Q) / p(w|C) )

    with p(w|Q) the uniform-weight RM1 over the feedback docs (a proper
    distribution: sums to 1) and p(w|C) = cf(w)/|C| the collection MLE.
    A focused query retrieves a topically-tight feedback set whose LM
    diverges from the collection (high clarity); a vague query's
    feedback looks like the collection (clarity -> 0).  Predicts
    retrieval difficulty BEFORE any relevance judgments exist.

    Same plan shape as rm3_topk's first half: one posting-list probe for
    the BM25 pass (query terms broadcast), RM1 over the f-row feedback
    set (broadcast), and the collection model is one agg of the posting
    list.  Returns one row: (n_feedback, vocab, clarity_bits).
    """
    q_counts = Counter(t for t in query.lower().split() if t)
    spark = df.sparkSession
    if not q_counts:
        return spark.createDataFrame([], "n_feedback long, vocab long, clarity_bits double")
    q_terms = sorted(q_counts)

    if index is None:
        posting = doc_terms(df, id_col, text_col).localCheckpoint(eager=False)
        lens = doc_lens(df, id_col, text_col)
    else:
        posting, lens = index.posting, index.lens
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = F.broadcast(
        lens.agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.avg("dl").alias("__avgdl"),
        )
    )
    first = (
        posting.filter(F.col("term").isin(q_terms))
        .join(F.broadcast(dfreq.filter(F.col("term").isin(q_terms))), "term")
        .join(lens, "doc")
        .crossJoin(stats)
        .withColumn(
            "w",
            F.expr(bm25_weight_sql("tf", "df", "dl", "__n", "__avgdl", k1, b)),
        )
        .groupBy("doc")
        .agg(F.sum("w").alias("s1"))
    )
    feedback = F.broadcast(
        first.orderBy(F.round(F.col("s1"), 6).desc(), F.asc("doc"))
        .limit(fb_docs).select("doc")
    )
    rm1 = (
        posting.join(feedback, "doc")
        .join(lens, "doc")
        .groupBy("term")
        .agg(
            (F.sum(F.col("tf") / F.col("dl")) / F.lit(float(fb_docs))).alias("p_q")
        )
    )
    coll = posting.groupBy("term").agg(F.sum("tf").alias("cf"))
    ctot = F.broadcast(coll.agg(F.sum("cf").alias("ct")))
    terms = rm1.join(coll, "term").crossJoin(ctot).select(
        "term",
        (
            F.col("p_q")
            * F.log2(F.col("p_q") / (F.col("cf") / F.col("ct").cast("double")))
        ).alias("kl_term"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.round(F.sum("kl_term"), 6).alias("clarity_bits"),
    ).select(
        F.lit(int(fb_docs)).cast("long").alias("n_feedback"),
        "vocab",
        "clarity_bits",
    )
