"""Maximal Marginal Relevance (MMR) diversified reranking.

Carbonell & Goldstein 1998 — the standard answer to "my top-k are ten
copies of the same passage", directly relevant to a chunked document
store like the reference (near-identical chunks of one document dominate
plain KNN; /root/reference/src/mcpvectordb/store.py:313-320 has no
diversity control).

    mmr(d | S) = λ · rel(d) − (1−λ) · max_{s∈S} sim(d, s)
    pick argmax (ties → smallest id);  step 1 scores λ·rel (S = ∅)

The greedy loop is UNROLLED a fixed k times as ONE lazy plan that the
DuckDB oracle replays as k chained CTEs — no driver-side numpy, no
collect.  Each step updates a per-candidate running ``maxsim`` with the
single newly-picked row (max over a set is associative, so the running
max is bit-identical to re-aggregating over the whole selected set) and
identifies the next pick with a global-window argmax — map-only work
over the ≤N-row pool, because diversification happens AFTER the
distributed top-N scan.

Each pick is an argmax over the pool, computed IN-PLAN with two global
windows per step (the pool is a ≤N-row top-N result — the same k-bounded
global-window class as topk.py): ``wkey`` = the largest key among the
unpicked rows, then the smallest id among the unpicked rows whose key
equals ``wkey``, read together with that row's vector as min(struct(id,
v)).  Picked rows are FLAGGED (step column) instead of removed and
re-unioned, so the whole rerank — all k picks — is one job with zero
localCheckpoint pins and zero per-step broadcasts.  Ties go to the
highest key, then the lowest id.

Candidate ids must be NON-NULL (they are primary keys in every caller)
and of any orderable type: the API's string chunk ids and the catalog's
bigint ids both work, because the tie-break compares ids and never does
arithmetic on them.  A null id can never be picked.

Scale shape: the expensive part is the candidate scan (knn_topk /
ivf_topk — whatever produced the pool); the rerank itself is O(k·N)
arithmetic on a pool that fits in one partition by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mcpvectordb_spark.operators.knn import cosine


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.7,
    id_col: str = "id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
    carry: Sequence[str] = (),
) -> DataFrame:
    """Greedy MMR over a (id, vec, rel) candidate pool; returns
    (step, id, mmr, *carry) with step = 1-based selection order.
    ``carry`` names pool columns passed through unchanged, so a caller
    needs no join back to the pool."""
    w = Window.partitionBy()
    pool = candidates.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(rel_col).alias("rel"),
        F.lit(None).cast("int").alias("step"),
        F.lit(None).cast("double").alias("mmr"),
        F.lit(None).cast("double").alias("maxsim"),
        *carry,
    )
    state = ["id", "v", "rel", "step", "mmr", "maxsim", *carry]
    for i in range(1, k + 1):
        # mmr_i over the not-yet-picked rows; step 1 has S = ∅ (no penalty)
        mmr_i = (
            F.lit(lam) * F.col("rel")
            if i == 1
            else F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim")
        )
        unpicked = F.col("step").isNull()
        # step 1 sorts by rel itself (identical to sorting by lam·rel only
        # when lam > 0) but still REPORTS mmr = lam·rel
        key_i = F.col("rel") if i == 1 else mmr_i
        pool = pool.select(
            *state,
            mmr_i.alias("mmr_i"),
            key_i.alias("key"),
            F.max(F.when(unpicked, key_i)).over(w).alias("wkey"),
        )
        # the smallest id among the unpicked rows holding the largest key;
        # null-safe equality: when every unpicked key is NULL the pick is
        # the smallest id among them, as orderBy(desc key, asc id) would do
        best = F.min(
            F.when(
                unpicked & F.col("key").eqNullSafe(F.col("wkey")),
                F.struct(F.col("id").alias("id"), F.col("v").alias("bv")),
            )
        ).over(w)
        is_pick = unpicked & (F.col("id") == best["id"])
        sim = cosine(F.col("v"), best["bv"])
        pool = pool.select(
            "id",
            "v",
            "rel",
            F.when(is_pick, F.lit(i)).otherwise(F.col("step")).alias("step"),
            F.when(is_pick, F.col("mmr_i")).otherwise(F.col("mmr")).alias("mmr"),
            # running max_{s∈S} sim(d, s), updated with the newest pick only
            (F.greatest(F.col("maxsim"), sim) if i > 1 else sim).alias("maxsim"),
            *carry,
        )
    return (
        pool.filter(F.col("step").isNotNull())
        .select("step", "id", "mmr", *carry)
        .orderBy("step")
    )
