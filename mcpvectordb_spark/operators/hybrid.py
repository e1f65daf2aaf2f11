"""Hybrid search: reciprocal-rank fusion of ranked lists.

The reference fuses BM25 and vector rankings inside LanceDB
(/root/reference/src/mcpvectordb/store.py:294-307, docs/mcp-tool-spec.md:16).
Spark has no built-in RRF, but it is two window ranks and a sum:

    rrf(d) = Σ_i 1 / (k0 + rank_i(d))        k0 = 60 (standard)

A document missing from one leg contributes 0 from that leg (full outer
join).  Falling back to vector-only when hybrid is disabled mirrors the
reference's flag (config.py:59); the reference's *runtime* fallback on index
failure has no Spark analog (there is no index to be missing).

Scale: each leg is already top-N-truncated before fusion (the reference
ranks candidate sets, not the corpus), so the fusion join is tiny and
broadcast.

The API's search does not compose these operators: :func:`hybrid_search`
computes the same rows as one plan over one scan (both legs scored per
row, the vector leg always exactly; cuts, ranks and fusion as global
windows), because at the serving regime's store sizes a search costs
per-plan and per-job overhead, not scan work.  The composed operators
stay for the catalog and as the reference the one plan is tested against.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mcpvectordb_spark.operators.bm25 import bm25_weight_sql, query_terms, sql_double, tokens_col
from mcpvectordb_spark.operators.knn import vector_score


def rank_by_score(df: DataFrame, id_col: str, score_col: str, rank_col: str) -> DataFrame:
    """Dense 1-based rank, 6dp-ROUNDED score DESC, id ASC tiebreak —
    deterministic AND cross-engine-stable (round-7 ranked-cut discipline:
    an FTS leg's float-sum scores differ from a sequential engine in the
    last ulp; ranks feed RRF directly, so a rank flip changes values)."""
    w = Window.orderBy(F.round(F.col(score_col), 6).desc(), F.asc(id_col))
    return df.select(F.col(id_col), F.row_number().over(w).alias(rank_col))


def rrf_fuse(
    legs: list[tuple[DataFrame, str, str]],
    k0: int = 60,
    id_col: str = "doc",
    score_col: str = "rrf_score",
) -> DataFrame:
    """Fuse ranked legs: ``legs`` is [(df, its_id_col, its_score_col), ...].

    Returns (id_col, rrf_score) for every id present in ≥1 leg.
    """
    ranked = [
        rank_by_score(df, idc, sc, f"__rank_{i}").withColumnRenamed(idc, id_col)
        for i, (df, idc, sc) in enumerate(legs)
    ]
    joined = reduce(lambda a, b: a.join(b, id_col, "full_outer"), ranked)
    contribs = [
        F.coalesce(1.0 / (F.lit(float(k0)) + F.col(f"__rank_{i}")), F.lit(0.0))
        for i in range(len(legs))
    ]
    total = reduce(lambda a, b: a + b, contribs)
    return joined.select(F.col(id_col), total.alias(score_col))


def rrf_topk(
    legs: list[tuple[DataFrame, str, str]],
    k: int,
    k0: int = 60,
    id_col: str = "doc",
    score_col: str = "rrf_score",
) -> DataFrame:
    fused = rrf_fuse(legs, k0, id_col, score_col)
    return fused.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def minmax_normalize(df: DataFrame, score_col: str, out_col: str) -> DataFrame:
    """Min-max normalize a score column to [0,1] over the candidate set
    (1-row agg broadcast back; a constant leg normalizes to 1.0 so it
    still contributes rather than dividing by zero)."""
    stats = df.agg(
        F.min(score_col).alias("__lo"), F.max(score_col).alias("__hi")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, F.expr(minmax_sql(f"`{score_col}`", "__lo", "__hi")))
        .drop("__lo", "__hi")
    )


def minmax_sql(score: str, lo: str, hi: str) -> str:
    """SQL text of ``score`` scaled to [0,1] between ``lo`` and ``hi``;
    1.0 when the two are equal."""
    return f"CASE WHEN {hi} = {lo} THEN 1.0D ELSE ({score} - {lo}) / ({hi} - {lo}) END"


def weighted_fuse_topk(
    vec_leg: DataFrame,
    fts_leg: DataFrame,
    k: int,
    alpha: float = 0.5,
    id_cols: tuple[str, str] = ("id", "id"),
    score_cols: tuple[str, str] = ("score", "score"),
    id_col: str = "doc",
    score_col: str = "blend_score",
) -> DataFrame:
    """Convex score blending — the other standard hybrid besides RRF
    (LanceDB exposes it as the 'linear combination' reranker):

        blend(d) = α·norm_vec(d) + (1-α)·norm_fts(d)

    over min-max-normalized leg scores; a doc missing from a leg scores 0
    there.  Both legs arrive top-N-truncated, so the normalize aggs and
    the fusion join are tiny."""
    v = minmax_normalize(vec_leg, score_cols[0], "__nv").select(
        F.col(id_cols[0]).alias(id_col), "__nv"
    )
    f = minmax_normalize(fts_leg, score_cols[1], "__nf").select(
        F.col(id_cols[1]).alias(id_col), "__nf"
    )
    blended = (
        v.join(f, id_col, "full_outer")
        .withColumn(
            score_col,
            F.lit(alpha) * F.coalesce(F.col("__nv"), F.lit(0.0))
            + F.lit(1.0 - alpha) * F.coalesce(F.col("__nf"), F.lit(0.0)),
        )
        .drop("__nv", "__nf")
    )
    # 6dp-rounded cut key: the FTS leg's scores carry summation-order ulp
    # noise that survives min-max normalization (round-7 discipline)
    return blended.orderBy(
        F.round(F.col(score_col), 6).desc(), F.asc(id_col)
    ).limit(k)


def hybrid_search(
    scope: DataFrame,
    query_vec: Sequence[float],
    query: str | None,
    k: int,
    candidates: int,
    keep: Sequence[str],
    fusion: str = "rrf",
    k0: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid BM25 + vector top-``k`` as ONE plan over one scan of
    ``scope``, a chunk table (``id``, ``embedding``, ``content``).

    Returns (*keep, score): at most ``k`` rows, ordered by score DESC,
    id ASC.  The rows are exactly those of the composed operators —
    ``knn_topk`` and ``bm25_topk`` cut at ``candidates`` each, fused by
    ``rrf_topk`` or ``weighted_fuse_topk`` at α = 0.5 (``fusion`` "rrf" /
    "blend"), joined back to ``scope`` — with the same cut and rank keys:

    - vector cut: raw score DESC, id ASC;
    - leg ranks and the BM25 cut: round(score, 6) DESC, id ASC;
    - BM25 statistics (N, avgdl, df per term) over ``scope``, as
      ``bm25_score`` computes them.

    Every row is scored once in the scan: the exact vector score with the
    kernel ``knn_topk`` picks (:func:`vector_score`), each query term's
    frequency as ``size(tokens) − size(array_remove(tokens, t))`` — no
    explode, no posting-list shuffle, no checkpoint.  One exchange then
    gathers the scored rows into a single partition, where global windows
    compute the statistics, both ranks and the fusion.  Only ``keep``
    (packed in one struct) crosses it, so leave the embedding out of
    ``keep`` unless a consumer (MMR) needs it.  The windowed steps are SQL
    text: each Column call is a round trip to the JVM, and a search's plan
    is built on every request.

    ``query=None`` is vector-only search: the vector cut at ``k``.
    """
    by_score = [F.desc("score"), F.asc("id")]
    vscore = vector_score(F.col("embedding"), query_vec)
    if query is None:
        return scope.select(*keep, vscore.alias("score")).orderBy(*by_score).limit(k)

    terms = query_terms(query)
    # tokens are a column of their own so that every term counts from one
    # tokenization (the optimizer keeps a non-trivial column computed once)
    toks = F.col("__tok")
    scored = scope.select(
        F.struct(*keep).alias("__row"),
        vscore.alias("__v"),
        tokens_col(F.col("content")).alias("__tok"),
    ).select(
        "__row",
        "__v",
        F.size(toks).alias("__dl"),
        *[(F.size(toks) - F.size(F.array_remove(toks, t))).alias(f"__tf{i}")
          for i, t in enumerate(terms)],
    )

    n, avgdl = "CAST(count(1) OVER () AS DOUBLE)", "avg(__dl) OVER ()"
    weights = [
        f"CASE WHEN __tf{i} > 0 THEN "
        + bm25_weight_sql(f"__tf{i}", f"count_if(__tf{i} > 0) OVER ()", "__dl", n, avgdl, k1, b)
        + " ELSE 0.0D END"
        for i in range(len(terms))
    ]
    hit = " OR ".join(f"__tf{i} > 0" for i in range(len(terms))) or "false"
    in_vec = f"row_number() OVER (ORDER BY __v DESC, __row.id) <= {candidates}"
    legs = scored.selectExpr(
        "__row", "__v", f"{in_vec} AS __inv",
        f"{' + '.join(weights) or '0.0D'} AS __bm", f"{hit} AS __hit",
    )

    def rank(flag: str, score: str) -> str:
        # rank among the leg's rows (flagged rows sort first)
        return f"row_number() OVER (ORDER BY {flag} DESC, round({score}, 6) DESC, __row.id)"

    in_bm = f"(__hit AND {rank('__hit', '__bm')} <= {candidates})"
    if fusion == "blend":
        legs = legs.selectExpr("__row", "__v", "__inv", "__bm", f"{in_bm} AS __inb")

        def norm(flag: str, score: str) -> str:
            # min-max over the leg's own rows, as minmax_normalize does
            leg = f"IF({flag}, {score}, NULL)"
            scaled = minmax_sql(score, f"min({leg}) OVER ()", f"max({leg}) OVER ()")
            return f"coalesce(IF({flag}, {scaled}, NULL), 0.0D)"

        fused = f"0.5D * {norm('__inv', '__v')} + 0.5D * {norm('__inb', '__bm')}"
        in_any = "__inv OR __inb"
    else:
        def contrib(flag: str, rank_sql: str) -> str:
            return f"CASE WHEN {flag} THEN 1.0D / ({sql_double(k0)} + {rank_sql}) ELSE 0.0D END"

        fused = f"{contrib(in_bm, rank('__hit', '__bm'))} + {contrib('__inv', rank('__inv', '__v'))}"
        in_any = f"__inv OR {in_bm}"
    out = (
        legs.selectExpr("__row", f"{fused} AS score", f"{in_any} AS __in")
        .where("__in")
        .select("__row.*", "score")
    )
    if fusion == "blend":
        # cut on the 6dp-rounded blend, as weighted_fuse_topk does
        return out.orderBy(F.round("score", 6).desc(), F.asc("id")).limit(k).orderBy(*by_score)
    return out.orderBy(*by_score).limit(k)
