"""BM25 full-text scoring as pure DataFrame ops.

The reference's FTS leg lives inside LanceDB's Tantivy index, rebuilt after
every upsert (/root/reference/src/mcpvectordb/store.py:197-202) — an
O(corpus) cost per ingest that must NOT be replicated (SURVEY.md §7 risk d).
Here the "index" is a pair of derived DataFrames (term→df, doc→length)
computed lazily from the corpus — cacheable between queries, incrementally
refreshable after appends, and shuffle-partitioned by term so scoring joins
co-locate.

Formula (declared spec, SURVEY.md §7 risk b — the reference's exact constants
are invisible inside LanceDB):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))          # Lucene BM25+
    s(d,q)  = Σ_t∈q idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avgdl))

Tokenization: lowercase, split on whitespace — deliberately simple and
mirrored 1:1 in the DuckDB oracle SQL.

Scale: one explode of the corpus (map-side), two hash aggregations on
(doc,term) and (term); query terms are a tiny broadcast; no UDFs anywhere.

The serving path (operators/hybrid.py::hybrid_search) builds no posting
list: it counts each query term per row in the scan and takes N, avgdl
and df as global windows over the filtered rows — same statistics, same
:func:`bm25_weight_sql`, no shuffle by term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_col(text: Column) -> Column:
    """lowercase whitespace tokens, empties removed (matches oracle
    ``regexp_split_to_array(lower(x), '\\s+')`` after trim)."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def query_terms(query: str) -> list[str]:
    """The distinct lowercase whitespace terms of a query, sorted —
    duplicate terms in the query count once."""
    return sorted({t for t in query.lower().split() if t})


def bm25_weight_sql(
    tf: str, df: str, dl: str, n: str, avgdl: str, k1: float, b: float
) -> str:
    """SQL text of the weight one query term adds to a document's BM25
    score (the module formula): ``tf`` its count in the document, ``df``
    the number of documents holding it, ``dl`` the document's length,
    ``n`` and ``avgdl`` the corpus size and mean length — each a SQL
    expression.  Every BM25 scorer here uses this one definition; the
    constants are double literals, so the arithmetic is the same IEEE
    sequence whether the text runs through ``F.expr`` or a window select."""
    return (
        f"ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D)) * ({tf} * {sql_double(k1 + 1.0)}) "
        f"/ ({tf} + {sql_double(k1)} * ({sql_double(1.0 - b)} + {sql_double(b)} * {dl} / {avgdl}))"
    )


def sql_double(x: float) -> str:
    """A finite float as an exact SQL double literal (repr round-trips)."""
    return f"{float(x)!r}D"


def doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf) — the posting list.  Fanned out across cores first:
    small-file scans arrive in 1-2 partitions and would serialize the
    tokenize/explode stage."""
    from mcpvectordb_spark.operators.dedup import fan_out

    return (
        fan_out(df)
        .select(F.col(id_col).alias("doc"), F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, dl) — per-doc token length.  The single definition used by
    corpus_stats, Bm25Index.build and Bm25Index.append: incremental-vs-
    rebuild score parity depends on these staying identical."""
    return df.select(
        F.col(id_col).alias("doc"), F.size(tokens_col(F.col(text_col))).alias("dl")
    )


def corpus_stats(df: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame, int]:
    """Derived 'index': (doc_len df, term df counts, corpus size N)."""
    lens = doc_lens(df, id_col, text_col)
    dfreq = (
        doc_terms(df, id_col, text_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = df.count()
    return lens, dfreq, n


class Bm25Index:
    """Materialized BM25 corpus statistics — the engine's replacement for
    the reference's persistent FTS index (store.py:197-202), built once and
    reused across queries.  Call :meth:`unpersist` when done; per-query
    scoring without an index builds the stats lazily and uncached (correct,
    one extra scan, NO cache leak in a long-lived serving session)."""

    def __init__(self, posting: DataFrame, lens: DataFrame, cached: bool):
        self.posting = posting
        self.lens = lens
        self._cached = cached

    @classmethod
    def build(cls, df: DataFrame, id_col: str, text_col: str) -> "Bm25Index":
        posting = doc_terms(df, id_col, text_col).cache()
        lens = doc_lens(df, id_col, text_col).cache()
        return cls(posting, lens, cached=True)

    def unpersist(self) -> None:
        if self._cached:
            self.posting.unpersist()
            self.lens.unpersist()
            self._cached = False

    def append(
        self,
        new_df: DataFrame,
        id_col: str,
        text_col: str,
        replace_ids: list | None = None,
    ) -> "Bm25Index":
        """O(batch) incremental refresh after an ingest — the realisation
        of 'never the reference's O(corpus) rebuild-on-upsert'
        (store.py:197-202): only the appended docs are tokenized; existing
        posting/length stats are reused as cached plans.

        ``replace_ids``: doc ids whose old stats must drop first (the
        replace path of the dedup gate) — a tiny isin filter, not a join.

        Returns a NEW index; materialise it (any scoring action) before
        calling ``unpersist()`` on the old one, or the union legs recompute.
        df/avgdl/N derive lazily from posting/lens, so they need no
        separate maintenance."""
        new_posting = doc_terms(new_df, id_col, text_col)
        new_lens = doc_lens(new_df, id_col, text_col)
        old_p, old_l = self.posting, self.lens
        if replace_ids:
            gone = F.col("doc").isin(list(replace_ids))
            old_p, old_l = old_p.filter(~gone), old_l.filter(~gone)
        return Bm25Index(
            old_p.unionByName(new_posting).cache(),
            old_l.unionByName(new_lens).cache(),
            cached=True,
        )


def bm25_score(
    df: DataFrame,
    query: str,
    id_col: str,
    text_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "score",
    index: Bm25Index | None = None,
) -> DataFrame:
    """Score every document containing ≥1 query term; returns (id, score).

    Distinct query terms (duplicate terms in the query count once).
    Pass a prebuilt :class:`Bm25Index` for serving workloads; without one
    the stats derive lazily from ``df`` (uncached — no leak).
    """
    q_terms = query_terms(query)
    if not q_terms:
        return df.sparkSession.createDataFrame([], f"doc string, {score_col} double")

    if index is None:
        # ephemeral stats: localCheckpoint materializes the posting list
        # once (it feeds both the hit scan and the df counts) and its
        # blocks are GC-cleaned with the result plan — unlike .cache(),
        # which leaked a persistent entry per query in serving sessions
        posting = doc_terms(df, id_col, text_col).localCheckpoint(eager=False)
        lens = doc_lens(df, id_col, text_col)
    else:
        posting, lens = index.posting, index.lens
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus stats stay a (1-row, broadcast) DataFrame — no driver collect,
    # the whole scorer is one lazy plan
    stats = F.broadcast(lens.agg(
        F.count(F.lit(1)).cast("double").alias("__n"), F.avg("dl").alias("__avgdl")
    ))

    hits = posting.filter(F.col("term").isin(q_terms))
    scored = (
        hits.join(F.broadcast(dfreq.filter(F.col("term").isin(q_terms))), "term")
        .join(lens, "doc")
        .crossJoin(stats)
        .withColumn("w", F.expr(bm25_weight_sql("tf", "df", "dl", "__n", "__avgdl", k1, b)))
        .groupBy("doc")
        .agg(F.sum("w").alias(score_col))
    )
    return scored


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int,
    id_col: str,
    text_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "score",
    index: Bm25Index | None = None,
) -> DataFrame:
    scored = bm25_score(df, query, id_col, text_col, k1, b, score_col, index)
    # Rank by the score ROUNDED to 6dp (with the doc-id tiebreak), not the
    # raw double: BM25 carries ln() (idf) plus a summation-order-dependent
    # Σw, so raw scores are NOT bit-identical across engines — the rounded
    # key is the only cross-engine-stable sort, and it is what the SQL
    # oracle's ORDER BY binds to (the output alias round(score, 6)).
    # Round-7 discipline (inverse of the stump fix: there the gain was
    # +,-,*,/-exact, so both sides sort UNROUNDED; here neither side can).
    return scored.orderBy(
        F.round(F.col(score_col), 6).desc(), F.asc("doc")
    ).limit(k)


def fuzzy_terms(
    df: DataFrame,
    query: str,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Typo-tolerant query expansion: every corpus-vocabulary term within
    ``max_dist`` edit distance of a query term.

    The vocabulary (distinct terms — vocabulary-bounded, NOT corpus-
    bounded) meets the tiny broadcast query-term set in a crossJoin gated
    by a ±max_dist length pre-filter before the Levenshtein — so the
    expensive comparison runs |vocab|×|q| times at most, and typically far
    fewer.  At 100 TB the vocab table is the same kilobyte-to-megabyte
    asset the NB classifier and TF-IDF broadcast; persist it beside the
    BM25 stats and expansion is an index probe, not a scan."""
    q_terms = query_terms(query)
    if not q_terms:
        return df.sparkSession.createDataFrame([], "term string")
    vocab = doc_terms(df, id_col, text_col).select("term").distinct()
    q = df.sparkSession.createDataFrame([(t,) for t in q_terms], "qterm string")
    return (
        vocab.crossJoin(F.broadcast(q))
        .filter(F.abs(F.length("term") - F.length("qterm")) <= max_dist)
        .filter(F.levenshtein("term", "qterm") <= max_dist)
        .select("term")
        .distinct()
    )


def bm25_topk_fuzzy(
    df: DataFrame,
    query: str,
    k: int,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "score",
) -> DataFrame:
    """BM25 over the fuzzy-expanded term set — misspelled queries still
    retrieve ("batc joins" finds batch joins).  The expanded list is
    vocabulary-bounded and collected like IVF probe ids (a driver-edge
    scalar list, not corpus data); each expanded term scores with its own
    idf, so rare accidental expansions can't dominate common true terms
    beyond what their df warrants."""
    expanded = sorted(r["term"] for r in
                      fuzzy_terms(df, query, id_col, text_col, max_dist).collect())
    if not expanded:
        return df.sparkSession.createDataFrame([], f"doc string, {score_col} double")
    return bm25_topk(df, " ".join(expanded), k, id_col, text_col, k1, b, score_col)


def highlight_col(
    text: Column,
    terms: list[str],
    window: int = 40,
    mark: str = "**",
) -> Column:
    """Snippet column: a ±``window``-char excerpt centred on the FIRST
    query-term hit (case-insensitive), with every term occurrence inside
    the excerpt wrapped in ``mark``.  Pure codegen expressions (locate /
    substr / regexp_replace) — no UDF, and the same operation sequence is
    expressible in the SQL oracle.  Docs with no hit yield the head of the
    text (the reference returns raw chunk content; highlighting is the
    engine-side nicety on top)."""
    import re as _re

    lowered = F.lower(text)
    first = F.least(*[
        F.when(F.locate(t.lower(), lowered) > 0, F.locate(t.lower(), lowered))
        .otherwise(F.lit(2_000_000_000))
        for t in terms
    ]) if terms else F.lit(2_000_000_000)
    start = F.greatest(first - F.lit(window), F.lit(1))
    snippet = F.when(
        first < 2_000_000_000, F.substring(text, start, 2 * window)
    ).otherwise(F.substring(text, 1, 2 * window))
    pattern = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")" if terms else None
    if pattern is None:
        return snippet
    return F.regexp_replace(snippet, pattern, mark + "$1" + mark)


def bm25_multi_topk(
    df: DataFrame,
    queries: dict,
    k: int,
    id_col: str,
    text_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    index: "Bm25Index | None" = None,
) -> DataFrame:
    """Batch BM25: top-k per query for a WHOLE query set in one plan —
    (qid, doc, score, rank).  The serving shape for query logs and for IR
    evaluation harnesses: the posting list, document-frequency table and
    corpus stats build ONCE and every query joins against them via a tiny
    broadcast (qid, term) table, vs one full corpus scan per query when
    looping :func:`bm25_topk`.  Scoring math is identical to
    :func:`bm25_score` (same idf/tf saturation, distinct query terms)."""
    rows = []
    for qid, q in sorted(queries.items()):
        for t in query_terms(q):
            rows.append((int(qid), t))
    spark = df.sparkSession
    if not rows:
        return spark.createDataFrame([], "qid int, doc string, score double, rank int")
    qterms = spark.createDataFrame(rows, "qid int, term string")

    if index is None:
        posting = doc_terms(df, id_col, text_col).localCheckpoint(eager=False)
        lens = doc_lens(df, id_col, text_col)
    else:
        posting, lens = index.posting, index.lens
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = F.broadcast(lens.agg(
        F.count(F.lit(1)).cast("double").alias("__n"), F.avg("dl").alias("__avgdl")
    ))

    from pyspark.sql import Window

    scored = (
        posting.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq.join(qterms.select("term").distinct(), "term")), "term")
        .join(lens, "doc")
        .crossJoin(stats)
        .withColumn("w", F.expr(bm25_weight_sql("tf", "df", "dl", "__n", "__avgdl", k1, b)))
        .groupBy("qid", "doc")
        .agg(F.sum("w").alias("score"))
    )
    # rank on the 6dp-ROUNDED score (doc tiebreak): the per-doc score is a
    # float SUM over terms, so partial-aggregation order makes raw values
    # differ from a sequential engine in the last ulp — the rounded key is
    # the cross-engine-stable ranking (round-7 ranked-cut discipline)
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.round(F.col("score"), 6).desc(), F.col("doc").asc()
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k)
