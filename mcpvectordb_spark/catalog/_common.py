"""Shared constants, portable-SQL helper fragments and planted corpora used by every catalog section.

Split out of the original single-file catalog.py (round-5 refactor,
round-4 verdict item #3).  Import order is load-bearing: later sections
reference names from earlier ones via the wildcard chain below."""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcpvectordb_spark.io import load_table
from mcpvectordb_spark.operators import curation as cu
from mcpvectordb_spark.operators import dedup as dd
from mcpvectordb_spark.operators import textstats as ts
from mcpvectordb_spark.operators import weburl as wu
from mcpvectordb_spark.operators import knn
from mcpvectordb_spark.operators.bm25 import bm25_score, bm25_topk
from mcpvectordb_spark.operators.hybrid import rrf_topk
from mcpvectordb_spark.operators.knn import (
    cosine,
    ivf_assign,
    ivf_topk,
    knn_join,
    knn_topk,
    knn_topk_sq8,
    knn_truncated_topk,
    query_vec_lit,
)
from mcpvectordb_spark.tpch_ext import TPCH_EXT_ORACLES, TPCH_EXT_QUERIES

# ---------------------------------------------------------------------------
# shared constants

SEARCH_QUERY = "window join spark batch"
QUERY_VEC_ID = 0
RRF_K0 = 60

# One-off build costs of session artifacts (trained PQ codebooks, the
# shared Bm25Index, ...), recorded at cache-miss time keyed by the
# artifact's name.  bench.py surfaces this ledger in its output:
# session-caching moves a build into the UNTIMED warm rep, so without this
# record the cost would appear in no benchmark number at all.
SESSION_BUILD_SECONDS: dict[str, float] = {}

# Session artifacts: state derived from the corpora under sf_dir (graphs,
# indexes, trained models, stream fixtures) that several catalog queries
# share, built once per (artifact, session, corpus).  The corpora are
# immutable within a session, and the key carries the applicationId, so a
# new SparkSession rebuilds instead of reading a dead context's
# localCheckpoint.  Ingest-backed corpora mutate and never come here.
_SESSION_ARTIFACTS: dict[tuple[str, str, str], object] = {}


def _record_build(name: str, seconds: float) -> None:
    # keep the MAX across (sf_dir, session) variants: the ledger answers
    # "what does a cold consumer of this artifact pay", not "how many
    # times was it built"
    SESSION_BUILD_SECONDS[name] = max(SESSION_BUILD_SECONDS.get(name, 0.0), seconds)


def _session_artifact(spark: SparkSession, sf_dir: str, name: str, build):
    """The artifact ``name`` (which spells out every build parameter) for
    this session and corpus: ``build()`` on the first use, timed into
    SESSION_BUILD_SECONDS; the same object afterwards."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    if key not in _SESSION_ARTIFACTS:
        t0 = time.perf_counter()
        _SESSION_ARTIFACTS[key] = build()
        _record_build(name, time.perf_counter() - t0)
    return _SESSION_ARTIFACTS[key]

# ---------------------------------------------------------------------------
# DuckDB SQL fragment builders (mirrors of the Spark column expressions)

def _sql_hex48(expr: str) -> str:
    """int(md5(x)[:12], 16) — parity-tested against Spark conv()."""
    return (
        "list_reduce(list_transform(string_split(substr(md5(" + expr + "),1,12),''),"
        " c -> CAST(strpos('0123456789abcdef', c)-1 AS BIGINT)), (a,b) -> a*16+b)"
    )


def _sql_norm(expr: str) -> str:
    return rf"trim(regexp_replace(lower({expr}), '\s+', ' ', 'g'))"


def _sql_words(expr: str) -> str:
    return f"string_split({_sql_norm(expr)}, ' ')"


def _sql_shingles(words: str, n: int) -> str:
    return (
        f"list_distinct(CASE WHEN len({words}) >= {n} THEN "
        f"list_transform(range(1, len({words})-{n}+2), i -> array_to_string({words}[i:i+{n-1}], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END)"
    )


def _sql_cos(a: str, b: str) -> str:
    """dot/(|a|·|b|) with the same operation structure as operators.knn."""
    return (
        f"(list_inner_product({a},{b}) / "
        f"(sqrt(list_inner_product({a},{a})) * sqrt(list_inner_product({b},{b}))))"
    )


def _sql_sq8(v: str, s: str) -> str:
    """Quantized code list: sign-split floor(|x|/s + 0.5) — the same IEEE
    operation sequence as operators.knn._half_away, including the scale>0
    zero-vector guard (sq8_quantize emits all-zero codes, never x/0)."""
    return (
        f"CASE WHEN {s} > 0 THEN "
        f"list_transform({v}, x -> CASE WHEN x >= 0 THEN floor(x/{s} + 0.5) "
        f"ELSE -floor(-x/{s} + 0.5) END) "
        f"ELSE list_transform({v}, x -> 0.0) END"
    )


def _sql_lang_fragments() -> tuple[str, str]:
    """(marker-score SELECT list, argmax CASE) — the SQL twin of
    textstats.lang_id, shared by every oracle that classifies language."""
    words = _sql_words("text")
    selects = ", ".join(
        f"len(list_filter({words}, t -> t IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
        for lang, markers in ts.LANG_MARKERS.items()
    )
    cases = []
    for lang in ts.LANG_MARKERS:
        others = " AND ".join(f"s_{lang} > s_{o}" for o in ts.LANG_MARKERS if o != lang)
        cases.append(f"WHEN s_{lang} > 0 AND {others} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return selects, case_sql


def _sql_quality_cte(source: str) -> str:
    """CTEs (f, q) computing the quality features/score of textstats
    .quality_columns over ``source`` — shared by the quality and curation
    oracles so the heuristic's constants live in exactly two places
    (the Column expressions and this one SQL twin)."""
    # COALESCE mirrors textstats.quality_columns: NULL text must score like
    # empty text (without it DuckDB's least() skips the NULL and scores 0.7)
    return rf"""
f AS (
  SELECT *,
    CAST(length(COALESCE(text,'')) AS BIGINT) AS n_chars,
    CAST(len(list_filter(regexp_split_to_array(trim(COALESCE(text,'')), '\s+'), t -> t <> '')) AS BIGINT) AS n_words,
    CAST(length(COALESCE(text,'')) - length(regexp_replace(COALESCE(text,''), '[^\w\s]', '', 'g')) AS BIGINT) AS punct,
    CAST(len(list_filter(list_transform(list_filter(regexp_split_to_array(trim(COALESCE(text,'')), '\s+'), t -> t <> ''), t -> lower(t)),
             t -> t IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS stop
  FROM {source}),
q AS (
  SELECT *,
    round(CASE WHEN n_chars > 0 THEN punct/n_chars ELSE 0.0 END, 6) AS punct_ratio,
    round(CASE WHEN n_words > 0 THEN stop/n_words ELSE 0.0 END, 6) AS stop_ratio,
    round(0.4*least(n_words/200.0, 1.0)
        + 0.3*(1.0 - CASE WHEN n_chars > 0 THEN punct/n_chars ELSE 0.0 END)
        + 0.3*least((CASE WHEN n_words > 0 THEN stop/n_words ELSE 0.0 END)/0.05, 1.0), 6) AS quality_score
  FROM f)
"""


# The co-purchase pair graph: five catalog queries (pagerank /
# communities / graph_metrics / bfs / copurchase_triangles) run different
# graph algorithms over the SAME mined edge set — parts co-ordered in >= 2
# orders.  The order-key self-join that mines it is the dominant cost of
# each (~2.5s at sf0.1 vs a ~9k-row result); a real engine materializes
# the graph once and runs its algorithm suite against the frozen edges.
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa < pb, n_pair) part pairs co-ordered in >= 2 distinct orders —
    the canonical co-purchase graph, mined once per (session, corpus) and
    eagerly checkpointed.  Pair explosion is bounded by items-per-order²
    (sub-quadratic in the catalog), the result by recurring pairs (~1.5%
    of distinct pairs on this corpus)."""
    def build():
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
        b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
        return (
            a.join(b, "o")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
            .filter(F.col("n_pair") >= 2)
            .localCheckpoint(eager=True)
        )

    return _session_artifact(spark, sf_dir, "copurchase_pairs", build)


# The BM25 index over the raw documents corpus: the retrieval family
# (search_eval, hard_negatives, search_clarity, search_rbo, ...) would
# re-tokenize the same corpus per query.  Ingest-backed corpora use
# Bm25Index.append, never this.
def _shared_bm25_index(spark: SparkSession, sf_dir: str):
    """Eagerly-checkpointed (posting, lens) Bm25Index over documents —
    built once per (session, corpus), the reference's persistent FTS
    index (store.py:197-202) realized as frozen shared state."""
    from mcpvectordb_spark.operators.bm25 import Bm25Index, doc_lens, doc_terms

    def build():
        docs = load_table(spark, sf_dir, "documents")
        posting = doc_terms(docs, "doc_id", "text").localCheckpoint(eager=True)
        lens = doc_lens(docs, "doc_id", "text").localCheckpoint(eager=True)
        return Bm25Index(posting, lens, cached=False)

    return _session_artifact(spark, sf_dir, "bm25_index", build)


# Shingle inverted indexes: the dedup/similarity family (ngram_jaccard,
# minhash sig/lsh/calibration, ssjoin, clusters) would re-explode the same
# corpus into (id, shingle) rows per query — the dominant cost of each.
# Two corpus variants exist: "raw" (the documents table verbatim) and
# "near" (_near_corpus's planted-duplicate union).
def _shared_shingles(
    spark: SparkSession, sf_dir: str, corpus: str = "raw", n: int = 3
) -> DataFrame:
    """Eagerly-checkpointed (id, shingle) inverted index over the chosen
    corpus variant — built once per (session, corpus), the frozen artifact
    every shingle-set operator runs against (the 100 TB shape: you shingle
    the corpus once, then run the whole dedup suite on the index)."""
    if corpus not in ("raw", "near"):  # pragma: no cover - caller bug
        raise ValueError(f"unknown corpus variant: {corpus!r}")
    return _session_artifact(
        spark, sf_dir, f"shingle_index_{corpus}_{n}",
        lambda: dd._shingle_index(_corpus_variant(spark, sf_dir, corpus), "id", "text", n)
        .localCheckpoint(eager=True),
    )


def _corpus_variant(spark: SparkSession, sf_dir: str, corpus: str) -> DataFrame:
    """(id, text): the documents verbatim ("raw") or _near_corpus ("near")."""
    if corpus == "raw":
        return load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), "text")
    return _near_corpus(spark, sf_dir)


# AllPairs/PPJoin positional postings (doc, term, s, pos) over a corpus
# variant — the threshold-independent exact-similarity-join index
# (operators/simjoin.py::ssjoin_postings), built on the shared shingles.
def _shared_ssjoin_postings(
    spark: SparkSession, sf_dir: str, corpus: str = "near", n: int = 3
) -> DataFrame:
    from mcpvectordb_spark.operators.simjoin import ssjoin_postings

    return _session_artifact(
        spark, sf_dir, f"ssjoin_postings_{corpus}_{n}",
        lambda: ssjoin_postings(
            None, "id", "text", n, shingles=_shared_shingles(spark, sf_dir, corpus, n)
        ).localCheckpoint(eager=True),
    )


# The near-dup pair graph over the planted corpus: the clustering suite
# (dedup_clusters, dedup_clusters_twostar, dedup_keep_canonical) runs three
# different algorithms over the SAME Jaccard>=0.5 edge set (at 100 TB the
# pair table is the persisted output of the dedup pass that the
# canonicalization jobs read).  dedup_ngram_jaccard itself still COMPUTES
# the pairs (they are its answer); only the downstream consumers read the
# frozen table.
def _shared_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    corpus: str = "near",
) -> DataFrame:
    return _session_artifact(
        spark, sf_dir, f"neardup_pairs_{corpus}_{n}_{threshold}",
        lambda: dd.ngram_jaccard_pairs(
            _corpus_variant(spark, sf_dir, corpus), "id", "text", n=n, threshold=threshold,
            shingles=_shared_shingles(spark, sf_dir, corpus, n),
        ).localCheckpoint(eager=True),
    )


# The MinHash signature table over the RAW corpus.  Built at 16 hashes:
# mh_i depends only on (h1, h2, i), so the first K columns ARE the K-hash
# signatures — one table serves the 8-hash dedup_minhash_sig and the
# 16-hash calibration audit.
def _shared_minhash_sigs(
    spark: SparkSession, sf_dir: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    return _session_artifact(
        spark, sf_dir, f"minhash_sigs_{num_hashes}_{n}",
        lambda: dd.minhash_signatures(
            _corpus_variant(spark, sf_dir, "raw"), "id", "text", num_hashes, n,
            shingles=_shared_shingles(spark, sf_dir, "raw", n),
        ).localCheckpoint(eager=True),
    )


# Streaming-input fixtures: every stream_* query simulates a watch-folder
# by writing a DETERMINISTIC parquet directory derived from the testdata
# tables, then driving a readStream over it.  The write is producer-side
# fixture setup, not operator cost, so it runs once per (session, corpus,
# fixture key); since the writer is deterministic, re-executions read bytes
# identical to a fresh write and every stream result is unchanged.
def _stream_input_dir(spark: SparkSession, sf_dir: str, key: str, writer) -> str:
    """Return the session-cached input directory for a stream fixture,
    invoking ``writer(dir)`` exactly once per (session, corpus, key)."""
    import tempfile

    def build():
        d = tempfile.mkdtemp(prefix=f"stream_{key}_")
        writer(d)
        return d

    return _session_artifact(spark, sf_dir, f"stream_input_{key}", build)


# The supplier↔part recurring-shipment table (>= 2 lineitems) backs four
# more graph queries (kcore / linkpred / ppr / hits).
def _supplier_part_recurring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(suppkey, partkey, n) pairs with >= 2 shipments — one groupBy over
    lineitem, mined once per (session, corpus); callers namespace/weight
    as their graph needs (negated supplier keys, directed vs symmetric)."""
    return _session_artifact(
        spark, sf_dir, "supplier_part_recurring",
        lambda: load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("suppkey"), F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= 2)
        .localCheckpoint(eager=True),
    )


def _q_vec(spark: SparkSession, sf_dir: str, vec_id: int = QUERY_VEC_ID) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vec_id).first()["embedding"])


# planted-duplicate corpora (the raw synthetic corpus has no near-dups, so
# dedup demos plant them deterministically — identically in Spark and SQL).
# Plant-id offset is far beyond any scale factor's doc_id range (+10k would
# collide with genuine ids at sf >= 0.2 and silently corrupt the corpus).
_NEARDUP_SUFFIX = " zz9 qq8 extra suffix tokens"
_PLANT_OFFSET = 10_000_000


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.filter(F.col("doc_id") < 50).select((F.col("doc_id") + _PLANT_OFFSET).alias("id"), "text")
    )


_SQL_EXACT_CORPUS = (
    "SELECT doc_id AS id, text FROM documents "
    f"UNION ALL SELECT doc_id+{_PLANT_OFFSET} AS id, text FROM documents WHERE doc_id < 50"
)


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + _PLANT_OFFSET).alias("id"),
            F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
        )
    )


_SQL_NEAR_CORPUS = (
    "SELECT doc_id AS id, text FROM documents "
    f"UNION ALL SELECT doc_id+{_PLANT_OFFSET} AS id, text || '{_NEARDUP_SUFFIX}' AS text "
    "FROM documents WHERE doc_id < 50"
)

_SQL_JACCARD_ON = """
jsh AS (SELECT id, unnest({shingles}) AS shingle FROM corpus),
sizes AS (SELECT id, count(*) AS set_size FROM jsh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM jsh a JOIN jsh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
"""


def _sql_jaccard_cte() -> str:
    return _SQL_JACCARD_ON.format(shingles=_sql_shingles(_sql_words("text"), 3))




def _digest_gate(df: DataFrame) -> DataFrame:
    """Collapse a fully-deterministic result to one (n_rows, digest) row,
    computed in-plan: every row is rendered to a string (columns joined with
    0x1f, NULL → 0x00), the row-strings are canonically sorted, and the md5
    of their 0x1e-join is taken.  The matching oracle is a constant SELECT
    of the golden (n_rows, digest) captured at sf0.01 — turning a
    rows-only driver row into a real pass/fail value check for queries
    whose computation (chunker/embedder/byte kernels) DuckDB cannot run.
    Regenerate goldens with tools/regen_digests.py after any intended
    behavior change."""
    rowstr = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    )
    return df.select(rowstr.alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.md5(F.concat_ws("\x1e", F.array_sort(F.collect_list("r")))).alias("digest"),
    )


def _sql_digest_gold(n_rows: int, digest: str) -> str:
    return f"SELECT CAST({n_rows} AS BIGINT) AS n_rows, '{digest}' AS digest"

# re-export everything (including underscore helpers) to later sections
__all__ = [n for n in dir() if not n.startswith("__")]
