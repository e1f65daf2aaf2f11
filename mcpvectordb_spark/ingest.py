"""Batch ingestion pipeline: validate → title → hash → dedup-gate → chunk →
embed → write.

Mirrors the reference's ingest flow (/root/reference/src/mcpvectordb/
ingestor.py:133-290 for files, 293-414 for content) as ONE batch DAG
(SURVEY.md §3.2): the asyncio fan-out/semaphore disappears — parallelism is
the scheduler's job — and per-file exceptions become a status/error column so
one bad document never stops the batch (ingestor.py:104-118 semantics).

Dedup gate (reference ingestor.py:181-209, contract docs/mcp-tool-spec.md:52-55):
    same (source, library) + same content hash   → skipped   (no write)
    same (source, library) + different hash      → replaced  (one commit)
    absent                                       → indexed   (append)
The gate is an in-process lookup of the batch's collected keys in the
store's document index (store.py::_DocIndex) — the reference's point lookup
(store.py:206-235) without a Spark job.  Skipped and failed rows write
nothing; the indexed and replaced ones are written, and the replaced
documents' old chunks removed, in one commit.

Determinism (FIXTURES.md rules 3-4): doc_id = sha2(sha2(source)‖sha2(library))[:16],
chunk id = doc_id-chunk_index, created_at injectable (defaults to now).
"""

from __future__ import annotations

from collections import Counter
from datetime import UTC, datetime

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcpvectordb_spark.chunker import chunk_documents
from mcpvectordb_spark.config import DEFAULT, EngineConfig
from mcpvectordb_spark.embedder import embed_documents_stage
from mcpvectordb_spark.schema import INGEST_RESULT_SCHEMA
from mcpvectordb_spark.store import ChunkStore, where_in
from mcpvectordb_spark.tokenizer import ws_token_count


def extract_title(content, source):
    """First Markdown '#' heading (≤200 chars), else last path component
    (reference _extract_title, ingestor.py:482-497)."""
    heading = F.regexp_extract(content, r"(?m)^#+[ \t]*(.+)$", 1)
    heading = F.substring(F.trim(heading), 1, 200)
    fallback = F.element_at(F.split(source, "/"), -1)
    return F.when(heading != "", heading).otherwise(fallback)


def file_type_of(source):
    """Extension → file_type (reference ingestor.py:174,354): lowercase
    suffix, 'url' for http(s) sources, 'unknown' when there is none."""
    ext = F.lower(F.regexp_extract(source, r"\.([A-Za-z0-9]+)$", 1))
    return (
        F.when(source.rlike("^https?://"), F.lit("url"))
        .when(ext != "", ext)
        .otherwise(F.lit("unknown"))
    )


def prepare_batch(raw_docs: DataFrame, created_at: str | None = None) -> DataFrame:
    """Normalize a raw-docs batch: doc_id, title, hash, type.

    doc_id is derived from document identity (FIXTURES.md rule 3); the
    reference's uuid4 ids (ingestor.py:248) are no less opaque."""
    ts = created_at or datetime.now(UTC).isoformat(timespec="seconds")
    c = F.col("content")
    # hash-of-hashes: concat_ws(':') would be ambiguous at the separator —
    # ('a:b','c') and ('a','b:c') must NOT share a doc_id (sources are
    # URLs, ':' is routine)
    key_hash = F.sha2(F.concat(F.sha2(F.col("source"), 256), F.sha2(F.col("library"), 256)), 256)
    return (
        raw_docs.withColumn("content_hash", F.sha2(c.cast("string"), 256))
        .withColumn("doc_id", F.substring(key_hash, 1, 16))
        .withColumn("title", extract_title(c, F.col("source")))
        .withColumn("file_type", file_type_of(F.col("source")))
        .withColumn("created_at", F.lit(ts))
        # sources that know their mtime (folder scan, URL Last-Modified)
        # pass a last_modified column through; otherwise "" (store.py:33)
        .withColumn(
            "last_modified",
            F.coalesce(F.col("last_modified"), F.lit(""))
            if "last_modified" in raw_docs.columns
            else F.lit(""),
        )
        .withColumn("page", F.lit(0))
        .withColumn("metadata", F.coalesce(F.col("metadata"), F.lit("{}")))
        # sources that convert bytes to text (folder scan) pass the
        # converter's message through; it is a failed row's error
        .withColumn(
            "convert_error",
            F.col("convert_error") if "convert_error" in raw_docs.columns else F.lit(None).cast("string"),
        )
        # \s-aware emptiness: F.trim strips spaces only, but the chunker
        # does Python str.strip() — a '\n\n' doc must be invalid here, not
        # a phantom 'indexed' with zero chunks
        .withColumn("valid", c.isNotNull() & (F.regexp_replace(c, r"\s+", "") != ""))
    )


def dedup_gate(keys: list, index) -> list[dict]:
    """Status of each batch row (``keys``: collected rows with source,
    library, content_hash, valid and convert_error), in the order given,
    from the store's document index.  Rows sharing a (source, library) key — the document
    identity (reference store.py:206-235), so they would collide on
    doc_id/chunk ids — rank by content_hash, nulls first; every row after
    the first fails."""
    def rank_key(r):
        return tuple((v is not None, v or "") for v in (r["source"], r["library"], r["content_hash"]))

    out: list[dict] = [{} for _ in keys]
    seen = set()
    for i in sorted(range(len(keys)), key=lambda i: rank_key(keys[i])):
        r = keys[i]
        key = (r["source"], r["library"])
        old = index.by_key.get(key)
        if key in seen:
            status, error = "failed", "duplicate (source, library) in batch"
        elif not r["valid"]:
            status, error = "failed", r["convert_error"] or "empty content"
        elif old is not None and old["content_hash"] == r["content_hash"]:
            status, error = "skipped", None
        else:
            status, error = ("replaced" if old is not None else "indexed"), None
        seen.add(key)
        out[i] = {"status": status, "error": error, "old_doc_id": old["doc_id"] if old is not None else None}
    return out


# A write task's share of the batch's text: at the reference's regime an
# ingest leaves one file per library, which every later scan of it opens.
_BYTES_PER_WRITE_TASK = 64 << 20
# the index row of a written document, less its chunk_count
_DOC_COLS = ("doc_id", "source", "title", "library", "content_hash", "created_at", "metadata")
_RESULT_ARROW = pa.schema([(f.name, pa.int32() if f.name == "chunk_count" else pa.string())
                           for f in INGEST_RESULT_SCHEMA])


def ingest_batch(
    raw_docs: DataFrame,
    store: ChunkStore,
    config: EngineConfig = DEFAULT,
    created_at: str | None = None,
    token_counter=ws_token_count,
    embedder_factory=None,
) -> DataFrame:
    """Run the full pipeline; writes to the store and returns the per-doc
    result DataFrame (INGEST_RESULT_SCHEMA shape).

    The batch is prepared once and cached with a row id; one job collects
    its keys for the gate.  The whole ingest holds the store's writer lock,
    so the index the gate read is the one the commit derives from."""
    spark = raw_docs.sparkSession
    prepared = prepare_batch(raw_docs, created_at).withColumn("_row", F.monotonically_increasing_id()).cache()
    try:
        with store.writer():
            index = store.documents()
            keys = prepared.select(
                "_row", "valid", "convert_error", *_DOC_COLS, F.octet_length("content").alias("_bytes")
            ).collect()
            gate = dedup_gate(keys, index)
            written = [k for k, g in zip(keys, gate) if g["status"] in ("indexed", "replaced")]
            # the replaced documents' old chunks, and any chunks under a
            # written doc_id, leave in the same commit
            replace = {g["old_doc_id"] for g in gate if g["status"] == "replaced"}
            replace |= {k["doc_id"] for k in written}
            counts = _write(prepared, written, replace, store, config, token_counter, embedder_factory)
    finally:
        prepared.unpersist()
    # an Arrow table becomes a LocalRelation: reading the results runs no job
    rows = [
        {"status": g["status"], "doc_id": k["doc_id"], "source": k["source"], "library": k["library"],
         "chunk_count": counts.get(k["_row"], 0), "error": g["error"]}
        for k, g in zip(keys, gate)
    ]
    return spark.createDataFrame(pa.Table.from_pylist(rows, _RESULT_ARROW))


def _write(prepared, written, replace, store, config, token_counter, embedder_factory) -> dict:
    """Chunk, embed and commit the ``written`` rows of ``prepared`` in one
    commit that also removes the chunks of the ``replace`` doc ids; returns
    the written rows' chunk counts by row id."""
    if not written:
        return {}
    ids = [k["_row"] for k in written]
    to_write = where_in(prepared, "_row", ids)
    # Fan the write set out before the CPU-heavy per-row stages when the
    # batch arrives in fewer partitions than there are cores to chunk and
    # embed it on.  Chunking/embedding are per-row and the downstream
    # counts/digests are content-keyed, so placement does not affect any
    # result.
    fan = min(prepared.sparkSession.sparkContext.defaultParallelism, len(written))
    if prepared.rdd.getNumPartitions() < fan:
        to_write = to_write.repartition(fan)
    chunked = chunk_documents(to_write, "content", config, token_counter)
    embedded = embed_documents_stage(
        chunked, "content", "embedding", config.embedding_dim, config, embedder_factory
    )
    chunks = embedded.select(
        F.concat_ws("-", F.col("doc_id"), F.col("chunk_index").cast("string")).alias("id"),
        "doc_id",
        "library",
        "source",
        "content_hash",
        "title",
        "content",
        "embedding",
        "chunk_index",
        "created_at",
        "metadata",
        "file_type",
        "last_modified",
        "page",
    ).cache()
    try:
        # the counts job materializes the cache at the fan-out's parallelism
        per_doc = Counter(r["doc_id"] for r in chunks.select("doc_id").collect())
        documents = [{**{c: k[c] for c in _DOC_COLS}, "chunk_count": per_doc[k["doc_id"]]}
                     for k in written if per_doc[k["doc_id"]]]
        parts = max(1, -(-sum(k["_bytes"] for k in written) // _BYTES_PER_WRITE_TASK))
        store.append(chunks.coalesce(parts), replace=replace, documents=documents)
    finally:
        chunks.unpersist()
    return {k["_row"]: per_doc[k["doc_id"]] for k in written}


def rollup_results(results: DataFrame) -> DataFrame:
    """Bulk-ingest status rollup (reference ingestor.py:120-130)."""
    return results.groupBy("status").agg(F.count(F.lit(1)).cast("int").alias("n"))
