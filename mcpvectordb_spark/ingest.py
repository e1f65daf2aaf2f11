"""Batch ingestion pipeline: validate → title → hash → dedup-gate → chunk →
embed → write.

Mirrors the reference's ingest flow (/root/reference/src/mcpvectordb/
ingestor.py:133-290 for files, 293-414 for content) as ONE batch DAG
(SURVEY.md §3.2): the asyncio fan-out/semaphore disappears — parallelism is
the scheduler's job — and per-file exceptions become a status/error column so
one bad document never stops the batch (ingestor.py:104-118 semantics).

Dedup gate (reference ingestor.py:181-209, contract docs/mcp-tool-spec.md:52-55):
    same (source, library) + same content hash   → skipped   (no write)
    same (source, library) + different hash      → replaced  (delete+append)
    absent                                       → indexed   (append)
The gate is a broadcast left join of the incoming batch against the store's
per-document hashes — the distributed form of the reference's point lookup
(store.py:206-235).

Determinism (FIXTURES.md rules 3-4): doc_id = sha2(sha2(source)‖sha2(library))[:16],
chunk id = doc_id-chunk_index, created_at injectable (defaults to now).
"""

from __future__ import annotations

from datetime import UTC, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcpvectordb_spark.chunker import chunk_documents
from mcpvectordb_spark.config import DEFAULT, EngineConfig
from mcpvectordb_spark.embedder import embed_documents_stage
from mcpvectordb_spark.store import ChunkStore
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
        # \s-aware emptiness: F.trim strips spaces only, but the chunker
        # does Python str.strip() — a '\n\n' doc must be invalid here, not
        # a phantom 'indexed' with zero chunks
        .withColumn("valid", c.isNotNull() & (F.regexp_replace(c, r"\s+", "") != ""))
    )


def dedup_gate(batch: DataFrame, store: ChunkStore) -> DataFrame:
    """Attach ingest status by joining against the store's document hashes."""
    existing = (
        store.read()
        .groupBy("source", "library")
        .agg(
            F.first("doc_id").alias("_old_doc_id"),
            F.first("content_hash").alias("_old_hash"),
        )
    )
    return batch.join(F.broadcast(existing), ["source", "library"], "left").withColumn(
        "status",
        F.when(~F.col("valid"), F.lit("failed"))
        .when(F.col("_old_hash") == F.col("content_hash"), F.lit("skipped"))
        .when(F.col("_old_doc_id").isNotNull(), F.lit("replaced"))
        .otherwise(F.lit("indexed")),
    )


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

    Two write-safety rules learned the hard way:
    - the gate is read under the store's read pin and ``localCheckpoint``-ed
      (lineage cut) BEFORE any write: its plan reads the files of the
      version it resolved, which this ingest's own delete/append commits
      may garbage-collect;
    - duplicate (source, library) keys within one batch are rejected as
      failed rows — the pair is the document identity (reference
      store.py:206-235), so two batch rows with the same key would collide
      on doc_id/chunk ids.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source", "library").orderBy("content_hash")
    prepared = (
        prepare_batch(raw_docs, created_at)
        .withColumn("_dup_rank", F.row_number().over(w))
        .withColumn("valid", F.col("valid") & (F.col("_dup_rank") == 1))
    )
    with store.pinned():
        gated = dedup_gate(prepared, store).localCheckpoint(eager=True)

    to_write = gated.filter(F.col("status").isin("indexed", "replaced"))
    # r10 optimization (guide §2.5 input skew / §1.2): AQE coalesces the
    # tiny (source, library) dedup-rank exchange, so the checkpointed gate
    # lands in ONE partition at bench scale — profiled: the whole
    # chunk→embed→append kernel chain ran on a single core (ingest_chunks'
    # 8→32-core scaling ratio of 1.2 was partition collapse, not Arrow
    # overhead).  Fan the write set back out before the CPU-heavy per-row
    # stages; skipped when the gate already carries enough partitions, so
    # at real scale this adds no shuffle.  Chunking/embedding are per-row
    # and the downstream counts/digests are content-keyed, so placement
    # does not affect any result.
    sc = raw_docs.sparkSession.sparkContext
    gate_parts = gated.rdd.getNumPartitions()
    if gate_parts < sc.defaultParallelism:
        to_write = to_write.repartition(sc.defaultParallelism)
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
    )

    # Cache the chunk pipeline output: it is consumed twice (append + counts)
    # and re-running it would re-chunk/re-embed the batch.
    chunks = chunks.cache()
    counts = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("chunk_count")).localCheckpoint(eager=True)

    # Replace = delete-then-append (reference ingestor.py:199-209), fully
    # set-based: the replaced-ids set flows from the (checkpointed) gate
    # into ONE delete commit that rewrites only the files holding a replaced
    # document — the ids never visit the driver, so the path is the same at
    # 10 or 10M replacements.
    old_ids_df = (
        gated.filter(F.col("status") == "replaced")
        .select(F.col("_old_doc_id").alias("doc_id"))
    )
    store.delete_documents_df(old_ids_df)
    # Write the cached chunks back at the gate's partitioning: the fan-out
    # above serves the CPU-heavy stages only, and each write task leaves one
    # file per library that every later scan of the library opens.
    store.append(chunks.coalesce(gate_parts))
    chunks.unpersist()
    results = (
        gated.join(counts, "doc_id", "left")
        .withColumn(
            "error",
            F.when(F.col("status") == "failed",
                   F.when(F.col("_dup_rank") > 1, F.lit("duplicate (source, library) in batch"))
                    .otherwise(F.lit("empty content"))
            ).otherwise(F.lit(None).cast("string")),
        )
        .withColumn("chunk_count", F.coalesce(F.col("chunk_count"), F.lit(0)))
        .select("status", "doc_id", "source", "library", "chunk_count", "error")
    )
    return results


def rollup_results(results: DataFrame) -> DataFrame:
    """Bulk-ingest status rollup (reference ingestor.py:120-130)."""
    return results.groupBy("status").agg(F.count(F.lit(1)).cast("int").alias("n"))
