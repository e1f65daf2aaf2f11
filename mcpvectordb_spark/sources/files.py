"""File and folder sources.

Reference S1/S3 (/root/reference/src/mcpvectordb/ingestor.py:90-101,163-179):
read raw bytes, derive file_type from the extension and last_modified from
mtime, recursive folder scan filtered to supported extensions.

Spark-native form: the built-in ``binaryFile`` format, which exposes
(path, modificationTime, length, content) and handles distributed listing —
folder fan-out parallelism is the scheduler's job (SURVEY.md §3.3). The
extension filter happens in the DataFrame (the reader's pathGlobFilter only
takes one pattern); the size guard mirrors max_upload_bytes (config.py:68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcpvectordb_spark.config import DEFAULT, EngineConfig


def read_folder(
    spark: SparkSession,
    folder: str,
    recursive: bool = True,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Folder scan → (source, file_type, last_modified, size, raw_bytes),
    in no particular row order.

    The reference's sorted glob (ingestor.py:98) orders only what a caller
    sees: ``VectorDB.ingest_folder`` sorts its ``errors`` by source on the
    driver.  A global sort here would range-partition the scan, raw bytes
    included, for results that do not depend on row order.
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
        .load(folder)
    )
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    # strip the file: scheme so sources match plain-path ingests (the
    # (source, library) pair is the dedup identity — store.py:206-235)
    plain = F.regexp_replace(F.col("path"), "^file:", "")
    return (
        df.select(
            plain.alias("source"),
            ext.alias("file_type"),
            F.date_format(F.col("modificationTime"), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("last_modified"),
            F.col("length").alias("size"),
            F.col("content").alias("raw_bytes"),
        )
        .filter(F.col("file_type").isin(list(config.supported_extensions)))
        .filter(F.col("size") <= config.max_upload_bytes)
    )


def fetch_urls(spark: SparkSession, urls: list[str], config: EngineConfig = DEFAULT) -> DataFrame:
    """URL source (reference S2, ingestor.py:417-442): HTTP GET with timeout,
    capturing Last-Modified.  Runs as mapInPandas so a large URL list fans
    out across executors; failures become error rows, not exceptions."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("file_type", T.StringType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("last_modified", T.StringType()),
            T.StructField("size", T.LongType()),
            T.StructField("raw_bytes", T.BinaryType()),
            T.StructField("fetch_error", T.StringType()),
        ]
    )
    timeout = config.http_timeout_seconds

    def fetch(batches):
        import urllib.request

        import pandas as pd

        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                try:
                    req = urllib.request.Request(url, headers={"User-Agent": "mcpvectordb-spark/0.1"})
                    with urllib.request.urlopen(req, timeout=timeout) as resp:  # nosec B310
                        raw = resp.read()
                        lm = resp.headers.get("Last-Modified", "")
                        ctype = resp.headers.get_content_type()
                    rows.append((url, "url", ctype, lm, len(raw), raw, None))
                except Exception as exc:
                    rows.append((url, "url", "", "", 0, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
    return urls_df.mapInPandas(fetch, schema=schema)
