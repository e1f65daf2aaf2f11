"""SparkSession factory tuned for the local[32] test/bench environment,
with settings that also make sense on a real cluster (AQE, Arrow, UTC)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def ui_enabled(env=os.environ) -> bool:
    """``SPARK_GRAFT_UI`` opts a session into the Spark UI: only ``1`` or
    ``true`` (any case) turn it on, so ``SPARK_GRAFT_UI=0`` keeps it off."""
    return env.get("SPARK_GRAFT_UI", "").strip().lower() in ("1", "true")


def get_spark(app_name: str = "mcpvectordb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # Python workers don't inherit the driver's sys.path edits — a caller who
    # imported us via sys.path.insert from another cwd gets
    # ModuleNotFoundError inside every pandas_udf.  Exporting the package's
    # parent dir on PYTHONPATH before the JVM (and its worker daemons) start
    # makes the library importable on workers regardless of caller setup.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Older testdata events.parquet stores TIMESTAMP(NANOS); Spark reads
        # it as bigint nanos with this flag (io.load_events normalizes either
        # nanos-bigint or NTZ-micros files to a session-UTC timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off for bench/test runs (allocating the HTTP server costs
        # startup time and the port can collide across parallel sessions);
        # profiling sessions opt in via SPARK_GRAFT_UI=1 so
        # tools/profile_query.py can read per-stage task metrics from the
        # REST API (guide §1.1/§7.1).
        .config("spark.ui.enabled", "true" if ui_enabled() else "false")
        # \r-terminated stage-progress bars flooded the round-5 driver's
        # bench tail capture (BENCH_r05.json parsed:null) — silence them;
        # bench.py prints its one-line JSON summary LAST so any tail window
        # retains it.
        .config("spark.ui.showConsoleProgress", "false")
        # Start Python workers through _pyworker, which drops Spark's
        # pyspark/py4j/spark-core archives from the workers' sys.path when
        # the same packages resolve from a directory: every task's
        # importlib.invalidate_caches() made each cached zipimporter re-read
        # its archive, ~0.25 s per task.
        .config("spark.python.daemon.module", "mcpvectordb_spark._pyworker")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # The serving and catalog plans use global windows over pools that are
    # bounded by construction; WindowExec warns "No Partition Defined" at
    # every such window, several lines per search.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
