"""obs.spark_work: the Spark work of a block read from the status store with
the UI off, and tools/profile_query.py, the profiler built on it."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from conftest import SF
from mcpvectordb_spark.obs import spark_work, union_s


def test_session_runs_without_ui(spark):
    assert spark.sparkContext.uiWebUrl is None


def test_shuffle_plan_reports_jobs_stages_tasks_and_bytes(spark):
    with spark_work(spark, "shuffle") as work:
        rows = spark.range(0, 20_000, numPartitions=4).groupBy((F.col("id") % 50).alias("k")).count().collect()
    assert len(rows) == 50
    # AQE runs the map side and the reduce side as two jobs of one stage each
    # (a second collect of the same DataFrame would reuse the map output)
    assert (work.jobs, work.stages) == (2, 2), work
    assert work.tasks >= 5 and work.tasks == sum(s["tasks"] for s in work.per_stage)
    assert work.shuffle_write_mb > 0 and work.shuffle_read_mb == pytest.approx(work.shuffle_write_mb)
    assert work.executor_run_ms >= 0 and work.executor_cpu_ms > 0
    assert 0 <= work.driver_ms <= work.wall_ms


def test_each_block_counts_only_its_own_jobs(spark):
    for _ in range(10):
        with spark_work(spark, "one job") as work:
            spark.sparkContext.parallelize(range(100), 2).count()
        assert (work.jobs, work.stages, work.tasks) == (1, 1, 2), work
    with spark_work(spark, "no job") as work:
        pass
    assert (work.jobs, work.stages, work.tasks) == (0, 0, 0)


def test_job_still_running_at_exit_is_counted(spark, tmp_path):
    """A job the block started is counted with its stage even when it is
    still running as the block exits: the read waits for it to end."""
    started = tmp_path / "started"

    def slow(rows):
        started.touch()
        time.sleep(1.0)
        yield sum(1 for _ in rows)

    job = InheritableThread(target=lambda: spark.sparkContext.parallelize(range(4), 1).mapPartitions(slow).collect())
    with spark_work(spark, "background job") as work:
        job.start()
        deadline = time.monotonic() + 60
        while not started.exists() and time.monotonic() < deadline:
            time.sleep(0.01)
    job.join(timeout=60)
    assert started.exists() and not job.is_alive()
    assert (work.jobs, work.stages, work.tasks) == (1, 1, 1), work
    assert work.executor_run_ms >= 1000


def test_callers_job_group_is_restored(spark):
    sc = spark.sparkContext
    group = lambda: (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    sc.setLocalProperty("spark.job.description", "outer work")
    try:
        with spark_work(spark, "inner"):
            assert group() != ("outer", "outer work")
        assert group() == ("outer", "outer work")
        with pytest.raises(ZeroDivisionError), spark_work(spark, "inner"):
            1 / 0
        assert group() == ("outer", "outer work")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with spark_work(spark, "inner"):
        pass
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_union_of_overlapping_spans():
    assert union_s([]) == 0.0
    assert union_s([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0


def test_profiler_writes_plan_and_profile(spark, tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from profile_query import profile_queries

    out = profile_queries(spark, SF, ["hybrid_rrf"], str(tmp_path))
    plan = (tmp_path / "hybrid_rrf.plan.txt").read_text()
    assert "== Physical Plan ==" in plan
    rec = json.loads((tmp_path / "profile.json").read_text())["hybrid_rrf"]
    assert rec == out["hybrid_rrf"]
    assert {"wall_sec", "n_jobs_per_run", "n_stages", "n_tasks", "executor_run_ms", "executor_cpu_ms",
            "shuffle_read_mb", "shuffle_write_mb", "input_mb", "per_stage"} <= rec.keys()
    assert rec["n_jobs_per_run"] >= 1 and rec["n_tasks"] >= rec["n_stages"] >= 1
    with pytest.raises(ValueError, match="unknown queries"):
        profile_queries(spark, SF, ["no_such_query"], str(tmp_path))
