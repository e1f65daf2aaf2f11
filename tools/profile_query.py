"""Runtime profile and formatted plan of catalog queries.

For each query: one warm noop-sink run, then three timed runs inside one
``obs.spark_work`` block (job/stage/task counts and task metrics from
Spark's status store, UI off).  The formatted physical plan goes beside the
profile: a localCheckpoint-pinned subtree prints as ``Scan ExistingRDD``
there, and the job/stage counts show what it ran.

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_query.py <out_dir> <query> [...]
Writes <out_dir>/<query>.plan.txt per query and <out_dir>/profile.json with
one entry per query:
  wall_sec (median of the 3 timed runs), wall_3runs_sec,
  n_jobs / n_jobs_per_run / n_stages / n_tasks,
  executor_run_ms / executor_cpu_ms / driver_ms (summed over the 3 runs),
  shuffle_read_mb / shuffle_write_mb / input_mb,
  per_stage: [{stage, name, tasks, run_ms, cpu_ms, shuf_r_mb, shuf_w_mb, in_mb}]
  (the 25 longest-running stages)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mcpvectordb_spark.catalog import QUERIES
from mcpvectordb_spark.obs import spark_work
from mcpvectordb_spark.plans.explain import formatted_plan

RUNS = 3
TABLES = ["lineitem", "orders", "customer", "supplier", "nation", "region",
          "documents", "embeddings", "events"]


def _timed_run(fn, spark, sf_dir: str) -> float:
    """Seconds to build the query (iterative queries run jobs here) and
    run it into the noop sink."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def profile_queries(spark, sf_dir: str, names: list[str], out_dir: str) -> dict:
    """Profile ``names`` at ``sf_dir``; write the plans and profile.json
    into ``out_dir`` and return the profile."""
    unknown = set(names) - set(QUERIES)
    if unknown:
        raise ValueError(f"unknown queries: {sorted(unknown)}")
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, dict] = {"_sf_dir": sf_dir, "_cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")}
    for name in names:
        fn = QUERIES[name]
        with open(os.path.join(out_dir, f"{name}.plan.txt"), "w") as fh:
            fh.write(f"# {name} @ {sf_dir}\n{formatted_plan(fn(spark, sf_dir))}")
        _timed_run(fn, spark, sf_dir)  # warm: codegen + page cache (bench.py convention)
        with spark_work(spark, name) as work:
            walls = [_timed_run(fn, spark, sf_dir) for _ in range(RUNS)]
        out[name] = rec = {
            "wall_sec": round(sorted(walls)[RUNS // 2], 3),
            "wall_3runs_sec": round(work.wall_ms / 1000.0, 3),
            "n_jobs": work.jobs,
            "n_jobs_per_run": round(work.jobs / RUNS, 1),
            "n_stages": work.stages,
            "n_tasks": work.tasks,
            "executor_run_ms": work.executor_run_ms,
            "executor_cpu_ms": round(work.executor_cpu_ms, 1),
            "driver_ms": round(work.driver_ms, 1),
            "shuffle_read_mb": round(work.shuffle_read_mb, 3),
            "shuffle_write_mb": round(work.shuffle_write_mb, 3),
            "input_mb": round(work.input_mb, 3),
            "per_stage": sorted(work.per_stage, key=lambda s: -s["run_ms"])[:25],
        }
        print(f"# {name}: " + " ".join(f"{k}={v}" for k, v in rec.items() if k != "per_stage"), file=sys.stderr)
    with open(os.path.join(out_dir, "profile.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 3 or not sf_dir:
        raise SystemExit(__doc__)
    from mcpvectordb_spark.io import enable_table_cache
    from mcpvectordb_spark.session import get_spark

    out_dir, names = sys.argv[1], sys.argv[2:]
    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    enable_table_cache(spark, sf_dir, TABLES)
    try:
        profile_queries(spark, sf_dir, names, out_dir)
    except ValueError as exc:
        raise SystemExit(str(exc)) from None
    print(f"wrote {os.path.join(out_dir, 'profile.json')}")
    spark.stop()


if __name__ == "__main__":
    main()
