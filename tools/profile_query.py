"""Runtime profile of catalog queries: job/stage/task counts and task-metric
attribution (executor run/CPU time, shuffle read/write bytes, input bytes)
pulled from the Spark UI REST API after a timed noop-sink execution.

This is the r10 answer to two round-9 verdict items: (a) plan captures of
localCheckpoint-pinned queries truncate at the pin boundary, so "exchanges
removed" claims need runtime evidence a reviewer can check from the artifact
alone; (b) the remaining slow queries have clean plans — the next pass must
attribute wall-clock to scan vs shuffle vs kernel vs job overhead (guide
§1.1 empirical loop, §7.1).

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_query.py <label> <query> [...]
Writes plans/r10/profile_<label>.json with one entry per query:
  wall_sec (median of 3 timed noop runs after one warm run),
  n_jobs / n_stages / n_tasks,
  executor_run_ms / executor_cpu_ms (summed over stages),
  shuffle_read_mb / shuffle_write_mb / input_mb,
  per_stage: [{stage, name, tasks, run_ms, cpu_ms, shuf_r_mb, shuf_w_mb, in_mb}]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, ".")

os.environ.setdefault("SPARK_GRAFT_UI", "1")

from mcpvectordb_spark.catalog import QUERIES
from mcpvectordb_spark.session import get_spark


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    label = sys.argv[1]
    names = sys.argv[2:]
    unknown = set(names) - set(QUERIES)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r10"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        raise SystemExit("Spark UI is disabled; run with SPARK_GRAFT_UI=1")
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    from mcpvectordb_spark.io import enable_table_cache

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    enable_table_cache(
        spark, sf_dir,
        ["lineitem", "orders", "customer", "supplier", "nation", "region",
         "documents", "embeddings", "events"],
    )

    out: dict[str, dict] = {"_sf_dir": sf_dir, "_cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")}
    for name in names:
        fn = QUERIES[name]
        # warm: codegen + page cache (bench.py convention)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls = []
        sc.setJobGroup(f"profile:{name}", name)
        t_group0 = time.perf_counter()
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        sc.setJobGroup(None, None)
        wall = sorted(walls)[1]
        # pull jobs tagged with our group (the 3 timed runs; metrics are
        # per-run-comparable after dividing by 3)
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") == f"profile:{name}"]
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        stages = []
        for sid in stage_ids:
            try:
                infos = _get(f"{base}/stages/{sid}")
            except Exception:
                continue
            for si in infos:
                if si.get("status") == "SKIPPED":
                    continue
                stages.append(
                    {
                        "stage": sid,
                        "name": (si.get("name") or "")[:120],
                        "tasks": si.get("numCompleteTasks", si.get("numTasks", 0)),
                        "run_ms": si.get("executorRunTime", 0),
                        "cpu_ms": round((si.get("executorCpuTime", 0) or 0) / 1e6, 1),
                        "shuf_r_mb": round(si.get("shuffleReadBytes", 0) / 1e6, 3),
                        "shuf_w_mb": round(si.get("shuffleWriteBytes", 0) / 1e6, 3),
                        "in_mb": round(si.get("inputBytes", 0) / 1e6, 3),
                    }
                )
        rec = {
            "wall_sec": round(wall, 3),
            "wall_3runs_sec": round(time.perf_counter() - t_group0, 3),
            "n_jobs": len(jobs),
            "n_jobs_per_run": round(len(jobs) / 3.0, 1),
            "n_stages": len(stages),
            "n_tasks": sum(s["tasks"] for s in stages),
            "executor_run_ms": sum(s["run_ms"] for s in stages),
            "executor_cpu_ms": round(sum(s["cpu_ms"] for s in stages), 1),
            "shuffle_read_mb": round(sum(s["shuf_r_mb"] for s in stages), 3),
            "shuffle_write_mb": round(sum(s["shuf_w_mb"] for s in stages), 3),
            "input_mb": round(sum(s["in_mb"] for s in stages), 3),
            "per_stage": sorted(stages, key=lambda s: -s["run_ms"])[:25],
        }
        out[name] = rec
        print(
            f"# {name}: wall={rec['wall_sec']}s jobs/run={rec['n_jobs_per_run']} "
            f"stages={rec['n_stages']} tasks={rec['n_tasks']} "
            f"run={rec['executor_run_ms']}ms cpu={rec['executor_cpu_ms']}ms "
            f"shufR={rec['shuffle_read_mb']}MB in={rec['input_mb']}MB",
            file=sys.stderr,
        )
    path = os.path.join(out_dir, f"profile_{label}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
