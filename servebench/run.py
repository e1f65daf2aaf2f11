"""Serving-path benchmark for the MCP server.

One run:
    python3 servebench/run.py --workload search_hybrid --seed 1 --seconds 10 --trace 0

``--trace 0`` starts ``python -m mcpvectordb_spark.server --transport http``
and drives it over ``POST /mcp``; it prints the end-to-end metrics.
``--trace 1`` hosts the server in this process with spans around the
engine's functions and prints the per-layer metrics; ``--out DIR`` also
writes the spans, per-request records and the per-layer summary there.

Steadiness report (two sets of N runs, alternating, then two traced runs):
    python3 servebench/run.py --workload library_churn --steadiness 10 --out DIR

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The exit code is 0
only when the run finished and every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from servebench.client import become_subreaper, stop_descendants  # noqa: E402
from servebench.corpus import digest  # noqa: E402
from servebench.stats import spread  # noqa: E402

WORK = os.path.join(ROOT, ".servebench")
# The steadiness report: sets of untraced runs that alternate run by run,
# then traced runs on one seed (two, to show which Spark counts repeat).
SETS = 2
TRACED_RUNS = 2


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def run_untraced(wl, seconds: float, workdir: str) -> tuple[dict, dict]:
    from servebench.client import McpClient, ServerProcess
    from servebench.workloads import Session

    wl.prepare(workdir)
    store = os.path.join(workdir, "store")
    load_before = os.getloadavg()[0]
    t0 = time.perf_counter()
    server = ServerProcess(ROOT, store, workdir, cpus())
    sess = Session(McpClient(server.wait_ready()))
    healthy_s = time.perf_counter() - t0
    info = wl.setup(sess)
    setup_s = time.perf_counter() - t0
    wl.timed(sess, seconds)
    rss_mb = server.rss_mb()
    timed = [c for c in sess.calls if c.phase == "timed"]
    searches = sess.timed_latencies("search")
    metrics = {
        "setup_s": setup_s,
        "search_p50_ms": statistics.median(searches) * 1000.0,
        "request_mean_ms": statistics.fmean(c.latency_s for c in timed) * 1000.0,
        "bulk_ingest_chunks_per_s": info["chunks"] / info["ingest_s"],
        # the store holds the corpus at the end: every edit-session note is
        # deleted again inside its own cycle
        "store_bytes_per_user_byte": dir_bytes(store) / wl.corpus.user_bytes(),
    }
    per_op = {}
    for op in sorted({c.op for c in timed}):
        lat = sess.timed_latencies(op)
        per_op[op] = {"n": len(lat), "p50_ms": statistics.median(lat) * 1000.0}
    detail = {
        "healthy_s": healthy_s, "ingest_s": info["ingest_s"], "chunks": info["chunks"],
        "timed_calls": len(timed), "per_op": per_op, "server_rss_mb": rss_mb,
        "timed_latencies_ms": [[c.tool, round(c.latency_s * 1000.0, 1)] for c in timed],
        "loadavg_1m": [load_before, os.getloadavg()[0]],
        "response_digest": digest(sess.response_digests),
        "response_digests": sess.response_digests,
        "failures": sess.failures[:20],
    }
    return metrics, {"detail": detail, "session": sess}


def run_once(args, workdir: str) -> int:
    from servebench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed)
    os.makedirs(workdir)
    if args.trace:
        from servebench import traced

        metrics, extra = traced.run(wl, args.seed, args.seconds, workdir, cpus())
        if args.out:
            traced.write_outputs(args.out, metrics, extra)
        detail = extra["detail"]
        catalog = detail["catalog"]
    else:
        metrics, extra = run_untraced(wl, args.seconds, workdir)
        detail = extra["detail"]
        catalog = {}
    # the server and Spark's workers must not run on beside the result line
    stop_descendants()
    sess = extra["session"]
    # catalog queries count as attempted operations of the traced run
    failed = sum(not c.ok for c in sess.calls) + sum(not q["ok"] for q in catalog.values())
    correct = failed == 0
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, cpus=cpus())
    print(json.dumps({"detail": detail}, default=str))
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"] + _spec()["per_layer"]}
    print(json.dumps({
        "correct": correct,
        "attempted": len(sess.calls) + len(catalog),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _subrun(args, seed: int, trace: int, out: str | None = None) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    if out:
        cmd += ["--out", out]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    run = {"seed": seed, "trace": trace, "exit": proc.returncode,
           "wall_s": time.perf_counter() - t,
           "result": json.loads(lines[-1]) if len(lines) >= 2 else None,
           "detail": json.loads(lines[-2])["detail"] if len(lines) >= 2 else None}
    print(json.dumps({k: run[k] for k in ("seed", "trace", "exit", "wall_s", "result")}),
          file=sys.stderr, flush=True)
    return run


def _traced_part(args, report: dict) -> bool:
    """Traced runs on one seed: the tracing overhead against the first set's
    untraced medians, and which Spark counts repeat exactly."""
    first = report["sets"][0]["metrics"]
    traced = [_subrun(args, args.seed, trace=1,
                      out=os.path.join(args.out, f"trace_{args.workload}_{j}"))
              for j in range(TRACED_RUNS)]
    report["traced_runs"] = [{k: r[k] for k in ("seed", "exit", "wall_s")} for r in traced]
    if traced and traced[0]["detail"]:
        d = traced[0]["detail"]
        for name, key in (("search_p50_ms", "timed_search_p50_ms"),
                          ("request_mean_ms", "timed_request_mean_ms")):
            base = first[name]["median"]
            report.setdefault("tracing_overhead", {})[name] = {
                "untraced_median": base, "traced": d[key], "overhead": d[key] / base - 1.0}
    if all(r["result"] for r in traced):
        counts = [r["result"]["metrics"] for r in traced]
        report["counts_repeat"] = {
            k: {"values": [c[k]["value"] for c in counts],
                "repeats": len({c[k]["value"] for c in counts}) == 1}
            for k in counts[0]
            if k.endswith(".jobs") or k.startswith(("spark.jobs", "spark.stages", "spark.tasks"))
        }
    return all(r["exit"] == 0 for r in traced)


def run_steadiness(args) -> int:
    """``--steadiness N`` runs per set, ``SETS`` sets with their own seeds,
    the sets alternating run by run; then ``TRACED_RUNS`` traced runs on one
    seed.  Reports each end-to-end metric's median, quartiles and spread per
    set against its bound, the shift of each set's median from the first
    set's, the tracing overhead, and which Spark counts repeat exactly
    across the traced runs."""
    from servebench.stats import TooFewSamples, percentile

    spec = _spec()
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"steadiness_{args.workload}.json")
    sets = [[] for _ in range(SETS)]
    for i in range(args.steadiness):
        order = list(range(SETS))
        for s in (order if i % 2 == 0 else order[::-1]):
            sets[s].append(_subrun(args, args.seed + 1000 * s + i, trace=0))
    report = {"workload": args.workload, "seconds": args.seconds, "cpus": cpus(),
              "sets": [], "shift": {}}
    ok = all(r["exit"] == 0 for runs in sets for r in runs)
    for runs in sets:
        stats = {}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["exit"] == 0]
            st = spread(vals) if len(vals) >= 2 else {"median": None, "spread": None}
            st.update(bound=m["bound"], unit=m["unit"], values=vals)
            if st["spread"] is not None:
                st["within_bound"] = st["spread"] <= m["bound"]
                st["within_third_of_bound"] = st["spread"] <= m["bound"] / 3
                ok &= st["within_bound"]
            stats[m["name"]] = st
        report["sets"].append({
            "metrics": stats,
            "attempted": sum(r["result"]["attempted"] for r in runs if r["result"]),
            "failed": sum(r["result"]["failed"] for r in runs if r["result"]),
            "runs": [{
                "seed": r["seed"], "exit": r["exit"], "wall_s": r["wall_s"],
                **({"loadavg_1m": r["detail"]["loadavg_1m"],
                    "response_digest": r["detail"]["response_digest"],
                    "per_op": r["detail"]["per_op"],
                    "timed_latencies_ms": r["detail"]["timed_latencies_ms"]}
                   if r["detail"] else {}),
            } for r in runs],
        })
    first = report["sets"][0]["metrics"]
    for k, later in enumerate(report["sets"][1:], start=1):
        for m in spec["end_to_end"]:
            a, b = first[m["name"]]["median"], later["metrics"][m["name"]]["median"]
            if a is None or b is None:
                continue
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            report["shift"][f"set{k}.{m['name']}"] = {"worse_by": worse, "bound": m["bound"],
                                                      "ok": worse <= m["bound"]}
            ok &= worse <= m["bound"]
    searches = [lat for runs in sets for r in runs if r["detail"]
                for tool, lat in r["detail"]["timed_latencies_ms"] if tool == "search"]
    try:
        report["pooled_search_p90_ms"] = percentile(searches, 90)
    except TooFewSamples as exc:
        report["pooled_search_p90_ms"] = f"refused: {exc}"
    report["pooled_searches"] = len(searches)

    ok &= _traced_part(args, report)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    for k, st_set in enumerate(report["sets"]):
        for name, st in st_set["metrics"].items():
            if st["median"] is not None:
                print(f"set{k} {name:26s} median {st['median']:11.4f} q1 {st['q1']:11.4f} "
                      f"q3 {st['q3']:11.4f} spread {st['spread']:.4f} bound {st['bound']}")
    for name, sh in report["shift"].items():
        print(f"{name:32s} worse by {sh['worse_by']:+.4f} (bound {sh['bound']})")
    return 0 if ok else 1


def write_golden(workdir: str) -> int:
    from servebench import catalog_slice

    os.environ["SPARK_GRAFT_CPUS"] = cpus()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    from mcpvectordb_spark.session import get_spark

    catalog_slice.write_tables(os.path.join(workdir, "catalog"))
    spark = get_spark("servebench-golden")
    bad = catalog_slice.write_golden(spark, os.path.join(workdir, "catalog"))
    spark.stop()
    print(f"oracle mismatches: {bad}" if bad else f"wrote {catalog_slice.GOLDEN}")
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed phase length "
                    "(default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="directory for the traced run's spans and summary, "
                                  "or for the steadiness report")
    ap.add_argument("--steadiness", type=int, metavar="N",
                    help="run the workload N times in each of two sets and report spreads")
    ap.add_argument("--catalog-golden", action="store_true",
                    help="check the catalog slice against its DuckDB oracles and rewrite "
                         "servebench/catalog_golden.json")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("no BENCHMARK.json at the root of the checkout", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(_spec()["run_seconds"])
    if not os.path.isdir(os.path.join(ROOT, "mcpvectordb_spark")):
        print(f"no mcpvectordb_spark package beside {os.path.basename(os.path.dirname(__file__))}/"
              " — run from a checkout of the repository", file=sys.stderr)
        return 2
    from servebench.workloads import WORKLOADS

    if not args.catalog_golden and args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.steadiness is not None and (args.steadiness < 2 or not args.out):
        print("--steadiness needs N >= 2 and --out DIR", file=sys.stderr)
        return 2
    # Every process started from here on is stopped and reaped before this
    # one exits, on every path out of it: SIGTERM unwinds as an error.
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    workdir = os.path.join(WORK, str(os.getpid()))
    try:
        if args.catalog_golden:
            return write_golden(workdir)
        if args.steadiness is not None:
            return run_steadiness(args)
        return run_once(args, workdir)
    finally:
        stop_descendants()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
