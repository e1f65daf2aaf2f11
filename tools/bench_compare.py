#!/usr/bin/env python
"""Bench regression guard: diff two BENCH_r{N}.json files per query.

Usage::

    python tools/bench_compare.py                  # newest vs previous round
    python tools/bench_compare.py BENCH_r01.json BENCH_r02.json [--max-ratio 1.5]

With no files named, the new side is ``BENCH_local.json`` if present (else
the highest ``BENCH_r{N}.json``) and the old side is the round before it.

Exit 1 if the new file has no per-query timings (a ``parsed: null``
artifact whose tail recovers nothing fails the same way), if any query
common to both runs regressed by more than ``--max-ratio`` (new/old), or if
the new run dropped a query the old run had.  New queries are reported but
never fail (coverage growth is good).

Timing caveat (round-1 experience): this host is a shared VM — load >5
inflates every wall-clock ~1.5×, so a uniform across-the-board slowdown is
usually the machine, not a regression.  The report flags that pattern
(median ratio > threshold) separately from a single-query regression,
which is the signal worth chasing.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _recover_from_tail(doc: dict) -> dict | None:
    """Salvage per-query timings from a driver BENCH file whose ``parsed``
    is null because the summary JSON line outgrew the driver's stdout tail
    capture (this is exactly what broke BENCH_r04.json — round 4 shipped
    with the perf guard silently inoperative).  The tail still holds the
    BACK of the queries dict, so a truncated artifact yields a partial but
    real comparison set instead of a no-op."""
    tail = doc.get("tail")
    if not isinstance(tail, str):
        return None
    queries: dict[str, float] = {}
    sf = None
    # pairs look like \"name\": 1.234 inside the (escaped) JSON line
    for m in re.finditer(r'\\?"([a-z][a-z0-9_]+)\\?":\s*([0-9]+(?:\.[0-9]+)?)', tail):
        key, val = m.group(1), float(m.group(2))
        if key == "sf":
            sf = val
        elif key not in ("value", "n", "rc", "cpus"):
            queries[key] = val
    if not queries:
        return None
    return {
        "metric": "headline_queries_total (RECOVERED-PARTIAL)",
        "value": None,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "recovered_partial": True,
    }


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    # driver BENCH files wrap the bench line under "parsed"; raw bench.py
    # output is the line itself
    if "parsed" in doc and isinstance(doc["parsed"], dict):
        doc = doc["parsed"]
    elif "parsed" in doc and doc["parsed"] is None:
        rec = _recover_from_tail(doc)
        if rec is None:
            raise SystemExit(
                f"{path}: parsed is null and no timings are recoverable from "
                "its tail — no perf comparison is possible with this artifact"
            )
        n = len(rec["queries"])
        print(f"  NOTE: {path} had parsed:null — recovered {n} per-query "
              "timings from its truncated tail (partial set)")
        doc = rec
    return doc


def compare(old_q: dict, new_q: dict, max_ratio: float, min_sec: float,
            partial: bool, label: str, fail_on_drop: bool = True) -> bool:
    """Diff one per-query timing map; returns True when the gate fails."""
    dropped = sorted(set(old_q) - set(new_q))
    added = sorted(set(new_q) - set(old_q))
    common = sorted(set(old_q) & set(new_q))

    ratios = {}
    for name in common:
        o, n = old_q[name], new_q[name]
        ratios[name] = (n / o) if o > 0 else float("inf")

    med = statistics.median(ratios.values()) if ratios else 1.0
    host_wide = med > max_ratio

    regressed = [
        (name, old_q[name], new_q[name], ratios[name])
        for name in common
        if ratios[name] > max_ratio and max(old_q[name], new_q[name]) >= min_sec
    ]

    print(f"{label}: {len(common)} common, {len(added)} added, "
          f"{len(dropped)} dropped, median ratio {med:.2f}")
    for name in added:
        print(f"  NEW      {name}: {new_q[name]:.3f}s")
    for name, o, n, r in sorted(regressed, key=lambda t: -t[3]):
        print(f"  REGRESS  {name}: {o:.3f}s -> {n:.3f}s ({r:.2f}x)")
    for name in dropped:
        tag = "ABSENT   " if partial else "DROPPED  "
        print(f"  {tag}{name} (was {old_q[name]:.3f}s)")
    if host_wide:
        print(f"  NOTE: median ratio {med:.2f} > {max_ratio} — uniform slowdown, "
              "likely host load (check uptime), not a code regression")

    return (bool(dropped) and not partial and fail_on_drop) or (
        bool(regressed) and not host_wide
    )


def _default_pair() -> tuple[str, str]:
    """(previous round, newest artifact): BENCH_local.json counts as the
    round after the highest BENCH_r{N}.json."""
    found = (re.fullmatch(r"BENCH_r(\d+)\.json", p.name) for p in ROOT.glob("BENCH_r*.json"))
    rounds = [ROOT / m[0] for m in sorted(filter(None, found), key=lambda m: int(m[1]))]
    if not rounds:
        raise SystemExit("bench_compare: no BENCH_r*.json artifacts found")
    local = ROOT / "BENCH_local.json"
    chain = rounds + [local] if local.exists() else rounds
    return str(chain[max(len(chain) - 2, 0)]), str(chain[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old", nargs="?")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--max-ratio", type=float, default=1.5)
    ap.add_argument("--max-ratio-all", type=float, default=2.0,
                    help="threshold for the full-registry queries_all lane")
    ap.add_argument("--min-sec", type=float, default=0.3,
                    help="ignore regressions on queries faster than this (noise floor)")
    args = ap.parse_args()
    if args.new is None:
        if args.old is not None:
            ap.error("name both files or neither")
        args.old, args.new = _default_pair()

    old_doc, new_doc = load(args.old), load(args.new)
    old_q = old_doc.get("queries") or {}
    new_q = new_doc.get("queries") or {}
    if not new_q:
        print(f"bench_compare: {args.new} has no per-query timings — FAIL")
        return 1
    # a recovered-partial artifact lost the FRONT of its queries dict to
    # tail truncation — absent queries are capture loss, not real drops
    partial = bool(old_doc.get("recovered_partial") or new_doc.get("recovered_partial"))

    fail = compare(old_q, new_q, args.max_ratio, args.min_sec, partial,
                   f"bench_compare {args.old} -> {args.new}")

    # Full-registry lane (round-7 item 2): every catalog query, timed at
    # sf0.01 with a single rep — noisier, so the threshold is looser and a
    # missing lane on either side is reported, never a failure (the lane is
    # opt-in via SPARK_GRAFT_BENCH_ALL).
    old_all = old_doc.get("queries_all") or {}
    new_all = new_doc.get("queries_all") or {}
    if old_all and new_all:
        fail |= compare(old_all, new_all, args.max_ratio_all, args.min_sec,
                        partial,
                        f"bench_compare[ALL] {args.old} -> {args.new}",
                        fail_on_drop=False)
    elif old_all or new_all:
        side = "old" if old_all else "new"
        print(f"  NOTE: only the {side} artifact has a queries_all lane — "
              "full-registry comparison skipped")

    ot, nt = old_doc.get("value"), new_doc.get("value")
    print(f"  totals: {ot}s -> {nt}s; {'FAIL' if fail else 'OK'}")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
