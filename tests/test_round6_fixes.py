"""Round-6 verdict/ADVICE fixes: the two-level bucketed cumulative sum
(documents_heaps scale fix), the scalar-aggregate value_blocks guard, the
never-green-first rotation, and the stream-quartet value gates' closed-set
filters."""

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F


def _global_cumsum(rows, key, cols):
    out, run = {}, {c: 0 for c in cols}
    for r in sorted(rows, key=lambda r: r[key]):
        for c in cols:
            run[c] += r[c] or 0
        out[r[key]] = tuple(run[c] for c in cols)
    return out


def test_bucketed_cumsum_matches_global_window(spark):
    """The two-level sum must equal the single global window exactly —
    including sparse, negative, and clustered key domains (range bucketing
    must not assume dense ids)."""
    from mcpvectordb_spark.operators.blocks import bucketed_cumsum

    rows = [
        (k, k % 7, (k * 13) % 5)
        for k in [-1000, -3, 0, 1, 2, 5, 999, 10_000, 10_001, 123_456_789]
    ]
    df = spark.createDataFrame(rows, "doc_id long, a long, b long")
    got = {
        r["doc_id"]: (r["cum_a"], r["cum_b"])
        for r in bucketed_cumsum(df, "doc_id", ["a", "b"], n_buckets=4).collect()
    }
    want = _global_cumsum(
        [{"doc_id": k, "a": a, "b": b} for k, a, b in rows], "doc_id", ["a", "b"]
    )
    assert got == want


def test_bucketed_cumsum_null_and_single_bucket(spark):
    from mcpvectordb_spark.operators.blocks import bucketed_cumsum

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "doc_id long, a long"
    )
    got = {
        r["doc_id"]: r["cum_a"]
        for r in bucketed_cumsum(df, "doc_id", ["a"], n_buckets=1).collect()
    }
    assert got == {1: 5, 2: 5, 3: 12}


def test_bucketed_cumsum_empty(spark):
    from mcpvectordb_spark.operators.blocks import bucketed_cumsum

    df = spark.createDataFrame([], "doc_id long, a long")
    out = bucketed_cumsum(df, "doc_id", ["a"])
    assert out.count() == 0
    assert out.columns == ["doc_id", "a", "cum_a"]


def test_bucketed_cumsum_plan_has_no_unpartitioned_window(spark):
    """The scale contract itself: the physical plan's window operators all
    carry a partition spec (the whole point of the two-level rewrite)."""
    from mcpvectordb_spark.operators.blocks import bucketed_cumsum

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("a")
    )
    out = bucketed_cumsum(df, "doc_id", ["a"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "partitionBy" not in line  # formatting guard only
    # authoritative check: Spark logs/compiles unpartitioned windows as
    # 'Window [..], [ordercol ASC ...]' with NO partition column list —
    # assert every Window mentions _b as its partition key
    win_lines = [l for l in plan.splitlines() if l.strip().startswith(("Window", "+- Window", ": +- Window")) or "Window [" in l]
    assert win_lines, plan
    for l in win_lines:
        assert "[_b" in l.split("windowspecdefinition")[-1] or "_b#" in l, l


def test_value_blocks_guard_failure_mode_is_distributed(spark):
    """Round-5 ADVICE: the max_blocks guard's FAILURE mode must not be a
    corpus-sized single-partition shuffle.  Design under test: a
    distributed per-bucket pre-guard (hash-partitioned window + filter)
    raises FIRST when the block table explodes — pigeonhole-bounded so the
    exact unpartitioned count window can only ever see ~2·max_blocks rows.
    Pins: (a) a runaway block table fails in the pre-guard (its message is
    tagged), i.e. before any global shuffle; (b) the corpus aggregation is
    NOT duplicated (the scalar-agg alternative re-ran the groupBy: +50%
    measured); (c) exact threshold semantics at the boundary hold."""
    from mcpvectordb_spark.operators.blocks import value_blocks

    df = spark.range(0, 500).select(F.col("id").alias("v"))
    blocks = value_blocks(df, "v", max_blocks=1000)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    # one partial+final pair only — the groupBy is not computed twice
    assert plan.count("HashAggregate") == 2, plan
    assert blocks.count() == 500
    bad = value_blocks(df, "v", max_blocks=499)
    with pytest.raises(Exception, match="max_blocks"):
        bad.agg(F.sum("c")).collect()
    # runaway table: 200k blocks against max_blocks=1000 must die in the
    # DISTRIBUTED stage (the tagged pre-guard), not the global window
    runaway = value_blocks(
        spark.range(0, 200_000).select(F.col("id").alias("v")),
        "v",
        max_blocks=1000,
    )
    with pytest.raises(Exception, match="distributed pre-guard"):
        runaway.agg(F.sum("c")).collect()


def test_rotation_prefers_never_green():
    """A query whose only CORRECTNESS row is an err (the r02 no_oracle
    stamps) must sort BEFORE every stale-green query.  Verified against the
    REAL repo history: every never-green name must precede every green name
    in the rotated registry order."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    green, seen = set(), set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(p.read_text()).items():
            seen.add(name)
            if row.get("err") is None and row.get("rows_match") and row.get("schema_match"):
                green.add(name)
    import mcpvectordb_spark.catalog as cat

    order = list(cat.QUERIES)
    pos = {n: i for i, n in enumerate(order)}
    never = [n for n in order if n in seen and n not in green]
    if never and green:
        assert max(pos[n] for n in never) < min(
            pos[n] for n in order if n in green
        ), "a never-green query sorts after a green one"


def test_stream_hourly_closed_set_is_deterministic(spark):
    """The emitted-and-kept window set must equal the batch twin restricted
    to windows ending > watermark+1s before max(ts) — i.e. the Spark result
    is exactly reproducible from batch data, which is what lets the DuckDB
    oracle value-gate a stream."""
    from mcpvectordb_spark.catalog import QUERIES
    from mcpvectordb_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in QUERIES["stream_hourly"](spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .filter(
            F.col("w") + F.expr("INTERVAL 1 HOUR")
            < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 SECOND")
        )
    )
    want = {
        (r["w"].strftime("%Y-%m-%d %H:%M:%S"), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 10


def test_ingest_path_never_reads_session_caches(spark, tmp_path):
    """The session artifacts (_SESSION_ARTIFACTS: the BM25 index & friends) assume
    the corpus under sf_dir is IMMUTABLE within a session — a mutating
    ingest-backed corpus must never route through them (the contract stated
    at catalog/_common.py; round-5 verdict item 7).  Two pins:

    1. static — no ingest-path module references any session cache;
    2. behavioral — a full ingest + hybrid search leaves _SESSION_ARTIFACTS
       untouched (the API tokenizes its own store, Bm25Index.append is the
       incremental path).
    """
    from pathlib import Path

    import mcpvectordb_spark.catalog._common as common
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.config import TEST

    pkg = Path(common.__file__).resolve().parent.parent
    ingest_path_modules = [
        pkg / "api.py", pkg / "ingest.py", pkg / "store.py",
        pkg / "server.py", pkg / "pipeline.py",
        pkg / "operators" / "bm25.py", pkg / "operators" / "hybrid.py",
    ]
    cache_names = [
        "_shared_bm25_index", "_SESSION_ARTIFACTS", "_session_artifact",
        "_copurchase_pairs", "_supplier_part_recurring",
    ]
    for mod in ingest_path_modules:
        src = mod.read_text()
        for name in cache_names:
            assert name not in src, f"{mod.name} references session cache {name}"

    before = dict(common._SESSION_ARTIFACTS)
    db = VectorDB(spark, str(tmp_path / "store"), TEST)
    db.ingest_content("the mutable corpus gains a xylophone document " * 8,
                      source="a.md", library="l")
    db.ingest_content("and then a second tuba document arrives " * 8,
                      source="b.md", library="l")
    hits = db.search("xylophone", top_k=3)
    assert hits["status"] == "ok" and hits["results"]
    assert common._SESSION_ARTIFACTS == before, (
        "an ingest-backed search populated the immutable-corpus session artifacts"
    )


def test_minhash_sig_prefix_property(spark):
    """The session-shared 16-hash signature table's first 8 columns must BE
    the 8-hash signatures (mh_i depends only on (h1, h2, i)) — the property
    that lets one frozen table serve every signature consumer."""
    from mcpvectordb_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i} tail words here") for i in range(20)],
        "id long, text string",
    )
    s16 = minhash_signatures(df, "id", "text", num_hashes=16).select(
        "id", *[f"mh{i}" for i in range(8)]
    )
    s8 = minhash_signatures(df, "id", "text", num_hashes=8)
    assert sorted(map(tuple, s16.collect())) == sorted(map(tuple, s8.collect()))


def test_shared_shingles_and_postings_match_direct(spark):
    """Injecting the session-shared shingle index / ssjoin postings must not
    change any operator's output (same values, frozen input)."""
    from mcpvectordb_spark.catalog._common import (
        _shared_shingles,
        _shared_ssjoin_postings,
    )
    from mcpvectordb_spark.operators import dedup as dd
    from mcpvectordb_spark.operators.simjoin import jaccard_ssjoin

    sf = "/root/testdata/sf0.001"
    from mcpvectordb_spark.io import load_table

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    direct = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dd.ngram_jaccard_pairs(docs, "id", "text", n=3, threshold=0.5).collect()
    )
    shared = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dd.ngram_jaccard_pairs(
            docs, "id", "text", n=3, threshold=0.5,
            shingles=_shared_shingles(spark, sf, "raw"),
        ).collect()
    )
    assert direct == shared and len(direct) > 0

    d2 = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_ssjoin(docs, "id", "text", threshold=0.5).collect()
    )
    s2 = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_ssjoin(
            docs, "id", "text", threshold=0.5,
            postings=_shared_ssjoin_postings(spark, sf, "raw"),
        ).collect()
    )
    assert d2 == s2 == direct
