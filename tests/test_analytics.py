"""Funnel ordering strictness and cohort retention semantics."""

from datetime import datetime

from mcpvectordb_spark.operators.analytics import cohort_retention, funnel_counts


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


def test_funnel_requires_strict_order(spark):
    t = lambda h: datetime(2024, 1, 1, h)
    rows = [
        # u1: full ordered funnel
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: clicked BEFORE viewing — must not count past step 1
        (2, t(2), "view"), (2, t(1), "click"),
        # u3: view+click, purchase missing
        (3, t(1), "view"), (3, t(2), "click"),
        # u4: purchase only — counts nowhere
        (4, t(1), "purchase"),
    ]
    out = {r["step_name"]: r["n_users"] for r in funnel_counts(_ev(spark, rows), ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_funnel_same_timestamp_does_not_convert(spark):
    t = datetime(2024, 1, 1, 5)
    rows = [(1, t, "view"), (1, t, "click")]  # strictly-after ⇒ no click conversion
    out = {r["step_name"]: r["n_users"] for r in funnel_counts(_ev(spark, rows), ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 0}


def test_cohort_retention_day_boundaries(spark):
    d = lambda day, h=0: datetime(2024, 1, day, h)
    rows = [
        (1, d(1), "view"), (1, d(2), "view"), (1, d(8), "view"),   # d1 + d7
        (2, d(1), "view"),                                          # new only
        (3, d(2), "view"), (3, d(3, 23), "view"),                   # cohort day2, d1
    ]
    out = {r["cohort_day"]: r for r in cohort_retention(_ev(spark, rows), [1, 7]).collect()}
    c1 = out[datetime(2024, 1, 1)]
    assert (c1["n_new"], c1["retained_d1"], c1["retained_d7"]) == (2, 1, 1)
    c2 = out[datetime(2024, 1, 2)]
    assert (c2["n_new"], c2["retained_d1"], c2["retained_d7"]) == (1, 1, 0)


def test_assoc_rules_hand_computed(spark):
    """Rules on a 4-basket corpus: confidence is direction-sensitive,
    lift symmetric, min_pair_count prunes singleton pairs."""
    import pytest

    from mcpvectordb_spark.operators.analytics import assoc_rules

    baskets = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c"), (4, "a")],
        "o long, p string",
    )
    out = {(r["antecedent"], r["consequent"]): r for r in
           assoc_rules(baskets, "o", "p", min_pair_count=2, top_n=10).collect()}
    # only (a,b) survives min_pair_count=2: n(a,b)=2, n(a)=4, n(b)=2, N=4
    assert set(out) == {("a", "b"), ("b", "a")}
    ab, ba = out[("a", "b")], out[("b", "a")]
    assert ab["support"] == pytest.approx(0.5)
    assert ab["confidence"] == pytest.approx(2 / 4)
    assert ba["confidence"] == pytest.approx(1.0)
    assert ab["lift"] == pytest.approx(ba["lift"]) == pytest.approx(2 * 4 / (4 * 2))


def test_assoc_rules_dedupes_repeated_lines(spark):
    """Duplicate (basket, item) lines collapse before counting — quantity
    does not inflate support."""
    from mcpvectordb_spark.operators.analytics import assoc_rules

    baskets = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")], "o long, p string"
    )
    rows = assoc_rules(baskets, "o", "p", min_pair_count=2, top_n=10).collect()
    assert {r["n_pair"] for r in rows} == {2}


def test_pagerank_mass_conservation_and_symmetry(spark):
    """On a symmetric graph total rank mass stays 1; a symmetric star
    center outranks leaves; equal-degree symmetric cycle is uniform."""
    import pytest

    from mcpvectordb_spark.operators.graph import pagerank

    # 4-cycle, symmetric unit weights -> uniform 0.25 at every iteration
    cyc = [(i, (i + 1) % 4) for i in range(4)]
    edges = spark.createDataFrame(
        cyc + [(b, a) for a, b in cyc], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    for v in ranks.values():
        assert v == pytest.approx(0.25, rel=1e-12)

    # star: center 0, leaves 1..4 (symmetric)
    star = [(0, i) for i in range(1, 5)]
    sedges = spark.createDataFrame(star + [(b, a) for a, b in star], "src long, dst long")
    sr = {r["node"]: r["rank"] for r in pagerank(sedges, iterations=10).collect()}
    assert sum(sr.values()) == pytest.approx(1.0, rel=1e-9)
    assert sr[0] > max(sr[i] for i in range(1, 5))
    assert sr[1] == pytest.approx(sr[3], rel=1e-12)


def test_pagerank_weights_steer_mass(spark):
    """Heavier edge pulls more rank: b receives 9x the transition mass
    of c from a, so pr(b) > pr(c)."""
    from mcpvectordb_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    pr = {r["node"]: r["rank"] for r in
          pagerank(edges, iterations=10, weight_col="w").collect()}
    assert pr[1] > pr[2]


def test_rfm_segments_hand_computed(spark):
    """8 customers engineered so quartile membership is unambiguous;
    scores follow the threshold spec (strictly-greater advances bucket,
    recency inverted)."""
    from datetime import datetime

    from mcpvectordb_spark.operators.analytics import rfm_segments

    rows = []
    # customer i: one order (i+1) days before anchor, i+1 orders, spend 100*(i+1)
    for i in range(8):
        for j in range(i + 1):
            rows.append((i, datetime(2026, 1, 31 - i), 100.0 * (i + 1) / (i + 1)))
    orders = spark.createDataFrame(rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
    seg = rfm_segments(orders).collect()
    total = sum(r["n_customers"] for r in seg)
    assert total == 8
    by_seg = {(r["r_score"], r["f_score"], r["m_score"]): r["n_customers"] for r in seg}
    # customers 0,1 (recent, infrequent, low spend; disc-quantile thresholds
    # 1/3/5 for recency, 2/4/6 freq, 200/400/600 monetary) -> (4, 1, 1)
    assert by_seg.get((4, 1, 1)) == 2
    # customers 6,7 (old, frequent, high spend) -> (1, 4, 4)
    assert by_seg.get((1, 4, 4)) == 2
    # scores stay in [1, 4]
    for (r, f, m) in by_seg:
        assert 1 <= r <= 4 and 1 <= f <= 4 and 1 <= m <= 4


def test_funnel_within_window_gates_conversion(spark):
    """Same event stream, bounded vs unbounded: user converts step 2 only
    when the click lands inside the window."""
    from datetime import datetime

    from mcpvectordb_spark.operators.analytics import funnel_counts

    ev = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1, 10, 0, 0), "view"),
            (1, datetime(2026, 1, 1, 10, 30, 0), "click"),   # inside 1h
            (2, datetime(2026, 1, 1, 10, 0, 0), "view"),
            (2, datetime(2026, 1, 1, 12, 0, 1), "click"),    # outside 1h
            (3, datetime(2026, 1, 1, 10, 0, 0), "view"),
            (3, datetime(2026, 1, 1, 11, 0, 0), "click"),    # exactly 1h: inclusive
        ],
        "user_id long, ts timestamp, event_type string",
    )
    unbounded = {r["step"]: r["n_users"] for r in
                 funnel_counts(ev, ["view", "click"]).collect()}
    bounded = {r["step"]: r["n_users"] for r in
               funnel_counts(ev, ["view", "click"], within_s=3600).collect()}
    assert unbounded == {1: 3, 2: 3}
    assert bounded == {1: 3, 2: 2}


def test_funnel_latency_hand_computed(spark):
    """Two converting users with known delays: p50 is the interpolated
    midpoint, n_users counts only converters, step numbering starts at 2."""
    from datetime import datetime

    from mcpvectordb_spark.operators.analytics import funnel_latency

    ev = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1, 10, 0, 0), "view"),
            (1, datetime(2026, 1, 1, 10, 0, 10), "click"),   # 10 s
            (2, datetime(2026, 1, 1, 10, 0, 0), "view"),
            (2, datetime(2026, 1, 1, 10, 0, 30), "click"),   # 30 s
            (3, datetime(2026, 1, 1, 10, 0, 0), "view"),     # never clicks
        ],
        "user_id long, ts timestamp, event_type string",
    )
    out = funnel_latency(ev, ["view", "click"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["step"], r["step_name"], r["n_users"]) == (2, "click", 2)
    assert r["p50_s"] == 20.0     # interpolated between 10 and 30
    assert r["p90_s"] == 28.0     # 10 + 0.9*(30-10)


def test_seqmine_support_matches_bruteforce(spark, tmp_path):
    """Gapped ordered pairs a -> b (b any time after a for the same user,
    equal seconds broken by event_id), counted in distinct users and kept
    at support >= 5: the catalog query against a Python enumeration."""
    import random

    from pyspark.sql import functions as F

    from mcpvectordb_spark.catalog import QUERIES

    rnd = random.Random(5)
    types = ["view", "click", "signup", "purchase", "error"]
    rows = [(i, 1_699_920_000 + rnd.randrange(600), rnd.randrange(20), rnd.choice(types), 0.0, "{}")
            for i in range(120)]
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_seconds("ts")).write.parquet(str(tmp_path / "events.parquet"))
    users: dict[tuple[str, str], set[int]] = {}
    for a in rows:
        for b in rows:
            if a[2] == b[2] and (b[1], b[0]) > (a[1], a[0]):
                users.setdefault((a[3], b[3]), set()).add(a[2])
    want = {pair: len(u) for pair, u in users.items() if len(u) >= 5}
    got = {(r["ta"], r["tb"]): r["support"] for r in QUERIES["events_seqmine"](spark, str(tmp_path)).collect()}
    assert got == want and want
