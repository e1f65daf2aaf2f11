"""Unit tests for the round-4c operators: Adamic-Adar link prediction,
Mann-Whitney U, KMV sketch set algebra, and the STL-lite catalog query."""

import math

from pyspark.sql import functions as F


# -- adamic_adar_linkpred ---------------------------------------------------


def test_adamic_adar_known_square(spark):
    from mcpvectordb_spark.operators.graph import adamic_adar_linkpred

    # square with one diagonal: 1-2, 1-3, 2-3, 2-4, 3-4.  The only
    # non-adjacent pair is (1,4) with common neighbors {2,3}, both deg 3.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    rows = adamic_adar_linkpred(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["common_neighbors"]) == (1, 4, 2)
    assert abs(r["adamic_adar"] - 2.0 / math.log(3)) < 1e-9


def test_adamic_adar_excludes_existing_edges(spark):
    from mcpvectordb_spark.operators.graph import adamic_adar_linkpred

    # triangle: every pair is adjacent -> no candidates at all
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    assert adamic_adar_linkpred(edges).count() == 0


def test_adamic_adar_max_degree_drops_hubs(spark):
    from mcpvectordb_spark.operators.graph import adamic_adar_linkpred

    # star around hub 0 (deg 4) plus a path 1-5-2 (5 has deg 2).
    # With the hub allowed, (1,2) scores via {0, 5}; capping degree at 2
    # keeps only the rare neighbor 5.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (5, 2)], ["src", "dst"]
    )
    full = {
        (r["a"], r["b"]): r["common_neighbors"]
        for r in adamic_adar_linkpred(edges).collect()
    }
    assert full[(1, 2)] == 2
    capped = {
        (r["a"], r["b"]): r["common_neighbors"]
        for r in adamic_adar_linkpred(edges, max_degree=2).collect()
    }
    assert capped[(1, 2)] == 1  # hub 0 no longer counts as evidence


# -- mann_whitney_u ---------------------------------------------------------


def test_mann_whitney_hand_computed(spark):
    from mcpvectordb_spark.operators.stats import mann_whitney_u

    # A = {1,2,3}, B = {2,3,4}: midranks 1, 2.5, 2.5, 4.5, 4.5, 6
    # R_a = 8, U_a = 2, mu = 4.5, T = 12, var = 0.75*(7 - 12/30) = 4.95
    samples = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (1, 4)], ["variant", "metric"]
    )
    r = mann_whitney_u(samples).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["u_a"] == 2.0
    assert abs(r["z"] - (2.0 - 4.5) / math.sqrt(4.95)) < 1e-9
    assert abs(r["rank_biserial"] - (1.0 - 4.0 / 9.0)) < 1e-9


def test_mann_whitney_complete_separation(spark):
    from mcpvectordb_spark.operators.stats import mann_whitney_u

    # every A below every B: U_a = 0, rank-biserial = 1 (maximal effect)
    samples = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 30), (1, 40)], ["variant", "metric"]
    )
    r = mann_whitney_u(samples).collect()[0]
    assert r["u_a"] == 0.0
    assert r["rank_biserial"] == 1.0
    assert r["z"] < 0


def test_mann_whitney_identical_samples_z_zero(spark):
    from mcpvectordb_spark.operators.stats import mann_whitney_u

    # all values tied across both arms: var has the tie correction zero it
    # out entirely -> guarded z = 0, U_a = mu
    samples = spark.createDataFrame(
        [(0, 5), (0, 5), (1, 5), (1, 5)], ["variant", "metric"]
    )
    r = mann_whitney_u(samples).collect()[0]
    assert r["z"] == 0.0
    assert r["u_a"] == 2.0  # n_a*n_b/2


# -- kmv sketches -----------------------------------------------------------


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k:"), F.col("id").cast("string")).alias("key")
    )


def test_kmv_exact_below_k(spark):
    from mcpvectordb_spark.operators.sketches import kmv_set_stats, kmv_sketch

    # |A| = 50, |B| = 50, |A∩B| = 25 — all below k, so every estimate is
    # exact by the m < k branch
    ka = kmv_sketch(_keyed(spark, 0, 50), F.col("key"), k=256)
    kb = kmv_sketch(_keyed(spark, 25, 75), F.col("key"), k=256)
    r = kmv_set_stats(ka, kb, k=256).collect()[0]
    assert (r["est_a"], r["est_b"], r["est_union"]) == (50.0, 50.0, 75.0)
    assert abs(r["est_intersection"] - 25.0) < 1e-9
    assert abs(r["jaccard"] - 25.0 / 75.0) < 1e-9


def test_kmv_estimates_at_scale(spark):
    from mcpvectordb_spark.operators.sketches import kmv_set_stats, kmv_sketch

    # |A| = |B| = 3000, overlap 1500 (J = 1/3), k = 256: KMV relative
    # error ~ 1/sqrt(k) ≈ 6%; assert a generous 25% band
    ka = kmv_sketch(_keyed(spark, 0, 3000), F.col("key"), k=256)
    kb = kmv_sketch(_keyed(spark, 1500, 4500), F.col("key"), k=256)
    r = kmv_set_stats(ka, kb, k=256).collect()[0]
    assert abs(r["est_a"] - 3000) / 3000 < 0.25
    assert abs(r["est_union"] - 4500) / 4500 < 0.25
    assert abs(r["jaccard"] - 1.0 / 3.0) < 0.1
    assert abs(r["est_intersection"] - 1500) / 1500 < 0.35


def test_kmv_sketch_is_k_smallest(spark):
    from mcpvectordb_spark.operators.dedup import hexint48
    from mcpvectordb_spark.operators.sketches import kmv_sketch

    df = _keyed(spark, 0, 1000)
    got = sorted(r["h"] for r in kmv_sketch(df, F.col("key"), k=32).collect())
    all_h = sorted(
        r["h"] for r in df.select(hexint48(F.col("key")).alias("h")).collect()
    )
    assert got == all_h[:32]


# -- STL-lite catalog query -------------------------------------------------


def test_events_stl_decomposition_invariants(spark):
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_stl"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    # y = trend + seasonal + resid reconstructs (to rounding)
    for r in rows:
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["resid"])) < 2e-3
    # residuals of the fitted rows sum to ~0 (seasonal means absorb det)
    assert abs(sum(r["resid"] for r in rows)) < 1e-2
    # output is day-ordered with full 7-day trend windows only
    ds = [r["d"] for r in rows]
    assert ds == sorted(ds)


# -- holt_linear ------------------------------------------------------------


def test_holt_linear_hand_computed(spark):
    from mcpvectordb_spark.operators.timeseries import holt_linear

    # alpha=0.5, beta=0.25, series 10, 12, 14:
    #   t1: l=10, b=0,            fitted=10
    #   t2: l=.5*12+.5*10=11,     b=.25*1+.75*0=0.25,      fitted=10
    #   t3: l=.5*14+.5*11.25=12.625, b=.25*1.625+.75*.25=0.59375, fitted=11.25
    s = spark.createDataFrame([("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 14.0)],
                              ["k", "t", "x"])
    rows = {r["t"]: r for r in holt_linear(s, "k", "t", "x", 0.5, 0.25).collect()}
    assert rows[1]["level"] == 10.0 and rows[1]["trend"] == 0.0 and rows[1]["fitted"] == 10.0
    assert rows[2]["level"] == 11.0 and rows[2]["trend"] == 0.25 and rows[2]["fitted"] == 10.0
    assert abs(rows[3]["level"] - 12.625) < 1e-12
    assert abs(rows[3]["trend"] - 0.59375) < 1e-12
    assert rows[3]["fitted"] == 11.25


def test_holt_linear_tracks_exact_line(spark):
    from mcpvectordb_spark.operators.timeseries import holt_linear

    # on an exact linear series the forecast converges to the true line
    s = spark.createDataFrame(
        [("a", t, 5.0 + 2.0 * t) for t in range(1, 40)], ["k", "t", "x"]
    )
    out = holt_linear(s, "k", "t", "x", 0.5, 0.25, horizon=3)
    fut = {r["t"]: r for r in out.filter("x IS NULL").collect()}
    assert sorted(fut) == [40, 41, 42]
    for t, r in fut.items():
        assert abs(r["fitted"] - (5.0 + 2.0 * t)) < 0.05
        assert abs(r["trend"] - 2.0) < 0.01


def test_holt_linear_independent_keys(spark):
    from mcpvectordb_spark.operators.timeseries import holt_linear

    # two keys fold independently: a flat series keeps trend 0 throughout
    s = spark.createDataFrame(
        [("flat", t, 7.0) for t in range(1, 10)]
        + [("ramp", t, float(t)) for t in range(1, 10)],
        ["k", "t", "x"],
    )
    out = holt_linear(s, "k", "t", "x", 0.5, 0.25).collect()
    for r in out:
        if r["k"] == "flat":
            assert r["level"] == 7.0 and r["trend"] == 0.0


# -- best_split change-point ------------------------------------------------


def test_best_split_finds_planted_step(spark):
    from mcpvectordb_spark.operators.timeseries import best_split

    # flat 10s then flat 50s: optimal split exactly at the boundary,
    # zero residual SSE -> reduction equals the total SSE
    s = spark.createDataFrame(
        [("a", t, 10.0) for t in range(1, 11)]
        + [("a", t, 50.0) for t in range(11, 21)],
        ["k", "t", "y"],
    )
    r = best_split(s, "k", "t", "y").collect()[0]
    assert r["split_idx"] == 10 and r["n_left"] == 10
    assert r["mean_left"] == 10.0 and r["mean_right"] == 50.0
    # total SSE of the unsplit series: n/4 * (50-10)^2 = 20/4*1600 = 8000
    assert abs(r["sse_reduction"] - 8000.0) < 1e-6


def test_best_split_constant_series_no_reduction(spark):
    from mcpvectordb_spark.operators.timeseries import best_split

    s = spark.createDataFrame([("a", t, 7.0) for t in range(1, 12)], ["k", "t", "y"])
    r = best_split(s, "k", "t", "y").collect()[0]
    assert abs(r["sse_reduction"]) < 1e-9
    assert r["split_idx"] == 1  # cost ties broken by earliest index


def test_best_split_per_key_independent(spark):
    from mcpvectordb_spark.operators.timeseries import best_split

    s = spark.createDataFrame(
        [("early", t, 1.0 if t <= 3 else 9.0) for t in range(1, 16)]
        + [("late", t, 1.0 if t <= 12 else 9.0) for t in range(1, 16)],
        ["k", "t", "y"],
    )
    got = {r["k"]: r["split_idx"] for r in best_split(s, "k", "t", "y").collect()}
    assert got == {"early": 3, "late": 12}


# -- poisson bootstrap weights ----------------------------------------------


def test_poisson1_weight_moments(spark):
    from mcpvectordb_spark.operators.dedup import hexint48
    from mcpvectordb_spark.operators.stats import poisson1_weight

    # 20k hash draws: mean and variance of Poisson(1) are both 1
    u = hexint48(F.concat(F.lit("w:"), F.col("id").cast("string"))) / F.lit(
        281474976710656.0
    )
    agg = (
        spark.range(20000)
        .select(poisson1_weight(u).cast("double").alias("w"))
        .agg(F.avg("w").alias("m"), F.var_pop("w").alias("v"))
        .collect()[0]
    )
    assert abs(agg["m"] - 1.0) < 0.03
    assert abs(agg["v"] - 1.0) < 0.06


def test_poisson1_weight_exact_thresholds(spark):
    from mcpvectordb_spark.operators.stats import poisson1_weight

    probe = spark.createDataFrame(
        [(0.1,), (0.5,), (0.8,), (0.95,), (0.99,), (0.999,)], ["u"]
    ).select("u", poisson1_weight(F.col("u")).alias("w"))
    got = {r["u"]: r["w"] for r in probe.collect()}
    assert got == {0.1: 0, 0.5: 1, 0.8: 2, 0.95: 3, 0.99: 4, 0.999: 5}


def test_events_bootstrap_ci_brackets_point(spark):
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_bootstrap"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_reps"] == 100
    assert r["ci_lo"] <= r["ci_hi"]
    assert r["spread"] > 0
    # the CI straddles the point estimate (a basic sanity property of a
    # percentile bootstrap around its own resampling distribution)
    assert r["ci_lo"] - 1e-9 <= r["uplift"] <= r["ci_hi"] + 1e-9


# -- hard-negative mining / PSI drift ---------------------------------------


def test_hard_negatives_are_truly_negative(spark):
    from mcpvectordb_spark.catalog import QUERIES, _EVAL_QUERIES

    rows = QUERIES["hard_negatives"](spark, "/root/testdata/sf0.001").collect()
    n_terms = {
        qid: len({t for t in q.lower().split() if t})
        for qid, q in _EVAL_QUERIES.items()
    }
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        # a hard negative matches SOME but not ALL query terms
        assert 0 <= r["n_matched"] < n_terms[r["qid"]]
        assert 1 <= r["neg_rank"] <= 3
        by_q.setdefault(r["qid"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["neg_rank"])
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)  # ranked by score


def test_events_psi_invariants(spark, tmp_path):
    """PSI bounds on the testdata stream, and exactly 0 on a stream whose
    second half replays the first half's values per type (every decile
    cell then holds the same share in both halves)."""
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_psi"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        # PSI is a sum of (p-q)ln(p/q) terms, each >= 0
        assert r["psi"] >= 0
        assert 0 <= r["n_drifted_bins"] <= 10

    base, ev = 1_699_920_000, []
    for half in (0, 1):
        for t in range(200):
            ev.append((half * 200 + t, base + half * 1000 + t, t % 17,
                       ("view", "click")[t % 2], float((t * 7) % 50), "{}"))
    spark.createDataFrame(
        ev, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_seconds("ts")).write.parquet(str(tmp_path / "events.parquet"))
    same = QUERIES["events_psi"](spark, str(tmp_path)).collect()
    assert {r["event_type"] for r in same} == {"view", "click"}
    assert all((r["psi"], r["n_drifted_bins"]) == (0.0, 0) for r in same), same


# -- modularity / graph metrics ---------------------------------------------


def test_modularity_two_triangles(spark):
    from mcpvectordb_spark.operators.graph import label_propagation, modularity

    # two disjoint triangles: perfect 2-community structure, Q = 1/2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], ["src", "dst"]
    )
    labels = label_propagation(edges, rounds=4)
    r = modularity(edges, labels).collect()[0]
    assert r["n_communities"] == 2
    assert abs(r["modularity"] - 0.5) < 1e-9


def test_modularity_single_community_zero(spark):
    from mcpvectordb_spark.operators.graph import modularity

    # everything in one community: L_c = m and D_c = 2m -> Q = 0 exactly
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"])
    labels = spark.createDataFrame([(v, 1) for v in [1, 2, 3, 4]], ["node", "lbl"])
    r = modularity(edges, labels).collect()[0]
    assert r["n_communities"] == 1
    assert abs(r["modularity"]) < 1e-12


def test_modularity_worst_split_negative(spark):
    from mcpvectordb_spark.operators.graph import modularity

    # a 4-cycle split across its two diagonals: no intra-community edge
    # at all -> Q = -(sum of squared degree shares) < 0
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"])
    labels = spark.createDataFrame(
        [(1, 10), (3, 10), (2, 20), (4, 20)], ["node", "lbl"]
    )
    r = modularity(edges, labels).collect()[0]
    assert r["modularity"] < 0
    assert abs(r["modularity"] + 0.5) < 1e-9  # 0 - 2*(4/8)^2


def test_embedding_drift_identical_cohorts(spark):
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["embedding_drift"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_a"] > 0 and r["n_b"] > 0
        # same-distribution halves: centroids nearly aligned
        assert -1.0 <= r["centroid_cosine"] <= 1.0 + 1e-9
        assert r["centroid_shift"] >= 0


def test_customers_kanon_consistency(spark):
    from mcpvectordb_spark.catalog import QUERIES
    from mcpvectordb_spark.io import load_table

    r = QUERIES["customers_kanon"](spark, "/root/testdata/sf0.001").collect()[0]
    c = load_table(spark, "/root/testdata/sf0.001", "customer")
    n = c.count()
    assert r["k_anonymity"] >= 1
    assert 1 <= r["l_diversity"] <= 5  # five TPC-H market segments
    assert 0 <= r["n_violations_k5"] <= r["n_classes"]
    # class sizes partition the table
    assert abs(r["avg_class_size"] * r["n_classes"] - n) < 0.01 * n


# -- acf --------------------------------------------------------------------


def test_acf_matches_definition(spark):
    """r_k equals the textbook mean-centered sample ACF on a dense series."""
    from mcpvectordb_spark.operators.timeseries import acf

    y = [5, 9, 4, 8, 3, 9, 5, 10, 4, 8, 2, 9]  # period-2ish sawtooth
    s = spark.createDataFrame(
        [("a", t, v) for t, v in enumerate(y)], ["k", "t", "y"]
    )
    out = {r["lag"]: r["r"] for r in acf(s, "k", "t", "y", max_lag=4).collect()}
    n = len(y)
    m = sum(y) / n
    den = sum((v - m) ** 2 for v in y)
    for k in range(1, 5):
        ref = sum((y[t] - m) * (y[t + k] - m) for t in range(n - k)) / den
        assert abs(out[k] - ref) < 5e-7, (k, out[k], ref)


def test_acf_densifies_gaps_to_zero(spark):
    """A missing index is a zero observation, not a skipped one."""
    from mcpvectordb_spark.operators.timeseries import acf

    # observed at t=0,1,3 -> grid 0..3 with y[2]=0
    s = spark.createDataFrame(
        [("a", 0, 4), ("a", 1, 6), ("a", 3, 2)], ["k", "t", "y"]
    )
    out = {r["lag"]: r for r in acf(s, "k", "t", "y", max_lag=1).collect()}
    y = [4.0, 6.0, 0.0, 2.0]
    m = sum(y) / 4
    ref = sum((y[t] - m) * (y[t + 1] - m) for t in range(3)) / sum(
        (v - m) ** 2 for v in y
    )
    assert out[1]["n"] == 4
    assert abs(out[1]["r"] - ref) < 5e-7


def test_acf_constant_series_null(spark):
    """Zero-variance series has no defined ACF -> NULL r, NULL flag."""
    from mcpvectordb_spark.operators.timeseries import acf

    s = spark.createDataFrame([("c", t, 7) for t in range(10)], ["k", "t", "y"])
    rows = acf(s, "k", "t", "y", max_lag=3).collect()
    assert len(rows) == 3
    assert all(r["r"] is None and r["significant"] is None for r in rows)


def test_acf_keys_independent(spark):
    """Each key's ACF sees only its own series."""
    from mcpvectordb_spark.operators.timeseries import acf

    rows = [("a", t, t % 2) for t in range(8)] + [("b", t, t) for t in range(8)]
    s = spark.createDataFrame(rows, ["k", "t", "y"])
    out = {(r["k"], r["lag"]): r["r"] for r in acf(s, "k", "t", "y", 1).collect()}
    # alternating 0/1: lag-1 ACF is strongly negative; ramp: strongly positive
    assert out[("a", 1)] < -0.8
    assert out[("b", 1)] > 0.6  # short-ramp lag-1 ACF is (n^2-1-3n)/ (n^2-1)-ish


# -- ols2_fit ---------------------------------------------------------------


def test_ols2_recovers_exact_plane(spark):
    """Noise-free y = 7 + 3*x1 - 2*x2 is recovered exactly, R^2 = 1."""
    from mcpvectordb_spark.operators.stats import ols2_fit

    rows = [
        ("g", 7 + 3 * a - 2 * b, a, b)
        for a in range(1, 7)
        for b in range(1, 5)
    ]
    r = ols2_fit(
        spark.createDataFrame(rows, ["k", "y", "x1", "x2"]), "k", "y", "x1", "x2"
    ).collect()[0]
    assert abs(r["b0"] - 7) < 1e-9
    assert abs(r["b1"] - 3) < 1e-9
    assert abs(r["b2"] + 2) < 1e-9
    assert abs(r["r2"] - 1.0) < 1e-12


def test_ols2_matches_normal_equations(spark):
    """Noisy fit agrees with a hand-solved 3x3 system."""
    from mcpvectordb_spark.operators.stats import ols2_fit

    data = [(9, 1, 2), (14, 2, 1), (11, 3, 4), (21, 4, 1), (16, 5, 5), (25, 6, 2)]
    rows = [("g", y, a, b) for y, a, b in data]
    r = ols2_fit(
        spark.createDataFrame(rows, ["k", "y", "x1", "x2"]), "k", "y", "x1", "x2"
    ).collect()[0]
    # solve via numpy for the reference
    import numpy as np

    X = np.array([[1.0, a, b] for _, a, b in data])
    y = np.array([float(v) for v, _, _ in data])
    beta = np.linalg.solve(X.T @ X, X.T @ y)
    res = y - X @ beta
    r2 = 1 - (res @ res) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(r["b0"] - beta[0]) < 1e-8
    assert abs(r["b1"] - beta[1]) < 1e-8
    assert abs(r["b2"] - beta[2]) < 1e-8
    assert abs(r["r2"] - r2) < 1e-10


def test_ols2_singular_emits_null(spark):
    """Constant x1 makes the Gram matrix singular -> NULL coefficients."""
    from mcpvectordb_spark.operators.stats import ols2_fit

    rows = [("c", i * 2, 5, i % 3) for i in range(10)]
    r = ols2_fit(
        spark.createDataFrame(rows, ["k", "y", "x1", "x2"]), "k", "y", "x1", "x2"
    ).collect()[0]
    assert r["b0"] is None and r["b1"] is None and r["r2"] is None
    assert r["n"] == 10


def test_ols2_keys_fit_independently(spark):
    """Two keys with different true planes each get their own fit."""
    from mcpvectordb_spark.operators.stats import ols2_fit

    grid = [(a, b) for a in range(1, 6) for b in range(1, 4)]
    rows = [("p", 1 + 2 * a + 0 * b, a, b) for a, b in grid] + [
        ("q", 10 - 1 * a + 4 * b, a, b) for a, b in grid
    ]
    out = {
        r["k"]: r
        for r in ols2_fit(
            spark.createDataFrame(rows, ["k", "y", "x1", "x2"]),
            "k", "y", "x1", "x2",
        ).collect()
    }
    assert abs(out["p"]["b1"] - 2) < 1e-9 and abs(out["p"]["b2"]) < 1e-9
    assert abs(out["q"]["b1"] + 1) < 1e-9 and abs(out["q"]["b2"] - 4) < 1e-9


# -- xcf --------------------------------------------------------------------


def test_xcf_detects_known_lead(spark):
    """y shifted 3 behind x peaks at lag 3 in the (x leads y) direction."""
    from mcpvectordb_spark.operators.timeseries import xcf

    x = [4, 9, 2, 8, 1, 7, 3, 9, 2, 8, 4, 9, 1, 7, 2, 8]
    y = [0, 0, 0] + x[:-3]  # y_t = x_{t-3}
    rows = [("x", t, v) for t, v in enumerate(x)] + [
        ("y", t, v) for t, v in enumerate(y)
    ]
    out = {
        (r["key_x"], r["key_y"], r["lag"]): r["r"]
        for r in xcf(
            spark.createDataFrame(rows, ["k", "t", "y"]), "k", "t", "y", 5
        ).collect()
    }
    best = max(range(6), key=lambda k: out[("x", "y", k)])
    assert best == 3
    assert out[("x", "y", 3)] > 0.7


def test_xcf_lag0_is_pearson(spark):
    """Lag-0 cross-correlation equals the plain Pearson correlation."""
    from mcpvectordb_spark.operators.timeseries import xcf

    x = [1, 5, 2, 8, 3, 9, 4, 7]
    y = [2, 6, 1, 9, 4, 8, 3, 8]
    rows = [("x", t, v) for t, v in enumerate(x)] + [
        ("y", t, v) for t, v in enumerate(y)
    ]
    out = {
        (r["key_x"], r["key_y"], r["lag"]): r["r"]
        for r in xcf(
            spark.createDataFrame(rows, ["k", "t", "y"]), "k", "t", "y", 2
        ).collect()
    }
    n = len(x)
    mx, my = sum(x) / n, sum(y) / n
    num = sum((a - mx) * (b - my) for a, b in zip(x, y))
    den = (
        sum((a - mx) ** 2 for a in x) * sum((b - my) ** 2 for b in y)
    ) ** 0.5
    assert abs(out[("x", "y", 0)] - num / den) < 5e-7
    # lag 0 is symmetric
    assert out[("x", "y", 0)] == out[("y", "x", 0)]


def test_xcf_constant_series_null(spark):
    """A zero-variance partner yields NULL r for every lag."""
    from mcpvectordb_spark.operators.timeseries import xcf

    rows = [("x", t, t % 4) for t in range(10)] + [("c", t, 5) for t in range(10)]
    out = xcf(
        spark.createDataFrame(rows, ["k", "t", "y"]), "k", "t", "y", 2
    ).collect()
    assert all(r["r"] is None for r in out)


# -- cat_association ---------------------------------------------------------


def test_cat_association_hand_computed_2x2(spark):
    """2x2 table [[30,10],[10,30]]: chi2 = 20, known closed form."""
    import math

    from mcpvectordb_spark.operators.stats import cat_association

    rows = (
        [("a", "p")] * 30 + [("a", "q")] * 10 + [("b", "p")] * 10 + [("b", "q")] * 30
    )
    r = cat_association(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    # chi2 for 2x2: N(ad-bc)^2 / (r1 r2 c1 c2) = 80*(900-100)^2/40^4
    ref = 80 * (30 * 30 - 10 * 10) ** 2 / (40 * 40 * 40 * 40)
    assert r["n"] == 80 and r["dof"] == 1
    assert abs(r["chi2"] - ref) < 1e-6
    assert abs(r["cramers_v"] - math.sqrt(ref / 80)) < 1e-6
    # MI reference: sum p ln(p/(px py))
    mi = sum(
        n / 80 * math.log((n / 80) / (0.5 * 0.5))
        for n in (30, 10, 10, 30)
    )
    assert abs(r["mi"] - mi) < 1e-6


def test_cat_association_independent_is_zero(spark):
    """A perfectly balanced independent table: chi2 = 0, MI = 0, V = 0."""
    from mcpvectordb_spark.operators.stats import cat_association

    rows = [(a, b) for a in "xy" for b in "pqr" for _ in range(10)]
    r = cat_association(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert r["chi2"] == 0.0 and r["mi"] == 0.0 and r["cramers_v"] == 0.0
    assert r["dof"] == 2


def test_cat_association_single_level_null_v(spark):
    """min(R, C) = 1 leaves Cramer's V undefined -> NULL, dof 0."""
    from mcpvectordb_spark.operators.stats import cat_association

    rows = [("only", b) for b in "pqpqr"]
    r = cat_association(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert r["cramers_v"] is None and r["dof"] == 0


# -- gini_concentration ------------------------------------------------------


def test_gini_perfect_equality_zero(spark):
    from mcpvectordb_spark.operators.stats import gini_concentration

    df = spark.createDataFrame([(9,)] * 100, ["v"])
    r = gini_concentration(df, "v").collect()[0]
    assert r["gini"] == 0.0
    assert abs(r["top10_share"] - 0.1) < 1e-9
    assert abs(r["top1_share"] - 0.01) < 1e-9


def test_gini_total_concentration(spark):
    """One holder of everything: G = (n-1)/n, top shares = 1."""
    from mcpvectordb_spark.operators.stats import gini_concentration

    rows = [(0,)] * 99 + [(1000,)]
    r = gini_concentration(spark.createDataFrame(rows, ["v"]), "v").collect()[0]
    assert abs(r["gini"] - 0.99) < 1e-9
    assert r["top1_share"] == 1.0 and r["top10_share"] == 1.0


def test_gini_matches_sorted_definition(spark):
    """Block formula equals the classic sorted rank-sum on skewed data."""
    from mcpvectordb_spark.operators.stats import gini_concentration

    vals = [1, 1, 2, 3, 3, 3, 8, 13, 21, 55, 55, 200]
    r = gini_concentration(
        spark.createDataFrame([(v,) for v in vals], ["v"]), "v"
    ).collect()[0]
    xs = sorted(vals)
    n, s = len(xs), sum(xs)
    t = sum((i + 1) * x for i, x in enumerate(xs))
    ref = (2 * t - (n + 1) * s) / (n * s)
    assert abs(r["gini"] - ref) < 1e-6
    # top 10% of 12 holders -> max(1, 1) = 1 holder = 200
    assert abs(r["top10_share"] - 200 / s) < 1e-6


def test_gini_all_zero_null(spark):
    from mcpvectordb_spark.operators.stats import gini_concentration

    r = gini_concentration(
        spark.createDataFrame([(0,)] * 5, ["v"]), "v"
    ).collect()[0]
    assert r["gini"] is None and r["top1_share"] is None


# -- bradley_terry -----------------------------------------------------------


def test_bt_recovers_strength_order(spark):
    """Deterministic round-robin where a always beats b beats c."""
    from mcpvectordb_spark.operators.stats import bradley_terry

    games = (
        [("a", "b")] * 8 + [("b", "a")] * 2
        + [("b", "c")] * 8 + [("c", "b")] * 2
        + [("a", "c")] * 9 + [("c", "a")] * 1
    )
    out = {
        r["entity"]: r
        for r in bradley_terry(
            spark.createDataFrame(games, ["winner", "loser"]), "winner", "loser", 10
        ).collect()
    }
    assert out["a"]["strength"] > out["b"]["strength"] > out["c"]["strength"]
    assert abs(sum(r["strength"] for r in out.values()) - 1.0) < 1e-6
    assert out["a"]["wins"] == 17 and out["a"]["games"] == 20


def test_bt_matches_python_mm(spark):
    """Spark MM iterations equal the sequential MM update exactly."""
    import collections

    from mcpvectordb_spark.operators.stats import bradley_terry

    games = [("a", "b")] * 3 + [("b", "a")] * 1 + [("b", "c")] * 4 + [("a", "c")] * 2 + [("c", "a")] * 1
    out = {
        r["entity"]: r["strength"]
        for r in bradley_terry(
            spark.createDataFrame(games, ["winner", "loser"]), "winner", "loser", 10
        ).collect()
    }
    nij = collections.Counter()
    W = collections.Counter()
    for w, l in games:
        nij[(w, l)] += 1
        nij[(l, w)] += 1
        W[w] += 1
    ks = ["a", "b", "c"]
    pi = {k: 1.0 for k in ks}
    for _ in range(10):
        pi = {
            i: (
                W[i]
                / sum(nij[(i, j)] / (pi[i] + pi[j]) for j in ks if nij[(i, j)])
                if W[i] > 0
                else 0.0
            )
            for i in ks
        }
    z = sum(pi.values())
    for k in ks:
        assert abs(out[k] - pi[k] / z) < 5e-7


def test_bt_all_loser_gets_zero(spark):
    """An entity that never wins converges to strength 0, no 0/0."""
    from mcpvectordb_spark.operators.stats import bradley_terry

    games = [("a", "z")] * 5 + [("b", "z")] * 5 + [("a", "b")] * 2 + [("b", "a")] * 2
    out = {
        r["entity"]: r["strength"]
        for r in bradley_terry(
            spark.createDataFrame(games, ["winner", "loser"]), "winner", "loser", 8
        ).collect()
    }
    assert out["z"] == 0.0
    assert out["a"] > 0 and out["b"] > 0


# -- holt_winters_additive ---------------------------------------------------


def _hw_reference(xs, m=7, a=0.5, b_=0.25, g=0.25):
    l = sum(xs[:m]) / m
    b = 0.0
    s = [x - l for x in xs[:m]]
    hist = []
    for t in range(m, len(xs)):
        su = s[0]
        f = l + b + su
        l_new = a * (xs[t] - su) + (1 - a) * (l + b)
        b_new = b_ * (l_new - l) + (1 - b_) * b
        s = s[1:] + [g * (xs[t] - l_new) + (1 - g) * su]
        l, b = l_new, b_new
        hist.append((t, l, b, su, f))
    return hist, l, b, s


def test_hw_matches_sequential_reference(spark):
    import random

    from mcpvectordb_spark.operators.timeseries import holt_winters_additive

    random.seed(6)
    season = [9, -4, 2, 7, -8, 1, -7]
    xs = [40 + t + season[t % 7] + random.randint(-2, 2) for t in range(25)]
    df = spark.createDataFrame(
        [("a", t, x) for t, x in enumerate(xs)], ["k", "t", "x"]
    )
    got = {
        r["t"]: r
        for r in holt_winters_additive(df, "k", "t", "x", horizon=7).collect()
    }
    hist, l, b, s = _hw_reference(xs)
    for t, rl, rb, rsu, rf in hist:
        r = got[t]
        assert abs(r["level"] - rl) < 1e-12
        assert abs(r["trend"] - rb) < 1e-12
        assert abs(r["seasonal_used"] - rsu) < 1e-12
        assert abs(r["fitted"] - rf) < 1e-12
    for h in range(1, 8):
        r = got[len(xs) - 1 + h]
        assert r["x"] is None
        assert abs(r["fitted"] - (l + h * b + s[h - 1])) < 1e-12


def test_hw_learns_pure_seasonal_pattern(spark):
    """On an exact period-7 signal with no trend/noise the one-step
    forecasts converge onto the signal."""
    from mcpvectordb_spark.operators.timeseries import holt_winters_additive

    season = [20, 5, 12, 18, 3, 9, 1]
    xs = [season[t % 7] + 30 for t in range(35)]
    df = spark.createDataFrame(
        [("a", t, x) for t, x in enumerate(xs)], ["k", "t", "x"]
    )
    got = {r["t"]: r for r in holt_winters_additive(df, "k", "t", "x").collect()}
    # after two full seasons the fit should track closely
    late_err = [abs(got[t]["fitted"] - xs[t]) for t in range(21, 35)]
    assert max(late_err) < 2.0, late_err


def test_hw_short_series_emits_nothing(spark):
    from mcpvectordb_spark.operators.timeseries import holt_winters_additive

    df = spark.createDataFrame(
        [("a", t, 5) for t in range(7)], ["k", "t", "x"]
    )
    assert holt_winters_additive(df, "k", "t", "x", horizon=3).count() == 0


def test_hw_horizon_beyond_period_rejected(spark):
    import pytest

    from mcpvectordb_spark.operators.timeseries import holt_winters_additive

    df = spark.createDataFrame([("a", 0, 1)], ["k", "t", "x"])
    with pytest.raises(ValueError):
        holt_winters_additive(df, "k", "t", "x", horizon=9)


# -- pacf --------------------------------------------------------------------


def test_pacf_lag1_equals_acf(spark):
    """phi_{1,1} = r_1 by definition."""
    from mcpvectordb_spark.operators.timeseries import acf, pacf

    rows = [("a", t, (t * 7) % 13) for t in range(60)]
    df = spark.createDataFrame(rows, ["k", "t", "y"])
    a1 = {r["lag"]: r["r"] for r in acf(df, "k", "t", "y", 4).collect()}
    p = {r["lag"]: r for r in pacf(df, "k", "t", "y", 4).collect()}
    assert p[1]["pacf"] == a1[1]
    assert p[1]["r"] == a1[1]


def test_pacf_matches_durbin_levinson(spark):
    """Fold equals the sequential D-L recursion on the rounded ACF."""
    from mcpvectordb_spark.operators.timeseries import acf, pacf

    rows = [("a", t, (t * t * 3 + t) % 17) for t in range(80)]
    df = spark.createDataFrame(rows, ["k", "t", "y"])
    rv = {r["lag"]: r["r"] for r in acf(df, "k", "t", "y", 6).collect()}
    out = {r["lag"]: r["pacf"] for r in pacf(df, "k", "t", "y", 6).collect()}
    rs = [rv[1]]
    phi = [rv[1]]
    ref = {1: rv[1]}
    for k in range(2, 7):
        num = rv[k] - sum(p * rr for p, rr in zip(phi, reversed(rs)))
        den = 1.0 - sum(p * r_ for p, r_ in zip(phi, rs))
        pkk = num / den
        phi = [p - pkk * pr for p, pr in zip(phi, reversed(phi))] + [pkk]
        rs.append(rv[k])
        ref[k] = pkk
    for k in range(1, 7):
        assert abs(out[k] - ref[k]) < 5e-7, (k, out[k], ref[k])


def test_pacf_ar1_cuts_off_after_lag1(spark):
    """AR(1)-like integer series: pacf(1) large, pacf(k>1) small."""
    from mcpvectordb_spark.operators.timeseries import pacf

    import random

    random.seed(8)
    x = [100.0]
    for _ in range(300):
        x.append(0.7 * x[-1] + 30 + random.gauss(0, 4))
    rows = [("a", t, int(round(v))) for t, v in enumerate(x)]
    out = {
        r["lag"]: r["pacf"]
        for r in pacf(
            spark.createDataFrame(rows, ["k", "t", "y"]), "k", "t", "y", 6
        ).collect()
    }
    assert out[1] > 0.5
    assert all(abs(out[k]) < 0.2 for k in range(2, 7))


def test_pacf_constant_series_dropped(spark):
    from mcpvectordb_spark.operators.timeseries import pacf

    df = spark.createDataFrame([("c", t, 4) for t in range(30)], ["k", "t", "y"])
    assert pacf(df, "k", "t", "y", 3).count() == 0


# -- parts_conformal (catalog-level chain) ------------------------------------


def test_conformal_coverage_guarantee_shape(spark):
    """The catalog conformal query produces a valid radius: coverage on
    the train half near 0.9 (same distribution), qhat positive."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["parts_conformal"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_train"] + r["n_cal"] > 0
    assert r["qhat_price"] > 0
    # split halves are exchangeable -> train coverage should be close to
    # the 90% target (generous band; n is small at sf0.001)
    assert 0.8 < r["coverage_train"] <= 1.0


# -- vocab_zipf (catalog-level) -----------------------------------------------


def test_zipf_slope_on_planted_power_law(spark):
    """A corpus built with f(term_r) ~ r^-1 recovers slope ~ -1."""
    import math

    from mcpvectordb_spark.catalog import QUERIES  # noqa: F401  (import parity)
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    from mcpvectordb_spark.operators import dedup as dd

    words = []
    for r in range(1, 41):
        words += [f"w{r:02d}"] * max(1, round(400 / r))
    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    toks = docs.select(
        F.explode(F.split(dd.normalize_text(F.col("text")), " ")).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("term").asc())
    pts = freq.select(F.row_number().over(w).alias("rank"), "f").collect()
    xs = [math.log(p["rank"]) for p in pts]
    ys = [math.log(p["f"]) for p in pts]
    n = len(xs)
    slope = (n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(a * a for a in xs) - sum(xs) ** 2
    )
    assert abs(slope + 1.0) < 0.05, slope


# -- fd_discovery -------------------------------------------------------------


def test_fd_key_determines_everything(spark):
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.dataquality import fd_discovery

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 20)], ["id", "grp", "v"]
    )
    out = {
        (r["lhs"], r["rhs"]): r["holds"]
        for r in fd_discovery(
            df, {"id": F.col("id"), "grp": F.col("grp"), "v": F.col("v")}
        ).collect()
    }
    assert out[("id", "grp")] and out[("id", "v")]
    assert not out[("grp", "v")]  # a -> {10, 20}
    assert not out[("v", "grp")]  # 20 -> {a, b}


def test_fd_violation_counts_g3(spark):
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.dataquality import fd_discovery

    # grp=a maps to 3 distinct v (2 extra), grp=b maps to 1
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 2), (3, "a", 3), (4, "b", 9)], ["id", "grp", "v"]
    )
    r = {
        (x["lhs"], x["rhs"]): x
        for x in fd_discovery(df, {"grp": F.col("grp"), "v": F.col("v")}).collect()
    }[("grp", "v")]
    assert r["n_lhs_values"] == 2
    assert r["n_violating_lhs"] == 1
    assert r["extra_rhs_values"] == 2
    assert not r["holds"]


def test_fd_derived_column_detected_on_orders(spark):
    """On the real corpus, orderdate -> order_month holds; the reverse
    fails; o_orderkey is a key."""
    from mcpvectordb_spark.catalog import QUERIES

    out = {
        (r["lhs"], r["rhs"]): r["holds"]
        for r in QUERIES["orders_fd"](spark, "/root/testdata/sf0.001").collect()
    }
    assert out[("orderdate", "order_month")]
    assert not out[("order_month", "orderdate")]
    assert all(out[("orderkey", rhs)] for rhs in
               ("custkey", "status", "price_cents", "orderdate", "priority"))


# -- quantile_normalize -------------------------------------------------------


def test_qnorm_identical_distributions_after_mapping(spark):
    """Two groups with different scales map onto the same pooled values."""
    from mcpvectordb_spark.operators.stats import quantile_normalize

    rows = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (10, 20, 30, 40)]
    out = {
        (r["k"], r["v"]): r["norm"]
        for r in quantile_normalize(
            spark.createDataFrame(rows, ["k", "v"]), "k", "v"
        ).collect()
    }
    norm_a = sorted(n for (k, _), n in out.items() if k == "a")
    norm_b = sorted(n for (k, _), n in out.items() if k == "b")
    assert norm_a == norm_b
    # rank preserved within group
    assert out[("a", 1)] < out[("a", 2)] < out[("a", 3)] < out[("a", 4)]


def test_qnorm_hand_ranks(spark):
    """Within-group fraction p maps to pooled rank ceil(p*N)."""
    from mcpvectordb_spark.operators.stats import quantile_normalize

    # group a: [5, 5, 7] (n=3); group b: [100] (n=1); pooled sorted:
    # [5, 5, 7, 100]
    rows = [("a", 5), ("a", 5), ("a", 7), ("b", 100)]
    out = {
        (r["k"], r["v"]): r
        for r in quantile_normalize(
            spark.createDataFrame(rows, ["k", "v"]), "k", "v"
        ).collect()
    }
    # a: v=5 has cum 2/3 -> rank ceil(8/3)=3 -> pooled 3rd = 7
    assert out[("a", 5)]["norm"] == 7 and out[("a", 5)]["n"] == 2
    # a: v=7 cum 3/3 -> rank 4 -> 100
    assert out[("a", 7)]["norm"] == 100
    # b: v=100 cum 1/1 -> rank 4 -> 100
    assert out[("b", 100)]["norm"] == 100


def test_qnorm_single_group_is_identity(spark):
    """One group: the pooled distribution IS the group -> norm == v."""
    from mcpvectordb_spark.operators.stats import quantile_normalize

    rows = [("a", v) for v in (3, 1, 4, 1, 5, 9, 2, 6)]
    out = quantile_normalize(
        spark.createDataFrame(rows, ["k", "v"]), "k", "v"
    ).collect()
    assert all(r["norm"] == r["v"] for r in out)


# -- ipf_rake -----------------------------------------------------------------


def test_ipf_marginals_converge_to_targets(spark):
    from mcpvectordb_spark.operators.curation import ipf_rake

    cells = spark.createDataFrame(
        [("r1", "c1", 30), ("r1", "c2", 10), ("r2", "c1", 20), ("r2", "c2", 40)],
        ["r", "c", "n"],
    )
    rt = spark.createDataFrame([("r1", 50.0), ("r2", 50.0)], ["k", "t"])
    ct = spark.createDataFrame([("c1", 40.0), ("c2", 60.0)], ["k", "t"])
    w = {
        (x["r"], x["c"]): x["weight"]
        for x in ipf_rake(cells, "r", "c", "n", rt, ct, iterations=20).collect()
    }
    assert abs(w[("r1", "c1")] + w[("r1", "c2")] - 50) < 1e-6
    assert abs(w[("r2", "c1")] + w[("r2", "c2")] - 50) < 1e-6
    assert abs(w[("r1", "c1")] + w[("r2", "c1")] - 40) < 1e-6
    assert abs(w[("r1", "c2")] + w[("r2", "c2")] - 60) < 1e-6


def test_ipf_already_matching_is_identity(spark):
    """Counts that already hit both targets are fixed points."""
    from mcpvectordb_spark.operators.curation import ipf_rake

    cells = spark.createDataFrame(
        [("r1", "c1", 20), ("r1", "c2", 30), ("r2", "c1", 20), ("r2", "c2", 30)],
        ["r", "c", "n"],
    )
    rt = spark.createDataFrame([("r1", 50.0), ("r2", 50.0)], ["k", "t"])
    ct = spark.createDataFrame([("c1", 40.0), ("c2", 60.0)], ["k", "t"])
    out = ipf_rake(cells, "r", "c", "n", rt, ct, iterations=5).collect()
    for x in out:
        assert abs(x["factor"] - 1.0) < 1e-12


def test_ipf_structural_zero_stays_zero(spark):
    """An absent cell never acquires weight; occupied cells compensate."""
    from mcpvectordb_spark.operators.curation import ipf_rake

    # (r2, c2) missing entirely
    cells = spark.createDataFrame(
        [("r1", "c1", 10), ("r1", "c2", 10), ("r2", "c1", 10)], ["r", "c", "n"]
    )
    rt = spark.createDataFrame([("r1", 15.0), ("r2", 15.0)], ["k", "t"])
    ct = spark.createDataFrame([("c1", 15.0), ("c2", 15.0)], ["k", "t"])
    out = ipf_rake(cells, "r", "c", "n", rt, ct, iterations=30).collect()
    assert len(out) == 3  # no new cells
    w = {(x["r"], x["c"]): x["weight"] for x in out}
    # feasible limit: w(r2,c1) -> 15, w(r1,c1) -> 0, w(r1,c2) -> 15;
    # with a structural zero IPF converges only geometrically, so allow
    # a tolerance after 30 rounds
    assert abs(w[("r2", "c1")] - 15.0) < 0.5
    assert w[("r1", "c1")] < 0.5
    assert abs(w[("r1", "c2")] - 15.0) < 1e-6


# -- events_dispersion (catalog-level) ----------------------------------------


def test_dispersion_poisson_like_fano_near_one(spark):
    """The generated corpus has hash-uniform arrivals: Fano should sit
    near 1 (Poisson), never wildly clumped."""
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_dispersion"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n"] > 0 and r["total"] > 0
        assert 0.2 < r["fano"] < 5.0, (r["event_type"], r["fano"])
        assert r["cv2"] > 0
        # flag consistency: overdispersed iff z above the 95% bound
        assert r["overdispersed"] == (r["z_dispersion"] > 1.6449)


# -- events_sprt (catalog-level) ----------------------------------------------


def test_sprt_accepts_baseline_on_calm_corpus(spark):
    """error share is ~1/5 = the H0 rate, so the walk must hit the lower
    bound: decision 'baseline', and early (saving most of the stream)."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_sprt"](spark, "/root/testdata/sf0.001").collect()
    assert len(r) == 1
    r = r[0]
    assert r["decision"] == "baseline"
    assert r["llr"] <= -2.9  # crossed -ln(19)
    assert 1 <= r["n_at_decision"] <= r["n_total"]
    assert r["frac_saved"] > 0.5  # the whole point of sequential testing
    assert 0 <= r["k_errors"] <= r["n_at_decision"]


# -- dd_sketch / dd_quantile ---------------------------------------------------


def test_ddsketch_relative_error_guarantee(spark):
    """Estimates stay within (gamma-1)/(gamma+1) of the exact discrete
    quantile on a heavy-tailed distribution."""
    import random

    from mcpvectordb_spark.operators.sketches import dd_quantile, dd_sketch

    random.seed(11)
    vals = [random.lognormvariate(3, 1) for _ in range(20000)]
    df = spark.createDataFrame([("a", v) for v in vals], ["k", "v"])
    sk = dd_sketch(df, "k", "v", gamma=1.02)
    out = {r["q"]: r["est"] for r in dd_quantile(sk, [0.5, 0.9, 0.99], 1.02).collect()}
    sv = sorted(vals)
    tol = (1.02 - 1) / (1.02 + 1)
    for q in (0.5, 0.9, 0.99):
        r = -(-int(q * 10_000) * len(sv) // 10_000)  # ceil(q*n) on the 1e4 grid
        exact = sv[r - 1]
        assert abs(out[q] - exact) / exact <= tol + 1e-9, (q, out[q], exact)


def test_ddsketch_mergeable(spark):
    """Sketching halves and adding counts == sketching the whole."""
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.sketches import dd_sketch

    vals = [(i % 997) / 7.0 + 0.01 for i in range(5000)]
    df = spark.createDataFrame([("a", v) for v in vals], ["k", "v"])
    whole = {
        (r["k"], r["bucket"]): r["c"] for r in dd_sketch(df, "k", "v").collect()
    }
    h1 = dd_sketch(df.limit(0).unionByName(
        spark.createDataFrame([("a", v) for v in vals[:2500]], ["k", "v"])
    ), "k", "v")
    h2 = dd_sketch(
        spark.createDataFrame([("a", v) for v in vals[2500:]], ["k", "v"]),
        "k", "v",
    )
    merged = {
        (r["k"], r["bucket"]): r["c"]
        for r in h1.unionByName(h2).groupBy("k", "bucket").agg(
            F.sum("c").alias("c")
        ).collect()
    }
    assert merged == whole


def test_ddsketch_catalog_gate_all_within_bound(spark):
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_ddsketch"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 15  # 5 types x 3 quantiles
    assert all(r["within_bound"] for r in rows)
    assert all(r["est"] > 0 and r["exact"] > 0 for r in rows)


# -- clarity_score ------------------------------------------------------------


def test_clarity_focused_beats_vague_on_planted_corpus(spark):
    """A query whose top docs share a rare topical vocabulary scores much
    higher clarity than a query matching generic documents."""
    from mcpvectordb_spark.operators.prf import clarity_score

    common = "the quick brown fox jumps over the lazy dog again and again"
    topical = "quantum entanglement qubit decoherence superposition hamiltonian"
    docs = [(i, common) for i in range(80)] + [
        (100 + i, topical + " " + common.split()[i % 5]) for i in range(10)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    hi = clarity_score(df, "qubit decoherence", "doc_id", "text").collect()[0]
    lo = clarity_score(df, "the quick", "doc_id", "text").collect()[0]
    assert hi["clarity_bits"] > lo["clarity_bits"] + 0.5
    assert lo["clarity_bits"] >= 0.0  # KL is non-negative
    assert hi["vocab"] > 0 and hi["n_feedback"] == 10


def test_clarity_kl_hand_computed(spark):
    """Tiny corpus: clarity equals the hand-computed KL in bits."""
    import math

    from mcpvectordb_spark.operators.prf import clarity_score

    docs = [(1, "a a b"), (2, "a c"), (3, "d d d d")]
    # query 'a': top-2 feedback by bm25 = docs 1, 2 (only they contain a)
    out = clarity_score(df=spark.createDataFrame(docs, ["doc_id", "text"]),
                        query="a", id_col="doc_id", text_col="text",
                        fb_docs=2).collect()[0]
    # rm1: p(a) = (2/3 + 1/2)/2, p(b) = (1/3)/2, p(c) = (1/2)/2
    p = {"a": (2 / 3 + 1 / 2) / 2, "b": (1 / 3) / 2, "c": (1 / 2) / 2}
    cf = {"a": 3, "b": 1, "c": 1, "d": 4}
    ct = 9
    ref = sum(pw * math.log2(pw / (cf[w] / ct)) for w, pw in p.items())
    assert abs(out["clarity_bits"] - ref) < 5e-7
    assert out["vocab"] == 3


# -- events_mase (catalog-level) ------------------------------------------------


def test_mase_internally_consistent(spark):
    """mase == sum-ratio of the reported MAEs; flag agrees; rows per type."""
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_mase"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_eval"] > 0
        assert r["mae_model"] >= 0 and r["mae_naive"] > 0
        # mase equals the MAE ratio to rounding
        assert abs(r["mase"] - r["mae_model"] / r["mae_naive"]) < 1e-4
        assert r["beats_naive"] == (r["mase"] < 1.0) or abs(r["mase"] - 1.0) < 1e-6


# -- ushaped_attribution --------------------------------------------------------


def test_ushaped_hand_journeys(spark):
    """3-touch 40/20/40, 2-touch 50/50, 1-touch 100%, direct cases."""
    import datetime as dt

    from mcpvectordb_spark.operators.analytics import ushaped_attribution

    T0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(mins):
        return T0 + dt.timedelta(minutes=mins)

    rows = [
        (1, 1, ts(0), "view", 0.0), (1, 2, ts(10), "click", 0.0),
        (1, 3, ts(20), "signup", 0.0), (1, 4, ts(30), "purchase", 100.0),
        (2, 5, ts(0), "click", 0.0), (2, 6, ts(5), "purchase", 50.0),
        (3, 7, ts(0), "purchase", 80.0),
        (4, 8, ts(-60 * 24 * 10), "view", 0.0), (4, 9, ts(0), "purchase", 10.0),
        (5, 10, ts(0), "view", 0.0), (5, 11, ts(1), "error", 0.0),
        (5, 12, ts(2), "purchase", 40.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    per = {}
    for r in ushaped_attribution(df).collect():
        per.setdefault(r["ceid"], []).append(
            (r["channel"], r["credit"], r["credited_value"])
        )
    assert sorted(per[4]) == [
        ("click", 0.2, 20.0), ("signup", 0.4, 40.0), ("view", 0.4, 40.0)
    ]
    assert per[6] == [("click", 1.0, 50.0)]
    assert per[7] == [("direct", 1.0, 80.0)]
    # a touch OUTSIDE the 7-day window must not swallow the conversion
    assert per[9] == [("direct", 1.0, 10.0)]
    assert sorted(per[12]) == [("error", 0.5, 20.0), ("view", 0.5, 20.0)]


def test_ushaped_credit_conservation(spark):
    """Per-conversion credits always sum to exactly 1."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.analytics import ushaped_attribution

    T0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for u in range(1, 9):
        for i in range(u):  # journeys of growing length
            eid += 1
            rows.append((u, eid, T0 + dt.timedelta(minutes=i), "view", 0.0))
        eid += 1
        rows.append((u, eid, T0 + dt.timedelta(minutes=99), "purchase", 10.0))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    sums = (
        ushaped_attribution(df)
        .groupBy("ceid")
        .agg(F.sum("credit").alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)


# -- events_periodogram (catalog-level) ------------------------------------------


def test_periodogram_planted_cycle_dominates(spark):
    """A planted 24h cycle must dominate the candidate periods."""
    from pyspark.sql import functions as F
    import math

    # reuse the catalog algebra on a synthetic hourly frame
    hourly = spark.range(24 * 60).select(
        F.lit("a").alias("event_type"),
        F.col("id").alias("t"),
        (
            F.lit(100)
            + (F.lit(40.0) * F.cos(F.lit(2 * math.pi / 24) * F.col("id"))).cast("long")
            + F.pmod(F.xxhash64("id"), F.lit(7))
        ).alias("y"),
    )
    per = hourly.select(
        "event_type", "t", "y",
        F.explode(F.array(F.lit(6), F.lit(12), F.lit(24), F.lit(168))).alias("period"),
    ).select(
        "event_type", "period", "y",
        (F.lit(2.0) * F.lit(math.pi) * F.col("t").cast("double") / F.col("period")).alias("w"),
    )
    agg = per.groupBy("period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.cos("w")).alias("syc"),
        F.sum(F.col("y") * F.sin("w")).alias("sys"),
        F.sum(F.cos("w")).alias("sc"),
        F.sum(F.sin("w")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("sy") / nd
    a = F.col("syc") - ybar * F.col("sc")
    b = F.col("sys") - ybar * F.col("ss")
    rows = {r["period"]: r["p"] for r in agg.select(
        "period", ((a * a + b * b) / nd).alias("p")).collect()}
    assert rows[24] > 10 * max(rows[6], rows[12], rows[168]), rows


def test_periodogram_catalog_shape(spark):
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_periodogram"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20  # 5 types x 4 periods
    doms = [r for r in rows if r["dominant"]]
    assert len(doms) == 5  # exactly one dominant period per type
    assert all(r["power"] >= 0 for r in rows)


# -- ks_two_sample --------------------------------------------------------------


def test_ks_matches_definition(spark):
    from mcpvectordb_spark.operators.stats import ks_two_sample

    xa = [1, 2, 2, 3, 5, 8]
    xb = [2, 3, 3, 4, 9]
    rows = [("a", v) for v in xa] + [("b", v) for v in xb]
    r = ks_two_sample(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    vals = sorted(set(xa + xb))
    dref = max(
        abs(
            sum(1 for x in xa if x <= v) / len(xa)
            - sum(1 for x in xb if x <= v) / len(xb)
        )
        for v in vals
    )
    assert abs(r["d"] - dref) < 5e-7
    assert r["n_a"] == 6 and r["n_b"] == 5


def test_ks_detects_shape_not_location(spark):
    """Same-mean different-spread: KS rejects where a location test has
    nothing to find."""
    import random

    from mcpvectordb_spark.operators.stats import ks_two_sample

    random.seed(2)
    rows = [("a", round(random.gauss(100, 5))) for _ in range(4000)] + [
        ("b", round(random.gauss(100, 20))) for _ in range(4000)
    ]
    r = ks_two_sample(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert r["reject_95"]
    assert r["d"] > 0.15


def test_ks_identical_zero(spark):
    from mcpvectordb_spark.operators.stats import ks_two_sample

    xs = [1, 4, 4, 7, 9] * 20
    rows = [("a", v) for v in xs] + [("b", v) for v in xs]
    r = ks_two_sample(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert r["d"] == 0.0 and not r["reject_95"]


# -- eb_shrink_rates --------------------------------------------------------------


def test_eb_recovers_planted_beta_prior(spark):
    import random

    from mcpvectordb_spark.operators.stats import eb_shrink_rates

    random.seed(6)
    rows = []
    for i in range(800):
        t = random.betavariate(8, 12)
        n = random.choice([1, 2, 5, 20, 200])
        k = sum(1 for _ in range(n) if random.random() < t)
        rows.append((i, n, k))
    df = spark.createDataFrame(rows, ["key", "n", "k"])
    out = {r["key"]: r for r in eb_shrink_rates(df, "key", "n", "k", min_n=100).collect()}
    r0 = next(iter(out.values()))
    assert 4 < r0["alpha"] < 16 and 6 < r0["beta"] < 24
    pm = r0["alpha"] / (r0["alpha"] + r0["beta"])
    # eb always lies between the raw rate and the prior mean
    for r in out.values():
        lo, hi = sorted([r["raw_rate"], pm])
        assert lo - 1e-6 <= r["eb_rate"] <= hi + 1e-6
    # n = 1 perfect scores shrink almost to the prior; n = 200 barely move
    ones = [r for r in out.values() if r["n"] == 1 and r["raw_rate"] == 1.0]
    assert ones and all(abs(r["eb_rate"] - pm) < 0.15 for r in ones)
    assert all(
        abs(r["eb_rate"] - r["raw_rate"]) < 0.05
        for r in out.values()
        if r["n"] == 200
    )


def test_eb_degenerate_ensemble_null(spark):
    """All keys share one rate -> v = 0 -> prior undefined -> NULL eb."""
    from mcpvectordb_spark.operators.stats import eb_shrink_rates

    rows = [(i, 10, 5) for i in range(50)]
    out = eb_shrink_rates(
        spark.createDataFrame(rows, ["key", "n", "k"]), "key", "n", "k"
    ).collect()
    assert all(r["eb_rate"] is None and r["alpha"] is None for r in out)


# -- events_entropy_rate (catalog-level) --------------------------------------------


def test_entropy_rate_bounds_and_consistency(spark):
    """0 <= MI, H_cond <= H_marg <= log2(|states|), perplexity = 2^H_cond."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_entropy_rate"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_transitions"] > 0
    assert 0 <= r["h_cond_bits"] <= r["h_marg_bits"] + 1e-9
    assert r["h_marg_bits"] <= 2.3219282  # log2(5) for 5 event types
    assert abs(r["mi_bits"] - (r["h_marg_bits"] - r["h_cond_bits"])) < 1e-5
    assert abs(r["perplexity"] - 2 ** r["h_cond_bits"]) < 1e-3


def test_entropy_rate_deterministic_chain(spark):
    """A perfectly deterministic chain has H_cond = 0, perplexity 1."""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    T0 = dt.datetime(2024, 1, 1)
    # every user cycles a -> b -> c -> a ...
    rows = []
    eid = 0
    for u in range(5):
        for i in range(12):
            eid += 1
            rows.append((u, eid, T0 + dt.timedelta(minutes=i), "abc"[i % 3]))
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cells = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    rowt = cells.groupBy("src").agg(F.sum("c").alias("t"))
    tot = cells.agg(F.sum("c").alias("cc"))
    h = cells.join(rowt, "src").crossJoin(tot).agg(
        (-F.sum(F.col("c") / F.col("cc") * F.log2(F.col("c") / F.col("t")))).alias("h")
    ).collect()[0]["h"]
    assert abs(h) < 1e-12


# -- vocab_burstiness (catalog-level) -----------------------------------------------


def test_burstiness_planted_bursty_vs_scattered(spark):
    """A term that clumps in few docs adapts << 1; a scattered term ~ 1."""
    import math

    from pyspark.sql import functions as F

    # 100 docs; 'spread' once per doc (cf=100, df=100);
    # 'burst' 10 times in each of 10 docs (cf=100, df=10)
    docs = [
        (i, "spread " + ("burst " * 10 if i < 10 else "filler "))
        for i in range(100)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    stats = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")) \
        .groupBy("term").agg(F.sum("tf").alias("cf"), F.count(F.lit(1)).alias("df"))
    r = {x["term"]: x for x in stats.collect()}
    n = 100
    for term, want_adapt in (("spread", 1.58), ("burst", 0.158)):
        cf, dfq = r[term]["cf"], r[term]["df"]
        df_exp = n * (1 - math.exp(-cf / n))
        adapt = dfq / df_exp
        if term == "spread":
            assert adapt > 1.5  # one-per-doc beats Poisson expectation
        else:
            assert adapt < 0.2  # bursty: far fewer docs than Poisson predicts


def test_burstiness_catalog_shape(spark):
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["vocab_burstiness"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r["df"] <= r["cf"]
        assert r["df_expected"] > 0 and r["adaptation"] > 0
        assert r["mean_tf_in_doc"] >= 1.0


# -- events_did (catalog-level) --------------------------------------------------


def test_did_placebo_not_significant(spark):
    """A/A hash split with no intervention: DiD inside its CI."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_did"](spark, "/root/testdata/sf0.001").collect()[0]
    assert not r["significant"], r
    assert abs(r["t_stat"]) < 1.96
    assert r["se"] > 0
    # the four cell means exist and are plausible per-user totals
    for c in ("control_pre", "control_post", "treat_pre", "treat_post"):
        assert r[c] > 0
    # internal consistency: did == (t_post - t_pre) - (c_post - c_pre)
    ref = (r["treat_post"] - r["treat_pre"]) - (r["control_post"] - r["control_pre"])
    assert abs(r["did"] - ref) < 1e-3


# -- minhash_calibration (catalog-level) --------------------------------------------


def test_minhash_calibration_tracks_theorem(spark):
    """Mean exact Jaccard per agreement bucket tracks k/16: buckets are
    monotone in k and high-agreement buckets carry high Jaccard."""
    from mcpvectordb_spark.catalog import QUERIES

    rows = sorted(
        QUERIES["minhash_calibration"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["k_agree"],
    )
    assert rows, "no candidate pairs on the organic corpus"
    ks = [r["k_agree"] for r in rows]
    mj = {r["k_agree"]: r["mean_jaccard"] for r in rows}
    assert all(0 <= k <= 16 for k in ks)
    # weighted-population monotonicity: compare well-populated buckets
    solid = [r for r in rows if r["n_pairs"] >= 20]
    for lo, hi in zip(solid, solid[1:]):
        assert hi["mean_jaccard"] >= lo["mean_jaccard"] - 0.08, (lo, hi)
    # unbiasedness in the populated mid-range: |bias| < 0.15
    for r in solid:
        assert abs(r["bias"]) < 0.2, r


# -- lineitem_spearman (midrank algebra) -----------------------------------------


def test_spearman_midrank_algebra_matches_scipy_free_reference(spark):
    """The block-midrank Pearson equals a direct Spearman computed in
    python (average ranks, ties included)."""
    import random

    from pyspark.sql import Window, functions as F

    random.seed(9)
    xs = [random.randint(1, 20) for _ in range(300)]
    ys = [x * 2 + random.randint(-8, 8) for x in xs]  # positively related

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            mr = (i + j + 2) / 2
            for t in range(i, j + 1):
                ranks[order[t]] = mr
            i = j + 1
        return ranks

    ra, rb = midranks(xs), midranks(ys)
    n = len(xs)
    ma, mb = sum(ra) / n, sum(rb) / n
    num = sum((a - ma) * (b - mb) for a, b in zip(ra, rb))
    den = math.sqrt(
        sum((a - ma) ** 2 for a in ra) * sum((b - mb) ** 2 for b in rb)
    )
    ref = num / den

    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
    base = df.localCheckpoint(eager=False)

    def ranked(col):
        blocks = base.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return blocks.select(
            F.col("v").alias(col),
            (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(f"r_{col}"),
        )

    j = base.join(ranked("x"), "x").join(ranked("y"), "y")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_x").alias("sa"), F.sum(F.col("r_x") * F.col("r_x")).alias("ssa"),
        F.sum("r_y").alias("sb"), F.sum(F.col("r_y") * F.col("r_y")).alias("ssb"),
        F.sum(F.col("r_x") * F.col("r_y")).alias("sp"),
    ).collect()[0]
    nd = float(s["n"])
    got = (nd * s["sp"] - s["sa"] * s["sb"]) / math.sqrt(
        (nd * s["ssa"] - s["sa"] ** 2) * (nd * s["ssb"] - s["sb"] ** 2)
    )
    assert abs(got - ref) < 1e-9
    assert got > 0.5  # planted positive relation


def test_spearman_catalog_bounds(spark):
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["lineitem_spearman"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n"] > 0
    for c in ("rho_qty_discount", "rho_qty_price", "rho_discount_price"):
        assert -1.0 <= r[c] <= 1.0
        # the synthetic columns are generated independently: all three
        # rank correlations sit near zero (Pearson corr confirms ~0.01)
        assert abs(r[c]) < 0.2, (c, r[c])


# -- events_logrank (catalog-level) ----------------------------------------------


def test_logrank_aa_placebo_accepts(spark):
    """Hash arms share one survival law: the log-rank must accept, O_a
    near E_a, variance positive."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_logrank"](spark, "/root/testdata/sf0.001").collect()[0]
    assert not r["significant"], r
    assert abs(r["z"]) < 1.96
    assert r["variance"] > 0
    assert r["observed_a"] <= r["n_users_a"]
    assert abs(r["chi2"] - r["z"] ** 2) < 1e-4
    # both arms populated by the hash split
    assert r["n_users_a"] > 0 and r["n_users_b"] > 0


# -- events_coxph (catalog-level) ---------------------------------------------------


def test_coxph_aa_hazard_ratio_near_one(spark):
    """A/A arms share one hazard: HR ~ 1, z inside the 95% band, and the
    Wald z agrees with the log-rank z direction."""
    from mcpvectordb_spark.catalog import QUERIES

    r = QUERIES["events_coxph"](spark, "/root/testdata/sf0.001").collect()[0]
    assert not r["significant"], r
    assert r["se"] > 0
    # the calibrated placebo check is the WALD Z, not a fixed HR band:
    # at sf0.001 the information is tiny (se ~ 0.6) so HR wanders while
    # z stays inside the 95% band
    assert abs(r["z"]) < 1.96
    assert abs(r["beta"]) < 2.5 * r["se"] + 0.1
    lr = QUERIES["events_logrank"](spark, "/root/testdata/sf0.001").collect()[0]
    # ORIENTATION: the log-rank z tracks arm 0 (observed_a = arm-0
    # conversions) while the Cox covariate is arm 1 — a deficit for
    # arm 0 means an elevated arm-1 hazard, so the signs must OPPOSE
    if abs(lr["z"]) > 0.2:
        assert (lr["z"] > 0) != (r["z"] > 0), (lr["z"], r["z"])


def test_coxph_newton_converged(spark):
    """8 Newton steps suffice: one more step moves beta by < 1e-6 —
    checked by replaying the update in python from the fitted state."""
    import math

    from pyspark.sql import Window, functions as F

    from mcpvectordb_spark.catalog import QUERIES
    from mcpvectordb_spark.io import load_table
    from mcpvectordb_spark.operators.dedup import hexint48

    sf = "/root/testdata/sf0.001"
    beta = QUERIES["events_coxph"](spark, sf).collect()[0]["beta"]
    ev = load_table(spark, sf, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.min(F.when(F.col("event_type") == "purchase", F.to_date("ts"))).alias("cd"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    users = spans.crossJoin(F.broadcast(horizon)).select(
        F.pmod(hexint48(F.col("user_id").cast("string")), F.lit(2)).alias("arm"),
        F.when(F.col("cd").isNotNull(), F.datediff("cd", "fd"))
        .otherwise(F.datediff("maxd", "fd")).alias("dur"),
        F.col("cd").isNotNull().cast("long").alias("event"),
    )
    per = users.groupBy("dur").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("t0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("arm") == 1, F.col("event")).otherwise(0)).alias("da"),
        F.sum("event").alias("d"),
    )
    wd = Window.orderBy(F.col("dur").asc()).rowsBetween(0, Window.unboundedFollowing)
    rows = per.select(
        "da", "d",
        F.sum("t1").over(wd).alias("na"), F.sum("t0").over(wd).alias("nb"),
    ).filter(F.col("d") > 0).collect()
    u = i = 0.0
    for r in rows:
        p = r["na"] * math.exp(beta) / (r["nb"] + r["na"] * math.exp(beta))
        u += r["da"] - r["d"] * p
        i += r["d"] * p * (1 - p)
    assert abs(u / i) < 1e-5, u / i


def _planted_survival_corpus(spark, path, p0, p1, n_users=2000, horizon=30):
    """One 'view' per user per day 0..horizon-1 (first event on day 0,
    stream horizon on day horizon-1) plus a 'purchase' on day g, g ~
    Geometric(p) per arm, with the catalog's hexint48(user_id) % 2 arms.
    Returns the users frame (user_id, arm, g)."""
    from mcpvectordb_spark.operators.dedup import hexint48

    base = 1_699_920_000  # midnight UTC: the +12h purchase stays on day g
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(1_000_000)) + 0.5) / 1_000_000.0
    users = spark.range(n_users).select(
        F.col("id").alias("user_id"),
        F.pmod(hexint48(F.col("id").cast("string")), F.lit(2)).alias("arm"),
        u.alias("u"),
    ).select(
        "user_id", "arm",
        F.floor(F.log(1.0 - F.col("u")) / F.log(
            1.0 - F.when(F.col("arm") == 1, F.lit(p1)).otherwise(F.lit(p0)))).cast("long").alias("g"),
    )
    views = spark.range(n_users * horizon).select(
        (F.col("id") / horizon).cast("long").alias("user_id"),
        F.pmod(F.col("id"), F.lit(horizon)).alias("day"),
        F.lit("view").alias("event_type"),
    )
    purchases = users.filter(F.col("g") < horizon).select(
        "user_id", F.col("g").alias("day"), F.lit("purchase").alias("event_type"))
    views.unionByName(purchases).select(
        F.xxhash64("user_id", "day", "event_type").alias("event_id"),
        F.timestamp_seconds(F.lit(base) + F.col("day") * 86400
                            + F.when(F.col("event_type") == "purchase", 43200).otherwise(0)).alias("ts"),
        "user_id", "event_type", F.lit(1.0).alias("value"), F.lit("{}").alias("props"),
    ).coalesce(2).write.parquet(f"{path}/events.parquet")
    return users


def test_survival_trio_recovers_planted_geometric_law(spark, tmp_path):
    """Every user starts on day 0 and is censored only at the horizon, so
    the Kaplan-Meier product telescopes to the empirical survivor
    function of the planted conversion days (exact per step).  An A/A
    split must be accepted by the log-rank test and Cox PH; a planted
    discrete-time hazard ratio of 2 must be detected by both, with the
    right sign and Cox recovering HR ~ 2."""
    from mcpvectordb_spark.catalog import QUERIES

    p0, horizon, n_users = 0.05, 30, 2000
    aa, eff = str(tmp_path / "aa"), str(tmp_path / "eff")
    users = _planted_survival_corpus(spark, aa, p0, p0).collect()
    _planted_survival_corpus(spark, eff, p0, 1.0 - (1.0 - p0) ** 2)

    km = QUERIES["events_survival"](spark, aa).orderBy("dur").collect()
    prev, checked = 1.0, 0
    for r in km:
        assert r["survival"] <= prev
        prev = r["survival"]
        if r["dur"] < horizon - 1:
            want = sum(u["g"] > r["dur"] for u in users) / n_users
            assert abs(r["survival"] - want) <= 1e-6, (r, want)
            checked += 1
    assert checked >= 20, checked

    lr_aa = QUERIES["events_logrank"](spark, aa).first()
    lr_eff = QUERIES["events_logrank"](spark, eff).first()
    assert abs(lr_aa["z"]) <= 3.3 and not lr_aa["significant"], lr_aa
    # arm 1 converts faster, so arm 0 (observed_a) sees fewer conversions
    # than the hypergeometric expectation
    assert lr_eff["significant"] and lr_eff["z"] < -5, lr_eff

    cox_aa = QUERIES["events_coxph"](spark, aa).first()
    cox_eff = QUERIES["events_coxph"](spark, eff).first()
    assert abs(cox_aa["z"]) <= 3.3 and 0.8 <= cox_aa["hazard_ratio"] <= 1.25, cox_aa
    assert cox_eff["significant"] and 1.7 <= cox_eff["hazard_ratio"] <= 2.3, cox_eff


def test_sprt_crosses_upper_bound_on_elevated_stream(spark, tmp_path):
    """A stream with a planted 35% error share (H1 says 30%, H0 20%) must
    stop at the UPPER bound, at exactly the step a Python replay of the
    Wald walk first leaves (-ln 19, ln 19)."""
    from mcpvectordb_spark.catalog import QUERIES

    n = 400
    is_err = [i % 20 < 7 for i in range(n)]
    spark.createDataFrame(
        [(i, 1_699_920_000 + i, i % 13, "error" if e else "view", 0.0, "{}") for i, e in enumerate(is_err)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_seconds("ts")).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    c1, c0, bound = math.log(0.3 / 0.2), math.log(0.7 / 0.8), math.log(19.0)
    k = 0
    for step, e in enumerate(is_err, 1):
        k += e
        s = k * c1 + (step - k) * c0
        if abs(s) >= bound:
            break
    assert s > 0
    r = QUERIES["events_sprt"](spark, str(tmp_path)).first()
    assert r["decision"] == "elevated", r
    assert (r["n_at_decision"], r["k_errors"]) == (step, k), (r, step, k)
    assert r["n_total"] == n and r["frac_saved"] > 0.5, r


# -- events_interarrival (catalog-level) ----------------------------------------------


def test_interarrival_poissonish_corpus(spark):
    """Hash-uniform arrivals: B near 0 (exponential-ish gaps have
    sigma ~ mu) and |memory| small; bounds hold."""
    from mcpvectordb_spark.catalog import QUERIES

    rows = QUERIES["events_interarrival"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert -1.0 <= r["burstiness"] <= 1.0
        assert -1.0 <= r["memory"] <= 1.0
        assert abs(r["burstiness"]) < 0.5, r
        assert abs(r["memory"]) < 0.4, r
        assert r["mean_gap_s"] > 0 and r["sd_gap_s"] > 0


def test_interarrival_periodic_vs_bursty(spark):
    """A metronome has B -> -1; clustered gaps push B toward +1."""
    import datetime as dt

    from pyspark.sql import functions as F
    import math

    T0 = dt.datetime(2024, 1, 1)

    def frame(gaps, label):
        t, rows, eid = 0, [], 0
        for g in gaps:
            t += g
            eid += 1
            rows.append((label, eid, T0 + dt.timedelta(seconds=t)))
        return rows

    metronome = frame([60] * 200, "tick")
    bursty = frame(([1] * 9 + [3000]) * 20, "burst")
    ev = spark.createDataFrame(
        metronome + bursty, "event_type string, event_id long, ts timestamp"
    )
    w = F.window  # noqa: F841  (unused, keep imports minimal)
    from pyspark.sql import Window

    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        (F.lead(F.unix_timestamp("ts")).over(win) - F.unix_timestamp("ts")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    mom = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.avg("dt").alias("mu"),
        F.stddev_samp("dt").alias("sig"),
    ).collect()
    b = {r["event_type"]: (r["sig"] - r["mu"]) / (r["sig"] + r["mu"]) for r in mom}
    assert b["tick"] == -1.0  # zero variance
    assert b["burst"] > 0.45  # 9x1s + 3000s gaps: B = 0.4987 analytically
