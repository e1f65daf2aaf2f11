"""Round-5 operator tests: CUPED, synthetic-control placebo, Heaps law.

Planted-corpus fixtures: the ground truth is constructed analytically,
written to a tmp parquet dir, and the REAL catalog query runs its
production code path against it."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mcpvectordb_spark.catalog import QUERIES

# midnight-aligned so the day bucketing (to_date / epoch-day) is exact
BASE = 1_699_920_000


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=r["ts"],
                user_id=r["user_id"],
                event_type=r["event_type"],
                value=float(r.get("value", 0.0)),
                props="{}",
            )
            for i, r in enumerate(rows)
        ]
    ).withColumn("ts", F.timestamp_seconds(F.col("ts")))
    out = str(tmp_path / "events.parquet")
    df.coalesce(2).write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_cuped_planted_covariate_strips_pre_period_variance(spark, tmp_path):
    """Users' post-period spend is a deterministic function of their
    pre-period activity plus arm-independent noise: CUPED must find
    theta near the planted slope and collapse the variance.  A second
    corpus adds a planted +$2 to the treatment arm (the catalog's
    hexint48(user_id) % 2 == 1), which CUPED must detect and estimate."""
    import hashlib

    for effect in (0.0, 2.0):
        rows = []
        for u in range(200):
            x = (u % 10) + 1  # pre-period view count, 1..10
            arm = int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16) % 2
            for k in range(x):
                rows.append({"ts": BASE + k, "user_id": u, "event_type": "view"})
            # post-period purchase: value = 10*x + deterministic +/-1 noise
            rows.append(
                {
                    "ts": BASE + 20 * 86400,
                    "user_id": u,
                    "event_type": "purchase",
                    "value": 10.0 * x + effect * arm + (1.0 if u % 2 else -1.0),
                }
            )
        sf_dir = _write_events(spark, tmp_path / f"effect{effect}", rows)
        out = QUERIES["events_cuped"](spark, sf_dir).first()
        # theta is cents-per-pre-event / 100 = dollars per event ~ planted 10
        assert abs(out["theta"] - 10.0) < 0.2, out
        assert out["var_reduction"] > 0.95, out
        assert out["se_cuped"] < 0.25 * out["se_raw"], out
        if effect == 0.0:
            # y depends only on x, never on the arm: the A/A gate must hold
            assert out["significant"] is False, out
        else:
            # se_cuped ~ 1 * sqrt(2 / 100): the estimate sits within 3 se
            assert out["significant"] is True and out["z_cuped"] > 5, out
            assert abs(out["diff_cuped"] - effect) < 0.45, out


def test_cuped_aa_gate_on_testdata(spark):
    out = QUERIES["events_cuped"](spark, "/root/testdata/sf0.001").first()
    assert out["significant"] is False, out
    assert out["n_control"] > 0 and out["n_treat"] > 0


def _synth_rows(shift: float):
    """30 days; y = 3 + 2*x1 + alternating +/-1, post-period shifted."""
    rows = []
    for t in range(30):
        x1 = (t % 5) + 10
        x2 = (t % 3) + 5  # period 3: orthogonal to the period-2 noise over full cycles
        noise = 1 if t % 2 else -1
        y = 3 + 2 * x1 + noise + (int(shift) if t >= 20 else 0)
        day = BASE + t * 86400
        for k in range(x1):
            rows.append({"ts": day + k, "user_id": k, "event_type": "view"})
        for k in range(x2):
            rows.append({"ts": day + 100 + k, "user_id": k, "event_type": "click"})
        for k in range(y):
            rows.append({"ts": day + 200 + k, "user_id": k, "event_type": "purchase"})
    return rows


def test_synthctrl_recovers_planted_weights_and_passes_placebo(spark, tmp_path):
    sf_dir = _write_events(spark, tmp_path, _synth_rows(shift=0))
    out = QUERIES["events_synthctrl"](spark, sf_dir).first()
    assert out["n_pre"] == 20 and out["n_post"] == 10, out
    # numpy lstsq on the same panel gives (2.563, 1.998, 0.077), rmse 0.998
    assert abs(out["w_view"] - 2.0) < 0.05, out
    assert abs(out["w_intercept"] - 2.563) < 0.05, out
    assert abs(out["w_click"] - 0.077) < 0.05, out
    assert abs(out["rmse_pre"] - 0.998) < 0.05, out
    assert abs(out["mean_gap"]) < 0.1, out
    assert out["placebo_ok"] is True, out


def test_synthctrl_detects_planted_intervention(spark, tmp_path):
    sf_dir = _write_events(spark, tmp_path, _synth_rows(shift=50))
    out = QUERIES["events_synthctrl"](spark, sf_dir).first()
    assert out["mean_gap"] > 45, out
    assert out["placebo_ok"] is False, out
    assert out["gap_z"] > 10, out


def test_synthctrl_placebo_on_testdata(spark):
    out = QUERIES["events_synthctrl"](spark, "/root/testdata/sf0.001").first()
    assert out["placebo_ok"] is True, out


def test_heaps_hand_fixture(spark, tmp_path):
    """3-doc corpus with hand-computed shingle growth:
    doc 1 'a b c d' -> 2 occurrences, 2 new; doc 2 duplicate -> 2 occ,
    0 new; doc 3 'x y z' -> 1 occ, 1 new.  Points (ln N, ln V):
    (ln2,ln2),(ln4,ln2),(ln5,ln3) — OLS checked against the closed form."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d"), Row(doc_id=2, text="a b c d"),
         Row(doc_id=3, text="x y z")]
    )
    out_dir = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(out_dir)
    out = QUERIES["documents_heaps"](spark, str(tmp_path)).first()
    assert out["n_docs"] == 3
    assert out["total_shingles"] == 5
    assert out["vocab"] == 3
    assert out["fit_points"] == 3
    pts = [(math.log(2), math.log(2)), (math.log(4), math.log(2)),
           (math.log(5), math.log(3))]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    k = math.exp((sy - slope * sx) / n)
    assert abs(out["heaps_beta"] - slope) < 1e-5, out
    assert abs(out["heaps_k"] - k) < 1e-5, out


def test_heaps_globally_unique_shingles_recover_the_identity_law(spark, tmp_path):
    """When every shingle in the corpus is distinct, V(N) = N at every
    document, so the log-log fit is the identity: beta = 1, K = 1 and
    corr = 1 exactly at the query's 6 dp."""
    n_docs, toks = 50, 20
    spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(f"d{d}t{j}" for j in range(toks))) for d in range(n_docs)]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["documents_heaps"](spark, str(tmp_path)).first()
    assert out["n_docs"] == n_docs
    assert out["total_shingles"] == out["vocab"] == n_docs * (toks - 2), out
    assert (out["heaps_beta"], out["heaps_k"], out["loglog_corr"]) == (1.0, 1.0, 1.0), out

def test_heaps_short_docs_yield_no_shingles(spark, tmp_path):
    """Docs under 3 words contribute 0 occurrences and 0 vocabulary —
    the sequence(1, size-2) guard must not fabricate shingles."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text="a b c")]
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["documents_heaps"](spark, str(tmp_path)).first()
    assert out["n_docs"] == 2
    assert out["total_shingles"] == 1
    assert out["vocab"] == 1
    assert out["fit_points"] == 1


def test_cuped_shift_invariance(spark, tmp_path):
    """Adding a constant to every post-period purchase value shifts both
    arm means equally: diff/se/z (raw AND adjusted) and theta must be
    unchanged — the location-invariance any A/B readout must satisfy."""
    rows = []
    for u in range(60):
        x = (u % 5) + 1
        for k in range(x):
            rows.append({"ts": BASE + k, "user_id": u, "event_type": "view"})
        rows.append(
            {"ts": BASE + 20 * 86400, "user_id": u, "event_type": "purchase",
             "value": 3.0 * x + (0.5 if u % 3 == 0 else -0.25)}
        )
    base_dir = _write_events(spark, tmp_path / "a", rows)
    shifted = [
        dict(r, value=r["value"] + 100.0) if r["event_type"] == "purchase" else r
        for r in rows
    ]
    shift_dir = _write_events(spark, tmp_path / "b", shifted)
    a = QUERIES["events_cuped"](spark, base_dir).first()
    b = QUERIES["events_cuped"](spark, shift_dir).first()
    for col in ["theta", "diff_raw", "se_raw", "z_raw",
                "diff_cuped", "se_cuped", "z_cuped", "var_reduction"]:
        assert abs(a[col] - b[col]) < 1e-6, (col, a[col], b[col])


def test_synthctrl_gap_z_scale_invariance(spark, tmp_path):
    """Doubling every daily count scales the fit (a, rmse, gap) by 2 but
    leaves the donor coefficients and the standardized gap_z unchanged."""
    a_dir = _write_events(spark, tmp_path / "a", _synth_rows(shift=0))
    doubled = []
    for t in range(30):
        x1 = ((t % 5) + 10) * 2
        x2 = ((t % 3) + 5) * 2
        y = (3 + 2 * ((t % 5) + 10) + (1 if t % 2 else -1)) * 2
        day = BASE + t * 86400
        doubled += [{"ts": day + k, "user_id": k, "event_type": "view"} for k in range(x1)]
        doubled += [{"ts": day + 500 + k, "user_id": k, "event_type": "click"} for k in range(x2)]
        doubled += [{"ts": day + 1500 + k, "user_id": k, "event_type": "purchase"} for k in range(y)]
    b_dir = _write_events(spark, tmp_path / "b", doubled)
    a = QUERIES["events_synthctrl"](spark, a_dir).first()
    b = QUERIES["events_synthctrl"](spark, b_dir).first()
    assert abs(a["w_view"] - b["w_view"]) < 1e-6, (a, b)
    assert abs(a["w_click"] - b["w_click"]) < 1e-6, (a, b)
    assert abs(2 * a["w_intercept"] - b["w_intercept"]) < 1e-5, (a, b)
    assert abs(2 * a["rmse_pre"] - b["rmse_pre"]) < 1e-5, (a, b)
    assert abs(a["gap_z"] - b["gap_z"]) < 1e-6, (a, b)


def test_heaps_totals_invariant_under_doc_relabeling(spark, tmp_path):
    """Reversing the doc_id order changes the growth PATH (and so the
    fit) but never the corpus totals: vocab and total_shingles are
    order-free set/count quantities."""
    from pyspark.sql import Row as R

    texts = ["a b c d e", "c d e f", "f g h i j k", "a b c"]
    fwd = spark.createDataFrame(
        [R(doc_id=i + 1, text=t) for i, t in enumerate(texts)]
    )
    rev = spark.createDataFrame(
        [R(doc_id=len(texts) - i, text=t) for i, t in enumerate(texts)]
    )
    fwd.write.mode("overwrite").parquet(str(tmp_path / "f" / "documents.parquet"))
    rev.write.mode("overwrite").parquet(str(tmp_path / "r" / "documents.parquet"))
    a = QUERIES["documents_heaps"](spark, str(tmp_path / "f")).first()
    b = QUERIES["documents_heaps"](spark, str(tmp_path / "r")).first()
    assert a["vocab"] == b["vocab"]
    assert a["total_shingles"] == b["total_shingles"]
    assert a["n_docs"] == b["n_docs"] == 4


def test_cuped_and_synthctrl_survive_degenerate_corpora(spark, tmp_path):
    """ANSI mode turns double division by zero into an error: constant
    covariates, single-user arms, collinear donors and exact fits must
    yield NULL readouts, never a crash."""
    # every user identical: constant covariate, zero variance everywhere
    rows = []
    for u in range(4):
        rows.append({"ts": BASE, "user_id": u, "event_type": "view"})
        rows.append({"ts": BASE + 20 * 86400, "user_id": u,
                     "event_type": "purchase", "value": 5.0})
    d = _write_events(spark, tmp_path / "const", rows)
    out = QUERIES["events_cuped"](spark, d).first()
    # the numeric readouts are NULL ("not evaluable"), but the GATE must be
    # a definite boolean — round-5 ADVICE: downstream truthiness on NULL is
    # silent, so not-evaluable coalesces to false
    assert out["theta"] is None and out["significant"] is False, out
    # constant donors (collinear with the intercept): det = 0
    rows2 = []
    for t in range(30):
        day = BASE + t * 86400
        rows2 += [{"ts": day, "user_id": 0, "event_type": "view"},
                  {"ts": day + 1, "user_id": 0, "event_type": "click"},
                  {"ts": day + 2, "user_id": 0, "event_type": "purchase"}]
    d2 = _write_events(spark, tmp_path / "flat", rows2)
    out2 = QUERIES["events_synthctrl"](spark, d2).first()
    assert out2["w_view"] is None and out2["gap_z"] is None, out2
    assert out2["placebo_ok"] is False, out2
