"""Round-4 core additions: time-series shaping, SCD2, winnowing, attribution, triangles, A/B, PII, entity match, DQ audit, IR eval harness, GD classifier eval.

Split out of the original single-file catalog.py (round-5 refactor,
round-4 verdict item #3).  Import order is load-bearing: later sections
reference names from earlier ones via the wildcard chain below."""
from __future__ import annotations

from mcpvectordb_spark.catalog._common import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._search import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._corpus import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._curation import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._events import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._nonsql import *  # noqa: F401,F403

# ===========================================================================
# 9. Round-4 additions: time-series shaping, SCD2, winnowing, attribution,
#    triangle counting, distributed-GD quality classifier
# ===========================================================================


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with linear interpolation
    (operators/timeseries.py::resample_interpolate): events bucketed to an
    hourly grid per synthetic sensor (user_id % 50), interior holes
    linearly interpolated, edges nearest-neighbour filled.  The standard
    observability/IoT "resample and fill" — one keyed agg, a per-key
    sequence explode, one window."""
    from mcpvectordb_spark.operators.timeseries import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    out = resample_interpolate(
        ev, F.pmod(F.col("user_id"), F.lit(50)), "ts", "value", step_s=3600
    )
    # The raw values are exact centesimals, so interpolated points land
    # EXACTLY on round() boundaries (e.g. 3/8 between two cents = x.xx625)
    # and ±1ulp engine drift flips the rounded digit.  Quantize with an
    # epsilon bias instead: the 1e-4 nudge dwarfs float drift (~1e-10) but
    # is far below the ~0.01 spacing of distinct scaled rationals, so both
    # engines land on the same integer deterministically.
    return out.select(
        F.col("k").cast("long").alias("k"),
        "bucket",
        "observed",
        F.floor(F.col("v_filled") * 10000 + 0.5001).cast("long").alias("v_fill_e4"),
    )


SQL_EVENTS_GAPFILL = """
WITH obs AS (
  SELECT user_id % 50 AS k,
         (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS bucket,
         avg(value) AS v
  FROM events GROUP BY 1, 2),
rng AS (SELECT k, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY k),
grid AS (SELECT k, unnest(generate_series(b0, b1, 3600)) AS bucket FROM rng),
j AS (SELECT g.k, g.bucket, o.v FROM grid g LEFT JOIN obs o USING (k, bucket)),
w AS (
  SELECT k, bucket, v,
    last_value(v IGNORE NULLS) OVER past AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER past AS pb,
    first_value(v IGNORE NULLS) OVER fut AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER fut AS nb
  FROM j
  WINDOW past AS (PARTITION BY k ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fut  AS (PARTITION BY k ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT CAST(k AS BIGINT) AS k, bucket, (v IS NOT NULL) AS observed,
       CAST(floor((CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb) END) * 10000 + 0.5001) AS BIGINT) AS v_fill_e4
FROM w
"""


def q_customers_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/timeseries.py::scd2_history):
    each customer's order-priority observation stream collapsed into
    validity intervals — the warehouse "track attribute history" shape.
    Same-timestamp observations are made deterministic by the o_orderkey
    tiebreak."""
    from mcpvectordb_spark.operators.timeseries import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    out = scd2_history(orders, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    return out.select(
        F.col("key").alias("custkey"),
        F.col("attr").alias("priority"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


SQL_CUSTOMERS_SCD2 = """
WITH seq AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders),
changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM seq WHERE prev IS NULL OR prev <> o_orderpriority)
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d') AS valid_to,
       (lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
FROM changes
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (textstats.py::winnowing_fingerprints,
    Schleimer et al. 2003): rightmost-min-per-window k-gram selection via
    the combined-key argmin trick — one window pass, no self-join.  Rolled
    up per doc (count + checksums) so the oracle compare stays compact;
    the operator itself returns the granular fingerprint set."""
    from mcpvectordb_spark.operators.textstats import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fp = winnowing_fingerprints(docs, "doc_id", "text", k=8, w=4, max_chars=500)
    return fp.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("h40").alias("sum_h40"),
        F.sum("fp_pos").cast("long").alias("sum_pos"),
        F.min("fp_pos").cast("long").alias("first_pos"),
    )


SQL_WINNOWING = f"""
WITH base AS (
  SELECT doc_id, substr({_sql_norm('text')}, 1, 500) AS t FROM documents),
grams AS (
  SELECT doc_id, i AS pos,
         ({_sql_hex48("substr(t, CAST(i AS INT), 8)")}) % {1 << 40} AS h40
  FROM base, unnest(range(1, len(t) - 6)) AS u(i)
  WHERE len(t) >= 8),
keyed AS (
  SELECT doc_id, pos, h40 * {1 << 16} + ({(1 << 16) - 1} - pos) AS ck FROM grams),
sel AS (
  SELECT DISTINCT doc_id,
         min(ck) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s
  FROM keyed QUALIFY pos >= 4),
fp AS (
  SELECT doc_id, {(1 << 16) - 1} - (s % {1 << 16}) AS fp_pos, s // {1 << 16} AS h40 FROM sel)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, CAST(sum(h40) AS BIGINT) AS sum_h40,
       CAST(sum(fp_pos) AS BIGINT) AS sum_pos, CAST(min(fp_pos) AS BIGINT) AS first_pos
FROM fp GROUP BY doc_id
"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (analytics.py::last_touch_attribution):
    purchase value credited to the user's most recent prior non-purchase
    event within 7 days, 'direct' otherwise; rolled up per channel.  One
    user-keyed window — no per-conversion join."""
    from mcpvectordb_spark.operators.analytics import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    conv = last_touch_attribution(ev, "purchase")
    return conv.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.round(F.sum("v"), 2).alias("attributed_value"),
    )


SQL_EVENTS_ATTRIBUTION = """
WITH base AS (
  SELECT user_id AS u, event_id AS eid,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
         event_type AS etype, value AS v
  FROM events),
touched AS (
  SELECT u, eid, t, etype, v,
    last_value(CASE WHEN etype <> 'purchase' THEN etype END IGNORE NULLS)
      OVER prior AS touch_type,
    last_value(CASE WHEN etype <> 'purchase' THEN t END IGNORE NULLS)
      OVER prior AS touch_t
  FROM base
  WINDOW prior AS (PARTITION BY u ORDER BY t, eid ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT CASE WHEN touch_type IS NOT NULL AND t - touch_t <= 604800
            THEN touch_type ELSE 'direct' END AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       round(sum(v), 2) AS attributed_value
FROM touched WHERE etype = 'purchase'
GROUP BY 1
"""


def q_events_attribution_ushaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based 40-20-40 attribution (analytics.py::
    ushaped_attribution): purchase value split 40% first touch / 40%
    last touch / 20% across the middle of the 7-day journey, rolled up
    per channel — the multi-touch middle ground between last-touch
    (events_attribution) and Markov removal effects
    (events_attribution_markov), completing the attribution family.
    One user-keyed join with the window predicate inside it (touchless
    conversions keep their NULL row -> 'direct') and one per-conversion
    rank window; credits are a codegen CASE.  The oracle replays the
    join, ranks and weights."""
    from mcpvectordb_spark.operators.analytics import ushaped_attribution

    ev = load_table(spark, sf_dir, "events")
    credits = ushaped_attribution(ev, "purchase", window_days=7)
    return credits.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.countDistinct("ceid").alias("n_conversions"),
        F.round(F.sum("credit"), 4).alias("total_credit"),
        F.round(F.sum("credited_value"), 2).alias("attributed_value"),
    )


SQL_EVENTS_ATTRIBUTION_USHAPED = """
WITH base AS (
  SELECT user_id AS u, event_id AS eid,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
         event_type AS etype, value AS v
  FROM events),
conv AS (
  SELECT u, eid AS ceid, t AS ct, v FROM base WHERE etype = 'purchase'),
touch AS (
  SELECT u, eid AS teid, t AS tt, etype AS channel
  FROM base WHERE etype <> 'purchase'),
j AS (
  SELECT c.u, c.ceid, c.v,
         t.teid, t.tt, t.channel
  FROM conv c LEFT JOIN touch t
    ON t.u = c.u AND t.tt < c.ct AND c.ct - t.tt <= 604800),
ranked AS (
  SELECT u, ceid, v,
         COALESCE(channel, 'direct') AS channel,
         CASE WHEN teid IS NOT NULL THEN
           row_number() OVER (PARTITION BY u, ceid ORDER BY tt ASC, teid ASC)
         END AS rk,
         CASE WHEN teid IS NOT NULL THEN
           count(*) OVER (PARTITION BY u, ceid)
         END AS nt
  FROM j),
credited AS (
  SELECT u, ceid, channel,
         CAST(COALESCE(nt, 0) AS BIGINT) AS n_touches,
         CASE WHEN rk IS NULL THEN 1.0
              WHEN nt = 1 THEN 1.0
              WHEN nt = 2 THEN 0.5
              WHEN rk = 1 OR rk = nt THEN 0.4
              ELSE 0.2 / (CAST(nt AS DOUBLE) - 2) END AS credit,
         CASE WHEN rk IS NULL THEN 1.0
              WHEN nt = 1 THEN 1.0
              WHEN nt = 2 THEN 0.5
              WHEN rk = 1 OR rk = nt THEN 0.4
              ELSE 0.2 / (CAST(nt AS DOUBLE) - 2) END * v AS credited_value
  FROM ranked)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_credits,
       CAST(count(DISTINCT ceid) AS BIGINT) AS n_conversions,
       round(sum(credit), 4) AS total_credit,
       round(sum(credited_value), 2) AS attributed_value
FROM credited GROUP BY 1
"""


def q_events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted periodogram: spectral power of the hourly volume series
    at candidate periods (6h, 12h, 24h, 168h) per event type — the
    frequency-domain twin of events_acf, computed as the DIRECT DFT
    projection (A = sum y~ cos(wt), B = sum y~ sin(wt), power =
    (A^2+B^2)/n) rather than an FFT: candidate periods are known, the
    projections are MAP-ONLY trig products + one agg per (type, period),
    and there is no sequential dependency at all — embarrassingly
    parallel at any scale.  Mean-centering uses the exact integer sums
    (A = sum y cos - ybar sum cos).  Flags each type's dominant period
    by power (deterministic (power desc, period asc) tie-break)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600)).cast("long").alias("t"),
    ).agg(F.count(F.lit(1)).alias("y"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("t0", "t1")).alias("t")
    )
    dense = grid.join(hourly, ["event_type", "t"], "left").select(
        "event_type", "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    per = dense.select(
        "event_type",
        "t",
        "y",
        F.explode(F.array(F.lit(6), F.lit(12), F.lit(24), F.lit(168))).alias(
            "period"
        ),
    ).select(
        "event_type",
        "period",
        "y",
        (
            F.lit(2.0) * F.lit(math.pi) * F.col("t").cast("double")
            / F.col("period")
        ).alias("w"),
    )
    agg = per.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.cos("w")).alias("syc"),
        F.sum(F.col("y") * F.sin("w")).alias("sys"),
        F.sum(F.cos("w")).alias("sc"),
        F.sum(F.sin("w")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("sy").cast("double") / nd
    a = F.col("syc") - ybar * F.col("sc")
    b = F.col("sys") - ybar * F.col("ss")
    power = (a * a + b * b) / nd
    scored = agg.select(
        "event_type", "period", "n", power.alias("p_raw")
    )
    # dominant-flag key on the 6dp-ROUNDED power: the DFT projections are
    # cross-row trig sums (round-7 ranked-cut discipline)
    wd = Window.partitionBy("event_type").orderBy(
        F.round(F.col("p_raw"), 6).desc(), F.col("period").asc()
    )
    return scored.select(
        "event_type",
        "period",
        "n",
        F.round("p_raw", 6).alias("power"),
        (F.row_number().over(wd) == 1).alias("dominant"),
    )


SQL_EVENTS_PERIODOGRAM = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT event_type, min(t) AS t0, max(t) AS t1 FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(range(t0, t1 + 1)) AS t FROM bounds),
dense AS (
  SELECT g.event_type, g.t, COALESCE(h.y, 0) AS y
  FROM grid g LEFT JOIN hourly h ON h.event_type = g.event_type AND h.t = g.t),
per AS (
  SELECT event_type, period, y,
         2.0 * pi() * CAST(t AS DOUBLE) / period AS w
  FROM dense CROSS JOIN (SELECT unnest([6, 12, 24, 168]) AS period) p),
agg AS (
  SELECT event_type, CAST(period AS INTEGER) AS period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(y * cos(w)) AS syc, sum(y * sin(w)) AS sys,
         sum(cos(w)) AS sc, sum(sin(w)) AS ss
  FROM per GROUP BY 1, 2),
scored AS (
  SELECT event_type, period, n,
         ((syc - (CAST(sy AS DOUBLE) / n) * sc)
            * (syc - (CAST(sy AS DOUBLE) / n) * sc)
          + (sys - (CAST(sy AS DOUBLE) / n) * ss)
            * (sys - (CAST(sy AS DOUBLE) / n) * ss)) / CAST(n AS DOUBLE)
           AS p_raw
  FROM agg)
SELECT event_type, period, n, round(p_raw, 6) AS power,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY round(p_raw, 6) DESC, period ASC) = 1 AS dominant
FROM scored
"""


def q_events_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test (stats.py::
    ks_two_sample) of purchase vs view VALUE distributions in cents —
    the shape-sensitive nonparametric twin of events_mannwhitney
    (location): KS catches variance/shape drift a rank-sum test cannot.
    D is a max over value-block CDF gaps — exact integer ratios, one
    window over distinct cents, no raw-row sort — with the Smirnov 5%
    bound on lambda = D*sqrt(nm/(n+m)).  The oracle replays the block
    CDFs and the (diff desc, value asc) argmax."""
    from mcpvectordb_spark.operators.stats import ks_two_sample

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return ks_two_sample(obs, "event_type", "cents", "purchase", "view")


SQL_EVENTS_KS = """
WITH obs AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'view')),
blocks AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM obs GROUP BY 1),
cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
  FROM blocks),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM blocks),
d AS (
  SELECT v, na, nb,
         abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb) AS diff
  FROM cum CROSS JOIN tot),
best AS (
  SELECT *, row_number() OVER (ORDER BY diff DESC, v ASC) AS rk FROM d
  QUALIFY rk = 1)
SELECT na AS n_a, nb AS n_b,
       round(diff, 6) AS d,
       v AS d_at_value,
       round(diff * sqrt(CAST(na AS DOUBLE) * nb / CAST(na + nb AS DOUBLE)), 6) AS lam,
       diff * sqrt(CAST(na AS DOUBLE) * nb / CAST(na + nb AS DOUBLE)) > 1.358 AS reject_95
FROM best
"""


def q_customers_eb_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage (stats.py::eb_shrink_rates) of
    per-customer fulfilled-order ('F') rates under a beta-binomial
    prior — the batting-average fix for "this customer is 100% because
    they ordered once": a method-of-moments Beta prior fits on
    customers with >= 5 orders (binomial noise would otherwise inflate
    the ensemble variance and collapse the prior) and every customer's
    rate pulls toward the prior mean in proportion to evidence.  Output
    pins the 20 most-shrunk customers (|raw - eb| desc, key asc) so the
    gate checks exactly the rows shrinkage exists for.  One moment agg,
    one broadcast prior row, codegen shrinkage."""
    from mcpvectordb_spark.operators.stats import eb_shrink_rates

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("k"),
    )
    out = eb_shrink_rates(counts, "cust", "n", "k", min_n=5)
    w = Window.orderBy(
        F.abs(F.col("raw_rate") - F.col("eb_rate")).desc(), F.col("cust").asc()
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            F.col("cust").alias("o_custkey"),
            "n",
            "k",
            "raw_rate",
            "alpha",
            "beta",
            "eb_rate",
            F.col("rk").cast("long").alias("rk"),
        )
    )


SQL_CUSTOMERS_EB_RATES = """
WITH counts AS (
  SELECT o_custkey AS cust, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM orders GROUP BY 1),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS c,
         sum(CAST(k AS DOUBLE) / n) AS sp,
         sum((CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n)) AS spp
  FROM counts WHERE n >= 5),
prior AS (
  SELECT CASE WHEN v > 0 AND scale > 0 THEN m * scale END AS alpha,
         CASE WHEN v > 0 AND scale > 0 THEN (1.0 - m) * scale END AS beta
  FROM (
    SELECT m, v, m * (1.0 - m) / v - 1.0 AS scale
    FROM (
      SELECT sp / CAST(c AS DOUBLE) AS m,
             spp / CAST(c AS DOUBLE)
               - (sp / CAST(c AS DOUBLE)) * (sp / CAST(c AS DOUBLE)) AS v
      FROM mom))),
shrunk AS (
  SELECT cust, n, k,
         round(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
         round(alpha, 6) AS alpha, round(beta, 6) AS beta,
         round((k + alpha) / (n + alpha + beta), 6) AS eb_rate
  FROM counts CROSS JOIN prior)
SELECT cust AS o_custkey, n, k, raw_rate, alpha, beta, eb_rate,
       CAST(row_number() OVER (ORDER BY abs(raw_rate - eb_rate) DESC, cust ASC)
            AS BIGINT) AS rk
FROM shrunk
QUALIFY rk <= 20
"""


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the co-purchase graph (graph.py::
    triangle_count — degree-ordered orientation, O(m^1.5) wedge fanout):
    edges = part pairs co-ordered in >= 2 orders.  The oracle counts the
    same triangles with the naive a<b<c 3-way join, so the gate proves the
    oriented algorithm exact."""
    from mcpvectordb_spark.operators.graph import triangle_count

    edges = _copurchase_pairs(spark, sf_dir).select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    )
    return triangle_count(edges)


SQL_COPURCHASE_TRIANGLES = """
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT a.p AS a, b.p AS b
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY node)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
"""


def _shared_w2v(spark: SparkSession, sf_dir: str, dim: int) -> DataFrame:
    """The trained (term, tid, vector) table over the documents, vectors
    quantized to 6 dp — the persisted artifact of a real pipeline (same
    steady-state pattern as the IVF index and the decontamination bloom):
    repeat queries only pay the embed + search."""
    from mcpvectordb_spark.operators.w2v import train_word_vectors

    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        wv = train_word_vectors(docs, "doc_id", "text", dim=dim, vocab_size=300, window=2)
        return wv.select(
            "term", "tid", F.transform("vector", lambda x: F.round(x, 6)).alias("vector")
        ).localCheckpoint(eager=True)

    return _session_artifact(spark, sf_dir, f"w2v_vectors_{dim}", build)


def q_w2v_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED word embeddings end-to-end (operators/w2v.py — SGNS as
    SPPMI-matrix factorization, Levy & Goldberg 2014): distributed vocab +
    co-occurrence counts, vocab-bounded driver SVD, distributed mean-pool
    doc embedding, then cosine top-10 for a fixed probe doc.  The learned
    vectors carry real distributional semantics (unlike the seeded
    MiniTransformer).  SVD is not SQL-expressible -> golden-digest gate;
    word vectors are quantized to 6 dp before embedding so sub-ulp LAPACK
    drift cannot reach the digest."""
    from mcpvectordb_spark.operators.w2v import embed_documents_df

    dim = 32
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wq = _shared_w2v(spark, sf_dir, dim)
    emb = embed_documents_df(docs, "doc_id", "text", wq, dim)
    probe = emb.filter(F.col("id") == 0).first()
    qv = [float(x) for x in probe["embedding"]]
    hits = knn_topk(emb.filter(F.col("id") != 0), qv, 10, tie_col="id")
    return _digest_gate(
        hits.select(F.col("id").cast("long"), F.round("score", 3).alias("score"))
    )


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-recording audio dedup via spectral-peak constellation
    fingerprints (sources/audiofp.py — the Shazam landmark family): 30
    tone clips synthesized from doc heads, every 3rd clip also planted as
    a TIME-SHIFTED (9 frames of leading silence) HALF-AMPLITUDE copy.
    Landmarks are hashed (f1,f2,dt) peak pairs; matching is an inverted-
    index self-join with offset voting, so the planted copies must match
    their originals at dt=9 despite shift and gain.  FFT kernels are not
    SQL-expressible -> golden-digest gate."""
    from pyspark.sql import types as T

    from mcpvectordb_spark.sources.audiofp import audio_landmarks, match_clips

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").orderBy("doc_id").limit(30)
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        import math
        import struct

        import pandas as pd

        from mcpvectordb_spark.asr import BASE_HZ, CHARSET, GAP_S, RATE, STEP_HZ, TONE_S, renderable

        def tone_pcm(text):
            samples = []
            for ch in renderable(text):
                if ch not in CHARSET:
                    continue
                f = BASE_HZ + CHARSET.index(ch) * STEP_HZ
                samples += [
                    int(12000 * math.sin(2 * math.pi * f * i / RATE))
                    for i in range(int(RATE * TONE_S))
                ]
                samples += [0] * int(RATE * GAP_S)
            return samples

        def wav(samples):
            pcm = struct.pack("<%dh" % len(samples), *samples)
            return (
                b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE" + b"fmt "
                + struct.pack("<IHHIIHH", 16, 1, 1, RATE, RATE * 2, 2, 16)
                + b"data" + struct.pack("<I", len(pcm)) + pcm
            )

        for pdf in batches:
            rows = []
            for rec in pdf.to_dict(orient="records"):
                d = int(rec["doc_id"])
                pcm = tone_pcm((rec["text"] or "")[:12])
                if not pcm:
                    continue
                rows.append((f"clip{d}", wav(pcm)))
                if d % 3 == 0:
                    # 9 hop-lengths (128) of silence + half amplitude
                    shifted = [0] * (9 * 128) + [s // 2 for s in pcm]
                    rows.append((f"copy{d}", wav(shifted)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(synth, schema=schema)
    lm = audio_landmarks(media)
    # score >= 0.8: true copies concentrate ~100% of their landmarks in one
    # dt bin; merely-similar tone clips (shared words) top out ~0.65
    matches = match_clips(lm, min_votes=5, min_score=0.8)
    # best offset per pair (votes desc, dt tiebreak), originals vs copies only
    from pyspark.sql import Window as W

    best = (
        matches.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("id_a", "id_b").orderBy(F.col("votes").desc(), F.col("dt").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return _digest_gate(
        best.select("id_a", "id_b", "dt", "votes", F.round("score", 4).alias("score"))
    )


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over hash-assigned variants (operators/
    stats.py::ab_test_ztest): converts = users with >= 3 purchases (the
    synthetic stream gives nearly every user one purchase, which would
    degenerate the pooled variance); the portable-md5 assignment lets the
    oracle replay the split exactly.  Two keyed aggs, one-row output."""
    from mcpvectordb_spark.operators.stats import ab_test_ztest

    ev = load_table(spark, sf_dir, "events")
    out = ab_test_ztest(ev, "purchase", min_conversions=3)
    return out.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round("rate_a", 6).alias("rate_a"),
        F.round("rate_b", 6).alias("rate_b"),
        F.round("z", 6).alias("z"),
    )


SQL_EVENTS_AB_TEST = f"""
WITH users AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 3 AS INT) AS converted
  FROM events GROUP BY user_id),
assigned AS (
  SELECT u, converted, ({_sql_hex48("'ab:' || CAST(u AS VARCHAR)")}) % 2 AS variant FROM users),
per AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS x
  FROM assigned GROUP BY variant),
a AS (SELECT n AS n_a, x AS x_a FROM per WHERE variant = 0),
b AS (SELECT n AS n_b, x AS x_b FROM per WHERE variant = 1)
SELECT n_a, x_a, n_b, x_b,
       round(CAST(x_a AS DOUBLE)/n_a, 6) AS rate_a,
       round(CAST(x_b AS DOUBLE)/n_b, 6) AS rate_b,
       round(CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN 0.0
             ELSE (CAST(x_a AS DOUBLE)/n_a - CAST(x_b AS DOUBLE)/n_b)
             / sqrt((CAST(x_a + x_b AS DOUBLE)/(n_a + n_b)) * (1 - CAST(x_a + x_b AS DOUBLE)/(n_a + n_b))
                    * (1.0/n_a + 1.0/n_b)) END, 6) AS z
FROM a, b
"""


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers by modified z-score (median/MAD, Iglewicz-Hoaglin;
    operators/stats.py::mad_outliers) per event_type.  The score is
    epsilon-quantized (same rationale as events_gapfill: exact-centesimal
    inputs make rational scores that land on round() boundaries)."""
    from mcpvectordb_spark.operators.stats import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    out = mad_outliers(ev, "event_type", "value", threshold=3.5)
    return out.select(
        "event_id", "event_type", "value",
        F.floor(F.col("score") * 10000 + 0.5001).cast("long").alias("score_e4"),
    )


SQL_EVENTS_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type AS k, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
ad AS (
  SELECT e.event_id, e.event_type, e.value, m.med, abs(e.value - m.med) AS _ad
  FROM events e JOIN med m ON e.event_type = m.k),
mad AS (
  SELECT event_type AS k2, quantile_cont(_ad, 0.5) AS mad FROM ad GROUP BY 1),
scored AS (
  SELECT a.event_id, a.event_type, a.value,
         CASE WHEN m.mad > 0 THEN 0.6745 * a._ad / m.mad ELSE 0.0 END AS score
  FROM ad a JOIN mad m ON a.event_type = m.k2)
SELECT event_id, event_type, value,
       CAST(floor(score * 10000 + 0.5001) AS BIGINT) AS score_e4
FROM scored WHERE score >= 3.5
"""


def q_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning (operators/encoding.py::woe_binning):
    n_chars deciled by ntile (doc_id tiebreak), per-bin WOE + IV vs the
    is-English label — the credit-scoring feature prep, oracle-replayed
    bin edges and all."""
    from mcpvectordb_spark.operators.encoding import woe_binning

    docs = load_table(spark, sf_dir, "documents")
    out = woe_binning(
        docs, F.col("n_chars"), F.col("lang") == "en", n_bins=10, tiebreak=F.col("doc_id")
    )
    return out.select(
        "bin", "n", "n_pos", F.round("woe", 6).alias("woe"), F.round("iv", 6).alias("iv")
    )


SQL_WOE_BINNING = """
WITH binned AS (
  SELECT CAST(lang = 'en' AS INT) AS y,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
  FROM documents),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
  FROM binned GROUP BY bin),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _N, CAST(sum(n_pos) AS DOUBLE) AS _P FROM per)
SELECT bin, n, n_pos,
       round(ln(((n_pos + 0.5) / _P) / ((n - n_pos + 0.5) / (_N - _P))), 6) AS woe,
       round((((n_pos + 0.5) / _P) - ((n - n_pos + 0.5) / (_N - _P)))
             * ln(((n_pos + 0.5) / _P) / ((n - n_pos + 0.5) / (_N - _P))), 6) AS iv
FROM per, tot
"""


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with smoothing (operators/encoding.py
    ::target_encode_loo): source category -> is-English rate, the row's
    own label excluded (the target-leakage guard a training pipeline
    needs).  One category-keyed window."""
    from mcpvectordb_spark.operators.encoding import target_encode_loo

    docs = load_table(spark, sf_dir, "documents")
    out = target_encode_loo(docs, F.col("source"), F.col("lang") == "en", smoothing=10.0)
    return out.select("doc_id", "source", F.round("target_enc", 6).alias("target_enc"))


SQL_TARGET_ENCODING = """
WITH prior AS (SELECT avg(CAST(lang = 'en' AS DOUBLE)) AS _prior FROM documents)
SELECT doc_id, source,
       round((sum(CAST(lang = 'en' AS DOUBLE)) OVER (PARTITION BY source)
              - CAST(lang = 'en' AS DOUBLE) + 10.0 * _prior)
             / (count(*) OVER (PARTITION BY source) - 1 + 10.0), 6) AS target_enc
FROM documents, prior
"""


def q_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card-number scrubbing (operators/curation.py::
    scrub_cards): each doc gets a planted VALID card (payload digits from
    md5, check digit computed in-plan) and an INVALID twin (check+1); the
    scrubber must flag 2 candidates, validate exactly 1, and replace only
    the valid one.  The oracle replays the same digit arithmetic, regex
    and replacement in DuckDB — proving the Luhn kernel engine-portable."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 60)
    h = F.md5(F.concat(F.lit("card:"), F.col("doc_id").cast("string")))
    payload = F.transform(
        F.sequence(F.lit(1), F.lit(15)),
        lambda i: F.conv(h.substr(i, F.lit(1)), 16, 10).cast("int") % 10,
    )
    contrib = F.aggregate(
        F.zip_with(
            payload,
            F.sequence(F.lit(1), F.lit(15)),
            lambda d, i: F.when(
                i % 2 == 1, F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
            ).otherwise(d),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    check = (10 - contrib % 10) % 10
    digits = F.concat_ws("", F.transform(payload, lambda d: d.cast("string")))
    valid_card = F.concat(digits, check.cast("string"))
    bad_card = F.concat(digits, ((check + 1) % 10).cast("string"))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("pay "), valid_card, F.lit(" ref "), bad_card, F.lit(" end")
        ).alias("text"),
    )
    out = cu.scrub_cards(planted, "text")
    return out.select(
        "doc_id", "n_card_candidates", "n_cards_valid",
        F.md5("card_clean_text").alias("clean_md5"),
    )


SQL_PII_LUHN = f"""
WITH base AS (
  SELECT doc_id, md5('card:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE doc_id < 60),
built AS (
  SELECT doc_id,
         list_transform(range(1, 16),
                        i -> (strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1) % 10) AS p
  FROM base),
cards AS (
  SELECT doc_id,
         array_to_string(list_transform(p, d -> CAST(d AS VARCHAR)), '') AS digits,
         (10 - list_sum(list_transform(range(1, 16), i ->
            CASE WHEN i % 2 = 1
                 THEN CASE WHEN p[CAST(i AS INT)]*2 > 9 THEN p[CAST(i AS INT)]*2 - 9 ELSE p[CAST(i AS INT)]*2 END
                 ELSE p[CAST(i AS INT)] END)) % 10) % 10 AS chk
  FROM built),
texts AS (
  SELECT doc_id,
         'pay ' || digits || CAST(chk AS VARCHAR) || ' ref ' || digits || CAST((chk + 1) % 10 AS VARCHAR) || ' end' AS text
  FROM cards),
scanned AS (
  SELECT doc_id, text, regexp_extract_all(text, '\\b[0-9]{{16}}\\b') AS cands FROM texts),
validated AS (
  SELECT doc_id, text, cands,
         list_filter(cands, c ->
           list_sum(list_transform(range(1, 17), i ->
             CASE WHEN (16 - i) % 2 = 1
                  THEN CASE WHEN (strpos('0123456789', substr(c, CAST(i AS INT), 1)) - 1)*2 > 9
                            THEN (strpos('0123456789', substr(c, CAST(i AS INT), 1)) - 1)*2 - 9
                            ELSE (strpos('0123456789', substr(c, CAST(i AS INT), 1)) - 1)*2 END
                  ELSE strpos('0123456789', substr(c, CAST(i AS INT), 1)) - 1 END)) % 10 = 0) AS valid
  FROM scanned)
SELECT doc_id,
       CAST(len(cands) AS BIGINT) AS n_card_candidates,
       CAST(len(valid) AS BIGINT) AS n_cards_valid,
       md5(list_reduce(list_prepend(text, valid), (acc, c) -> replace(acc, c, '<CARD>'))) AS clean_md5
FROM validated
"""


def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution (operators/entity.py): customers
    get portable-md5 pseudo-names (the raw c_name values are sequential
    'Customer#...' strings one digit apart — everything would fuzzy-match
    everything); every 10th customer is planted again with one character
    edited PAST the blocking prefix.  Match = same (nation, 4-char
    prefix) block + Levenshtein <= 1.  The oracle replays name synthesis,
    blocking and edit distance in DuckDB."""
    from mcpvectordb_spark.operators.entity import entity_match_blocked

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    h = F.md5(F.concat(F.lit("name:"), F.col("c_custkey").cast("string")))
    syl = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(4)),
            lambda j: F.concat(
                F.substring(F.lit("bdklmnrs"), (F.conv(h.substr(j * 2 + 1, F.lit(1)), 16, 10).cast("int") % 8) + 1, 1),
                F.substring(F.lit("aeio"), (F.conv(h.substr(j * 2 + 2, F.lit(1)), 16, 10).cast("int") % 4) + 1, 1),
            ),
        ),
    )
    base = cust.select(F.col("c_custkey").alias("id"), "c_nationkey", syl.alias("name"))
    planted = base.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 1000000).alias("id"),
        "c_nationkey",
        F.concat(F.substring("name", 1, 5), F.lit("x"), F.substring("name", 7, 10)).alias("name"),
    )
    ents = base.unionByName(planted)
    out = entity_match_blocked(ents, "id", "name", ["c_nationkey"], prefix_len=4, max_edit=1)
    return out


SQL_ENTITY_MATCH = """
WITH base AS (
  SELECT c_custkey AS id, c_nationkey,
         array_to_string(list_transform(range(0, 5), j ->
           substr('bdklmnrs', ((strpos('0123456789abcdef', substr(md5('name:' || CAST(c_custkey AS VARCHAR)), CAST(j*2+1 AS INT), 1)) - 1) % 8) + 1, 1) ||
           substr('aeio', ((strpos('0123456789abcdef', substr(md5('name:' || CAST(c_custkey AS VARCHAR)), CAST(j*2+2 AS INT), 1)) - 1) % 4) + 1, 1)), '') AS name
  FROM customer),
planted AS (
  SELECT id + 1000000 AS id, c_nationkey,
         substr(name, 1, 5) || 'x' || substr(name, 7, 10) AS name
  FROM base WHERE id % 10 = 0),
ents AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
keyed AS (
  SELECT id, name,
         CAST(c_nationkey AS VARCHAR) || chr(31) || substr(name, 1, 4) AS _blk
  FROM ents)
SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit
FROM keyed a JOIN keyed b ON a._blk = b._blk AND a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1
"""


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (curation.py::
    temperature_weights_bp, alpha=0.5 — the mT5 rare-domain upsampler)
    over per-source whitespace token mass, then integer keep-rates under
    a 100k-token budget (the mixture_rates arithmetic)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", ts.ws_token_count(F.col("text")).alias("n_tok"))
    w = cu.temperature_weights_bp(toks, "source", "n_tok", alpha=0.5)
    budget = 100_000
    return (
        w.withColumn(
            "target_tokens", F.expr(f"weight_bp * CAST({budget} AS BIGINT) div 10000")
        )
        .withColumn(
            "rate_bp",
            F.when(
                F.col("avail_tokens") > 0,
                F.least(
                    F.lit(10000).cast("long"),
                    F.expr("target_tokens * 10000 div avail_tokens"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .select("domain", "avail_tokens", "weight_bp", "target_tokens", "rate_bp")
    )


SQL_MIXTURE_TEMPERATURE = f"""
WITH toks AS (
  SELECT source AS domain,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok
  FROM documents),
avail AS (SELECT domain, CAST(sum(n_tok) AS BIGINT) AS avail_tokens FROM toks GROUP BY domain),
tot AS (SELECT CAST(sum(avail_tokens) AS DOUBLE) AS _T FROM avail),
powed AS (SELECT domain, avail_tokens, pow(avail_tokens / _T, 0.5) AS _p FROM avail, tot),
z AS (SELECT sum(_p) AS _Z FROM powed),
w AS (SELECT domain, avail_tokens,
             CAST(floor(10000.0 * _p / _Z + 1e-9) AS BIGINT) AS weight_bp FROM powed, z)
SELECT domain, avail_tokens, weight_bp,
       weight_bp * CAST(100000 AS BIGINT) // 10000 AS target_tokens,
       CASE WHEN avail_tokens > 0
            THEN least(CAST(10000 AS BIGINT), (weight_bp * CAST(100000 AS BIGINT) // 10000) * 10000 // avail_tokens)
            ELSE CAST(0 AS BIGINT) END AS rate_bp
FROM w
"""


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-scan data-quality report (operators/dataquality.py)
    over lineitem — completeness, uniqueness, ranges, membership — plus a
    referential check against orders.  All single-table rules fuse into
    ONE aggregation; the oracle replays every rule."""
    from mcpvectordb_spark.operators.dataquality import dq_referential, dq_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rep = dq_report(
        li,
        completeness=["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"],
        unique=["l_rowkey"] if "l_rowkey" in li.columns else [],
        ranges={"l_quantity": (1, 50), "l_discount": (0.0, 0.1), "l_tax": (0.0, 0.08)},
        memberships={"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]},
    )
    ref = dq_referential(li, "l_orderkey", orders, "o_orderkey")
    return rep.unionByName(ref)


SQL_DQ_AUDIT = """
WITH agg AS (
  SELECT
    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
    CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pk,
    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_q,
    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_sd,
    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS rng_q,
    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS rng_d,
    CAST(sum(CASE WHEN l_tax < 0.0 OR l_tax > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS rng_t,
    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS mem_rf,
    CAST(sum(CASE WHEN l_linestatus NOT IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS mem_ls
  FROM lineitem),
refr AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL)
SELECT * FROM (
  SELECT 'completeness' AS constraint, 'l_orderkey' AS "column", null_ok AS value, null_ok = 0 AS ok FROM agg
  UNION ALL SELECT 'completeness', 'l_partkey', null_pk, null_pk = 0 FROM agg
  UNION ALL SELECT 'completeness', 'l_quantity', null_q, null_q = 0 FROM agg
  UNION ALL SELECT 'completeness', 'l_shipdate', null_sd, null_sd = 0 FROM agg
  UNION ALL SELECT 'range', 'l_quantity', rng_q, rng_q = 0 FROM agg
  UNION ALL SELECT 'range', 'l_discount', rng_d, rng_d = 0 FROM agg
  UNION ALL SELECT 'range', 'l_tax', rng_t, rng_t = 0 FROM agg
  UNION ALL SELECT 'membership', 'l_returnflag', mem_rf, mem_rf = 0 FROM agg
  UNION ALL SELECT 'membership', 'l_linestatus', mem_ls, mem_ls = 0 FROM agg
  UNION ALL SELECT 'referential', 'l_orderkey', orphans, orphans = 0 FROM refr)
"""


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over hourly event volume per type:
    one-sided cumulative sums of standardized deviations from the global
    per-type mean, flagging hours where the statistic exceeds the decision
    interval h=5 with slack k=0.5 (the textbook Page 1954 chart).  CUSUM's
    recursion S_t = max(0, S_{t-1} + z_t - k) is realized exactly with the
    running-max identity S_t = R_t - min_{i<=t} R_i over the UNCLAMPED sum
    R_t = sum(z_i - k) — pure window functions, no recursion, same shape
    in Spark and the oracle."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            ((F.unix_timestamp("ts") / 3600).cast("bigint") * 3600).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("n").alias("mu"),
        F.sqrt(F.greatest(F.avg(F.col("n") * F.col("n")) - F.avg("n") * F.avg("n"), F.lit(0.0))).alias("sd"),
    )
    z = hourly.join(
        F.broadcast(stats), F.col("event_type") == F.col("et")
    ).withColumn("zk", (F.col("n") - F.col("mu")) / F.greatest(F.col("sd"), F.lit(1e-12)) - 0.5)
    w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = z.withColumn("rsum", F.sum("zk").over(w))
    cus = r.withColumn(
        "cusum", F.col("rsum") - F.least(F.min("rsum").over(w), F.lit(0.0))
    )
    # ranked-cut discipline (r8 rankkey_report): the running sum's
    # accumulation strategy may differ cross-engine (sequential fold vs
    # segment tree), so the h=5 decision cut compares the 9dp-rounded
    # statistic on both sides; the value readout already carries the
    # +0.5001 floor guard-band
    return cus.filter(F.round(F.col("cusum"), 9) >= 5.0).select(
        "event_type",
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("cusum") * 10000 + 0.5001).cast("long").alias("cusum_e4"),
    )


SQL_EVENTS_CUSUM = """
WITH hourly AS (
  SELECT event_type,
         (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS bucket,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type AS et, avg(n) AS mu,
         sqrt(greatest(avg(n*n) - avg(n)*avg(n), 0)) AS sd
  FROM hourly GROUP BY 1),
z AS (
  SELECT h.event_type, h.bucket, h.n,
         (h.n - s.mu) / greatest(s.sd, 1e-12) - 0.5 AS zk
  FROM hourly h JOIN stats s ON h.event_type = s.et),
r AS (
  SELECT event_type, bucket, n, sum(zk) OVER w AS rsum
  FROM z
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (
  SELECT event_type, bucket, n, rsum,
         least(min(rsum) OVER w2, 0.0) AS minr
  FROM r
  WINDOW w2 AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
       CAST(floor((rsum - minr) * 10000 + 0.5001) AS BIGINT) AS cusum_e4
FROM c WHERE round(rsum - minr, 9) >= 5.0
"""


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (the classic fraud/data-
    quality screen): observed share per leading digit vs log10(1+1/d)
    expectation, plus the chi-square statistic replicated per row.  One
    keyed agg."""
    orders = load_table(spark, sf_dir, "orders")
    d1 = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    per = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(d1.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.agg(F.sum("n").cast("double").alias("_N"))
    j = per.crossJoin(F.broadcast(tot))
    expected = F.log10(1 + 1 / F.col("digit"))
    share = F.col("n") / F.col("_N")
    chi = (share - expected) * (share - expected) / expected * F.col("_N")
    return j.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford"),
        F.round(chi, 4).alias("chi2_term"),
    )


SQL_ORDERS_BENFORD = """
WITH per AS (
  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _N FROM per)
SELECT digit, n,
       round(n / _N, 6) AS share,
       round(log10(1 + 1.0/digit), 6) AS benford,
       round((n/_N - log10(1 + 1.0/digit)) * (n/_N - log10(1 + 1.0/digit))
             / log10(1 + 1.0/digit) * _N, 4) AS chi2_term
FROM per, tot
"""


def q_events_seqmine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped sequential-pattern mining (PrefixSpan's length-2 stage):
    support of ordered event-type pairs a -> b where b happens ANY time
    after a in the same user's stream (not just adjacently — that is
    events_paths).  Per-user candidate fanout is bounded by (events per
    user)², the per-basket bound of the assoc-rules family; support
    counts distinct users."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.col("event_type").alias("t"),
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    )
    a = base.select("user_id", F.col("t").alias("ta"), F.col("sec").alias("sa"), F.col("event_id").alias("ea"))
    b = base.select("user_id", F.col("t").alias("tb"), F.col("sec").alias("sb"), F.col("event_id").alias("eb"))
    pairs = a.join(b, "user_id").filter(
        (F.col("sb") > F.col("sa")) | ((F.col("sb") == F.col("sa")) & (F.col("eb") > F.col("ea")))
    )
    return (
        pairs.groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").cast("long").alias("support"))
        .filter(F.col("support") >= 5)
    )


SQL_EVENTS_SEQMINE = """
WITH base AS (
  SELECT user_id, event_type AS t,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_id
  FROM events)
SELECT a.t AS ta, b.t AS tb, CAST(count(DISTINCT a.user_id) AS BIGINT) AS support
FROM base a JOIN base b ON a.user_id = b.user_id
 AND (b.sec > a.sec OR (b.sec = a.sec AND b.event_id > a.event_id))
GROUP BY 1, 2 HAVING count(DISTINCT a.user_id) >= 5
"""


def q_lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric measures in ONE
    aggregation (six F.corr pairs fused into a single pass — the same
    one-scan discipline as dq_audit), long-form (col_a, col_b, corr)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    row = li.agg(
        *[F.corr(a, b).alias(f"c__{a}__{b}") for a, b in pairs]
    )
    out = None
    for a, b in pairs:
        piece = row.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.round(F.col(f"c__{a}__{b}"), 6).alias("corr"),
        )
        out = piece if out is None else out.unionByName(piece)
    return out


SQL_LINEITEM_CORR = """
WITH agg AS (
  SELECT corr(l_quantity, l_extendedprice) AS c1,
         corr(l_quantity, l_discount) AS c2,
         corr(l_quantity, l_tax) AS c3,
         corr(l_extendedprice, l_discount) AS c4,
         corr(l_extendedprice, l_tax) AS c5,
         corr(l_discount, l_tax) AS c6
  FROM lineitem)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(c1, 6) AS corr FROM agg
UNION ALL SELECT 'l_quantity', 'l_discount', round(c2, 6) FROM agg
UNION ALL SELECT 'l_quantity', 'l_tax', round(c3, 6) FROM agg
UNION ALL SELECT 'l_extendedprice', 'l_discount', round(c4, 6) FROM agg
UNION ALL SELECT 'l_extendedprice', 'l_tax', round(c5, 6) FROM agg
UNION ALL SELECT 'l_discount', 'l_tax', round(c6, 6) FROM agg
"""


def q_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly — the vectordb's actual downstream use: vector
    top-20 for the standard probe, joined to document text, greedily
    packed into a 600-token context budget in rank order (a doc ships
    only if the RUNNING token total through it stays within budget —
    cumulative-sum window, no loop).  Returns the shipped context rows
    (rank, doc, n_tokens, cum_tokens).  One window over a 20-row frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = _q_vec(spark, sf_dir)
    hits = knn_topk(
        emb.filter(F.col("vec_id") != QUERY_VEC_ID), qv, 20, tie_col="vec_id"
    ).select(F.col("vec_id").alias("doc"), "score")
    ranked = hits.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc").asc())),
    )
    with_text = ranked.join(
        docs.select(F.col("doc_id").alias("doc"), ts.ws_token_count(F.col("text")).alias("n_tokens")),
        "doc",
    )
    cum = with_text.withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        cum.filter(F.col("cum_tokens") <= 600)
        .select("rank", "doc", F.col("n_tokens").cast("long"), F.col("cum_tokens").cast("long"))
    )


SQL_RAG_CONTEXT = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> {QUERY_VEC_ID}),
hits AS (
  SELECT vec_id AS doc, {_sql_cos('v', 'qv')} AS score
  FROM c, q ORDER BY score DESC, doc LIMIT 20),
ranked AS (
  SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS rank FROM hits),
with_text AS (
  SELECT r.rank, r.doc,
         CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM ranked r JOIN documents d ON r.doc = d.doc_id),
cum AS (
  SELECT rank, doc, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM with_text)
SELECT rank, doc, n_tokens, cum_tokens FROM cum WHERE cum_tokens <= 600
"""


_EVAL_QUERIES = {
    0: "window join",
    1: "spark batch",
    2: "data model system",
    3: "result analysis",
    4: "window spark",
}


def q_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation harness over the batch BM25 scorer (operators/
    bm25.py::bm25_multi_topk — posting/df/stats build once, every query
    joins via a broadcast (qid, term) table): binary relevance = the doc
    contains ALL the query's terms; per query reports hits@10, the first
    relevant rank, and reciprocal rank.  The oracle replays scoring,
    ranking, relevance and the metrics from the same query table."""
    from mcpvectordb_spark.operators.bm25 import bm25_multi_topk

    docs = load_table(spark, sf_dir, "documents")
    # ONE session-shared posting build feeds the scorer and the judge
    idx = _shared_bm25_index(spark, sf_dir)
    # r9 note: `ranked` and `matches` each feed multiple plan branches, but
    # BOTH derive from the session-pinned posting index via broadcast joins
    # — a measured A/B (ONLY-mode, both orders) showed localCheckpoint pins
    # here cost ~15% (the extra materialization job outweighs recompute-
    # from-pinned), so the branches deliberately recompute.
    ranked = bm25_multi_topk(docs, _EVAL_QUERIES, 10, "doc_id", "text", index=idx)
    rows = []
    for qid, q in sorted(_EVAL_QUERIES.items()):
        for t in sorted({t for t in q.lower().split() if t}):
            rows.append((qid, t))
    qterms = spark.createDataFrame(rows, "qid int, term string")
    nt = qterms.groupBy("qid").agg(F.count(F.lit(1)).alias("nt"))
    matches = (
        idx.posting
        .join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc")
        .agg(F.countDistinct("term").alias("m"))
    )
    rel = matches.join(F.broadcast(nt), "qid").filter(F.col("m") == F.col("nt")).select(
        "qid", "doc", F.lit(True).alias("relevant")
    )
    judged = ranked.join(rel, ["qid", "doc"], "left").withColumn(
        "relevant", F.coalesce("relevant", F.lit(False))
    )
    # graded nDCG@10: gain = matched-term count m (0 for unjudged docs);
    # ideal DCG from the top-10 gains of the FULL judged corpus per query
    gains = ranked.join(matches, ["qid", "doc"], "left").withColumn(
        "g", F.coalesce(F.col("m"), F.lit(0)).cast("double")
    )
    dcg = gains.groupBy("qid").agg(
        F.sum(F.col("g") / F.log2(F.col("rank") + 1)).alias("dcg")
    )
    ideal_ranked = matches.withColumn(
        "irank",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("m").desc(), F.col("doc").asc())
        ),
    ).filter(F.col("irank") <= 10)
    idcg = ideal_ranked.groupBy("qid").agg(
        F.sum(F.col("m").cast("double") / F.log2(F.col("irank") + 1)).alias("idcg")
    )
    base = judged.groupBy("qid").agg(
        F.sum(F.col("relevant").cast("long")).alias("n_rel_top10"),
        F.min(F.when(F.col("relevant"), F.col("rank"))).cast("long").alias("first_rel_rank"),
        F.round(
            F.coalesce(1.0 / F.min(F.when(F.col("relevant"), F.col("rank"))), F.lit(0.0)), 6
        ).alias("rr"),
    )
    return (
        base.join(dcg, "qid")
        .join(idcg, "qid")
        .withColumn("ndcg10", F.round(F.col("dcg") / F.col("idcg"), 6))
        .drop("dcg", "idcg")
    )


def _sql_search_eval() -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, q in sorted(_EVAL_QUERIES.items())
        for t in sorted({t for t in q.lower().split() if t})
    )
    return rf"""
WITH toks AS (
  SELECT doc_id AS doc, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) AS term
  FROM documents),
posting AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY 1, 2),
lens AS (
  SELECT doc_id AS doc,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) AS BIGINT) AS dl
  FROM documents),
dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY 1),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT avg(dl) FROM lens) AS avgdl),
qterms AS (SELECT * FROM (VALUES {qvals}) AS t(qid, term)),
bm AS (
  SELECT qid, doc, sum( ln(1 + (n - df + 0.5)/(df + 0.5))
                        * tf*(1.2+1)/(tf + 1.2*(1-0.75+0.75*dl/avgdl)) ) AS score
  FROM posting JOIN qterms USING(term) JOIN dfreq USING(term) JOIN lens USING(doc), stats
  GROUP BY qid, doc),
ranked AS (
  SELECT qid, doc,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc) AS rank
  FROM bm QUALIFY rank <= 10),
nt AS (SELECT qid, count(*) AS n_terms FROM qterms GROUP BY qid),
m AS (SELECT qid, doc, count(DISTINCT term) AS mm FROM posting JOIN qterms USING(term) GROUP BY 1, 2),
rel AS (SELECT m.qid, m.doc FROM m JOIN nt USING(qid) WHERE m.mm = nt.n_terms),
judged AS (
  SELECT r.qid, r.rank, (rel.doc IS NOT NULL) AS relevant
  FROM ranked r LEFT JOIN rel ON r.qid = rel.qid AND r.doc = rel.doc),
dcg AS (
  SELECT r.qid, sum(CAST(coalesce(m.mm, 0) AS DOUBLE) / log2(r.rank + 1)) AS dcg
  FROM ranked r LEFT JOIN m ON r.qid = m.qid AND r.doc = m.doc GROUP BY r.qid),
ideal AS (
  SELECT qid, mm, row_number() OVER (PARTITION BY qid ORDER BY mm DESC, doc ASC) AS irank
  FROM m QUALIFY irank <= 10),
idcg AS (SELECT qid, sum(CAST(mm AS DOUBLE) / log2(irank + 1)) AS idcg FROM ideal GROUP BY qid),
base AS (
  SELECT qid, CAST(sum(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top10,
         CAST(min(CASE WHEN relevant THEN rank END) AS BIGINT) AS first_rel_rank,
         round(coalesce(1.0 / min(CASE WHEN relevant THEN rank END), 0.0), 6) AS rr
  FROM judged GROUP BY qid)
SELECT b.qid, b.n_rel_top10, b.first_rel_rank, b.rr,
       round(d.dcg / i.idcg, 6) AS ndcg10
FROM base b JOIN dcg d USING(qid) JOIN idcg i USING(qid)
"""


SQL_SEARCH_EVAL = _sql_search_eval()


_LR_ITER, _LR_RATE = 10, 0.5

# The trained classifier is a session artifact: five catalog queries
# (lr_quality / lr_eval / lr_reliability / lr_pr_curve / lr_isotonic)
# evaluate the SAME model — a real engine trains once per corpus and shares
# the frozen state across every metric query.
def _lr_scored(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[float]]:
    """Shared LR pipeline for lr_quality / lr_eval / lr_reliability:
    standardized features -> trained weights -> per-row (y, p, pred).
    The feature frame is checkpointed ONCE and shared by the 10 training
    scans and the scoring pass; the (scored, weights) pair is then cached
    for the session so sibling metric queries skip retraining entirely."""
    from mcpvectordb_spark.operators.mlr import (
        score_logistic,
        standardized_features,
        train_logistic_gd,
    )

    def build():
        docs = load_table(spark, sf_dir, "documents")
        t = dd.normalize_text(F.col("text"))
        words = F.split(t, " ")
        nt = F.greatest(F.length(t), F.lit(1)).cast("double")
        nw = F.greatest(F.size(words), F.lit(1)).cast("double")
        feats = standardized_features(
            docs,
            [
                F.log(F.lit(1.0) + F.length(t)),
                F.length(t) / nw,
                F.size(F.array_distinct(words)) / nw,
                F.length(F.regexp_replace(t, "[^aeiou]", "")) / nt,
            ],
            F.col("lang") == "en",
        )
        cached = feats.localCheckpoint(eager=True)
        w = train_logistic_gd(cached, 4, iterations=_LR_ITER, lr=_LR_RATE, precached=True)
        return score_logistic(cached, w), w

    return _session_artifact(spark, sf_dir, "lr_scored", build)


def q_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression quality classifier (operators/
    mlr.py): 4 z-standardized text features -> is-English label, 10
    full-batch GD iterations where each step is ONE map-side-combinable
    aggregation and the only driver state is the 5-double weight vector
    (the bounded-driver-state pattern of the BPE merge loop).  The oracle
    replays the ENTIRE optimization as chained CTEs, so the gate proves
    the distributed trainer equals a single-node replay bit-close."""
    scored, w = _lr_scored(spark, sf_dir)
    return scored.agg(
        *[F.round(F.lit(w[j]), 4).alias(f"w{j}") for j in range(5)],
        F.sum((F.col("pred") == F.col("y")).cast("long")).alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def _sql_lr_ctes() -> tuple[list[str], str]:
    """The shared LR replay: CTE list ending at trained weights w{_LR_ITER},
    plus the logit expression over (feats, w{_LR_ITER}).  Reused by
    lr_quality, lr_eval and lr_reliability so all three gates replay ONE
    optimization definition."""
    xs = ["x1", "x2", "x3", "x4"]
    feats0 = f"""
  SELECT CAST(lang = 'en' AS DOUBLE) AS y,
         ln(1 + len(t)) AS x1,
         CAST(len(t) AS DOUBLE) / greatest(len(w), 1) AS x2,
         CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1) AS x3,
         CAST(len(regexp_replace(t, '[^aeiou]', '', 'g')) AS DOUBLE) / greatest(len(t), 1) AS x4
  FROM (SELECT lang, {_sql_norm('text')} AS t, {_sql_words('text')} AS w FROM documents)"""
    stats = ", ".join(
        f"avg({x}) AS m{i}, sqrt(greatest(avg({x}*{x}) - avg({x})*avg({x}), 0)) AS s{i}"
        for i, x in enumerate(xs, 1)
    )
    std = ", ".join(f"({x} - m{i}) / greatest(s{i}, 1e-12) AS {x}" for i, x in enumerate(xs, 1))
    ctes = [
        f"feats0 AS ({feats0})",
        f"stats AS (SELECT {stats} FROM feats0)",
        f"feats AS (SELECT y, {std} FROM feats0, stats)",
        "w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3, 0.0 AS b4)",
    ]
    z = "b0 + b1*x1 + b2*x2 + b3*x3 + b4*x4"
    for it in range(1, _LR_ITER + 1):
        upd = ", ".join(
            [f"max(b0) - {_LR_RATE}*avg(e) AS b0"]
            + [f"max(b{j}) - {_LR_RATE}*avg(e*x{j}) AS b{j}" for j in range(1, 5)]
        )
        ctes.append(
            f"w{it} AS (SELECT {upd} FROM "
            f"(SELECT b0, b1, b2, b3, b4, 1.0/(1.0+exp(-({z}))) - y AS e, x1, x2, x3, x4 "
            f"FROM feats, w{it - 1}))"
        )
    return ctes, z


def _sql_lr() -> str:
    ctes, z = _sql_lr_ctes()
    final_w = ", ".join(f"round(b{j}, 4) AS w{j}" for j in range(5))
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT {final_w},
       CAST(sum(CASE WHEN (CASE WHEN 1.0/(1.0+exp(-({z}))) > 0.5 THEN 1.0 ELSE 0.0 END) = y
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(count(*) AS BIGINT) AS n
FROM feats, w{_LR_ITER}
GROUP BY b0, b1, b2, b3, b4"""
    )


SQL_LR_QUALITY = _sql_lr()


def q_lr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation (operators/modeleval.py) of the
    lr_quality model: midrank ROC-AUC, Brier score, clamped log-loss and
    10-bin ECE in one row.  Probabilities are snapped to a 1e-6 integer
    grid before ranking/binning so tie blocks and bin edges are bit-exact
    across engines (the integral-metric trick of events_mannwhitney); the
    rank pass is a window over <= 1e6 probability BLOCKS, never corpus
    rows.  The oracle replays the full GD training chain (_sql_lr_ctes)
    and then the same block/midrank/bin arithmetic."""
    from mcpvectordb_spark.operators.modeleval import binary_eval

    scored, _ = _lr_scored(spark, sf_dir)
    out = binary_eval(scored, "y", "p", n_bins=10)
    return out.select(
        "n",
        "n_pos",
        F.round("auc", 6).alias("auc"),
        F.round("brier", 6).alias("brier"),
        F.round("logloss", 6).alias("logloss"),
        F.round("ece", 6).alias("ece"),
    )


def q_lr_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table (operators/modeleval.py) for the
    lr_quality model: per equal-width confidence bin, document count,
    mean predicted probability and empirical positive rate.  Bin edges
    are integer arithmetic on the quantized grid (pq*10 div 1e6)."""
    from mcpvectordb_spark.operators.modeleval import reliability_table

    scored, _ = _lr_scored(spark, sf_dir)
    out = reliability_table(scored, "y", "p", n_bins=10)
    return out.select(
        "bin",
        "n_docs",
        F.round("avg_conf", 6).alias("avg_conf"),
        F.round("frac_pos", 6).alias("frac_pos"),
    )


def _sql_lr_blocks() -> str:
    """CTE suffix shared by lr_eval / lr_reliability: quantize the replayed
    sigmoid to the 1e-6 grid and collapse to per-value blocks."""
    ctes, z = _sql_lr_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
scored AS (
  SELECT y, CAST(round((1.0/(1.0+exp(-({z})))) * 1000000) AS BIGINT) AS pq
  FROM feats, w{_LR_ITER}),
blocks AS (
  SELECT pq, CAST(count(*) AS BIGINT) AS cnt, sum(y) AS pos
  FROM scored GROUP BY 1)"""
    )


SQL_LR_EVAL = (
    _sql_lr_blocks()
    + """,
ranked AS (
  SELECT pq, cnt, pos, sum(cnt) OVER (ORDER BY pq) AS cum,
         CAST(pq AS DOUBLE) / 1000000 AS pd,
         CAST(least(greatest(pq, 1), 999999) AS DOUBLE) / 1000000 AS pc
  FROM blocks),
mstats AS (
  SELECT sum(cnt) AS n, sum(pos) AS n_pos,
         sum(pos * (cum - cnt + (CAST(cnt AS DOUBLE) + 1) / 2)) AS r_pos,
         sum(pos * (pd - 1) * (pd - 1) + (cnt - pos) * pd * pd) AS brier_sum,
         sum(-(pos * ln(pc) + (cnt - pos) * ln(1 - pc))) AS ll_sum
  FROM ranked),
bins AS (
  SELECT least(pq * 10 // 1000000, 9) AS bin, sum(cnt) AS nb,
         sum(cnt * (CAST(pq AS DOUBLE) / 1000000)) AS conf_sum, sum(pos) AS pos_sum
  FROM blocks GROUP BY 1),
ece AS (
  SELECT sum(nb * abs(pos_sum / nb - conf_sum / nb)) / sum(nb) AS ece FROM bins)
SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       round(CASE WHEN n_pos * (n - n_pos) > 0
                  THEN (r_pos - n_pos * (n_pos + 1.0) / 2) / (n_pos * (n - n_pos)) END, 6) AS auc,
       round(brier_sum / n, 6) AS brier,
       round(ll_sum / n, 6) AS logloss,
       round(ece, 6) AS ece
FROM mstats, ece
"""
)


SQL_LR_RELIABILITY = (
    _sql_lr_blocks()
    + """
SELECT least(pq * 10 // 1000000, 9) AS bin,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       round(sum(cnt * (CAST(pq AS DOUBLE) / 1000000)) / sum(cnt), 6) AS avg_conf,
       round(sum(pos) / sum(cnt), 6) AS frac_pos
FROM blocks GROUP BY 1
"""
)


def q_lr_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration map (modeleval.py::isotonic_calibration)
    for the lr_quality model — the monotone recalibration table that
    turns raw classifier scores into calibrated probabilities
    (Zadrozny-Elkan), completing the eval family (lr_eval measures
    miscalibration, this FIXES it).  PAVA's sequential stack is
    replaced by the minimax identity max_j<=i min_k>=i avg(j..k) over
    <= 1000 calibration blocks: a rank-inequality pair join + one
    suffix-min window + one max agg, all on the block table, so corpus
    size never enters after the first groupBy.  Every average divides
    exact BIGINT prefix sums and min/max are order-independent, so the
    oracle (which replays the GD chain, the blocks, and the same
    windows) matches bit-for-bit."""
    from mcpvectordb_spark.operators.modeleval import isotonic_calibration

    scored, _ = _lr_scored(spark, sf_dir)
    return isotonic_calibration(scored, "y", "p", n_blocks=1000)


SQL_LR_ISOTONIC = (
    _sql_lr_blocks()
    + """,
cal AS (
  SELECT least(pq * 1000 // 1000000, 999) AS qb,
         CAST(sum(cnt) AS BIGINT) AS cnt,
         CAST(sum(pos) AS BIGINT) AS pos
  FROM blocks GROUP BY 1),
b AS (
  SELECT qb, cnt, pos,
         row_number() OVER (ORDER BY qb) AS i,
         CAST(sum(cnt) OVER (ORDER BY qb) AS BIGINT) AS cumw,
         CAST(sum(pos) OVER (ORDER BY qb) AS BIGINT) AS cump
  FROM cal),
pairs AS (
  SELECT l.i AS j, r.i AS k,
         CAST(r.cump - (l.cump - l.pos) AS DOUBLE)
           / CAST(r.cumw - (l.cumw - l.cnt) AS DOUBLE) AS a
  FROM b l JOIN b r ON r.i >= l.i),
suf AS (
  SELECT j, k,
         min(a) OVER (PARTITION BY j ORDER BY k DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM pairs),
iso AS (SELECT k, max(s) AS iso FROM suf GROUP BY 1)
SELECT b.qb AS block, b.cnt AS n, b.pos AS n_pos,
       round(CAST(b.pos AS DOUBLE) / CAST(b.cnt AS DOUBLE), 6) AS raw_rate,
       round(iso.iso, 6) AS iso_rate
FROM b JOIN iso ON iso.k = b.i
"""
)




# re-export everything (including underscore helpers) to later sections
__all__ = [n for n in dir() if not n.startswith("__")]
