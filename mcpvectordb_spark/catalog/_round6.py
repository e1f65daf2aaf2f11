"""Round-6 additions.  The round-5 verdict froze catalog growth until the
9 never-green queries reach the driver window; the round-6 rotation fix
sorts by (ever_green, last_round), so brand-new queries (no CORRECTNESS
row) and the 9 never-green ones TOGETHER occupy the head of the 50
driver slots — additions can no longer displace the backlog (pinned by
tests/test_entry.py::test_stalest_queries_fill_driver_window and
tests/test_round6_fixes.py::test_rotation_prefers_never_green).

The additions close real gaps in the stats/analytics surface:
- events_bh_fdr    — Benjamini–Hochberg FDR across per-event-type A/B
                     Welch z-tests (multiple-testing control, the missing
                     piece of the A/B family; normal CDF via the Zelen &
                     Severo polynomial mirrored bit-for-bit in SQL);
- events_anova     — one-way ANOVA F / eta² across event types;
- lineitem_kendall — exact Kendall tau-b with tie corrections via the
                     2-D value-block table (the rank-correlation sibling
                     of lineitem_spearman);
- customers_rfm / documents_lexdiv / stream_cms / stream_drift —
                     see each docstring.  (An association-rules variant was
                     folded into the EXISTING assoc_rules query instead,
                     which now consumes the session-shared co-purchase
                     edge set rather than re-mining pairs.)

Second batch (same round, later session): events_shapley (axiomatic
attribution over coalition blocks), documents_stump (CART Gini stump),
text_chi2_terms (Yang–Pedersen supervised term selection),
embeddings_kmeans + embeddings_silhouette (replayable Lloyd trajectory,
session-shared, with the O(n·k) cluster-quality readout), and
events_power_mde (design-side MDE for the A/B family).

Import order is load-bearing: this module references names from earlier
sections via the wildcard chain below."""
from __future__ import annotations

from mcpvectordb_spark.catalog._common import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._search import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._corpus import *  # noqa: F401,F403
from mcpvectordb_spark.catalog._events import *  # noqa: F401,F403


def q_events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B Welch z-tests with Benjamini–Hochberg FDR
    correction (operators/stats.py::group_welch_bh): users hash into two
    arms (portable md5, oracle-replayable), each event type's value-cents
    metric is z-tested between arms from exact BIGINT moments, and the m
    p-values are BH-adjusted (q_i = min_{j>=i} p_(j)·m/j).  On this A/A
    split (no intervention) EVERY q should accept — the multiple-testing
    twin of the events_ab_test/events_cuped placebo discipline: with ~5
    metrics at per-test alpha=0.05, uncorrected testing false-alarms on
    ~1 in 4 A/A runs, which is exactly what BH exists to cap.

    Scale: one (type, arm) groupBy over the corpus; every later window
    runs over ONE ROW PER EVENT TYPE (a bounded enum domain).  The normal
    CDF uses the Zelen & Severo 26.2.17 polynomial (|err| < 7.5e-8, well
    under the 6-dp gate), mirrored character-for-character in the oracle.
    """
    from mcpvectordb_spark.operators.stats import group_welch_bh

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return group_welch_bh(
        ev, "event_type", "user_id", cents, salt="fdr", alpha=0.05
    ).orderBy("event_type")


_SQL_ZS_POLY = (
    "t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 + "
    "t * (-1.821255978 + t * 1.330274429))))"
)

SQL_EVENTS_BH_FDR = f"""
WITH base AS (
  SELECT event_type AS g, user_id,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events),
cells AS (
  SELECT g, ({_sql_hex48("'fdr:' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM base GROUP BY 1, 2),
wide AS (
  SELECT g,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS DOUBLE) AS n0,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN s END), 0) AS DOUBLE) AS s0,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN ss END), 0) AS DOUBLE) AS ss0,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS DOUBLE) AS n1,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN s END), 0) AS DOUBLE) AS s1,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN ss END), 0) AS DOUBLE) AS ss1
  FROM cells GROUP BY g),
zs AS (
  SELECT g,
    CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
    CASE WHEN se > 0 THEN (m1 - m0) / se END AS z
  FROM (
    SELECT *,
      sqrt(v0 / n0 + v1 / n1) AS se,
      CASE WHEN n0 > 0 THEN s0 / n0 END AS m0,
      CASE WHEN n1 > 0 THEN s1 / n1 END AS m1
    FROM (
      SELECT *,
        CASE WHEN n0 > 1 THEN (n0 * ss0 - s0 * s0) / (n0 * (n0 - 1.0)) END AS v0,
        CASE WHEN n1 > 1 THEN (n1 * ss1 - s1 * s1) / (n1 * (n1 - 1.0)) END AS v1
      FROM wide))),
scored AS (
  SELECT g, n_a, n_b, z,
    CASE WHEN z IS NOT NULL THEN
      2.0 * (0.3989422804014327 * exp(-abs(z) * abs(z) / 2.0))
          * ({_SQL_ZS_POLY})
    END AS p
  FROM (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zs)),
ranked AS (
  SELECT g, p,
         row_number() OVER (ORDER BY round(p, 12), g) AS rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM scored WHERE p IS NOT NULL),
qq AS (
  SELECT g,
         least(min(p * m / rank)
                 OVER (ORDER BY rank DESC ROWS UNBOUNDED PRECEDING),
               1.0) AS q
  FROM ranked)
SELECT s.g AS event_type, s.n_a, s.n_b,
       round(s.z, 6) AS z, round(s.p, 6) AS p, round(qq.q, 6) AS q_bh,
       coalesce(qq.q <= 0.05, false) AS rejected
FROM scored s LEFT JOIN qq ON qq.g = s.g
ORDER BY s.g
"""


def q_events_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types on value cents (operators/
    stats.py::anova_oneway): between/within sums of squares from exact
    per-group BIGINT moments, F and eta² as one final double expression.
    SS columns are reported in DOLLARS² (cents² / 1e4) so their ~1e13
    cents² magnitudes sit far above double-ulp noise at the 4-dp gate
    (the per-group s²/n terms are each exactly rounded doubles; their
    k-term sum is order-independent to well under the output rounding).
    """
    from mcpvectordb_spark.operators.stats import anova_oneway

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = anova_oneway(ev, "event_type", cents)
    return out.select(
        "k_groups",
        "n",
        F.round(F.col("ss_between") / 1e4, 4).alias("ssb_dollars2"),
        F.round(F.col("ss_within") / 1e4, 4).alias("ssw_dollars2"),
        "f_stat",
        "eta_sq",
    )


SQL_EVENTS_ANOVA = """
WITH g AS (
  SELECT event_type AS g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
  GROUP BY 1),
roll AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(s) AS BIGINT) AS gs,
         CAST(sum(ss) AS BIGINT) AS gss,
         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS sb
  FROM g),
x AS (
  SELECT k, nn,
    sb - CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb,
    CAST(gss AS DOUBLE) - sb AS ssw
  FROM roll)
SELECT k AS k_groups, nn AS n,
       round(round(ssb, 4) / 1e4, 4) AS ssb_dollars2,
       round(round(ssw, 4) / 1e4, 4) AS ssw_dollars2,
       round(CASE WHEN k > 1 AND nn > k AND ssw > 0
                  THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
                       / (ssw / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))) END,
             6) AS f_stat,
       round(CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END, 6) AS eta_sq
FROM x
"""


def q_lineitem_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between l_quantity and l_discount (operators/
    stats.py::kendall_tau_b): the corpus collapses to one block per
    distinct (quantity, discount-cents) cell — ≤ 50×11 blocks on TPC-H
    domains — and concordant/discordant pair masses come from the block
    table's tiny self-join, with exact BIGINT tie corrections.  The
    rank-correlation sibling of lineitem_spearman: tau-b's tie handling
    is principled where midranks approximate."""
    from mcpvectordb_spark.operators.stats import kendall_tau_b

    li = load_table(spark, sf_dir, "lineitem")
    return kendall_tau_b(
        li,
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_discount") * 100).cast("long"),
    )


SQL_LINEITEM_KENDALL = """
WITH blocks AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2),
cd AS (
  SELECT CAST(sum(CASE WHEN a.y < b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN a.y > b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d
  FROM blocks a JOIN blocks b ON a.x < b.x),
tx AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS tx
       FROM (SELECT sum(n) AS t FROM blocks GROUP BY x)),
ty AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS ty
       FROM (SELECT sum(n) AS t FROM blocks GROUP BY y)),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM blocks),
j AS (
  SELECT n, c, d, tx, ty,
         CAST(n * (n - 1) / 2 AS BIGINT) AS n0
  FROM cd, tx, ty, tot)
SELECT n, c AS concordant, d AS discordant, tx AS ties_x, ty AS ties_y,
       round(CASE WHEN sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)) > 0
                  THEN CAST(c - d AS DOUBLE)
                       / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)) END,
             6) AS tau_b
FROM j
"""


def q_customers_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary), the classic
    customer-analytics rollup: per customer, days since last order,
    order count, and lifetime dollars; each scored 1-4 against EXACT
    quartile boundaries and rolled up per (r, f, m) segment.

    Quartiles are NOT an NTILE over customers (a corpus-sized
    single-partition sort): each metric collapses to value BLOCKS
    (bounded by its DOMAIN — day counts, order counts, whole dollars),
    the boundary b_q = min v with cumulative count >= ceil(q·N) comes
    from a window over blocks only, and scoring is a broadcast of three
    longs per metric — the value_blocks discipline.  ceil(q·N) is exact
    integer math ((N+3)//4 etc.), so both engines pick identical
    boundaries; scores are then pure integer comparisons.
    """
    orders = load_table(spark, sf_dir, "orders")
    max_d = orders.agg(F.max(F.to_date("o_orderdate"))).first()[0]
    # five actions read the per-customer rollup (count, three boundary
    # pulls, the final segmentation) — pin one materialization
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(max_d), F.max(F.to_date("o_orderdate"))).cast("long").alias("r"),
        F.count(F.lit(1)).alias("f"),
        # cents summed exactly, floored to whole dollars (a bounded domain)
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100))
        .cast("long")
        .alias("m"),
    ).localCheckpoint(eager=True)
    n = cust.count()
    ranks = [(n + 3) // 4, (n + 1) // 2, (3 * n + 3) // 4]

    def boundaries(col: str) -> list[int]:
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        blocks = (
            cust.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .select(col, F.sum("c").over(w).alias("cum"))
        )
        row = blocks.agg(
            *[F.min(F.when(F.col("cum") >= F.lit(r), F.col(col))).alias(f"b{i}")
              for i, r in enumerate(ranks)]
        ).first()
        return [row[f"b{i}"] for i in range(3)]

    br, bf, bm = boundaries("r"), boundaries("f"), boundaries("m")

    def up_score(col: str, bs) -> Column:
        return (
            F.lit(1)
            + (F.col(col) > F.lit(bs[0])).cast("int")
            + (F.col(col) > F.lit(bs[1])).cast("int")
            + (F.col(col) > F.lit(bs[2])).cast("int")
        )

    scored = cust.select(
        "m",
        # recency: FEWER days since last order is better -> invert
        (F.lit(5) - up_score("r", br)).alias("r_score"),
        up_score("f", bf).alias("f_score"),
        up_score("m", bm).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.avg("m"), 4).alias("avg_dollars"),
    )


SQL_CUSTOMERS_RFM = """
WITH maxd AS (SELECT max(CAST(o_orderdate AS DATE)) AS d FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(d - max(CAST(o_orderdate AS DATE)) AS BIGINT) AS r,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS m
  FROM orders CROSS JOIN maxd GROUP BY o_custkey, d),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
rk AS (SELECT (n + 3) // 4 AS r1, (n + 1) // 2 AS r2, (3 * n + 3) // 4 AS r3 FROM n),
rb AS (SELECT min(CASE WHEN cum >= r1 THEN v END) AS b1,
              min(CASE WHEN cum >= r2 THEN v END) AS b2,
              min(CASE WHEN cum >= r3 THEN v END) AS b3
       FROM (SELECT r AS v, sum(count(*)) OVER (ORDER BY r) AS cum FROM cust GROUP BY r), rk),
fb AS (SELECT min(CASE WHEN cum >= r1 THEN v END) AS b1,
              min(CASE WHEN cum >= r2 THEN v END) AS b2,
              min(CASE WHEN cum >= r3 THEN v END) AS b3
       FROM (SELECT f AS v, sum(count(*)) OVER (ORDER BY f) AS cum FROM cust GROUP BY f), rk),
mb AS (SELECT min(CASE WHEN cum >= r1 THEN v END) AS b1,
              min(CASE WHEN cum >= r2 THEN v END) AS b2,
              min(CASE WHEN cum >= r3 THEN v END) AS b3
       FROM (SELECT m AS v, sum(count(*)) OVER (ORDER BY m) AS cum FROM cust GROUP BY m), rk),
scored AS (
  SELECT m,
    5 - (1 + CAST(r > rb.b1 AS INT) + CAST(r > rb.b2 AS INT) + CAST(r > rb.b3 AS INT)) AS r_score,
    1 + CAST(f > fb.b1 AS INT) + CAST(f > fb.b2 AS INT) + CAST(f > fb.b3 AS INT) AS f_score,
    1 + CAST(m > mb.b1 AS INT) + CAST(m > mb.b2 AS INT) + CAST(m > mb.b3 AS INT) AS m_score
  FROM cust, rb, fb, mb)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(avg(m), 4) AS avg_dollars
FROM scored GROUP BY 1, 2, 3
"""


def q_documents_lexdiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity scorecard per source: type-token ratio, hapax
    rate, and Simpson's diversity index from the per-source term counts —
    the corpus-health companions of vocab_zipf/vocab_burstiness/
    documents_heaps, and the standard quick screens for boilerplate-heavy
    or template-generated sources in a training-data pipeline (a source
    whose TTR/hapax collapse is near-duplicated or machine-repeated).

        simpson = sum_t n_t(n_t-1) / (N(N-1))   (repeat probability)

    All counts are exact BIGINTs from two groupBys (term counts, then the
    per-source rollup); the final ratios are one double expression each.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(dd.normalize_text(F.col("text")), " ")
    toks = dd.fan_out(docs).select(
        "source", F.explode(words).alias("t")
    ).filter(F.col("t") != "")
    counts = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    roll = counts.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("rep2"),
    )
    nt = F.col("n_tokens").cast("double")
    return roll.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("hapax").cast("long").alias("n_hapax"),
        F.round(F.col("n_types").cast("double") / nt, 6).alias("ttr"),
        F.round(
            F.col("hapax").cast("double") / F.col("n_types").cast("double"), 6
        ).alias("hapax_rate"),
        F.round(
            F.when(
                F.col("n_tokens") > 1,
                F.col("rep2").cast("double") / (nt * (nt - F.lit(1.0))),
            ),
            6,
        ).alias("simpson"),
    )


SQL_DOCUMENTS_LEXDIV = f"""
WITH toks AS (
  SELECT source, t
  FROM (SELECT source, unnest({_sql_words('text')}) AS t FROM documents)
  WHERE t <> ''),
counts AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
roll AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(sum(n * (n - 1)) AS BIGINT) AS rep2
  FROM counts GROUP BY source)
SELECT source, n_tokens, n_types, n_hapax,
       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_rate,
       round(CASE WHEN n_tokens > 1
                  THEN CAST(rep2 AS DOUBLE)
                       / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)) END,
             6) AS simpson
FROM roll
"""


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch: the SAME cms_sketch plan as events_cms
    runs over a readStream under complete-mode aggregation (mergeable
    counters need no custom stateful operator), and after availableNow the
    materialized sketch is probed exactly like the batch query — so the
    batch oracle (SQL_EVENTS_CMS) gates the stream verbatim, estimates
    included, the stream_attribution device.  The stream==batch sketch
    equality is additionally pinned counter-for-counter in
    test_streaming.py::test_cms_is_streaming_native."""

    from mcpvectordb_spark.operators.sketches import cms_estimate, cms_sketch

    DEPTH, WIDTH = 4, 256
    ev = load_table(spark, sf_dir, "events")
    d = _stream_input_dir(
        spark, sf_dir, "cms_userid",
        lambda p: ev.select("user_id").write.mode("overwrite").parquet(p),
    )
    stream = spark.readStream.schema("user_id long").parquet(d)
    q = (
        cms_sketch(stream, "user_id", depth=DEPTH, width=WIDTH)
        .writeStream.format("memory")
        .queryName("stream_cms_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sk = spark.table("stream_cms_out")
    items = ev.select("user_id").filter(F.col("user_id") < 20).distinct()
    est = cms_estimate(sk, items, "user_id", depth=DEPTH, width=WIDTH)
    true_c = (
        ev.filter(F.col("user_id") < 20)
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_c"))
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        est.join(true_c, "item")
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "true_c",
            "est",
            (F.col("est") >= F.col("true_c")).alias("over_ok"),
            (
                F.col("est")
                <= F.col("true_c")
                + F.ceil(F.lit(2.718281828459045) * F.col("n") / WIDTH).cast("long")
            ).alias("within_eps"),
        )
        .orderBy("item")
    )


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift-monitor bins (streaming/events.py::
    drift_bins_stream): hourly per-type decile-bin counts of the value
    distribution against FROZEN full-corpus reference deciles — the raw
    material of a production PSI monitor, emitted per closed window.
    Value-gated by the stream-quartet device: output restricted to the
    deterministic watermark-closed window set (end > watermark+1s before
    max(ts)), so the batch date_trunc twin's SQL gates it exactly; the
    reference edges replay via quantile_cont (the events_psi percentile
    parity convention)."""

    from mcpvectordb_spark.streaming.events import drift_bins_stream, run_stream_to_memory

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    edges = ev.groupBy("event_type").agg(
        *[F.percentile("value", F.lit(i / 10.0)).alias(f"e{i}") for i in range(1, 10)]
    )
    d = _stream_input_dir(
        spark, sf_dir, "events",
        lambda p: ev.write.mode("overwrite").parquet(p),
    )
    out = run_stream_to_memory(
        drift_bins_stream(spark, d, ev.schema, edges, window="1 hour", watermark="2 hours"),
        "stream_drift_out",
        spark,
    )
    return (
        out.filter(
            F.col("window.end")
            < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 SECOND")
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.col("bin").cast("long").alias("bin"),
            F.col("n").cast("long").alias("n"),
        )
    )


SQL_STREAM_DRIFT = """
WITH m AS (SELECT max(ts) AS mx FROM events),
edges AS (
  SELECT event_type AS et,
         quantile_cont(value, 0.1) AS e1, quantile_cont(value, 0.2) AS e2,
         quantile_cont(value, 0.3) AS e3, quantile_cont(value, 0.4) AS e4,
         quantile_cont(value, 0.5) AS e5, quantile_cont(value, 0.6) AS e6,
         quantile_cont(value, 0.7) AS e7, quantile_cont(value, 0.8) AS e8,
         quantile_cont(value, 0.9) AS e9
  FROM events GROUP BY 1)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(CAST(value >= e1 AS INT) + CAST(value >= e2 AS INT) + CAST(value >= e3 AS INT)
            + CAST(value >= e4 AS INT) + CAST(value >= e5 AS INT) + CAST(value >= e6 AS INT)
            + CAST(value >= e7 AS INT) + CAST(value >= e8 AS INT) + CAST(value >= e9 AS INT)
            AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM events JOIN edges ON event_type = et CROSS JOIN m
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      < mx - INTERVAL 2 HOUR - INTERVAL 1 SECOND
GROUP BY 1, 2, 3
"""


def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Mann–Kendall trend test over the daily event-count series
    (operators/stats.py::mann_kendall) — the SIGNIFICANCE companion the
    trend family was missing: events_changepoint localizes a shift,
    parts_ols/Theil–Sen estimate a slope, MK answers "is there a monotone
    trend at all" nonparametrically, with exact tie-corrected variance.
    S and the tie terms are exact BIGINTs from the ≤ days-per-type² pair
    join over the DAY panel (the corpus appears in one groupBy); ``trend``
    is a definite verdict (constant series coalesce to 'none')."""
    from mcpvectordb_spark.operators.stats import mann_kendall

    ev = load_table(spark, sf_dir, "events")
    t = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long")
    return mann_kendall(ev, "event_type", t, F.lit(1)).orderBy("event_type")


SQL_EVENTS_MANN_KENDALL = """
WITH pts AS (
  SELECT event_type AS g,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
s_tab AS (
  SELECT a.g,
         CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s
  FROM pts a JOIN pts b ON a.g = b.g AND a.t < b.t GROUP BY 1),
npts AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1),
ties AS (
  SELECT g, CAST(sum(tp * (tp - 1) * (2 * tp + 5)) AS BIGINT) AS tie_term
  FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS tp FROM pts GROUP BY 1, 2)
  GROUP BY 1),
j AS (
  SELECT s_tab.g, s, n, tie_term,
    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (2.0 * CAST(n AS DOUBLE) + 5.0)
     - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
  FROM s_tab JOIN npts ON npts.g = s_tab.g JOIN ties ON ties.g = s_tab.g)
SELECT g AS event_type, n AS n_points, s AS mk_s,
       round(var_s, 4) AS var_s,
       round(CASE WHEN var_s > 0 THEN
               CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                    ELSE 0.0 END END, 6) AS z,
       CASE WHEN var_s <= 0 THEN 'none'
            WHEN abs(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                          WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                          ELSE 0.0 END) <= 1.96 THEN 'none'
            WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END AS trend
FROM j ORDER BY g
"""


def q_events_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution (operators/analytics.py::
    shapley_attribution): conversion credit per channel as the average
    marginal contribution over all coalitions of the 4-channel enum —
    the axiomatic completion of the attribution family (last-touch /
    U-shaped are positional heuristics, Markov is a removal effect;
    Shapley is the unique credit satisfying efficiency + symmetry).
    Journeys collapse to <= 2^4 mask blocks, v(S) is a BIGINT subset-sum,
    and phi's numerator is an exact BIGINT (only the final /4! is float),
    so the gate is bit-exact at any corpus size."""
    from mcpvectordb_spark.operators.analytics import shapley_attribution

    ev = load_table(spark, sf_dir, "events")
    return shapley_attribution(
        ev, channels=["click", "error", "signup", "view"], conversion="purchase"
    )


SQL_EVENTS_SHAPLEY = """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b0,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS b1,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS b2,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b3,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
blocks AS (
  SELECT CAST(b0 + 2 * b1 + 4 * b2 + 8 * b3 AS BIGINT) AS mask,
         CAST(sum(conv) AS BIGINT) AS c
  FROM pu GROUP BY 1),
coal AS (SELECT CAST(range AS BIGINT) AS s FROM range(16)),
v AS (
  SELECT s, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
  FROM coal LEFT JOIN blocks ON (mask & s) = mask GROUP BY s),
ch AS (SELECT * FROM (VALUES (0, 'click'), (1, 'error'), (2, 'signup'), (3, 'view'))
       AS t(i, channel)),
pairs AS (
  SELECT ch.channel,
         CASE ((v.s >> 0) & 1) + ((v.s >> 1) & 1) + ((v.s >> 2) & 1) + ((v.s >> 3) & 1)
              WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS wnum,
         v.v AS v0, v2.v AS v1
  FROM ch JOIN v ON ((v.s >> ch.i) & 1) = 0
  JOIN v v2 ON v2.s = (v.s | (1 << ch.i))),
num AS (SELECT channel, CAST(sum(wnum * (v1 - v0)) AS BIGINT) AS num
        FROM pairs GROUP BY 1),
tot AS (SELECT CAST(sum(num) AS BIGINT) AS tot FROM num)
SELECT channel, num AS shapley_num,
       round(CAST(num AS DOUBLE) / 24.0, 6) AS shapley,
       round(coalesce(CASE WHEN tot <> 0
                           THEN CAST(num AS DOUBLE) / CAST(tot AS DOUBLE) END, 0.0),
             6) AS share
FROM num CROSS JOIN tot ORDER BY channel
"""


def q_documents_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART decision stump over the documents table (operators/
    classify.py::gini_stump): best single (feature, threshold) split of
    the is-English label across two integer features (n_chars, word
    count) by weighted Gini impurity — the one-split baseline the
    lr_quality classifier must beat, trained distributed and replayed
    as chained CTEs by the oracle.  Gini (not entropy) keeps every gain
    inside +,-,*,/ so both engines rank candidates bit-identically; the
    argmax carries a (feature, split) tiebreak."""
    from mcpvectordb_spark.operators.classify import gini_stump

    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(
            F.split(dd.normalize_text(F.col("text")), " "), lambda t: t != ""
        )
    )
    return gini_stump(
        docs,
        {"n_chars": F.col("n_chars"), "n_words": n_words},
        F.col("lang") == "en",
    )


def _sql_gini_mass(n: str, p: str) -> str:
    nd, pd = f"CAST({n} AS DOUBLE)", f"CAST({p} AS DOUBLE)"
    return (
        f"({nd} - ({pd} * {pd} + ({nd} - {pd}) * ({nd} - {pd})) / {nd})"
    )


SQL_DOCUMENTS_STUMP = f"""
WITH feats AS (
  SELECT 'n_chars' AS feature, CAST(n_chars AS BIGINT) AS x,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
  UNION ALL
  SELECT 'n_words' AS feature,
         CAST(len(list_filter({_sql_words('text')}, t -> t <> '')) AS BIGINT) AS x,
         CAST(lang = 'en' AS INT) AS y
  FROM documents),
blocks AS (
  SELECT feature, x, CAST(count(*) AS BIGINT) AS bn, CAST(sum(y) AS BIGINT) AS bpos
  FROM feats WHERE x IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT feature, x,
         CAST(sum(bn) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS nl,
         CAST(sum(bpos) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS pl
  FROM blocks),
tot AS (
  SELECT feature, CAST(sum(bn) AS BIGINT) AS n_total,
         CAST(sum(bpos) AS BIGINT) AS p_total
  FROM blocks GROUP BY 1),
scored AS (
  SELECT feature, x, nl, pl, n_total - nl AS nr, p_total - pl AS pr,
         n_total, p_total,
         {_sql_gini_mass('n_total', 'p_total')} / CAST(n_total AS DOUBLE) AS root,
         {_sql_gini_mass('n_total', 'p_total')} / CAST(n_total AS DOUBLE)
           - ({_sql_gini_mass('nl', 'pl')}
              + {_sql_gini_mass('n_total - nl', 'p_total - pl')})
             / CAST(n_total AS DOUBLE) AS gain_raw
  FROM cum JOIN tot USING (feature) WHERE nl < n_total)
SELECT feature, x AS split_x, nl AS n_left, pl AS pos_left,
       nr AS n_right, pr AS pos_right,
       round(root, 6) AS gini_root, round(gain_raw, 6) AS gain,
       CAST(greatest(pl, nl - pl) + greatest(pr, nr - pr) AS BIGINT) AS n_correct,
       n_total AS n
FROM scored ORDER BY gain_raw DESC, feature, x LIMIT 1
"""


def q_text_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised chi-square term selection (operators/textstats.py::
    chi2_terms): top-10 class-discriminative terms per language by the
    one-vs-rest 2x2 document-presence chi-square (Yang & Pedersen 1997)
    — the supervised sibling of text_keywords' unsupervised TF-IDF, and
    the standard screen for domain markers / template boilerplate in
    corpus curation.  All contingency cells are exact BIGINTs from
    vocab-bounded groupBys; chi2 is *,-,/ only, so ranking is
    engine-exact with a term-string tiebreak."""
    from mcpvectordb_spark.operators.textstats import chi2_terms

    docs = load_table(spark, sf_dir, "documents")
    return chi2_terms(docs, "lang", min_df=5, top_k=10).withColumnRenamed(
        "cls", "lang"
    )


SQL_TEXT_CHI2_TERMS = f"""
WITH pres AS (
  SELECT DISTINCT lang AS cls, doc_id AS d, t
  FROM (SELECT lang, doc_id, unnest({_sql_words('text')}) AS t FROM documents)
  WHERE t <> ''),
a_tab AS (SELECT t, cls, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY 1, 2),
t_tot AS (SELECT t, CAST(sum(a) AS BIGINT) AS df_t FROM a_tab GROUP BY 1),
c_tot AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_c
          FROM documents GROUP BY 1),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
j AS (
  SELECT a_tab.cls, a_tab.t, a, df_t, n_c, n_docs,
         CAST(df_t - a AS DOUBLE) AS bb,
         CAST(n_c - a AS DOUBLE) AS cc,
         CAST(n_docs - n_c AS DOUBLE) - CAST(df_t - a AS DOUBLE) AS dd
  FROM a_tab JOIN t_tot USING (t) JOIN c_tot USING (cls) CROSS JOIN n_tot
  WHERE df_t >= 5 AND n_c < n_docs AND df_t < n_docs),
scored AS (
  SELECT cls, t, a AS df_class,
         (CAST(n_docs AS DOUBLE)
            * (CAST(a AS DOUBLE) * dd - bb * cc)
            * (CAST(a AS DOUBLE) * dd - bb * cc))
         / ((CAST(a AS DOUBLE) + bb) * (cc + dd)
            * (CAST(a AS DOUBLE) + cc) * (bb + dd)) AS chi2
  FROM j),
ranked AS (
  SELECT cls, t, df_class, chi2,
         row_number() OVER (PARTITION BY cls ORDER BY chi2 DESC, t) AS rank
  FROM scored)
SELECT cls AS lang, CAST(rank AS BIGINT) AS rank, t AS term, df_class,
       round(chi2, 4) AS chi2
FROM ranked WHERE rank <= 10
"""


# Session-shared Lloyd trajectory: embeddings_kmeans and
# embeddings_silhouette run against ONE trained (base, centroids) pair, a
# session artifact (catalog/_common.py::_session_artifact).
def _shared_lloyd(spark: SparkSession, sf_dir: str):
    from mcpvectordb_spark.operators.knn import _lloyd_train

    return _session_artifact(
        spark, sf_dir, "lloyd_k8_iters2",
        lambda: _lloyd_train(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", 8, 2, 64, 9),
    )


def q_embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus (operators/
    knn.py::lloyd_kmeans_replayable): k=8 seeds = the lowest-vec_id
    vectors (the semdedup centroid convention), 2 Lloyd iterations with
    round(avg, 9)-quantized centroid updates, final per-cluster sizes +
    inertia.  The oracle replays the ENTIRE trajectory as chained CTEs
    (the lr_quality replay discipline applied to clustering), proving
    the distributed trainer — broadcast assignment expression, one
    map-side-combinable groupBy per iteration, k*dim driver codebook
    pulls — equals a single-node run.  Emptied clusters keep their
    previous centroid on both engines."""
    from mcpvectordb_spark.operators.knn import lloyd_kmeans_replayable

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = lloyd_kmeans_replayable(
        emb, "vec_id", "embedding", k=8, iters=2, dim=64,
        precached=_shared_lloyd(spark, sf_dir),
    )
    # inertia = sum of 1e-8-quantized squared distances (r8 exact-integer
    # readout, mirroring the 9dp-quantized centroid updates): per-row
    # dist2 is engine-exact, the BIGINT sum is order-independent, so the
    # 4dp readout is bit-guaranteed instead of summation-order-dependent.
    # Headroom: dist2*1e8 ~ 1e10/row -> overflow past ~9e8 rows/cluster,
    # where ANSI sum(long) fails loudly (switch to decimal(38,0) there).
    qd = F.round(F.col("dist2") * 1e8).cast("long")
    return (
        assigned.groupBy(F.col("cid").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.sum(qd) / F.lit(1e8), 4).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


_SQL_KM_D = (
    "list_reduce(list_transform(range(1, 65),"
    " i -> (v[i] - cv[i]) * (v[i] - cv[i])), (x, y) -> x + y)"
)


def _sql_km_iter(prev: str, a: str, u: str, cn: str, c: str) -> str:
    """One Lloyd iteration as CTE text: assign against {prev}, update,
    coalesce emptied clusters back to {prev}."""
    return f"""
{a} AS (
  SELECT id, v, cid, d FROM (
    SELECT id, v, cid, d,
           row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM (SELECT e.id, e.v, {prev}.cid, {_SQL_KM_D} AS d
          FROM e CROSS JOIN {prev}))
  WHERE rn = 1),
{u} AS (
  SELECT cid, i, round(avg(v[i]), 9) AS coord
  FROM {a} CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
{cn} AS (SELECT cid, list(coord ORDER BY i) AS cv FROM {u} GROUP BY cid),
{c} AS (SELECT {prev}.cid, coalesce({cn}.cv, {prev}.cv) AS cv
        FROM {prev} LEFT JOIN {cn} USING (cid))"""


SQL_EMBEDDINGS_KMEANS = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cv
  FROM e ORDER BY id LIMIT 8),{_sql_km_iter('c0', 'a0', 'u1', 'c1n', 'c1')},{_sql_km_iter('c1', 'a1', 'u2', 'c2n', 'c2')},
af AS (
  SELECT id, cid, d FROM (
    SELECT id, cid, d,
           row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM (SELECT e.id, c2.cid, {_SQL_KM_D} AS d FROM e CROSS JOIN c2))
  WHERE rn = 1)
SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(CAST(round(d * 1e8) AS BIGINT)) AS DOUBLE) / 1e8, 4)
         AS inertia
FROM af GROUP BY 1 ORDER BY 1
"""


def q_embeddings_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster (operators/knn.py::
    silhouette_simplified) against the SAME deterministic Lloyd
    trajectory as embeddings_kmeans — the cluster-quality readout that
    replaces the O(n²) full silhouette with the O(n·k) centroid form at
    corpus scale.  a/b come from positions 1-2 of the sorted per-centroid
    distance array (the assignment argmin's own structs), sqrt is
    IEEE-exact, and coincident-centroid points score a definite 0.0, so
    the oracle's rn<=2 replay gates values exactly."""
    from mcpvectordb_spark.operators.knn import silhouette_simplified

    emb = load_table(spark, sf_dir, "embeddings")
    out = silhouette_simplified(
        emb, "vec_id", "embedding", k=8, iters=2, dim=64,
        precached=_shared_lloyd(spark, sf_dir),
    )
    return out.select(
        F.col("cid").cast("long").alias("cluster_id"),
        F.col("n").alias("n_points"),
        "silhouette",
    ).orderBy("cluster_id")


SQL_EMBEDDINGS_SILHOUETTE = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cv
  FROM e ORDER BY id LIMIT 8),{_sql_km_iter('c0', 'a0', 'u1', 'c1n', 'c1')},{_sql_km_iter('c1', 'a1', 'u2', 'c2n', 'c2')},
af2 AS (
  SELECT id, cid, d, rn FROM (
    SELECT id, cid, d,
           row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM (SELECT e.id, c2.cid, {_SQL_KM_D} AS d FROM e CROSS JOIN c2))
  WHERE rn <= 2),
sc AS (
  SELECT max(CASE WHEN rn = 1 THEN cid END) AS cid,
         sqrt(max(CASE WHEN rn = 1 THEN d END)) AS a,
         sqrt(max(CASE WHEN rn = 2 THEN d END)) AS b
  FROM af2 GROUP BY id)
SELECT CAST(cid AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(CAST(round(
               CASE WHEN greatest(a, b) > 0
                    THEN (b - a) / greatest(a, b) ELSE 0.0 END * 1e9)
             AS BIGINT)) AS DOUBLE) / (count(*) * 1e9),
             6) AS silhouette
FROM sc GROUP BY 1 ORDER BY 1
"""


def q_events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type minimum detectable effect at alpha=0.05 / power=0.8
    (operators/stats.py::power_mde) — the DESIGN-side companion the A/B
    family (ab_test, cuped, bh_fdr) was missing: before reading a flat
    readout as "no effect", check whether the current arm sizes could
    have detected one.  Same one-pass exact-BIGINT moment aggregation as
    group_welch_bh; the (z_0.975 + z_0.8) quantile sum is folded to one
    literal so neither engine adds the constants separately."""
    from mcpvectordb_spark.operators.stats import power_mde

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = power_mde(ev, "event_type", "user_id", cents, salt="fdr")
    return out.withColumnRenamed("g", "event_type").orderBy("event_type")


SQL_EVENTS_POWER_MDE = f"""
WITH base AS (
  SELECT event_type AS g, user_id,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events),
cells AS (
  SELECT g, ({_sql_hex48("'fdr:' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM base GROUP BY 1, 2),
wide AS (
  SELECT g,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS DOUBLE) AS n0,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN s END), 0) AS DOUBLE) AS s0,
    CAST(coalesce(max(CASE WHEN arm = 0 THEN ss END), 0) AS DOUBLE) AS ss0,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS DOUBLE) AS n1,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN s END), 0) AS DOUBLE) AS s1,
    CAST(coalesce(max(CASE WHEN arm = 1 THEN ss END), 0) AS DOUBLE) AS ss1
  FROM cells GROUP BY g),
x AS (
  SELECT g, n0, n1, s0, s1,
    CASE WHEN n0 > 1 THEN (n0 * ss0 - s0 * s0) / (n0 * (n0 - 1.0)) END AS v0,
    CASE WHEN n1 > 1 THEN (n1 * ss1 - s1 * s1) / (n1 * (n1 - 1.0)) END AS v1
  FROM wide),
y AS (
  SELECT g, n0, n1,
    CASE WHEN n0 + n1 > 2
         THEN ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2.0) END AS var_p,
    CASE WHEN n0 + n1 > 0 THEN (s0 + s1) / (n0 + n1) END AS mean,
    CASE WHEN n0 > 1 AND n1 > 1 THEN 1 ELSE 0 END AS both_arms
  FROM x)
SELECT g AS event_type, CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
  round(mean, 6) AS mean_v,
  round(CASE WHEN var_p > 0 THEN sqrt(var_p) END, 6) AS sd_v,
  round(CASE WHEN var_p > 0 AND both_arms = 1
             THEN 2.801585219 * sqrt(var_p * (1 / n0 + 1 / n1)) END,
        4) AS mde_abs,
  round(CASE WHEN mean > 0 THEN
          CASE WHEN var_p > 0 AND both_arms = 1
               THEN 2.801585219 * sqrt(var_p * (1 / n0 + 1 / n1)) END / mean
        END, 6) AS mde_rel
FROM y ORDER BY 1
"""


def q_sources_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle-overlap matrix: for every pair of sources, the
    distinct-3-gram intersection with Jaccard and containment — the
    DATASET-level dedup planner (dedup_containment answers "which DOCS
    overlap"; this answers "which SOURCES are near-copies of each other",
    the first question before mixing corpora into a training run).

    Runs on the session-shared shingle index (catalog/_common.py::
    _shared_shingles — the corpus is shingled once per session): one
    equi-join tags shingles with their source, the pair masses come from
    a per-shingle self-join whose fan-out is bounded by |sources|² per
    shingle (sources are an enum), and every later table is
    |sources|²-sized.  Pairs with an empty intersection are omitted on
    both engines (inner-join semantics).  Divisions are total: a pair
    exists only when both sides hold shingles."""
    idx = _shared_shingles(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    srcs = docs.select(F.col("doc_id").alias("id"), "source")
    # r9 optimization: ss feeds four plan branches (per ×2 via na/nb, and
    # both sides of the intersection self-join) — without the lazy pin each
    # branch re-ran the index⋈source join + distinct (4 scans of the
    # shingle index in the physical plan, 8 exchanges).  The pinned table
    # is the per-source shingle-df relation a real pipeline materializes
    # before any cross-source comparison.
    ss = (
        idx.join(srcs, "id").select("source", "shingle").distinct()
        .localCheckpoint(eager=False)
    )
    per = ss.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    a = ss.select(F.col("source").alias("sa"), "shingle")
    b = ss.select(F.col("source").alias("sb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    na, nb, iv = F.col("na"), F.col("nb"), F.col("n_inter")
    return (
        inter.join(
            F.broadcast(
                per.select(F.col("source").alias("sa"), F.col("n_sh").alias("na"))
            ),
            "sa",
        )
        .join(
            F.broadcast(
                per.select(F.col("source").alias("sb"), F.col("n_sh").alias("nb"))
            ),
            "sb",
        )
        .select(
            "sa",
            "sb",
            "na",
            "nb",
            "n_inter",
            F.round(iv / (na + nb - iv), 6).alias("jaccard"),
            F.round(iv / F.least(na, nb), 6).alias("containment"),
        )
        .orderBy("sa", "sb")
    )


SQL_SOURCES_OVERLAP = f"""
WITH sh AS (
  SELECT DISTINCT source, shingle
  FROM (SELECT source, unnest({_sql_shingles(_sql_words('text'), 3)}) AS shingle
        FROM documents)),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2)
SELECT sa, sb, pa.n_sh AS na, pb.n_sh AS nb, n_inter,
       round(n_inter / (pa.n_sh + pb.n_sh - n_inter), 6) AS jaccard,
       round(n_inter / least(pa.n_sh, pb.n_sh), 6) AS containment
FROM inter
JOIN per pa ON pa.source = sa
JOIN per pb ON pb.source = sb
ORDER BY sa, sb
"""


def q_parts_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto revenue classification of parts (the inventory-
    management classic: A = parts covering the first 80% of revenue,
    B = the next 15%, C = the tail) — the categorical companion of
    customers_gini's concentration index.

    Scale discipline: classification is VALUE-based (every part whose
    revenue crosses the cut shares its class), so the cumulative pass
    runs over distinct-revenue blocks through operators/blocks.py::
    bucketed_cumsum — the round-6 two-level cumsum, no single-partition
    window even when revenues are corpus-distinct.  Cuts are exact
    integer thresholds (ceil(4T/5), ceil(19T/20) in BIGINT cents), so
    both engines pick identical cut values; the readout is a 3-row
    rollup."""
    from mcpvectordb_spark.operators.blocks import bucketed_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents).cast("long").alias("r"))
        .localCheckpoint(eager=True)
    )
    blocks = per_part.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("bn")
    ).select(
        "r",
        (-F.col("r")).alias("ord"),
        (F.col("r") * F.col("bn")).cast("long").alias("mass"),
    )
    cum = bucketed_cumsum(blocks, "ord", ["mass"])
    tot = blocks.agg(F.sum("mass").cast("long").alias("t"))
    cuts = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.when(
                    F.col("cum_mass") >= F.expr("(4 * t + 4) div 5"), F.col("r")
                )
            ).alias("r80"),
            F.max(
                F.when(
                    F.col("cum_mass") >= F.expr("(19 * t + 19) div 20"),
                    F.col("r"),
                )
            ).alias("r95"),
        )
    )
    cls = per_part.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("r") >= F.col("r80"), "A")
        .when(F.col("r") >= F.col("r95"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("r").cast("long") / 100.0, 2).alias("revenue_dollars"),
            F.sum("r").cast("long").alias("__rc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "n_parts",
            "revenue_dollars",
            F.round(
                F.col("__rc").cast("double") / F.col("t").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


SQL_PARTS_ABC = """
WITH pp AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY 1),
blocks AS (
  SELECT r, CAST(r * count(*) AS BIGINT) AS mass FROM pp GROUP BY r),
cum AS (SELECT r, sum(mass) OVER (ORDER BY r DESC) AS cum_mass FROM blocks),
tot AS (SELECT CAST(sum(mass) AS BIGINT) AS t FROM blocks),
cuts AS (
  SELECT max(CASE WHEN cum_mass >= (4 * t + 4) // 5 THEN r END) AS r80,
         max(CASE WHEN cum_mass >= (19 * t + 19) // 20 THEN r END) AS r95
  FROM cum, tot),
cls AS (
  SELECT CASE WHEN r >= r80 THEN 'A'
              WHEN r >= r95 THEN 'B'
              ELSE 'C' END AS abc_class, r
  FROM pp, cuts)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(r) AS BIGINT) / 100.0, 2) AS revenue_dollars,
       round(CAST(sum(r) AS DOUBLE) / CAST(t AS DOUBLE), 6) AS revenue_share
FROM cls, tot GROUP BY 1, t ORDER BY 1
"""


# re-export everything (including underscore helpers) to later sections
__all__ = [n for n in dir() if not n.startswith("__")]
