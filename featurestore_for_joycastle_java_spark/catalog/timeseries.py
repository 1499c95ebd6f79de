"""Time-series queries over the events table (SURVEY.md §2.2):
autocorrelation and period detection, weekday and seasonal residuals,
change points (CUSUM, binary segmentation), trend tests (Mann-Kendall,
Theil-Sen, runs test), rolling medians, record highs, week-over-week
growth, OHLC bars and punchcards — exact integer moment sums where the
oracle must match bit for bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.catalog.features import _dec
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


# ------------------------------------------------------------ time series


@query(
    "ts_autocorr_hourly",
    # Hour index is pure calendar arithmetic (days-since-anchor * 24 +
    # hour) — no epoch/timezone conversion, so both engines agree on the
    # grid; gaps are zero-filled from the dense hour sequence. The five
    # moment sums over (x_t, x_{t+1}) pairs are exact wide integers;
    # doubles only in the final closed form (sqrt is IEEE-exact).
    oracle="""
WITH h AS (
    SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 24
           + EXTRACT(hour FROM ts) AS h,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
grid AS (
    SELECT g.h, COALESCE(hh.c, 0) AS c
    FROM (SELECT unnest(generate_series((SELECT MIN(h) FROM h),
                                        (SELECT MAX(h) FROM h))) AS h) g
    LEFT JOIN h hh USING (h)),
p AS (
    SELECT a.c AS x, b.c AS y
    FROM grid a JOIN grid b ON b.h = a.h + 1),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM p)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
              * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS autocorr_lag1
FROM s
""",
)
def ts_autocorr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lag-1 autocorrelation of the hourly event-count series —
    the "is load sticky hour-over-hour" read that sizes smoothing
    windows and anomaly thresholds. Missing hours count as ZERO (the
    series is zero-filled over the dense min..max hour grid), not
    skipped — skipping gaps silently biases the estimate upward.

    Scale shape: the fact table collapses to the hourly frame in one
    map-side-combined groupBy (rows = hours, not events — 720 here,
    ~9 000 per year at any data scale), so the dense-grid fill, the
    h→h+1 self-join and the moment pass all run on a frame that is
    CALENDAR-sized, independent of event volume. Moments are exact
    wide integers (the `eval_feature_corr` pattern); never float
    running sums.

    Overflow bound: with n hour-pairs and per-hour counts ≤ c_max, the
    widest intermediate is n·Σxy ≤ n²·c_max², so DECIMAL(38,0) holds
    while n·c_max < 10¹⁹ — e.g. a full DECADE of hours (n ≈ 9·10⁴)
    tolerates ~10¹⁴ events per hour. Spark decimal overflow is loud
    (null / ANSI exception), never a silently wrapped value."""
    ev = load_table(spark, sf_dir, "events").select(
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            * 24
            + F.hour("ts")
        ).alias("h")
    )
    h = ev.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rng = h.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = rng.select(
        F.explode(F.sequence("lo", "hi")).alias("h")
    ).join(h, "h", "left").select(
        "h", F.coalesce("c", F.lit(0).cast("bigint")).alias("c")
    )
    a, b = grid.alias("a"), grid.alias("b")
    p = a.join(b, F.col("b.h") == F.col("a.h") + 1).select(
        F.col("a.c").alias("x"), F.col("b.c").alias("y")
    )
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(_dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(_dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(_dec(F.col("y")) * F.col("y")).alias("syy"),
    )
    n, sx, sy = _dec(F.col("n")), _dec(F.col("sx")), _dec(F.col("sy"))
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return s.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        (num / (dx * dy)).alias("autocorr_lag1"),
    )


@query(
    "ts_cusum_changepoint",
    # CUSUM_k = n·prefix_k − k·S is the cumulative deviation from the
    # global mean scaled by n (all integers — no mean division); the
    # argmax day (earliest on ties) is the classic change-point
    # estimate. Window runs over the CALENDAR-sized daily frame.
    oracle="""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM d),
cum AS (
    SELECT day, c,
           SUM(c) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS pfx,
           ROW_NUMBER() OVER (ORDER BY day) AS k
    FROM d),
sc AS (
    SELECT cum.day,
           CAST(tot.n * cum.pfx - cum.k * tot.s AS BIGINT)
               AS cusum_scaled,
           tot.n AS n_days, tot.s AS total_events
    FROM cum CROSS JOIN tot)
SELECT strftime(day, '%Y-%m-%d') AS change_day, cusum_scaled,
       ABS(cusum_scaled) AS cusum_abs, n_days, total_events
FROM sc
ORDER BY ABS(cusum_scaled) DESC, day ASC
LIMIT 1
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily event volume: the day k
    maximizing |Σ_{i≤k} (x_i − mean)| is the most likely level-shift
    point (Page 1954; the standard at-most-one-changepoint estimator).
    Kept in exact integers by scaling with n: n·prefix_k − k·S — no
    mean division, no float accumulation, so the argmax (earliest day
    on ties) is bit-deterministic on both engines.

    Scale shape: the fact collapses to the DAILY frame first (one
    map-side-combined groupBy; 30 rows here, 365/year at any volume) —
    the running-sum window and the top-1 sort are calendar-sized
    metadata ops, same accept as `layout_compaction_bins`."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = d.agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.select(
        "day",
        F.sum("c").over(w).alias("pfx"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
    )
    sc = cum.crossJoin(F.broadcast(tot)).select(
        F.col("day").alias("change_day"),
        (F.col("n") * F.col("pfx") - F.col("k") * F.col("s"))
        .cast("bigint")
        .alias("cusum_scaled"),
        F.col("n").alias("n_days"),
        F.col("s").alias("total_events"),
    )
    return (
        sc.withColumn("cusum_abs", F.abs("cusum_scaled"))
        .orderBy(F.col("cusum_abs").desc(), F.col("change_day").asc())
        .limit(1)
        .select(
            F.date_format("change_day", "yyyy-MM-dd").alias("change_day"),
            "cusum_scaled", "cusum_abs", "n_days", "total_events",
        )
    )


@query(
    "ts_seasonal_residuals",
    # Expected count for cell (day, hour) under the independence
    # (day-effect × hour-effect) model is daytot·hourtot/grand;
    # residual_scaled = cnt·grand − daytot·hourtot keeps it integer.
    # Top-20 by |residual| with (day, hour) tiebreak is deterministic.
    oracle="""
WITH o AS (
    SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
dt AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS daytot FROM o GROUP BY 1),
ht AS (SELECT hour, CAST(SUM(cnt) AS BIGINT) AS hourtot FROM o GROUP BY 1),
g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS grand FROM o),
c AS (
    SELECT dt.day, ht.hour, COALESCE(o.cnt, 0) AS cnt,
           dt.daytot, ht.hourtot
    FROM dt CROSS JOIN ht
    LEFT JOIN o ON o.day = dt.day AND o.hour = ht.hour)
SELECT strftime(c.day, '%Y-%m-%d') AS day,
       CAST(c.hour AS BIGINT) AS hour, c.cnt,
       CAST(c.cnt * g.grand - c.daytot * c.hourtot AS BIGINT)
           AS residual_scaled
FROM c CROSS JOIN g
ORDER BY ABS(CAST(c.cnt * g.grand - c.daytot * c.hourtot AS BIGINT))
         DESC, c.day ASC, c.hour ASC
LIMIT 20
""",
)
def ts_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly cells: the 20 (day, hour) cells
    whose event count deviates most from the day-effect × hour-effect
    expectation (daytot·hourtot/grand — the rank-1 margin model every
    ops dashboard uses). Unlike the global z-score query this flags
    "3 AM spiked *for a 3 AM*", not "3 AM is below the all-hours mean".
    Cells are ZERO-FILLED over the observed-days × observed-hours grid
    — a silent hour (zero events where the margins expect thousands)
    is exactly the outage signature the read exists to flag; skipping
    absent cells would hide it. Integer-scaled residual (cnt·grand −
    daytot·hourtot) — exact, and sums to zero over the full grid
    (margin-model identity, property-tested).

    Scale shape: fact → (day, hour) cell frame in one map-side-combined
    groupBy; the zero-fill grid is days × 24 (calendar-sized, built
    from the two broadcast margin frames, never from the fact); the
    top-20 is a TakeOrderedAndProject, never a global sort."""
    o = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("day"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    dt = o.groupBy("day").agg(F.sum("cnt").cast("bigint").alias("daytot"))
    ht = o.groupBy("hour").agg(F.sum("cnt").cast("bigint").alias("hourtot"))
    g = o.agg(F.sum("cnt").cast("bigint").alias("grand"))
    res = (
        dt.crossJoin(F.broadcast(ht))
        .join(o, ["day", "hour"], "left")
        .select(
            "day",
            "hour",
            F.coalesce("cnt", F.lit(0).cast("bigint")).alias("cnt"),
            "daytot",
            "hourtot",
        )
        .crossJoin(F.broadcast(g))
        .select(
            "day",
            "hour",
            "cnt",
            (
                F.col("cnt") * F.col("grand")
                - F.col("daytot") * F.col("hourtot")
            )
            .cast("bigint")
            .alias("residual_scaled"),
        )
    )
    return (
        res.orderBy(
            F.abs("residual_scaled").desc(),
            F.col("day").asc(),
            F.col("hour").asc(),
        )
        .limit(20)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "hour", "cnt", "residual_scaled",
        )
    )


# -------------------------------------------------------- hourly OHLC


@query(
    "ts_ohlc_hourly",
    oracle="""
WITH p AS (
    SELECT DATE_TRUNC('hour', ts) AS h, value, epoch_us(ts) AS t_us,
           event_id
    FROM events WHERE event_type = 'purchase'),
r AS (
    SELECT h, value,
           ROW_NUMBER() OVER (PARTITION BY h
                              ORDER BY t_us, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY h
                              ORDER BY t_us DESC, event_id DESC) AS rn_d
    FROM p)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       COUNT(*) AS n_trades,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close
FROM r GROUP BY h
""",
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open-high-low-close) candlestick rollup of purchase values
    per hour — the canonical time-series downsampling for dashboards and
    bar-chart feeds; open/close are position-based (first/last by
    (epoch, event_id) — total order, so ties cannot flip the candle),
    high/low are plain extrema. Values pass through untouched (no
    arithmetic), so the hash compare is exact with no rounding.

    Scale shape: one shuffle on the hour key; the first/last windows
    partition per hour (bounded groups) and the final agg is
    combine-friendly; at 100 TB the hour key is the natural partition
    column and this collapses to a near-local rollup."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "value",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
    )
    w_a = Window.partitionBy("h").orderBy("t_us", "event_id")
    w_d = Window.partitionBy("h").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    r = p.select(
        "h",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        r.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
                "close"
            ),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_trades",
            "open",
            "high",
            "low",
            "close",
        )
    )


# --------------------------------------------- weekday seasonality


@query(
    "ts_weekday_seasonality",
    # Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dayofweek is
    # 0=Sunday..6 — the oracle adds 1 to line the keys up.
    oracle="""
WITH d AS (
    SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           value
    FROM events WHERE event_type = 'purchase'),
g AS (
    SELECT dow, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS spend
    FROM d GROUP BY 1),
x AS (SELECT MAX(spend / n) AS hi, MIN(spend / n) AS lo FROM g)
SELECT g.dow, g.n, g.spend,
       ROUND(g.spend / g.n, 6) AS avg_spend,
       ROUND(x.hi / x.lo, 6) AS weekly_amplitude
FROM g, x
""",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality profile: purchase count and spend per day of
    week plus the weekly amplitude (best-day over worst-day average
    ratio, repeated on every row as the series-level statistic) — the
    calendar decomposition a forecaster checks before choosing a
    seasonal period, complementing ``ts_autocorr_hourly`` (which finds
    the period statistically; this names it).

    Scale shape: one combine-friendly 7-group agg with the exact
    decimal-sum path; the amplitude is a 1-row broadcast back over the
    7-row frame."""
    from featurestore_for_joycastle_java_spark.operators.relational import (
        exact_sum,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    g = ev.groupBy(F.dayofweek("ts").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value")).alias("spend"),
    )
    x = g.agg(
        F.max(F.col("spend") / F.col("n")).alias("hi"),
        F.min(F.col("spend") / F.col("n")).alias("lo"),
    )
    return g.crossJoin(F.broadcast(x)).select(
        "dow",
        "n",
        "spend",
        F.round(F.col("spend") / F.col("n"), 6).alias("avg_spend"),
        F.round(F.col("hi") / F.col("lo"), 6).alias("weekly_amplitude"),
    )


# ------------------------------------------------- WoW growth report


@query(
    "ts_wow_growth",
    oracle="""
WITH w AS (
    SELECT event_type,
           DATE_TRUNC('week', ts) AS wk,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2),
l AS (
    SELECT event_type, wk, n,
           LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
    FROM w)
SELECT event_type,
       strftime(wk, '%Y-%m-%d') AS week_start,
       n,
       n - COALESCE(prev_n, 0) AS delta,
       CASE WHEN prev_n IS NULL THEN NULL
            ELSE ROUND((CAST(n AS DOUBLE) - prev_n) / prev_n, 6)
       END AS pct_change
FROM l
""",
)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the period-over-period
    report every BI layer ships: weekly counts, absolute delta, and
    percent change vs the previous week (NULL on each series' first
    week — 'growth from nothing' is undefined, not infinite). Lag is
    over the WEEKLY ROLLUP (|types x weeks| rows), positional-lag-safe
    because the rollup grain is dense by construction within a series'
    observed span only if no week is empty — an empty week SHIFTS the
    comparison to the last observed week, which is the standard BI
    semantic for sparse series (calendar-strict variants join on
    wk - 7 days, the `feature_lag_matrix` pattern).

    Scale shape: one combine-friendly rollup, then a per-type window
    over the tiny weekly frame."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(F.count(F.lit(1)).alias("n"))
    lw = Window.partitionBy("event_type").orderBy("wk")
    l = w.withColumn("prev_n", F.lag("n").over(lw))
    return l.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "n",
        (F.col("n") - F.coalesce(F.col("prev_n"), F.lit(0))).alias(
            "delta"
        ),
        F.when(
            F.col("prev_n").isNotNull(),
            F.round(
                (F.col("n").cast("double") - F.col("prev_n"))
                / F.col("prev_n"),
                6,
            ),
        ).alias("pct_change"),
    )


# ----------------------------------------------------- punchcard


@query(
    "ts_punchcard",
    # Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6 — +1 in
    # the oracle lines the keys up (same mapping as
    # ts_weekday_seasonality).
    oracle="""
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hr,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def ts_punchcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The punchcard: event and distinct-user counts per (day-of-week,
    hour-of-day) cell — the activity heatmap behind capacity planning
    and anomaly eyeballing (a hot cell that empties is an outage; a
    cold cell that fills is a bot). 7x24 output regardless of data
    size.

    Scale shape: one combine-friendly agg on a tiny composite key; the
    distinct-user count is the only Expand, bounded by the 168-cell
    grid on the reduce side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "ts_mann_kendall",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
p AS (
    SELECT a.event_type,
           CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                         WHEN b.cnt < a.cnt THEN -1
                         ELSE 0 END) AS BIGINT) AS s_stat
    FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY 1),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM d GROUP BY 1),
tie AS (
    SELECT event_type,
           CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
    FROM (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS t
          FROM d GROUP BY 1, 2)
    GROUP BY 1),
v AS (
    SELECT n.event_type, n_days, COALESCE(s_stat, 0) AS s_stat,
           n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
    FROM n JOIN tie USING (event_type) LEFT JOIN p USING (event_type))
SELECT event_type, n_days, s_stat, var18,
       CAST(ROUND(CASE WHEN s_stat > 0
                       THEN (CAST(s_stat AS DOUBLE) - 1.0)
                            / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                       WHEN s_stat < 0
                       THEN (CAST(s_stat AS DOUBLE) + 1.0)
                            / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                       ELSE 0.0 END * 1000000, 0) AS BIGINT) AS z_micro,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing'
            ELSE 'flat' END AS trend
FROM v
""",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall non-parametric trend test (Mann 1945; Kendall 1975)
    on the daily event count per event_type: the S statistic
    (sum of sign(later - earlier) over all day pairs), the tie-corrected
    variance numerator ``var18 = 18 * Var(S)`` (kept as the exact
    integer ``n(n-1)(2n+5) - sum t(t-1)(2t+5)``), and the
    continuity-corrected z in micro units. The standard "is this metric
    drifting?" monitor for pipeline health dashboards — rank-based, so
    robust to the heavy-tailed counts a mean-slope fit would chase.

    Plan shape: the day rollup is one combine-friendly aggregate that
    collapses the row count to (types x days) BEFORE the pairwise stage,
    so the self-join compares days, not events — O(days^2) per type with
    days bounded by the calendar, types parallel across the cluster, and
    the equi-key on event_type keeps it a hash/merge join, never a
    cartesian. z's SQRT is the one double op, micro-rounded per the
    house transcendental pattern."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = d.select(
        "event_type", F.col("day").alias("__da"), F.col("cnt").alias("__ca")
    )
    b = d.select(
        F.col("event_type").alias("__et"),
        F.col("day").alias("__db"),
        F.col("cnt").alias("__cb"),
    )
    p = (
        a.join(
            b,
            (F.col("event_type") == F.col("__et"))
            & (F.col("__da") < F.col("__db")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("__cb") > F.col("__ca"), 1)
                .when(F.col("__cb") < F.col("__ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    tie = (
        d.groupBy("event_type", "cnt")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("__t * (__t - 1) * (2 * __t + 5)")).alias(
                "__tie_term"
            )
        )
    )
    v = (
        n.join(tie, "event_type")
        .join(p, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce(F.col("s_stat"), F.lit(0)).cast("bigint").alias(
                "s_stat"
            ),
            F.expr(
                "n_days * (n_days - 1) * (2 * n_days + 5) - __tie_term"
            ).alias("var18"),
        )
    )
    z = F.expr(
        "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
        " / SQRT(CAST(var18 AS DOUBLE) / 18.0)"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
        " / SQRT(CAST(var18 AS DOUBLE) / 18.0)"
        " ELSE 0.0 END"
    )
    return v.select(
        "event_type",
        "n_days",
        "s_stat",
        "var18",
        F.round(z * F.lit(1000000), 0).cast("bigint").alias("z_micro"),
        F.when(F.col("s_stat") > 0, F.lit("increasing"))
        .when(F.col("s_stat") < 0, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
    )


@query(
    "ts_theil_sen",
    # exact integer median: the two middle order statistics are summed
    # (x2 for odd counts), so no interpolation semantics can diverge
    # between engines; ties in slope_micro are safe because the k-th
    # order statistic is tie-order-independent.
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
p AS (
    SELECT a.event_type,
           CAST(ROUND(CAST(b.cnt - a.cnt AS DOUBLE)
                / CAST(DATE_DIFF('day', a.day, b.day) AS DOUBLE)
                * 1000000, 0) AS BIGINT) AS slope_micro
    FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
rk AS (
    SELECT event_type, slope_micro,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY slope_micro) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
    FROM p)
SELECT event_type, n_pairs,
       CAST(SUM(CASE WHEN n_pairs % 2 = 1 AND rn = (n_pairs + 1) // 2
                     THEN 2 * slope_micro
                     WHEN n_pairs % 2 = 0
                          AND rn IN (n_pairs // 2, n_pairs // 2 + 1)
                     THEN slope_micro
                     ELSE 0 END) AS BIGINT) AS sen_slope_x2_micro
FROM rk GROUP BY 1, 2
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope estimator (Theil 1950; Sen 1968) on the daily
    event count per event_type: the median of all pairwise slopes
    (cnt_j - cnt_i) / (day_j - day_i), doubled to stay integer-exact
    (``sen_slope_x2_micro`` = twice the median, in micro events/day).
    The robust companion to ``ts_mann_kendall``: MK answers IS there a
    monotone trend, Theil-Sen answers HOW STEEP, with a 29.3% breakdown
    point against the outlier days a least-squares slope would chase.

    Plan shape: the same collapsed (type x day) frame as MK feeds the
    O(days^2)-per-type pair stage (days bounded by the calendar, types
    parallel), then the exact median comes from a per-type rank window
    over the PAIRS frame — the order statistic trick used by
    ``agg_exact_median``, no interpolation, no floats except the
    pre-rounded micro slope."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = d.select(
        "event_type", F.col("day").alias("__da"), F.col("cnt").alias("__ca")
    )
    b = d.select(
        F.col("event_type").alias("__et"),
        F.col("day").alias("__db"),
        F.col("cnt").alias("__cb"),
    )
    p = a.join(
        b,
        (F.col("event_type") == F.col("__et"))
        & (F.col("__da") < F.col("__db")),
    ).select(
        "event_type",
        F.round(
            (F.col("__cb") - F.col("__ca")).cast("double")
            / F.datediff(F.col("__db"), F.col("__da")).cast("double")
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("slope_micro"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    rk = p.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n_pairs"),
    )
    return rk.groupBy("event_type", "n_pairs").agg(
        F.sum(
            F.expr(
                "CASE WHEN n_pairs % 2 = 1 AND rn = (n_pairs + 1) DIV 2"
                " THEN 2 * slope_micro"
                " WHEN n_pairs % 2 = 0"
                "      AND rn IN (n_pairs DIV 2, n_pairs DIV 2 + 1)"
                " THEN slope_micro"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("sen_slope_x2_micro")
    )


@query(
    "ts_record_highs",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
m AS (
    SELECT event_type, day, cnt,
           MAX(cnt) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
    FROM d),
rec AS (SELECT * FROM m WHERE prev_max IS NULL OR cnt > prev_max)
SELECT event_type, day, cnt,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
            AS BIGINT) AS record_seq
FROM rec
""",
)
def ts_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-record days: for each event type, the days whose daily
    event count set a new all-time high (first day counts as the first
    record), with each record's sequence number. The classic 'records
    in a random sequence' statistic (Rényi 1962: i.i.d. sequences
    expect ~ln n records, so a surplus signals drift/growth) — the
    monitoring twin of ``ts_cusum_changepoint``: CUSUM finds level
    shifts, record counting finds them without any reference mean.

    Plan shape: the day rollup collapses events to (type × day) rows
    first; both windows (running max, record sequence) are partitioned
    by event_type — parallel across types, calendar-bounded within, no
    global window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = d.withColumn("prev_max", F.max("cnt").over(w_prev))
    rec = m.filter(
        F.col("prev_max").isNull() | (F.col("cnt") > F.col("prev_max"))
    )
    w_seq = Window.partitionBy("event_type").orderBy("day")
    return rec.select(
        "event_type",
        "day",
        "cnt",
        F.row_number().over(w_seq).cast("bigint").alias("record_seq"),
    )


@query(
    "ts_runs_test",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
           CAST(SUM(cnt) AS BIGINT) AS sc
    FROM d GROUP BY 1),
sgn AS (
    SELECT d.event_type, d.day,
           (d.cnt * t.nd > t.sc) AS above
    FROM d JOIN tot t USING (event_type)),
runs AS (
    SELECT event_type, above,
           LAG(above) OVER (PARTITION BY event_type ORDER BY day) AS prev
    FROM sgn),
agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) FILTER (WHERE above) AS BIGINT) AS n_above,
           CAST(COUNT(*) FILTER (WHERE NOT above) AS BIGINT) AS n_below,
           CAST(1 + COUNT(*) FILTER (WHERE prev IS NOT NULL
                                     AND above <> prev) AS BIGINT)
               AS n_runs
    FROM runs GROUP BY 1)
SELECT event_type, n_days, n_above, n_below, n_runs,
       CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1
            THEN CAST(FLOOR(1000000.0 *
                 (CAST(n_runs AS DOUBLE)
                  - (1.0 + 2.0 * CAST(n_above AS DOUBLE)
                         * CAST(n_below AS DOUBLE)
                         / CAST(n_days AS DOUBLE)))
                 / SQRT(2.0 * CAST(n_above AS DOUBLE)
                        * CAST(n_below AS DOUBLE)
                        * (2.0 * CAST(n_above AS DOUBLE)
                           * CAST(n_below AS DOUBLE)
                           - CAST(n_days AS DOUBLE))
                        / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                           * CAST(n_days - 1 AS DOUBLE)))) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS z_micro
FROM agg
""",
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940, Ann. Math.
    Stat. 11) on each event type's daily count sequence, dichotomized
    about the type's own mean with EXACT integer comparison (cnt·n >
    Σcnt — no division): too FEW runs means positively autocorrelated
    drift, too MANY means oscillation. Completes the reference-free
    drift battery — ``ts_mann_kendall`` detects monotone trend,
    ``ts_record_highs`` detects growth, the runs test detects ANY
    departure from exchangeability of the above/below sequence. The z
    assembly is pure IEEE doubles on exact integer inputs (one SQRT),
    micro-floored, degenerate-type guarded to 0.

    Plan shape: collapse-first (the MK discipline) to (type × day),
    one broadcast per-type totals join, one per-type LAG window, one
    final aggregate — everything after the rollup is calendar-bounded
    and partition-parallel across types."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("cnt").alias("sc")
    )
    sgn = d.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        (F.col("cnt") * F.col("nd") > F.col("sc")).alias("above"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    runs = sgn.withColumn("prev", F.lag("above").over(w))
    agg = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.count(F.when(F.col("above"), 1)).cast("bigint").alias("n_above"),
        F.count(F.when(~F.col("above"), 1)).cast("bigint").alias("n_below"),
        (
            1
            + F.count(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                )
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        F.expr(
            "CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1"
            " THEN CAST(FLOOR(1000000.0 *"
            " (CAST(n_runs AS DOUBLE)"
            "  - (1.0 + 2.0 * CAST(n_above AS DOUBLE)"
            "         * CAST(n_below AS DOUBLE)"
            "         / CAST(n_days AS DOUBLE)))"
            " / SQRT(2.0 * CAST(n_above AS DOUBLE)"
            "        * CAST(n_below AS DOUBLE)"
            "        * (2.0 * CAST(n_above AS DOUBLE)"
            "           * CAST(n_below AS DOUBLE)"
            "           - CAST(n_days AS DOUBLE))"
            "        / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
            "           * CAST(n_days - 1 AS DOUBLE)))) AS BIGINT)"
            " ELSE 0L END"
        ).alias("z_micro"),
    )


@query(
    "ts_autoperiod",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
ser AS (
    SELECT event_type, cnt,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY day) AS BIGINT) AS t
    FROM d),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s
    FROM ser GROUP BY 1),
den AS (
    SELECT ser.event_type,
           SUM(CAST(ser.cnt * tot.n - tot.s AS HUGEINT)
               * (ser.cnt * tot.n - tot.s)) AS acf_den
    FROM ser JOIN tot USING (event_type) GROUP BY 1),
lags AS (SELECT UNNEST(generate_series(2, 14)) AS l),
num AS (
    SELECT a.event_type, lags.l,
           SUM(CAST(a.cnt * tot.n - tot.s AS HUGEINT)
               * (b.cnt * tot.n - tot.s)) AS acf_num
    FROM ser a
    JOIN tot USING (event_type)
    CROSS JOIN lags
    JOIN ser b ON b.event_type = a.event_type AND b.t = a.t + lags.l
    GROUP BY 1, 2),
ppm AS (
    SELECT num.event_type, num.l,
           CASE WHEN acf_num >= 0
                THEN (acf_num * 1000000) // acf_den
                ELSE -(((-acf_num) * 1000000) // acf_den) END AS acf_ppm
    FROM num JOIN den USING (event_type))
SELECT p.event_type, tot.n AS n_days,
       CAST(p.l AS BIGINT) AS best_lag,
       CAST(p.acf_ppm AS BIGINT) AS best_acf_ppm
FROM (SELECT event_type, l, acf_ppm,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY acf_ppm DESC, l ASC) AS rk
      FROM ppm) p
JOIN tot USING (event_type)
WHERE p.rk = 1
""",
)
def ts_autoperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection per event type: the lag l ∈ [2, 14]
    maximizing the autocorrelation of the daily count series, with the
    ACF kept EXACT by n-scaling — numerator Σ(n·x_t − S)(n·x_{t+l} − S)
    and denominator Σ(n·x_t − S)² are exact integers (n·x − S avoids
    the float mean entirely), the ratio sign-factored to ppm, argmax
    tie-broken to the smallest lag. The squared/product sums escalate
    past BIGINT (ADVICE r10): Spark accumulates them in decimal(38,0)
    and the oracle in HUGEINT, because Σc² ≤ n³C² wraps int64 already
    at C ≈ 4×10⁵ events/day/type over a year (n=365); the decimal
    envelope (n³C²·10⁶ < 10³⁸) holds to C ≈ 10¹²/day — unreachable. (This synthetic fixture's daily
    counts are near-exchangeable — best lags land on noise peaks with
    ACF ≈ 0.16–0.36, measured — so the test pins the exact pure-Python
    replay, not a particular lag.) The self-tuning companion
    of ``ts_weekday_seasonality``/``ts_seasonal_residuals``, which
    ASSUME the period; this one finds it, which is what a monitoring
    pipeline needs when the cadence is unknown (hourly vs daily vs
    weekly jobs).

    Plan shape: collapse-first to (type × day); the lag pairing joins
    on the EQUI key (type, t + l = t2) after a cross join against the
    13-row lag frame — work is types × days × lags, calendar-bounded,
    never corpus-sized; one window argmax over types × lags rows."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_t = Window.partitionBy("event_type").orderBy("day")
    ser = d.select(
        "event_type",
        "cnt",
        F.row_number().over(w_t).cast("bigint").alias("t"),
    )
    tot = ser.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    st = ser.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "t",
        (F.col("cnt") * F.col("n") - F.col("s")).alias("c"),
        "n",
    )
    # st feeds three branches (denominator, both sides of the lag
    # join); materialize the tiny (types x days) frame once so the
    # day-rollup subtree isn't re-planned per branch — the
    # single-reference discipline from the triangles/rfm restructures
    st = st.localCheckpoint(eager=True)
    # c ≤ n·C fits bigint comfortably; the SQUARED sums do not (n³C²),
    # so the products run in decimal(18,0)² → decimal(37,0), summed to
    # decimal(38,0) — the eval_auc_delong_se escalation pattern.
    den = st.groupBy("event_type").agg(
        F.sum(
            F.col("c").cast("decimal(18,0)")
            * F.col("c").cast("decimal(18,0)")
        ).alias("acf_den")
    )
    lags = spark.range(2, 15).select(F.col("id").alias("l"))
    a = st.select(
        "event_type", "t", F.col("c").alias("ca")
    ).crossJoin(F.broadcast(lags)).select(
        "event_type", "l", (F.col("t") + F.col("l")).alias("t2"), "ca"
    )
    b = st.select(
        F.col("event_type").alias("__et"),
        F.col("t").alias("__tb"),
        F.col("c").alias("cb"),
    )
    num = (
        a.join(
            b,
            (F.col("event_type") == F.col("__et"))
            & (F.col("t2") == F.col("__tb")),
        )
        .groupBy("event_type", "l")
        .agg(
            F.sum(
                F.col("ca").cast("decimal(18,0)")
                * F.col("cb").cast("decimal(18,0)")
            ).alias("acf_num")
        )
    )
    ppm = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "l",
        F.expr(
            "CASE WHEN acf_num >= 0 THEN (acf_num * 1000000) DIV acf_den"
            " ELSE -(((-acf_num) * 1000000) DIV acf_den) END"
        ).alias("acf_ppm"),
    )
    best = (
        ppm.groupBy("event_type")
        .agg(
            F.max(
                F.struct(F.col("acf_ppm"), (-F.col("l")).alias("nl"))
            ).alias("m")
        )
        .select(
            "event_type",
            (-F.col("m.nl")).cast("bigint").alias("best_lag"),
            F.col("m.acf_ppm").cast("bigint").alias("best_acf_ppm"),
        )
    )
    return best.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        "best_lag",
        "best_acf_ppm",
    )


@query(
    "ts_rolling_median_7d",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
w AS (
    SELECT event_type, day, cnt,
           list_sort(list(cnt) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
    FROM d)
SELECT event_type, day, cnt,
       CAST(len(win) AS BIGINT) AS n_window,
       CAST(win[CAST((len(win) + 1) // 2 AS BIGINT)]
            + win[CAST(len(win) // 2 + 1 AS BIGINT)] AS BIGINT)
           AS med7_x2
FROM w
""",
)
def ts_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day median of the daily event count per type,
    as a ×2 integer (the ``agg_exact_median`` convention: lower+upper
    middle order statistics, so even windows need no float midpoint) —
    the robust rolling baseline for ratio/deviation alerts where
    ``window_rolling_7d``'s mean gets dragged by one spike day. The
    window median is computed by sorting the ≤7-element window list
    in both engines — bounded work per row, no percentile UDAF, and
    deterministic because integer sort has no ties to break.

    Plan shape: collapse-first to (type × day), one per-type window
    carrying a ≤7-element array — calendar-bounded rows, constant work
    per row, partition-parallel across types."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    w = d.select(
        "event_type",
        "day",
        "cnt",
        F.array_sort(F.collect_list("cnt").over(w7)).alias("win"),
    )
    return w.select(
        "event_type",
        "day",
        "cnt",
        F.size("win").cast("bigint").alias("n_window"),
        (
            F.element_at("win", F.expr("CAST((size(win) + 1) DIV 2 AS INT)"))
            + F.element_at("win", F.expr("CAST(size(win) DIV 2 + 1 AS INT)"))
        )
        .cast("bigint")
        .alias("med7_x2"),
    )


@query(
    "ts_binary_segmentation",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s
    FROM d GROUP BY 1),
c AS (
    SELECT d.event_type, d.day, d.cnt, tot.n, tot.s,
           CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type
                                   ORDER BY d.day) AS BIGINT) AS t,
           CAST(SUM(d.cnt * tot.n - tot.s) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cusum,
           CAST(SUM(d.cnt) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS psum
    FROM d JOIN tot USING (event_type)),
best AS (
    SELECT event_type, day AS split_day, t, cusum, psum, n, s
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY event_type
              ORDER BY ABS(cusum) DESC, t ASC) AS rk
          FROM c WHERE t < n)
    WHERE rk = 1)
SELECT event_type, split_day,
       t AS n_left, n - t AS n_right,
       CAST(ABS(cusum) AS BIGINT) AS cusum_peak,
       CAST(psum // t AS BIGINT) AS mean_left,
       CAST((s - psum) // (n - t) AS BIGINT) AS mean_right
FROM best
""",
)
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One level of binary-segmentation changepoint LOCALIZATION
    (Scott & Knott 1974; the top split of the recursive scheme) on each
    type's daily counts: the split point maximizing the exact n-scaled
    CUSUM |Σ_{i≤t}(n·xᵢ − S)| (ties → earliest day), with the two
    segment means in exact integer division. ``ts_cusum_changepoint``
    answers IS there a level shift; this answers WHERE, and what the
    before/after levels are — the pair a monitoring pipeline pages
    with. Deeper recursion is the same query applied per segment.

    Everything is exact integers: the n-scaling (n·x − S) avoids the
    float mean, the argmax is a window over calendar-bounded rows, and
    the segment means are truncated integer division (counts are
    non-negative). Collapse-first, type-partitioned windows only.

    Overflow envelope (ADVICE r10, the ``eval_kendall_tau``
    discipline): unlike ``ts_autoperiod`` there is NO squared term —
    the largest intermediate is the prefix CUSUM |Σ(n·x − S)| ≤ n²·C,
    so int64 holds up to C ≈ 7×10¹³ events/day/type over a year
    (n=365). Daily counts anywhere near that are physically
    implausible (10⁸ events/sec sustained), so BIGINT is kept; if the
    envelope is ever approached, escalate the cusum/psum window sums
    to decimal(38,0)/HUGEINT exactly as ts_autoperiod does."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    j = d.join(F.broadcast(tot), "event_type")
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = j.select(
        "event_type",
        "day",
        "n",
        "s",
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum(F.col("cnt") * F.col("n") - F.col("s"))
        .over(w_cum)
        .cast("bigint")
        .alias("cusum"),
        F.sum("cnt").over(w_cum).cast("bigint").alias("psum"),
    ).filter(F.col("t") < F.col("n"))
    best = (
        c.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("cusum")).alias("ac"),
                    (-F.col("t")).alias("nt"),
                    F.col("day").alias("day"),
                    F.col("psum").alias("psum"),
                    F.col("n").alias("n"),
                    F.col("s").alias("s"),
                )
            ).alias("m")
        )
        .select(
            "event_type",
            F.col("m.day").alias("split_day"),
            (-F.col("m.nt")).alias("t"),
            F.col("m.ac").alias("cusum_peak"),
            F.col("m.psum").alias("psum"),
            F.col("m.n").alias("n"),
            F.col("m.s").alias("s"),
        )
    )
    return best.select(
        "event_type",
        "split_day",
        F.col("t").alias("n_left"),
        (F.col("n") - F.col("t")).alias("n_right"),
        F.col("cusum_peak").cast("bigint"),
        F.expr("CAST(psum DIV t AS BIGINT)").alias("mean_left"),
        F.expr("CAST((s - psum) DIV (n - t) AS BIGINT)").alias("mean_right"),
    )
