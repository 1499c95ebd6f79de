"""Feature-store queries (SURVEY.md §2.2, §7.2): per-entity feature
computation and backfill, point-in-time training-set assembly, SCD1/SCD2
dimension maintenance, attribution, association rules and geo features.

The event helpers (``_events_us``, ``_split_mid``, ``_DAY_US``, ``_dec``)
live here and are shared with the relational, asof, quality and
timeseries modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.asof import (
    asof_join,
    multi_asof_join,
)
from featurestore_for_joycastle_java_spark.operators.iterate import fixpoint
from featurestore_for_joycastle_java_spark.operators.ranks import (
    global_row_number,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    exact_sum,
)
from featurestore_for_joycastle_java_spark.operators.scd import (
    scd1_upsert,
    scd2_apply,
    scd2_build,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "t", F.unix_micros(F.col("ts"))
    )


def _split_mid(df: DataFrame, t_col: str = "t") -> tuple[DataFrame, DataFrame]:
    """Split a frame at the midpoint of its time range: (before, after).

    The midpoint is computed as a 1-row aggregate broadcast back onto the
    frame (no collect, no driver round-trip in the plan) — the engine-side
    twin of the oracle's scalar subquery ``MIN + (MAX - MIN) // 2``."""
    bounds = df.agg(F.min(t_col).alias("__a"), F.max(t_col).alias("__b"))
    with_mid = df.crossJoin(F.broadcast(bounds)).withColumn(
        "__mid", F.expr("__a + (__b - __a) div 2")
    )
    before = with_mid.filter(F.col(t_col) < F.col("__mid")).drop(
        "__a", "__b", "__mid"
    )
    after = with_mid.filter(F.col(t_col) >= F.col("__mid")).drop(
        "__a", "__b", "__mid"
    )
    return before, after


_DAY_US = 86_400_000_000


def _dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


@query(
    "feature_daily_user",
    oracle="""
SELECT user_id,
       strftime(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS spend,
       COUNT(DISTINCT event_type) AS n_event_types
FROM events
GROUP BY user_id, DATE_TRUNC('day', ts)
""",
)
def feature_daily_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user feature backfill: the partition-parallel recompute
    shape — group by (entity, day); in production lands via
    write.partitionBy(day) so any day range can be recomputed
    independently and readers prune on day."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value")).alias("spend"),
            F.countDistinct("event_type").alias("n_event_types"),
        )
    )


@query(
    "feature_gap_fill",
    oracle="""
WITH bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
users AS (SELECT DISTINCT user_id FROM events),
spine AS (
    SELECT user_id,
           CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM users, bounds),
daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS spend
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       COALESCE(d.spend, 0) AS spend,
       COALESCE(LAST_VALUE(d.spend IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS ffill_spend
FROM spine s LEFT JOIN daily d USING (user_id, day)
""",
)
def feature_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily feature matrix: per-user date spine (sequence+explode
    over the global range) left-joined to daily purchase spend, gaps
    forward-filled with last(ignorenulls) — the training-data export
    shape. The spine is generated, never materialized as input; the
    window shuffles once on user_id."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    bounds = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day.alias("day"))
        .agg(
            exact_sum(F.col("value")).alias("spend")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("spend", F.lit(0.0)).alias("spend"),
            F.coalesce(
                F.last("spend", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("ffill_spend"),
        )
    )


@query(
    "feature_rollup_multires",
    oracle="""
WITH e AS (
    SELECT event_type, value,
           DATE_TRUNC('hour', ts)  AS h,
           DATE_TRUNC('day', ts)   AS d,
           DATE_TRUNC('month', ts) AS m
    FROM events)
SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
            WHEN GROUPING(d) = 0 THEN 'day'
            ELSE 'month' END AS resolution,
       strftime(COALESCE(h, d, m), '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM e
GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (m, event_type))
""",
)
def feature_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour/day/month continuous
    aggregates of the event stream in ONE grouping-sets pass — one scan,
    one shuffle, partial aggregation shared across resolutions (vs three
    separate jobs re-reading the fact table). GROUPING() disambiguates the
    levels; the bucket column carries whichever truncation is live.

    At 100 TB this is the precomputed-rollup pattern: land the output
    partitioned by (resolution, month(bucket)) and dashboards prune to one
    resolution's partitions."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("v_events_rollup")
    return spark.sql(
        """
        WITH e AS (
            SELECT event_type, value,
                   DATE_TRUNC('hour', ts)  AS h,
                   DATE_TRUNC('day', ts)   AS d,
                   DATE_TRUNC('month', ts) AS m
            FROM v_events_rollup)
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day'
                    ELSE 'month' END AS resolution,
               DATE_FORMAT(COALESCE(h, d, m), 'yyyy-MM-dd HH:mm:ss') AS bucket,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
        FROM e
        GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (m, event_type))
        """
    )


@query(
    "feature_latest_snapshot",
    oracle="""
SELECT user_id,
       epoch_us(ts) AS last_ts_us,
       value AS last_value,
       event_type AS last_event_type
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
""",
)
def feature_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-value-per-entity snapshot (the online-store materialization
    path): one window shuffle on the entity key, deterministic tiebreak
    on (ts, event_id). At 100 TB this is the incremental-merge candidate;
    the full-recompute form here is the correctness anchor."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
    )


@query(
    "feature_ewma_decay",
    # The fold is the DEFINITION of EWMA, and both engines run the same
    # IEEE ops in the same order (Spark aggregate and DuckDB list_reduce
    # are both left-to-right over the ordered values), so the unrounded
    # doubles agree bit-for-bit; 6dp rounding is belt and braces. The two
    # r3 latent divergences are pinned (r4, ADVICE fix): null values are
    # excluded EXPLICITLY on both sides (Spark collect_list drops them
    # silently, DuckDB list() keeps them), and the oracle orders by
    # (ts, event_id, value) — the exact field order of Spark's struct
    # sort — so a regenerated fixture with nulls or (ts, event_id) ties
    # cannot flip parity.
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(list_reduce(list(value ORDER BY ts, event_id, value),
                         (acc, v) -> 0.3 * v + 0.7 * acc), 6) AS ewma_value
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
""",
)
def feature_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed feature value per user (alpha = 0.3) — the
    recency-weighted aggregate a feature store serves next to plain
    sums/averages. See ``operators.features.ewma_decay`` for semantics
    and the 100 TB envelope (this registration folds the full fixture;
    the ``since`` time-slice bound is exercised in tests)."""
    from featurestore_for_joycastle_java_spark.operators.features import (
        ewma_decay,
    )

    ev = load_table(spark, sf_dir, "events")
    return ewma_decay(
        ev, "user_id", "ts", "event_id", "value", alpha=0.3
    )


@query(
    "feature_rfm",
    oracle="""
WITH p AS (
    SELECT user_id, CAST(ts AS DATE) AS d, value
    FROM events WHERE event_type = 'purchase'),
a AS (SELECT MAX(d) AS anchor FROM p),
u AS (
    SELECT user_id,
           CAST(date_diff('day', MAX(d), (SELECT anchor FROM a)) AS INT)
               AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS monetary
    FROM p GROUP BY user_id),
s AS (
    SELECT *,
           CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS INT)
               AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS INT)
               AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS INT)
               AS m_score
    FROM u)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
           || CAST(m_score AS VARCHAR) AS rfm_segment
FROM s
""",
)
def feature_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring, the
    feature-store staple — with every quintile an EXACT global NTILE(5)
    computed scale-safely: two-pass range bucketing + ``ntile_from_rank``
    integer arithmetic (operators/ranks.py), so no window in the plan
    funnels the full user population through one task (a plain NTILE()
    OVER (ORDER BY …) would — the r1-flagged scale-killer). Score
    convention: 1 = best quintile (most recent / most frequent / highest
    spend); descending orders rank on the negated metric with user_id
    tiebreak, exactly NTILE's (metric DESC, user_id) order. Monetary sums
    decimal-exactly before the double cast (the ``exact_sum`` pattern) so
    both engines rank identical values.

    Plan shape (VERDICT r9 ask #2 — the triangles single-reference
    discipline): the three quintiles are NOT three independent rank
    cascades joined back on user_id (that shape referenced the per-user
    base TEN times in the static plan — 3 cascades x stats/rank/counts
    branches + the final join — 66 Exchange nodes, the r9 plan-audit
    max). Instead the base is MELTED once via explode into (user_id,
    metric, sortval) rows — sortval pre-negated for the descending
    metrics — ranked by ONE ``grouped_row_number`` partitioned on the
    3-value metric column (range-bucketed per metric, so no whole-metric
    window), scored, and pivoted back with a single groupBy(user_id).
    The base is referenced only by the melt's three audit branches
    (stats / rank / counts); the join-back disappears because the melt
    carries the base columns through."""
    from featurestore_for_joycastle_java_spark.operators.ranks import (
        grouped_row_number,
        ntile_from_rank,
    )
    from featurestore_for_joycastle_java_spark.operators.relational import exact_sum

    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = p.agg(F.max(F.to_date("ts")).alias("__anchor"))
    # The melted per-user frame feeds THREE plan branches (the grouped
    # rank's stats/rank/counts) — cache the base once or the events scan
    # + groupBy re-runs per branch. Same lifetime note as the other
    # operator caches: LRU-evictable, bounded by |users| rows. The
    # recency anchor stays OUT of the base: ordering by recency asc is
    # ordering by last-purchase-date desc (recency = anchor - last_d,
    # anchor constant), so the rank uses the negated day number and the
    # anchor joins once, after the pivot — keeping its agg subtree out
    # of all three melt branches.
    u = (
        p.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("__last_d"),
            F.count(F.lit(1)).alias("frequency"),
            exact_sum(F.col("value")).alias("monetary"),
        )
        .cache()
    )

    def metric_row(name: str, sortval) -> F.Column:
        return F.struct(
            F.lit(name).alias("metric"),
            sortval.cast("double").alias("sortval"),
        )

    epoch = F.lit("1970-01-01").cast("date")
    melted = u.select(
        "user_id",
        "__last_d",
        "frequency",
        "monetary",
        F.explode(
            F.array(
                metric_row("r", -F.datediff(F.col("__last_d"), epoch)),
                metric_row("f", -F.col("frequency")),
                metric_row("m", -F.col("monetary")),
            )
        ).alias("__ms"),
    ).select(
        "user_id",
        "__last_d",
        "frequency",
        "monetary",
        F.col("__ms.metric").alias("__metric"),
        F.col("__ms.sortval").alias("__sortval"),
    )

    ranked = grouped_row_number(
        melted, ["__metric"], "__sortval", ["user_id"], "__rn", "__n"
    )
    scored = ranked.withColumn(
        "__score", ntile_from_rank(F.col("__rn"), F.col("__n"), 5)
    )

    def pick(metric: str) -> F.Column:
        return F.max(
            F.when(F.col("__metric") == metric, F.col("__score"))
        )

    out = (
        scored.groupBy("user_id")
        .agg(
            F.max("__last_d").alias("__last_d"),
            F.max("frequency").alias("frequency"),
            F.max("monetary").alias("monetary"),
            pick("r").alias("r_score"),
            pick("f").alias("f_score"),
            pick("m").alias("m_score"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff(F.col("__anchor"), F.col("__last_d"))
        )
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )


@query(
    "feature_scd2_history",
    # Gaps-and-islands SCD2: collapse consecutive identical values with a
    # lag-change flag, then effective-date the change rows with lead.
    # Both windows share one user_id partitioning — one shuffle total.
    oracle="""
WITH p AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS t
    FROM events WHERE event_type = 'purchase'),
chg AS (
    SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id
                                     ORDER BY t, event_id) IS NULL
                     OR value IS DISTINCT FROM
                        LAG(value) OVER (PARTITION BY user_id
                                         ORDER BY t, event_id)
                   THEN 1 ELSE 0 END AS is_chg
    FROM p),
hist AS (
    SELECT user_id, value, t AS valid_from_us,
           LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS valid_to_us
    FROM chg WHERE is_chg = 1)
SELECT user_id, value, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM hist
""",
)
def feature_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a change
    log: per user, collapse runs of consecutive identical purchase values
    (lag-based change detection — the gaps-and-islands pattern), then
    effective-date each surviving change with [valid_from, valid_to)
    from lead; the open row is ``is_current``. The dimension-table
    maintenance every feature store does on entity attributes. Both
    windows hash-partition on user_id once; no self-join, no explode —
    at 100 TB this is one shuffle of the change log."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    chg = p.withColumn(
        "is_chg",
        # first row per user always opens a version, even a NULL value
        # (lag-ts null test; aligned with operators/scd.py, r5)
        (
            F.lag("t").over(w).isNull()
            | ~F.col("value").eqNullSafe(F.lag("value").over(w))
        ).cast("int"),
    ).filter(F.col("is_chg") == 1)
    w2 = Window.partitionBy("user_id").orderBy("t", "event_id")
    return chg.select(
        "user_id",
        "value",
        F.col("t").alias("valid_from_us"),
        F.lead("t").over(w2).alias("valid_to_us"),
    ).withColumn("is_current", F.col("valid_to_us").isNull())


@query(
    "feature_anomaly_zscore",
    # Cross-engine-exact z-scores WITHOUT trusting either engine's
    # stddev kernel: sums and sums-of-squares accumulate as DECIMAL
    # (order-independent, exact), and mean/variance/z are then the SAME
    # IEEE double expression evaluated left-to-right on both sides — so
    # the hashes match bit-for-bit where a builtin stddev (Welford vs
    # textbook, different merge order) would drift in the last ulp.
    oracle="""
WITH s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(value AS DECIMAL(18,6))
                    * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumsq_v
    FROM events GROUP BY 1),
st AS (
    SELECT event_type, n,
           sum_v / CAST(n AS DOUBLE) AS mean_v,
           (sumsq_v - CAST(n AS DOUBLE) * (sum_v / CAST(n AS DOUBLE))
                      * (sum_v / CAST(n AS DOUBLE)))
               / (CAST(n AS DOUBLE) - 1) AS var_v
    FROM s WHERE n > 1)
SELECT e.event_id, e.user_id, e.event_type, e.value,
       ROUND((e.value - st.mean_v) / SQRT(st.var_v), 6) AS zscore
FROM events e JOIN st USING (event_type)
WHERE ABS(ROUND((e.value - st.mean_v) / SQRT(st.var_v), 6)) > 3.0
""",
)
def feature_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score anomaly flags per event type: exact decimal
    sum/sum-of-squares per type (tiny agg, map-side combined), broadcast
    the 5-row stats frame back onto the events, per-row arithmetic,
    filter |z| > 3. The outlier-detection shape for a 100 TB event
    stream: NO window over the fact table, no second pass — one partial
    aggregation and one broadcast join, everything else stateless."""
    ev = load_table(spark, sf_dir, "events")
    v_dec = F.col("value").cast("decimal(18,6)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(23,6)")).cast("double").alias("sum_v"),
        F.sum(v_dec * v_dec).cast("double").alias("sumsq_v"),
    )
    n_d = F.col("n").cast("double")
    mean_v = F.col("sum_v") / n_d
    st = s.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        mean_v.alias("mean_v"),
        ((F.col("sumsq_v") - n_d * mean_v * mean_v) / (n_d - 1)).alias("var_v"),
    )
    z = F.round(
        (F.col("value") - F.col("mean_v")) / F.sqrt(F.col("var_v")), 6
    )
    return (
        ev.join(F.broadcast(st), "event_type")
        .select("event_id", "user_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
    )


@query(
    "feature_scd2_lookup",
    # PIT lookup = as-of backward join against the SCD2 change rows, so
    # the plan is ONE shuffle on user_id — not an interval range join
    # (which explodes on long validity spans). The oracle does it the
    # declarative way: join on valid_from <= t < valid_to — two routes,
    # one answer.
    oracle="""
WITH p AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS t
    FROM events WHERE event_type = 'purchase'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                               ORDER BY event_id DESC) = 1),
chg AS (
    SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id
                                     ORDER BY t, event_id) IS NULL
                     OR value IS DISTINCT FROM
                        LAG(value) OVER (PARTITION BY user_id
                                         ORDER BY t, event_id)
                   THEN 1 ELSE 0 END AS is_chg
    FROM p),
hist AS (
    SELECT user_id, value AS tier_value, t AS valid_from_us,
           LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS valid_to_us
    FROM chg WHERE is_chg = 1),
clicks AS (
    SELECT event_id, user_id, epoch_us(ts) AS t_us
    FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, h.tier_value
FROM clicks c
LEFT JOIN hist h
  ON c.user_id = h.user_id
 AND h.valid_from_us <= c.t_us
 AND (h.valid_to_us IS NULL OR c.t_us < h.valid_to_us)
""",
)
def feature_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history: for
    every click, the purchase-value tier IN EFFECT at click time —
    leakage-free feature retrieval from an effective-dated dimension.
    Implemented as an as-of backward join on the CHANGE rows (validity
    intervals are contiguous per user, so 'latest change at-or-before t'
    ≡ 'interval containing t'): one user_id shuffle, no interval range
    join, no explode. Clicks before the user's first purchase get null
    (left-outer)."""
    from featurestore_for_joycastle_java_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    # latest-wins dedup per (user, µs): two purchases in the same
    # microsecond would otherwise tie the as-of lookup, whose winner is
    # undefined in both engines (see operators/asof.py module doc).
    # lag over the same user_id partitioning as every later window
    # (ordering (t_us, event_id DESC) ⇒ first row per instant = max
    # event_id) so the whole pipeline shares one exchange.
    w_dedup = Window.partitionBy("user_id").orderBy(
        "t_us", F.col("event_id").desc()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("__prev_t", F.lag("t_us").over(w_dedup))
        .filter(F.col("__prev_t").isNull() | (F.col("__prev_t") != F.col("t_us")))
        .select("user_id", "event_id", "value", "t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    chg = (
        p.withColumn(
            "is_chg",
            (
                F.lag("t_us").over(w).isNull()
                | ~F.col("value").eqNullSafe(F.lag("value").over(w))
            ).cast("int"),
        )
        .filter(F.col("is_chg") == 1)
        .select(
            "user_id",
            F.col("value").alias("tier_value"),
            F.col("t_us"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us"
    )
    out = asof_join(
        clicks,
        chg,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t_us",
        right_cols=["tier_value"],
        direction="backward",
    )
    return out.select("event_id", "user_id", "tier_value")


#: Full declarative SCD2 rebuild from ALL purchase rows — the oracle for
#: BOTH the history build and the apply-changes path, because
#: apply(build(prefix), suffix) == build(prefix ∪ suffix) (the
#: composition law operators/scd.py documents and tests pin).
_SCD2_FULL_ORACLE = """
WITH p AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS t
    FROM events WHERE event_type = 'purchase'),
chg AS (
    SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id
                                     ORDER BY t, event_id) IS NULL
                     OR value IS DISTINCT FROM
                        LAG(value) OVER (PARTITION BY user_id
                                         ORDER BY t, event_id)
                   THEN 1 ELSE 0 END AS is_chg
    FROM p),
hist AS (
    SELECT user_id, value, t AS valid_from_us,
           LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS valid_to_us
    FROM chg WHERE is_chg = 1)
SELECT user_id, value, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current
FROM hist
"""


@query("feature_scd2_apply", oracle=_SCD2_FULL_ORACLE)
def feature_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE/apply-changes (VERDICT r4 item #3): build the
    effective-dated dimension from the FIRST half of the purchase change
    log, then APPLY the second half as a change batch —
    ``operators.scd.scd2_apply`` closes the affected open rows, inserts
    the new versions, and passes closed history through untouched.

    The oracle rebuilds the dimension declaratively from the WHOLE log:
    equality holds because run-collapse is prefix-composable once the
    open row seeds the rebuild (composition law, operators/scd.py). At
    100 TB the apply touches O(|batch| + open rows of affected keys),
    never the closed history — the write every feature store runs per
    ingest batch, which the reference's INSERT-only sink (CMT:163-201)
    cannot express."""
    p = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value", "t")
    )
    prefix, batch = _split_mid(p)
    dim = scd2_build(prefix, "user_id", "t", "value", "event_id")
    applied = scd2_apply(dim, batch, "user_id", "t", "value", "event_id")
    return applied.select(
        "user_id",
        "value",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "is_current",
    )


@query(
    "feature_scd1_upsert",
    oracle="""
SELECT user_id, value AS latest_value, t AS updated_at_us FROM (
    SELECT user_id, value, epoch_us(ts) AS t,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts) DESC, event_id DESC)
               AS rn
    FROM events WHERE event_type = 'purchase')
WHERE rn = 1
""",
)
def feature_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 (latest-wins) upsert: the snapshot dimension built from the
    first half of the log, upserted with the second half's latest rows —
    ``operators.scd.scd1_upsert`` (anti-join + union, the MERGE pattern
    for overwrite-in-place dimensions). Batch rows always win here
    because the split is by time; the oracle is simply latest-per-key
    over the whole log. Each branch pre-aggregates to one row per key
    with ``max(struct(t, event_id, value))`` — map-side combinable, no
    window over the fact table."""
    p = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value", "t")
    )
    prefix, batch = _split_mid(p)

    def latest(df: DataFrame) -> DataFrame:
        s = df.groupBy("user_id").agg(
            F.max(F.struct("t", "event_id", "value")).alias("__s")
        )
        return s.select(
            "user_id",
            F.col("__s.value").alias("latest_value"),
            F.col("__s.t").alias("updated_at_us"),
        )

    return scd1_upsert(latest(prefix), latest(batch), "user_id")


@query(
    "feature_training_set_pit",
    # Three DuckDB ASOF LEFT JOINs chained off one spine — each feature
    # frame is deduplicated to its last row per (user, instant) with the
    # same LEAD trick the engine uses, so the as-of winner is defined on
    # both sides.
    oracle="""
WITH e AS (
    SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t
    FROM events),
ck AS (
    SELECT user_id, t, n_clicks, click_spend FROM (
        SELECT user_id, t,
               COUNT(*) OVER w AS n_clicks,
               CAST(SUM(CAST(value AS DECIMAL(23,6))) OVER w AS DOUBLE)
                   AS click_spend,
               LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS nt
        FROM e WHERE event_type = 'click'
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    WHERE nt IS NULL OR nt <> t),
vw AS (
    SELECT user_id, t, n_views FROM (
        SELECT user_id, t,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS n_views,
               LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS nt
        FROM e WHERE event_type = 'view')
    WHERE nt IS NULL OR nt <> t),
er AS (
    SELECT user_id, t, last_error_value FROM (
        SELECT user_id, t, value AS last_error_value,
               LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS nt
        FROM e WHERE event_type = 'error')
    WHERE nt IS NULL OR nt <> t),
sp AS (
    SELECT event_id, user_id, value AS label_value, t
    FROM e WHERE event_type = 'purchase')
SELECT sp.event_id, sp.user_id, sp.label_value,
       ck.n_clicks, ck.click_spend, vw.n_views, er.last_error_value
FROM sp
ASOF LEFT JOIN ck ON sp.user_id = ck.user_id AND sp.t >= ck.t
ASOF LEFT JOIN vw ON sp.user_id = vw.user_id AND sp.t >= vw.t
ASOF LEFT JOIN er ON sp.user_id = er.user_id AND sp.t >= er.t
""",
)
def feature_training_set_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training-set assembly (VERDICT r4 item #4) — the
    flagship feature-store read: every purchase (label spine) joined to
    the feature values KNOWN AT LABEL TIME from three feature frames —
    cumulative click count/spend, cumulative view count, and the last
    error value — leakage-free by construction (backward as-of).

    The assembly is ``multi_asof_join``: one tagged union of spine + all
    three feature frames, three ``last(ignorenulls)`` fills over ONE
    window spec — a single Exchange + a single Window operator for the
    whole N-feature retrieval (plan-gated in tests/test_plans.py), where
    a per-feature join chain would re-shuffle the spine N times. Each
    feature frame costs one user_id window of its own slice; its
    per-instant dedup rides the same window (LEAD trick — zero extra
    exchanges)."""
    e = _events_us(spark, sf_dir)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ord = Window.partitionBy("user_id").orderBy("t", "event_id")

    def last_per_instant(df: DataFrame) -> DataFrame:
        return df.withColumn("__nt", F.lead("t").over(w_ord)).filter(
            F.col("__nt").isNull() | (F.col("__nt") != F.col("t"))
        )

    ck = last_per_instant(
        e.filter(F.col("event_type") == "click").select(
            "user_id",
            "event_id",
            "t",
            F.count(F.lit(1)).over(w_cum).alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(23,6)"))
            .over(w_cum)
            .cast("double")
            .alias("click_spend"),
        )
    ).select("user_id", "t", "n_clicks", "click_spend")
    vw = last_per_instant(
        e.filter(F.col("event_type") == "view").select(
            "user_id",
            "event_id",
            "t",
            F.count(F.lit(1)).over(w_cum).alias("n_views"),
        )
    ).select("user_id", "t", "n_views")
    er = last_per_instant(
        e.filter(F.col("event_type") == "error").select(
            "user_id",
            "event_id",
            "t",
            F.col("value").alias("last_error_value"),
        )
    ).select("user_id", "t", "last_error_value")
    spine = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("value").alias("label_value"), "t"
    )
    out = multi_asof_join(
        spine,
        [
            (ck, "t", ["n_clicks", "click_spend"], "click"),
            (vw, "t", ["n_views"], "view"),
            (er, "t", ["last_error_value"], "err"),
        ],
        on=["user_id"],
        left_ts="t",
    )
    return out.select(
        "event_id",
        "user_id",
        "label_value",
        "n_clicks",
        "click_spend",
        "n_views",
        "last_error_value",
    )


@query(
    "feature_time_to_convert",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
p AS (
    SELECT user_id, t, MAX(event_id) AS purchase_event_id
    FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
c AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'click')
SELECT c.event_id, c.user_id,
       CASE WHEN p.t - c.t <= {7 * _DAY_US}
            THEN p.t - c.t END AS convert_us,
       CASE WHEN p.t - c.t <= {7 * _DAY_US}
            THEN CAST(FLOOR(CAST(p.t - c.t AS DOUBLE) / 3600000000.0)
                      AS BIGINT) END AS convert_hours
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t <= p.t
""",
)
def feature_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency labels: for every click, microseconds until
    the user's NEXT purchase, capped at a 7-day attribution window
    (forward as-of + tolerance) — the label-generation read for a
    time-to-convert model, leakage-free because only future purchases
    match and unconverted clicks stay null. Integer time arithmetic
    end-to-end; the hour bucket is the model-ready coarse feature."""
    e = _events_us(spark, sf_dir)
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    c = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t"
    )
    out = asof_join(
        c,
        p,
        on=["user_id"],
        left_ts="t",
        right_ts="t",
        right_cols=["purchase_event_id"],
        direction="forward",
        tolerance=7 * _DAY_US,
    )
    convert = F.col("t_matched") - F.col("t")
    return out.select(
        "event_id",
        "user_id",
        convert.alias("convert_us"),
        F.floor(convert.cast("double") / 3.6e9)
        .cast("long")
        .alias("convert_hours"),
    )


@query(
    "feature_event_transitions",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
p AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY t, event_id) AS to_type
    FROM e),
c AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
           AS prob
FROM c
""",
)
def feature_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next type | current type), the classic
    next-action-prediction feature. One per-user window (lead over
    (t, event_id) — partition-parallel on user_id, never global), then
    counts collapse to a |types|² frame where the normalizing window is
    free. Probabilities are a single rounded integer ratio — no float
    accumulation to drift cross-engine."""
    e = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wf).cast("double"), 6
        ).alias("prob"),
    )


@query(
    "feature_interarrival_stats",
    # Gaps are exact integer microseconds. NO engine ROUND anywhere: at
    # ~1e10 µs magnitudes Spark's BigDecimal HALF_UP round and DuckDB's
    # round diverge in the last digit, so the mean is FLOOR of an
    # identical double ratio (bit-exact) and the median interpolates
    # integers at factor 0.5 (exactly representable, emitted raw).
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
g AS (
    SELECT user_id,
           t - LAG(t) OVER (
               PARTITION BY user_id ORDER BY t, event_id) AS gap
    FROM e)
SELECT user_id,
       COUNT(*) AS n_gaps,
       MIN(gap) AS min_gap_us,
       MAX(gap) AS max_gap_us,
       CAST(FLOOR(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
            AS BIGINT) AS avg_gap_us,
       quantile_cont(gap, 0.5) AS median_gap_us
FROM g WHERE gap IS NOT NULL
GROUP BY 1
""",
)
def feature_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per user (count/min/max/mean/median
    of consecutive event spacing, µs) — the point-process activity
    features (burstiness, engagement cadence) behind churn and
    session-intent models. Per-user lag window (partition-parallel),
    then a single groupBy; sums stay exact BIGINTs until one final
    rounded division."""
    e = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = e.select(
        "user_id", (F.col("t") - F.lag("t").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").alias("min_gap_us"),
        F.max("gap").alias("max_gap_us"),
        F.floor(F.sum("gap").cast("double") / F.count(F.lit(1)).cast("double"))
        .cast("bigint")
        .alias("avg_gap_us"),
        F.percentile("gap", F.lit(0.5)).alias("median_gap_us"),
    )


@query(
    "feature_time_weighted_avg",
    # Determinism engineering (the sim_label_centroid_dist pattern):
    # values enter as floor(value·1e6) BIGINTs (identical IEEE multiply +
    # floor both engines), the ∑ value·duration numerator is an EXACT
    # wide-integer sum (DECIMAL(38,0) in Spark, HUGEINT in DuckDB), and
    # only the final ratio is a double — rounded once.
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS t,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events),
d AS (
    SELECT user_id, v6,
           LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
               AS dt
    FROM e)
SELECT user_id,
       CAST(SUM(dt) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(CAST(v6 AS HUGEINT) * dt) AS DOUBLE)
             / (1000000.0 * CAST(SUM(dt) AS DOUBLE)), 6) AS twa_value
FROM d WHERE dt IS NOT NULL
GROUP BY 1
HAVING SUM(dt) > 0
""",
)
def feature_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's ``value`` signal: every
    observation weighted by how long it remained current (until the next
    event), i.e. the mean of the piecewise-constant value process — the
    correct aggregate for sampled-at-irregular-times state (plain AVG
    over-weights bursty periods). Per-user lead window for durations,
    exact wide-integer accumulation, one rounded division. Users whose
    observed span is zero (single event or all-tied timestamps) have no
    defined weighting and are excluded."""
    e = _events_us(spark, sf_dir).select(
        "user_id",
        "event_id",
        "t",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("v6"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = e.select(
        "user_id",
        "v6",
        (F.lead("t").over(w) - F.col("t")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    num = F.sum(F.col("v6").cast("decimal(38,0)") * F.col("dt"))
    return (
        d.groupBy("user_id")
        .agg(
            F.sum("dt").alias("total_us"),
            F.round(
                num.cast("double")
                / (F.lit(1e6) * F.sum("dt").cast("double")),
                6,
            ).alias("twa_value"),
        )
        .filter(F.col("total_us") > 0)
    )


@query(
    "feature_target_encoding",
    # Leave-one-out arithmetic on floor(acctbal·1e6) BIGINTs: the group
    # sum and each row's exclusion are exact integers; ONE double
    # division at the end (identical IEEE both engines, no ROUND).
    oracle="""
WITH c AS (
    SELECT c_custkey, c_mktsegment,
           CAST(FLOOR(c_acctbal * 1000000.0) AS BIGINT) AS v6
    FROM customer),
g AS (
    SELECT c_mktsegment, CAST(SUM(v6) AS BIGINT) AS sum6,
           COUNT(*) AS n
    FROM c GROUP BY 1)
SELECT c.c_custkey,
       c.c_mktsegment,
       CASE WHEN g.n > 1
            THEN CAST(g.sum6 - c.v6 AS DOUBLE)
                 / (1000000.0 * CAST(g.n - 1 AS DOUBLE)) END AS loo_enc
FROM c JOIN g USING (c_mktsegment)
""",
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of market segment by account
    balance: each row's category is replaced by the mean target of the
    OTHER members ((Σ−x)/(n−1)) — the encoding that feeds categorical
    features to models without leaking the row's own label (plain mean
    encoding does). Scale shape: one tiny per-category stats frame
    broadcast back onto the rows — no window, no self-join; singleton
    categories emit NULL (no peers to borrow from). Exact integer
    accumulation, one final double division."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * F.lit(1e6)).cast("bigint").alias("v6"),
    )
    g = cust.groupBy("c_mktsegment").agg(
        F.sum("v6").alias("sum6"), F.count(F.lit(1)).alias("n")
    )
    return cust.join(F.broadcast(g), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("n") > 1,
            (F.col("sum6") - F.col("v6")).cast("double")
            / (F.lit(1e6) * (F.col("n") - 1).cast("double")),
        ).alias("loo_enc"),
    )


@query(
    "feature_expanding_mean",
    # Expanding sums stay exact BIGINTs (floor-scaled values, window
    # cumsum); the mean is FLOOR of one identical double ratio per row
    # (the interarrival no-ROUND rule).
    oracle="""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS t,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events)
SELECT event_id, user_id,
       CASE WHEN COUNT(*) OVER w - 1 > 0 THEN
           CAST(FLOOR(
               CAST(SUM(v6) OVER w - v6 AS DOUBLE)
               / CAST(COUNT(*) OVER w - 1 AS DOUBLE)
           ) AS BIGINT) END AS expanding_mean_v6,
       CAST(COUNT(*) OVER w - 1 AS BIGINT) AS n_prior
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def feature_expanding_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free expanding mean: each event gets the mean of the
    user's STRICTLY PRIOR values (cumulative window minus self) — the
    time-aware sibling of LOO target encoding
    (`feature_target_encoding` excludes self across the whole group;
    this excludes self AND the future, which is what a training row
    sampled mid-history must see). First event per user → NULL (0/0
    guarded by n_prior=0). Per-user cumulative window, exact integer
    sums, floor of one double ratio."""
    e = _events_us(spark, sf_dir).select(
        "event_id",
        "user_id",
        "t",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("v6"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_prior = F.count(F.lit(1)).over(w) - 1
    # explicit NULL at n_prior=0: engines disagree on float 0/0 (Spark
    # NaN — which an ANSI bigint cast then rejects — vs DuckDB NULL)
    mean = F.when(
        n_prior > 0,
        F.floor(
            (F.sum("v6").over(w) - F.col("v6")).cast("double")
            / n_prior.cast("double")
        ).cast("bigint"),
    )
    return e.select(
        "event_id",
        "user_id",
        mean.alias("expanding_mean_v6"),
        n_prior.cast("bigint").alias("n_prior"),
    )


@query(
    "feature_winsorize",
    # Thresholds are TYPE-1 (discrete) quantiles picked by pure-integer
    # rank arithmetic: k = ceil(p*n) computed as (p_pct*n + 99) DIV 100,
    # then "smallest value whose cumulative count reaches k" — no
    # engine quantile function, no interpolation, so both engines agree
    # bit-for-bit. The winsorized mean is FLOOR of an identical double
    # ratio of exact integers (the repo's standard mean pattern).
    oracle="""
WITH e AS (
    SELECT event_type, CAST(FLOOR(value * 1000000.0) AS BIGINT) AS x
    FROM events),
d AS (
    SELECT event_type, x, COUNT(*) AS c FROM e GROUP BY 1, 2),
cum AS (
    SELECT event_type, x, c,
           SUM(c) OVER (PARTITION BY event_type ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cc
    FROM d),
tot AS (
    SELECT event_type, SUM(c) AS n FROM d GROUP BY 1),
ks AS (
    SELECT event_type, n,
           (5 * n + 99) // 100 AS k_lo,
           (95 * n + 99) // 100 AS k_hi
    FROM tot),
thr AS (
    SELECT k.event_type, k.n,
           MIN(CASE WHEN cum.cc >= k.k_lo THEN cum.x END) AS lo_micro,
           MIN(CASE WHEN cum.cc >= k.k_hi THEN cum.x END) AS hi_micro
    FROM ks k JOIN cum ON cum.event_type = k.event_type
    GROUP BY 1, 2)
SELECT e.event_type,
       CAST(t.n AS BIGINT) AS n,
       t.lo_micro, t.hi_micro,
       CAST(SUM(CASE WHEN e.x < t.lo_micro THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clip_lo,
       CAST(SUM(CASE WHEN e.x > t.hi_micro THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clip_hi,
       CAST(SUM(LEAST(GREATEST(e.x, t.lo_micro), t.hi_micro)) AS BIGINT)
           AS wins_sum_micro,
       CAST(FLOOR(
           CAST(SUM(LEAST(GREATEST(e.x, t.lo_micro), t.hi_micro)) AS DOUBLE)
           / CAST(t.n AS DOUBLE)) AS BIGINT) AS wins_mean_micro
FROM e JOIN thr t USING (event_type)
GROUP BY e.event_type, t.n, t.lo_micro, t.hi_micro
""",
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p05/p95 winsorization of event values per type — the
    outlier-treatment step (clip, then scale) of a tabular feature
    pipeline, with exact discrete-quantile thresholds.

    Scale shape: pass 1 collapses the fact table to the distinct-value
    frame per type (map-side-combined groupBy — the eval_feature_auc
    pattern) and runs the cumulative window there, never over raw rows;
    pass 2 re-scans the fact with the 5-row threshold frame broadcast.
    At extreme value cardinality the distinct frame degrades toward the
    fact size — then the binned two-pass (agg_value_histogram's frame
    to locate the quantile bin, exact sort inside one bin) is the
    drop-in replacement; per-type partitions keep the window
    partition-parallel either way.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("x"),
    )
    d = e.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cc", F.sum("c").over(w))
    ks = (
        d.groupBy("event_type")
        .agg(F.sum("c").alias("n"))
        .select(
            "event_type",
            "n",
            F.expr("(5 * n + 99) DIV 100").alias("k_lo"),
            F.expr("(95 * n + 99) DIV 100").alias("k_hi"),
        )
    )
    thr = (
        cum.join(F.broadcast(ks), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.min(F.when(F.col("cc") >= F.col("k_lo"), F.col("x"))).alias(
                "lo_micro"
            ),
            F.min(F.when(F.col("cc") >= F.col("k_hi"), F.col("x"))).alias(
                "hi_micro"
            ),
        )
    )
    clamped = F.least(
        F.greatest(F.col("x"), F.col("lo_micro")), F.col("hi_micro")
    )
    return (
        e.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n", "lo_micro", "hi_micro")
        .agg(
            F.sum(
                F.when(F.col("x") < F.col("lo_micro"), 1).otherwise(0)
            ).alias("n_clip_lo"),
            F.sum(
                F.when(F.col("x") > F.col("hi_micro"), 1).otherwise(0)
            ).alias("n_clip_hi"),
            F.sum(clamped).alias("wins_sum_micro"),
            F.floor(
                F.sum(clamped).cast("double") / F.col("n").cast("double")
            )
            .cast("bigint")
            .alias("wins_mean_micro"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "lo_micro",
            "hi_micro",
            "n_clip_lo",
            "n_clip_hi",
            "wins_sum_micro",
            "wins_mean_micro",
        )
    )


@query(
    "feature_hashing_trick",
    # Bucket and sign derive from md5 (the repo's cross-engine hash):
    # bucket = first 8 hex chars mod 64, sign = parity of the 9th hex
    # char — identical arithmetic both engines, so weights (including
    # collision cancellations to 0) match exactly.
    oracle="""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
           CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                THEN 1 ELSE -1 END AS sgn
    FROM t)
SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS weight
FROM h GROUP BY 1, 2
""",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing trick, Weinberger et al.,
    ICML 2009): every token maps to one of 64 buckets with a ±1 sign,
    per-document weights are the signed counts — fixed-dimension text
    featurization with NO vocabulary pass, no dictionary state, and an
    unbiased inner-product estimate (the sign bit cancels collision
    bias). Scale shape: explode → one map-side-combined groupBy on
    (doc, bucket); output is bounded by docs × 64 regardless of corpus
    vocabulary — the property that makes the trick work at 100 TB where
    a vocabulary dim would itself be a big table."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    h = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % 64
        ).alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("bigint")
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("bigint").alias("weight")
    )


# -------------------------------------------------------------- features


@query(
    "feature_gini_concentration",
    # Gini from the sorted-rank identity G = (2·Σ i·x_i − (n+1)·Σx)
    # / (n·Σx), ranks 1..n ascending by (revenue, custkey) — exact
    # integers until the single final division.
    oracle="""
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1),
rk AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn
    FROM rev),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(cents) AS HUGEINT) AS sx,
           CAST(SUM(CAST(rn AS HUGEINT) * cents) AS HUGEINT) AS srx
    FROM rk)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sx AS BIGINT) AS total_cents,
       CAST(CAST(2 AS HUGEINT) * srx - (n + 1) * sx AS DOUBLE)
           / CAST(n * sx AS DOUBLE) AS gini
FROM s
""",
)
def feature_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    whale-dependence number (0 = spend spread evenly, →1 = one
    customer is the business) that retention/monetization teams track
    per cohort. Uses the sorted-rank identity G = (2Σi·x_i − (n+1)Σx)
    / (nΣx) with exact integer cents and ranks; one double division at
    the end.

    Scale shape: the fact aggregates to the customer frame first
    (distributed groupBy); the required global rank uses the two-pass
    range-bucketed `global_row_number` (operators/ranks.py) — NO
    single-partition window touches the customer frame; the only
    global window inside the helper sees n_buckets rows. The moment
    reduction is one map-side-combined pass."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    rk = global_row_number(rev, "cents", ["o_custkey"], out_col="rn")
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(_dec(F.col("rn")) * F.col("cents")).alias("srx"),
    )
    n, sx = _dec(F.col("n")), _dec(F.col("sx"))
    gini = (
        (F.lit(2).cast("decimal(38,0)") * F.col("srx") - (n + 1) * sx)
        .cast("double")
        / (n * sx).cast("double")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sx").cast("bigint").alias("total_cents"),
        gini.alias("gini"),
    )


# ------------------------------------------------------------ assoc rules


@query(
    "assoc_basket_lift",
    # Integer-ppm association metrics: support = co/n_docs, confidence
    # = co/cnt_a, lift = (co·n)/(cnt_a·cnt_b) — all as ·1e6 floor
    # divisions of exact counts. minsup co >= 5 bounds the output.
    oracle="""
WITH t AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents),
c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM t),
co AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS co
    FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT co.tok_a, co.tok_b, co.co,
       CAST(co.co * 1000000 // n.n_docs AS BIGINT) AS support_ppm,
       CAST(co.co * 1000000 // ca.cnt AS BIGINT) AS conf_ab_ppm,
       CAST(co.co * 1000000 // cb.cnt AS BIGINT) AS conf_ba_ppm,
       CAST(CAST(co.co AS HUGEINT) * n.n_docs * 1000000
            // (CAST(ca.cnt AS HUGEINT) * cb.cnt) AS BIGINT) AS lift_ppm
FROM co
JOIN c ca ON ca.tok = co.tok_a
JOIN c cb ON cb.tok = co.tok_b
CROSS JOIN n
""",
)
def assoc_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over document token baskets: support,
    directed confidences, and lift for every token pair co-occurring
    in ≥ 5 documents — the market-basket / cross-sell read (Agrawal &
    Srikant, VLDB 1994), in exact integer ppm (lift = co·n/(ca·cb)
    as a single floor division of exact counts — no float ratios).

    Scale shape: baskets dedup to distinct (doc, token) first; pair
    enumeration is a PER-DOC self-join (shuffle on doc_id, Σ per-doc
    t² — bounded by the longest basket, never corpus-quadratic), then
    one map-side-combined groupBy to the pair frame, which the
    vocabulary bounds at |V|²/2 regardless of corpus size. The
    a-priori minsup prune (HAVING co ≥ 5) applies at that aggregate.
    Token-count and n_docs frames are Zipf-small → broadcast. The
    distinct basket frame feeds four branches (counts, n_docs, both
    sides of the pair join); ReuseExchange shares the distinct's
    shuffle across them at runtime (measured equal with an explicit
    cache — omitted to keep the plan barrier-free)."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    c = t.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    n = t.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    a, b = t.alias("a"), t.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= 5)
    )
    ca = c.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("ca"))
    cb = c.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cb"))
    return (
        co.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "co",
            F.expr("co * 1000000 DIV n_docs").cast("bigint").alias(
                "support_ppm"
            ),
            F.expr("co * 1000000 DIV ca").cast("bigint").alias("conf_ab_ppm"),
            F.expr("co * 1000000 DIV cb").cast("bigint").alias("conf_ba_ppm"),
            # co·n·10⁶ wraps int64 once n_docs ≳ 3×10⁶ (co ≤ n), so the
            # lift product runs in decimal(38,0)/HUGEINT — the
            # ts_autoperiod escalation pattern (r11 overflow audit)
            F.expr(
                "CAST(co AS DECIMAL(19,0)) * n_docs * 1000000"
                " DIV (CAST(ca AS DECIMAL(19,0)) * cb)"
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )


# -------------------------------------------------------------- features


@query(
    "feature_minmax_scale",
    # scaled_ppm = (x - min)·1e6 DIV (max - min) — exact integer
    # micro-units in, integer ppm out; degenerate (max == min) group
    # scales to 0 explicitly on both engines.
    oracle="""
WITH e AS (
    SELECT event_id, event_type,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vm
    FROM events),
s AS (
    SELECT event_type, MIN(vm) AS lo, MAX(vm) AS hi
    FROM e GROUP BY 1)
SELECT e.event_id, e.event_type,
       CAST(CASE WHEN s.hi = s.lo THEN 0
            ELSE (e.vm - s.lo) * 1000000 // (s.hi - s.lo) END AS BIGINT)
           AS scaled_ppm
FROM e JOIN s USING (event_type)
""",
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type min-max scaling of event values to integer ppm —
    completing the scaler family (z-score = variance-normalized,
    MAD = robust, min-max = bounded [0, 1] for models that need a
    fixed input range). Exact: micro-unit integers in, ppm floors
    out; a degenerate group (max = min) scales to 0 rather than
    dividing by zero.

    Scale shape: the stats frame is one map-side-combined groupBy to
    |types| rows, broadcast back onto the fact — one fact pass, no
    fact shuffle at all (the groupBy reduces map-side; the join is
    broadcast)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
    )
    s = e.groupBy("event_type").agg(
        F.min("vm").alias("lo"), F.max("vm").alias("hi")
    )
    return e.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(F.expr("(vm - lo) * 1000000 DIV (hi - lo)"))
        .cast("bigint")
        .alias("scaled_ppm"),
    )


# -------------------------------------------------------------- features


@query(
    "feature_target_encoding_oof",
    # OOF mean for (category, fold) = (S_cat − S_cat,fold) DIV
    # (n_cat − n_cat,fold) on exact micro integers; a category living
    # entirely inside one fold has no out-of-fold rows → NULL (CASE'd
    # identically on both engines).
    oracle="""
WITH f AS (
    SELECT user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 5 AS fold
    FROM (SELECT DISTINCT user_id FROM events)),
e AS (
    SELECT ev.event_type, f.fold,
           CAST(FLOOR(ev.value * 1000000.0) AS BIGINT) AS vm
    FROM events ev JOIN f USING (user_id)),
per AS (
    SELECT event_type, fold,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(vm) AS BIGINT) AS s_in
    FROM e GROUP BY 1, 2),
tot AS (
    SELECT event_type,
           CAST(SUM(n_in) AS BIGINT) AS n_tot,
           CAST(SUM(s_in) AS BIGINT) AS s_tot
    FROM per GROUP BY 1)
SELECT p.event_type, p.fold, p.n_in,
       t.n_tot - p.n_in AS n_out,
       t.s_tot - p.s_in AS oof_sum_micro,
       CAST(CASE WHEN t.n_tot = p.n_in THEN NULL
            ELSE (t.s_tot - p.s_in) // (t.n_tot - p.n_in) END AS BIGINT)
           AS oof_mean_micro
FROM per p JOIN tot t USING (event_type)
""",
)
def feature_target_encoding_oof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-fold target encoding: for each (category, fold), the mean
    target over every OTHER fold's rows — the encoding a row in fold f
    is allowed to see without leaking its own fold's labels (fold-level
    analogue of the existing leave-one-out encoding; OOF is what
    scales, LOO is the per-row extreme). Folds are the round5f GROUP
    folds (md5(user) mod 5), so the no-user-straddles-folds guarantee
    carries over to the encoding.

    Scale shape: one map-side-combined pass to the (category × fold)
    frame (|C|·5 rows); totals are an aggregate OF that frame, joined
    back broadcast. The complement trick (S_tot − S_fold) avoids a
    fold × fold self-join entirely. Exact micro integers; one floor
    division at the end."""
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % 5
            ).alias("fold"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
        )
        .join(F.broadcast(users), "user_id")
    )
    per = e.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum("vm").cast("bigint").alias("s_in"),
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n_in").cast("bigint").alias("n_tot"),
        F.sum("s_in").cast("bigint").alias("s_tot"),
    )
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "fold",
        "n_in",
        (F.col("n_tot") - F.col("n_in")).alias("n_out"),
        (F.col("s_tot") - F.col("s_in")).alias("oof_sum_micro"),
        F.when(F.col("n_tot") == F.col("n_in"), F.lit(None))
        .otherwise(
            F.expr("(s_tot - s_in) DIV (n_tot - n_in)")
        )
        .cast("bigint")
        .alias("oof_mean_micro"),
    )


@query(
    "feature_quantile_bins",
    oracle="""
WITH b AS (
    SELECT list_transform(
        quantile_cont(o_totalprice,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        x -> ROUND(x, 6)) AS bs
    FROM orders)
SELECT CAST(LEN(list_filter(bs, x -> o_totalprice > x)) AS INT) AS bin,
       COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 6) AS min_price,
       ROUND(MAX(o_totalprice), 6) AS max_price
FROM orders, b
GROUP BY 1 ORDER BY 1
""",
)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quantile binning (the QuantileDiscretizer / feature-
    bucketing primitive): decile boundaries computed EXACTLY (linear-
    interpolated type-7 percentiles — Spark ``percentile`` and DuckDB
    ``quantile_cont`` agree bit-for-bit on this fixture), rounded to 6dp
    ONCE, then every row assigned bin = #(boundaries < value) via an
    array HOF against the broadcast 9-element boundary list. Rounding
    before assignment makes membership decisions identical across
    engines; the strict ``>`` is the documented edge rule.

    Scale path: exact percentile aggregates buffer the column per
    partition — fine to ~10⁸ rows/partition, the wrong tool at 100 TB.
    The one-line switch is ``approx_percentile`` (t-digest sketch,
    mergeable partials) for the boundary stage; the assignment HOF and
    the binning contract are unchanged. Bins feed target encoding
    (`feature_target_encoding`) and monotonic-feature checks.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.transform(
            F.percentile(
                "o_totalprice",
                F.array(*[F.lit(i / 10) for i in range(1, 10)]),
            ),
            lambda x: F.round(x, 6),
        ).alias("bs")
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            F.size(
                F.filter(
                    "bs", lambda b: F.col("o_totalprice") > b
                )
            )
            .cast("int")
            .alias("bin"),
            "o_totalprice",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 6).alias("min_price"),
            F.round(F.max("o_totalprice"), 6).alias("max_price"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------- marketing attribution


@query(
    "attrib_multitouch",
    oracle="""
WITH p AS (
    SELECT event_id AS pid, user_id, epoch_us(ts) AS p_us
    FROM events WHERE event_type = 'purchase'),
t AS (
    SELECT event_id, user_id, event_type AS channel, epoch_us(ts) AS t_us
    FROM events WHERE event_type <> 'purchase'),
touch AS (
    SELECT p.pid, t.channel, t.t_us, t.event_id,
           ROW_NUMBER() OVER (PARTITION BY p.pid
                              ORDER BY t.t_us, t.event_id) AS rn_first,
           ROW_NUMBER() OVER (PARTITION BY p.pid
                              ORDER BY t.t_us DESC, t.event_id DESC)
               AS rn_last,
           COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
    FROM p JOIN t
      ON p.user_id = t.user_id
     AND t.t_us < p.p_us
     AND t.t_us >= p.p_us - 604800000000)
SELECT channel,
       CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_first,
       CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_last,
       ROUND(SUM(1.0 / n_touch), 6) AS linear_credit
FROM touch GROUP BY 1
""",
)
def attrib_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: for every purchase, the user's
    non-purchase events in the prior 7 days are its touchpoints; each
    channel (event type) is credited under three standard models at
    once — first-touch, last-touch, and linear (1/n per touch). The
    three disagree exactly where attribution disputes live (first-touch
    rewards discovery channels, last-touch rewards closers).

    Scale shape: purchases join touches per USER (one hash shuffle on
    user_id) with the 7-day range as a residual filter — per-user
    activity is bounded, so no quadratic blowup; the credit windows
    partition per PURCHASE (small groups); final rollup is a
    combine-friendly 4-column agg over |channels| rows. First/last are
    exact counts; only the linear column is float (sum of 1/n, rounded
    on both sides)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id",
        F.col("t_us").alias("p_us"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", F.col("event_type").alias("channel"), "t_us",
    )
    touch = p.join(t, "user_id").filter(
        (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(604800000000))
    )
    w_first = Window.partitionBy("pid").orderBy("t_us", "event_id")
    w_last = Window.partitionBy("pid").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    w_all = Window.partitionBy("pid")
    credited = touch.select(
        "channel",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
        F.count(F.lit(1)).over(w_all).alias("n_touch"),
    )
    return credited.groupBy("channel").agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0)).alias(
            "n_first"
        ),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0)).alias("n_last"),
        F.round(F.sum(F.lit(1.0) / F.col("n_touch")), 6).alias(
            "linear_credit"
        ),
    )


# ------------------------------------------------------ geo grid join


@query(
    "geo_grid_hotspots",
    oracle="""
WITH pts AS (
    SELECT (event_id * 2654435761) % 180000 // 1000 AS cell_lat,
           (event_id * 2246822519) % 360000 // 1000 AS cell_lon
    FROM events),
cells AS (
    SELECT cell_lat, cell_lon, COUNT(*) AS n_points
    FROM pts GROUP BY 1, 2),
nbr AS (
    SELECT c.cell_lat + dy.d AS cell_lat, c.cell_lon + dx.d AS cell_lon,
           c.n_points
    FROM cells c,
         (VALUES (-1), (0), (1)) dy(d),
         (VALUES (-1), (0), (1)) dx(d)),
hood AS (
    SELECT cell_lat, cell_lon, SUM(n_points) AS neighborhood_n
    FROM nbr GROUP BY 1, 2)
SELECT c.cell_lat, c.cell_lon, c.n_points,
       CAST(h.neighborhood_n AS BIGINT) AS neighborhood_n
FROM cells c JOIN hood h USING (cell_lat, cell_lon)
ORDER BY neighborhood_n DESC, c.cell_lat, c.cell_lon
LIMIT 20
""",
)
def geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot detection on a 1-degree grid: events carry a
    deterministic synthetic location (integer multiplicative hash of
    event_id — Knuth 6.4, exact in both engines), points bucket into
    grid cells, and each cell's 3x3-neighborhood density is computed by
    EXPLODING the 9 offsets and re-aggregating — the standard trick
    that turns a spatial range join into an equi-join on grid keys
    (the same bucketing idea geohash/S2 indexes use).

    Scale shape: point->cell is a pure projection; the cell frame is
    |grid| (64 800) rows regardless of data size, so the 9x offset
    explode and neighborhood rollup are constant-cost; no cross join of
    points, no distance computation on the fact table. Top-20 is a
    TakeOrderedAndProject with a total-order tiebreak. Everything is
    integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 2654435761) % 180000)
        .cast("long")
        .alias("lat_md"),
        ((F.col("event_id") * 2246822519) % 360000)
        .cast("long")
        .alias("lon_md"),
    ).select(
        F.floor(F.col("lat_md") / 1000).alias("cell_lat"),
        F.floor(F.col("lon_md") / 1000).alias("cell_lon"),
    )
    cells = pts.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).alias("n_points")
    )
    offs = F.array([F.lit(d) for d in (-1, 0, 1)])
    nbr = (
        cells.select("cell_lat", "cell_lon", "n_points", F.explode(offs).alias("dy"))
        .select(
            (F.col("cell_lat") + F.col("dy")).alias("cell_lat"),
            "cell_lon",
            "n_points",
            F.explode(offs).alias("dx"),
        )
        .select(
            "cell_lat",
            (F.col("cell_lon") + F.col("dx")).alias("cell_lon"),
            "n_points",
        )
    )
    hood = nbr.groupBy("cell_lat", "cell_lon").agg(
        F.sum("n_points").alias("neighborhood_n")
    )
    return (
        cells.join(hood, ["cell_lat", "cell_lon"])
        .select("cell_lat", "cell_lon", "n_points", "neighborhood_n")
        .orderBy(
            F.col("neighborhood_n").desc(), "cell_lat", "cell_lon"
        )
        .limit(20)
    )


# ------------------------------------------- stateful clamped cumsum


@query(
    "feature_capped_running_sum",
    # The oracle replays the SAME float sequence: the recursive step is
    # written r.bal + (e.value - 25.0) — parenthesized to match the
    # engine's bal + (v - 25.0) association exactly, so both engines
    # produce bit-identical IEEE doubles at every step (clamping is
    # order-dependent; association must match, not just the math).
    oracle="""
WITH RECURSIVE e AS (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events),
r AS (
    SELECT user_id, rn,
           CASE WHEN (value - 25.0) > 500.0 THEN 500.0
                WHEN (value - 25.0) < 0.0 THEN 0.0
                ELSE (value - 25.0) END AS bal,
           CASE WHEN (value - 25.0) > 500.0 THEN 1 ELSE 0 END AS n_capped,
           CASE WHEN (value - 25.0) < 0.0 THEN 1 ELSE 0 END AS n_floored
    FROM e WHERE rn = 1
    UNION ALL
    SELECT e.user_id, e.rn,
           CASE WHEN r.bal + (e.value - 25.0) > 500.0 THEN 500.0
                WHEN r.bal + (e.value - 25.0) < 0.0 THEN 0.0
                ELSE r.bal + (e.value - 25.0) END,
           r.n_capped
               + CASE WHEN r.bal + (e.value - 25.0) > 500.0
                      THEN 1 ELSE 0 END,
           r.n_floored
               + CASE WHEN r.bal + (e.value - 25.0) < 0.0
                      THEN 1 ELSE 0 END
    FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
m AS (SELECT user_id, MAX(rn) AS mx FROM e GROUP BY 1)
SELECT r.user_id,
       CAST(r.rn AS BIGINT) AS n_events,
       CAST(r.n_capped AS BIGINT) AS n_capped,
       CAST(r.n_floored AS BIGINT) AS n_floored,
       ROUND(r.bal, 6) AS final_balance
FROM r JOIN m ON m.user_id = r.user_id AND r.rn = m.mx
""",
)
def feature_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped (capped/floored) running balance per user: each event
    moves the balance by ``value - 25`` and the result saturates into
    [0, 500] — loyalty points, rate-limit budgets, inventory with a bin
    size. The clamp makes every step depend on the PREVIOUS CLAMPED
    state, so no prefix-sum / closed form exists (unlike
    ``feature_ewma_decay``'s linear recurrence) — this is the honest
    "iterative per-entity state" operator.

    Engine shape (r12 opt): ONE ``mapInPandas`` pass over partitions
    hash-partitioned by user and sorted by (user, epoch, event_id) —
    per-user groups arrive contiguous, the replay carries its running
    state across Arrow batch boundaries within the partition, and the
    per-row float sequence is IDENTICAL to the previous per-group
    ``applyInPandas`` form (same sort keys, same IEEE association).
    The rewrite removes the per-GROUP Python call + pandas-frame
    construction (~1 500 calls at sf0.1) that dominated the old shape —
    guide §4.1/§4.5, the iterator form amortizing work per task.
    Measured (interleaved A/B, sf0.1, local[32]): 2.97 → 0.50 s.
    The oracle is a DuckDB recursive CTE replaying the identical float
    sequence; it proves the Spark side against SQL semantics rather
    than a weaker rows-only check. At 100 TB this shape holds: one
    shuffle on user_id, a per-partition sort, per-group work linear in
    the user's history, output one row per user."""
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
        "value",
    )
    part = ev.repartition("user_id").sortWithinPartitions(
        "user_id", "t_us", "event_id"
    )

    def _replay(batches) -> "pd.DataFrame":
        cur = None
        bal = 0.0
        nc = nf = ne = 0
        users, nev, ncs, nfs, bals = [], [], [], [], []
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            v = pdf["value"].to_numpy()
            for j in range(len(u)):
                uj = u[j]
                if uj != cur:
                    if cur is not None:
                        users.append(cur)
                        nev.append(ne)
                        ncs.append(nc)
                        nfs.append(nf)
                        bals.append(bal)
                    cur = uj
                    bal = 0.0
                    nc = nf = ne = 0
                ne += 1
                raw = bal + (v[j] - 25.0)
                if raw > 500.0:
                    bal = 500.0
                    nc += 1
                elif raw < 0.0:
                    bal = 0.0
                    nf += 1
                else:
                    bal = raw
        if cur is not None:
            users.append(cur)
            nev.append(ne)
            ncs.append(nc)
            nfs.append(nf)
            bals.append(bal)
        if users:
            yield pd.DataFrame(
                {
                    "user_id": np.asarray(users, dtype=np.int64),
                    "n_events": np.asarray(nev, dtype=np.int64),
                    "n_capped": np.asarray(ncs, dtype=np.int64),
                    "n_floored": np.asarray(nfs, dtype=np.int64),
                    "final_balance": np.asarray(bals, dtype=np.float64),
                }
            )

    out = part.mapInPandas(
        _replay,
        schema=(
            "user_id long, n_events long, n_capped long, "
            "n_floored long, final_balance double"
        ),
    )
    return out.withColumn("final_balance", F.round("final_balance", 6))


# ----------------------------------------------- hashed feature crosses


@query(
    "feature_crossed_hash",
    oracle="""
WITH x AS (
    SELECT CAST(CAST('0x' || substr(md5(concat_ws('|',
               c_nationkey, c_mktsegment)), 1, 4) AS BIGINT) % 64
           AS BIGINT) AS bucket,
           concat_ws('|', c_nationkey, c_mktsegment) AS cross_key
    FROM customer)
SELECT bucket,
       COUNT(*) AS n_customers,
       COUNT(DISTINCT cross_key) AS n_crosses
FROM x GROUP BY 1
""",
)
def feature_crossed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed feature cross (the wide-model primitive — Cheng et al.,
    DLRS 2016): nation x market-segment crossed into 64 hash buckets.
    The bucket key is md5-derived so BOTH engines replay it exactly
    (unlike xxhash64, which has no DuckDB twin); n_crosses > 1 rows
    surface the collisions the hashing trick deliberately accepts —
    the audit a feature platform publishes next to the crossed column.
    Extends ``feature_hashing_trick`` (single-column) to interactions.

    Scale shape: pure projection + one combine-friendly distinct-count
    agg on the 64-row bucket key; no joins, no windows."""
    c = load_table(spark, sf_dir, "customer")
    cross_key = F.concat_ws(
        "|", F.col("c_nationkey"), F.col("c_mktsegment")
    )
    bucket = (
        F.conv(F.substring(F.md5(cross_key), 1, 4), 16, 10).cast("long")
        % 64
    )
    return (
        c.select(bucket.alias("bucket"), cross_key.alias("cross_key"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("cross_key").alias("n_crosses"),
        )
    )


# ---------------------------------------------------------- CDC apply


@query(
    "scd_cdc_apply",
    oracle="""
WITH cdc AS (
    SELECT user_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error' THEN 'D'
                ELSE 'U' END AS op,
           value, epoch_us(ts) AS t_us, event_id
    FROM events),
last AS (
    SELECT user_id, op, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY t_us DESC, event_id DESC) AS rn
    FROM cdc)
SELECT user_id, op AS last_op, value AS current_value
FROM last WHERE rn = 1 AND op <> 'D'
""",
)
def scd_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge-apply: collapse an ordered change stream
    (insert/update/delete ops per key — here derived deterministically
    from event types) into the final table state: the LAST op per key
    wins, and a trailing delete removes the key entirely. This is the
    Debezium-to-lakehouse apply step (Delta/Iceberg MERGE semantics),
    and the delete path is what `feature_scd1_upsert` (upsert-only)
    cannot express.

    Scale shape: one per-key window ordered by (event time, change id)
    — bounded per-entity groups, one shuffle; the apply never joins the
    snapshot because last-op-wins subsumes it (with a base snapshot the
    same window runs over snapshot UNION changes). Values pass through
    untouched."""
    ev = load_table(spark, sf_dir, "events")
    cdc = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    return (
        cdc.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("value").alias("current_value"),
        )
    )


# ------------------------------------------------------- lag features


@query(
    "feature_lag_matrix",
    oracle="""
WITH d AS (
    SELECT user_id, DATE_TRUNC('day', ts) AS day,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS spend
    FROM events GROUP BY 1, 2)
SELECT a.user_id,
       strftime(a.day, '%Y-%m-%d') AS day,
       a.spend,
       COALESCE(l1.spend, 0.0) AS spend_lag1,
       COALESCE(l7.spend, 0.0) AS spend_lag7
FROM d a
LEFT JOIN d l1 ON l1.user_id = a.user_id
               AND l1.day = a.day - INTERVAL 1 DAY
LEFT JOIN d l7 ON l7.user_id = a.user_id
               AND l7.day = a.day - INTERVAL 7 DAY
""",
)
def feature_lag_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-correct lag features for forecasting: each (user, day)'s
    spend next to the spend exactly 1 and 7 CALENDAR days earlier,
    via self-joins on the date offset — NOT a positional LAG window,
    which silently returns the wrong day whenever a user skips days
    (the classic forecasting-feature bug). Missing calendar lags
    coalesce to 0 (the "no activity" semantic a spend feature wants,
    unlike a sensor reading where null must survive).

    Scale shape: one combine-friendly daily rollup, then two
    co-partitioned self-joins on (user, day) — same-key joins that
    bucketed/partitioned feature tables make shuffle-free; sums use the
    order-independent exact-decimal path shared with
    ``feature_daily_user``."""
    from featurestore_for_joycastle_java_spark.operators.relational import (
        exact_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(exact_sum(F.col("value")).alias("spend"))
    a = d.alias("a")
    l1 = d.select(
        F.col("user_id").alias("u1"),
        F.col("day").alias("d1"),
        F.col("spend").alias("s1"),
    )
    l7 = d.select(
        F.col("user_id").alias("u7"),
        F.col("day").alias("d7"),
        F.col("spend").alias("s7"),
    )
    return (
        a.join(
            l1,
            (F.col("u1") == F.col("a.user_id"))
            & (F.col("d1") == F.date_sub(F.col("a.day"), 1)),
            "left",
        )
        .join(
            l7,
            (F.col("u7") == F.col("a.user_id"))
            & (F.col("d7") == F.date_sub(F.col("a.day"), 7)),
            "left",
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.date_format("a.day", "yyyy-MM-dd").alias("day"),
            F.col("a.spend").alias("spend"),
            F.coalesce(F.col("s1"), F.lit(0.0)).alias("spend_lag1"),
            F.coalesce(F.col("s7"), F.lit(0.0)).alias("spend_lag7"),
        )
    )


# --------------------------------------------- time-decayed frequency


@query(
    "feature_time_decay_counts",
    oracle="""
WITH m AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events)
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(EXP(-0.1 * ((m.now_us - epoch_us(ts))
                             / 86400000000.0))), 6) AS decayed_count
FROM events, m
GROUP BY user_id
""",
)
def feature_time_decay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event frequency per user (half-life
    ~6.9 days at lambda = 0.1/day), anchored at the corpus max
    timestamp — the recency-weighted activity feature recommender
    pipelines use instead of a raw count (a user active yesterday !=
    a user active last quarter). Complements ``feature_ewma_decay``
    (which smooths a VALUE series; this decays the COUNT measure).

    Scale shape: a 1-row max-timestamp broadcast, then one
    combine-friendly per-user agg — the decay weight is a pure per-row
    expression inside codegen."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    m = ev.agg(F.max("t_us").alias("now_us"))
    w = F.exp(
        -0.1 * ((F.col("now_us") - F.col("t_us")) / 86400000000.0)
    )
    return (
        ev.crossJoin(F.broadcast(m))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 6).alias("decayed_count"),
        )
    )


# --------------------------------------------------- count encoding


@query(
    "feature_count_encoding",
    oracle="""
WITH enc AS (
    SELECT c_nationkey, COUNT(*) AS nation_count
    FROM customer GROUP BY 1)
SELECT c.c_custkey, c.c_nationkey, e.nation_count
FROM customer c JOIN enc e USING (c_nationkey)
""",
)
def feature_count_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count (frequency) encoding of a categorical: each row carries its
    category's row count — the zero-leakage, zero-vocabulary encoder
    that often matches target encoding on tree models (and unlike
    `feature_target_encoding` needs no label, so it survives inference
    time unchanged). Completes the categorical-encoder family: target,
    OOF-target, hashing, crossing, and now count.

    Scale shape: one combine-friendly count to |categories| rows,
    broadcast back onto the fact — no shuffle of the fact at dim-sized
    cardinality (the join key being the encoded column itself)."""
    c = load_table(spark, sf_dir, "customer")
    enc = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("nation_count")
    )
    return c.select("c_custkey", "c_nationkey").join(
        F.broadcast(enc), "c_nationkey"
    ).select("c_custkey", "c_nationkey", "nation_count")


# ------------------------------------------- smoothed target encoding


@query(
    "feature_target_encoding_smoothed",
    oracle="""
WITH y AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
    FROM events),
g AS (SELECT AVG(y) AS gmean FROM y),
e AS (
    SELECT user_id, COUNT(*) AS n, SUM(y) AS sum_y FROM y GROUP BY 1)
SELECT e.user_id, e.n,
       ROUND((e.sum_y + 10.0 * g.gmean) / (e.n + 10.0), 6)
           AS te_smoothed,
       ROUND(g.gmean, 6) AS global_mean
FROM e, g
""",
)
def feature_target_encoding_smoothed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """m-estimate (Bayesian-smoothed) target encoding (Micci-Barreca,
    SIGKDD Expl. 2001): each user's purchase rate shrunk toward the
    global mean with pseudo-count m=10 — the regularization that makes
    target encoding survive high-cardinality keys where the plain
    per-key mean (`feature_target_encoding`) memorizes noise, and the
    bias-variance dial between it and the leakage-safe OOF variant.

    Scale shape: one combine-friendly per-key agg + a 1-row global-mean
    broadcast; the smoothing is per-row arithmetic on the key frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    g = ev.agg(F.avg("y").alias("gmean"))
    e = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sum_y")
    )
    return e.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n",
        F.round(
            (F.col("sum_y") + 10.0 * F.col("gmean")) / (F.col("n") + 10.0),
            6,
        ).alias("te_smoothed"),
        F.round("gmean", 6).alias("global_mean"),
    )


@query(
    "feature_woe_iv",
    oracle="""
WITH e AS (
    SELECT event_type, CASE WHEN value >= 50 THEN 1 ELSE 0 END AS y
    FROM events),
c AS (
    SELECT event_type,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(1 - y) AS BIGINT) AS n_neg
    FROM e GROUP BY 1),
t AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS pos_t,
           CAST(SUM(n_neg) AS BIGINT) AS neg_t
    FROM c),
w AS (
    SELECT event_type, n_pos, n_neg,
           LN(((CAST(n_pos AS DOUBLE) + 0.5) / (CAST(pos_t AS DOUBLE) + 2.5))
              / ((CAST(n_neg AS DOUBLE) + 0.5)
                 / (CAST(neg_t AS DOUBLE) + 2.5))) AS woe,
           ((CAST(n_pos AS DOUBLE) + 0.5) / (CAST(pos_t AS DOUBLE) + 2.5))
           - ((CAST(n_neg AS DOUBLE) + 0.5) / (CAST(neg_t AS DOUBLE) + 2.5))
               AS pdiff
    FROM c, t)
SELECT event_type, n_pos, n_neg,
       CAST(ROUND(woe * 1000000, 0) AS BIGINT) AS woe_micro,
       CAST(SUM(CAST(ROUND(pdiff * woe * 1000000, 0) AS BIGINT)) OVER ()
            AS BIGINT) AS iv_micro
FROM w
""",
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value per event_type
    against the binary target ``value >= 50`` (~39% positive on the
    fixture) — the classic supervised categorical encoder and its
    feature-screening statistic (Siddiqi 2006, credit-scorecard WOE/IV;
    the same smoothing idea as Micci-Barreca 2001 target encoding,
    already registered as ``feature_target_encoding``, but log-odds
    scaled and with the global IV diagnostic). Laplace 0.5 per cell
    (K=5 categories -> +2.5 on totals) keeps zero cells finite.

    Integerization: WOE and the per-category IV contribution are rounded
    to micro units BEFORE the IV sum, so both engines sum identical
    integers (the established 6dp-transcendental pattern — ``LN`` differs
    by <= 1 ulp between libm and JVM, invisible at 1e-6 granularity).
    Plan shape: one hash aggregate over events (map-side combine), then
    two 1-row ``crossJoin(broadcast(...))`` stats frames — no window
    over an unpartitioned frame, no second scan of events."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(F.col("value") >= 50, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    c = e.groupBy("event_type").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("n_neg"),
    )
    t = c.agg(
        F.sum("n_pos").cast("bigint").alias("__pos_t"),
        F.sum("n_neg").cast("bigint").alias("__neg_t"),
    )
    p_pos = (F.col("n_pos").cast("double") + F.lit(0.5)) / (
        F.col("__pos_t").cast("double") + F.lit(2.5)
    )
    p_neg = (F.col("n_neg").cast("double") + F.lit(0.5)) / (
        F.col("__neg_t").cast("double") + F.lit(2.5)
    )
    woe = F.log(p_pos / p_neg)
    pdiff = p_pos - p_neg
    wm = c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_pos",
        "n_neg",
        F.round(woe * F.lit(1000000), 0).cast("bigint").alias("woe_micro"),
        F.round(pdiff * woe * F.lit(1000000), 0)
        .cast("bigint")
        .alias("__contrib"),
    )
    iv = wm.agg(F.sum("__contrib").cast("bigint").alias("iv_micro"))
    return wm.select("event_type", "n_pos", "n_neg", "woe_micro").crossJoin(
        F.broadcast(iv)
    )


@query(
    "feature_funnel_stages",
    oracle="""
WITH mv AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY 1),
mc AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN mv USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > mv.t_view
          AND e.ts <= mv.t_view + INTERVAL 24 HOUR
    GROUP BY 1),
mp AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN mc USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > mc.t_click
          AND e.ts <= mc.t_click + INTERVAL 24 HOUR
    GROUP BY 1),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
cv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_view FROM mv),
cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_click FROM mc),
cp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchase FROM mp)
SELECT n_users, n_view, n_click, n_purchase,
       (n_view * 1000000) // n_users AS view_ppm,
       CASE WHEN n_view > 0 THEN (n_click * 1000000) // n_view
            ELSE CAST(0 AS BIGINT) END AS click_given_view_ppm,
       CASE WHEN n_click > 0 THEN (n_purchase * 1000000) // n_click
            ELSE CAST(0 AS BIGINT) END AS purchase_given_click_ppm
FROM u CROSS JOIN cv CROSS JOIN cc CROSS JOIN cp
""",
)
def feature_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase with a 24 h
    step window: a user reaches a stage only via an event STRICTLY after
    their previous-stage timestamp and within 24 h of it — the sequenced
    definition product analytics means by "funnel" (an unordered
    exists-per-type count would overcount users who purchased before
    ever viewing). Emits absolute stage counts plus per-step conversion
    in ppm (measured 150 -> 60 -> 25 of 150 users at sf0.01 — the window
    is what makes the fixture discriminate).

    Plan shape: three per-user min-timestamp aggregates chained by
    equi-joins on user_id (each join keyed and combine-friendly; at
    100 TB these co-partition under a user_id bucketing), then three
    1-row counts broadcast onto the user total. The event scan is read
    once per stage with only (user_id, ts, event_type) columns pruned."""
    ev = load_table(spark, sf_dir, "events")
    mv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    mc = (
        ev.filter(F.col("event_type") == "click")
        .join(mv, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    mp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(mc, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    u = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    cv = mv.agg(F.count(F.lit(1)).alias("n_view"))
    cc = mc.agg(F.count(F.lit(1)).alias("n_click"))
    cp = mp.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        u.crossJoin(F.broadcast(cv))
        .crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(cp))
        .select(
            "n_users",
            "n_view",
            "n_click",
            "n_purchase",
            F.expr("(n_view * 1000000) DIV n_users").alias("view_ppm"),
            F.expr(
                "CASE WHEN n_view > 0 THEN (n_click * 1000000) DIV n_view"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("click_given_view_ppm"),
            F.expr(
                "CASE WHEN n_click > 0 THEN (n_purchase * 1000000) DIV n_click"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("purchase_given_click_ppm"),
        )
    )


@query(
    "feature_cohort_retention",
    oracle="""
WITH f AS (
    SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort
    FROM events WHERE event_type = 'purchase' GROUP BY 1),
a AS (
    SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk
    FROM events WHERE event_type = 'purchase'),
sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1),
r AS (
    SELECT f.cohort,
           CAST(DATE_DIFF('day', f.cohort, a.wk) // 7 AS BIGINT)
               AS offset_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM a JOIN f USING (user_id) GROUP BY 1, 2)
SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_week, offset_weeks, n_active,
       cohort_size, (n_active * 1000000) // cohort_size AS retention_ppm
FROM r JOIN sz USING (cohort)
""",
)
def feature_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle on purchase activity: users are
    cohorted by the ISO week of their FIRST purchase, and each (cohort,
    offset-in-weeks) cell counts users with any purchase in that week,
    as a ppm of the cohort size — the standard retention curve behind
    every product dashboard (purchase-based rather than any-event-based
    because the fixture's users emit events continuously; first PURCHASE
    varies, so cohorts and decay actually discriminate: two cohorts with
    143->90 and 7->2 decay at sf0.01).

    Plan shape: both the cohort assignment and the activity set are
    per-user combine-friendly aggregates over the same filtered scan;
    the join back is keyed on user_id (bucketing co-partitions it at
    scale) and the output is |cohorts| x |offsets| rows — tiny whatever
    the input. Week truncation is engine-portable (both Spark and
    DuckDB date_trunc('week') start Monday); offsets divide exactly
    because both endpoints are week-truncated."""
    ev = load_table(spark, sf_dir, "events")
    pe = ev.filter(F.col("event_type") == "purchase")
    f = pe.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    a = pe.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    sz = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    r = (
        a.join(f, "user_id")
        .groupBy(
            "cohort",
            F.expr("CAST(datediff(wk, cohort) DIV 7 AS BIGINT)").alias(
                "offset_weeks"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return r.join(sz, "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "offset_weeks",
        "n_active",
        "cohort_size",
        F.expr("(n_active * 1000000) DIV cohort_size").alias(
            "retention_ppm"
        ),
    )


@query(
    "feature_survival_hazard",
    oracle="""
WITH u AS (
    SELECT user_id,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events GROUP BY 1),
g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events),
d AS (
    SELECT CAST(DATEDIFF('day', first_day, last_day) AS BIGINT)
               AS duration_days,
           (last_day <= gmax - INTERVAL 7 DAY) AS observed
    FROM u, g),
r AS (
    SELECT duration_days,
           CAST(COUNT(*) FILTER (WHERE observed) AS BIGINT) AS n_churned,
           CAST(COUNT(*) FILTER (WHERE NOT observed) AS BIGINT)
               AS n_censored,
           CAST(COUNT(*) AS BIGINT) AS n_here
    FROM d GROUP BY 1)
SELECT duration_days,
       CAST(SUM(n_here) OVER (ORDER BY duration_days DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS n_risk,
       n_churned, n_censored,
       CAST((n_churned * 1000000)
            // CAST(SUM(n_here) OVER (ORDER BY duration_days DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
            AS BIGINT) AS hazard_ppm,
       CAST(SUM(n_churned) OVER (ORDER BY duration_days ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_churned
FROM r
""",
)
def feature_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table (Kaplan & Meier 1958, JASA 53) for user
    lifetime: duration = days between a user's first and last event;
    a user whose last event is ≥ 7 days before the dataset horizon is
    an OBSERVED churn, later ones are right-CENSORED (the standard
    activity-gap churn proxy). Emits, per distinct duration t: the
    at-risk count n(t) = users with duration ≥ t (censored users count
    as at-risk through their censoring time, the KM convention), deaths
    d(t), censored c(t), the discrete hazard d(t)/n(t) in ppm, and
    cumulative deaths. The survival curve is Π(1−hazard) over this
    table — the product is left to callers because a float product is
    order-sensitive; every column HERE is an exact integer.

    Plan shape: one per-user min/max aggregate over events (combine-
    friendly), a 1-row broadcast horizon frame, then the row count
    collapses to DISTINCT DURATIONS (calendar-bounded, ≤ dataset span
    in days) before any window — the suffix-sum windows run over that
    tiny frame, the ``ts_mann_kendall`` collapse-first discipline."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    g = ev.agg(F.max(F.col("ts").cast("date")).alias("gmax"))
    d = u.crossJoin(F.broadcast(g)).select(
        F.datediff("last_day", "first_day")
        .cast("bigint")
        .alias("duration_days"),
        (F.col("last_day") <= F.date_sub(F.col("gmax"), 7)).alias(
            "observed"
        ),
    )
    r = d.groupBy("duration_days").agg(
        F.count(F.when(F.col("observed"), 1)).alias("n_churned"),
        F.count(F.when(~F.col("observed"), 1)).alias("n_censored"),
        F.count(F.lit(1)).alias("n_here"),
    )
    w_suffix = Window.orderBy(F.col("duration_days").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_prefix = Window.orderBy(F.col("duration_days").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return r.select(
        "duration_days",
        F.sum("n_here").over(w_suffix).cast("bigint").alias("n_risk"),
        "n_churned",
        "n_censored",
        F.expr(
            "(n_churned * 1000000)"
        ).alias("__hn"),
        F.sum("n_here").over(w_suffix).cast("bigint").alias("__nr"),
        F.sum("n_churned").over(w_prefix).cast("bigint").alias("cum_churned"),
    ).select(
        "duration_days",
        "n_risk",
        "n_churned",
        "n_censored",
        F.expr("__hn DIV __nr").alias("hazard_ppm"),
        "cum_churned",
    )


@query(
    "feature_quantile_normalize",
    oracle="""
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
s AS (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS r,
           CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
    FROM d),
g AS (
    SELECT n_chars AS ref_chars,
           ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_total
    FROM d)
SELECT s.doc_id, s.source, s.n_chars,
       g.ref_chars AS mapped_chars
FROM s JOIN g
  ON g.gr = CASE WHEN s.n_s > 1
                 THEN 1 + ((s.r - 1) * (g.n_total - 1)) // (s.n_s - 1)
                 ELSE (g.n_total + 1) // 2 END
""",
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-source feature onto the pooled
    reference distribution (Bolstad et al. 2003, Bioinformatics 19 —
    the batch-effect correction standard): each document's ``n_chars``
    is replaced by the global value whose NORMALIZED rank matches the
    document's rank within its own source, so every source ends up with
    an identical marginal distribution. Rank mapping is exact integer
    arithmetic — position 1 + ⌊(r−1)(N−1)/(n_s−1)⌋, single-doc sources
    map to the global median position — with (value, doc_id) total
    orders making both ranks unique and replayable.

    Plan shape: the per-source rank is a partitioned window (parallel
    across sources); the GLOBAL rank uses ``operators/ranks.py::
    global_row_number`` — the two-pass range-bucketed row number that
    never funnels the corpus through one partition (the
    ``window_rank_scalable`` discipline) — and the final mapping is one
    hash join on the computed rank position. The oracle replays the
    global rank with a plain window, same total order."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = d.withColumn("r", F.row_number().over(w_src))
    ns = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    s = s.join(F.broadcast(ns), "source")
    g = global_row_number(d, "n_chars", ["doc_id"], out_col="gr")
    ref = g.select(
        F.col("gr").alias("__gr"),
        F.col("n_chars").alias("mapped_chars"),
        F.col("_n_total").alias("__nt"),
    )
    nt = ref.agg(F.max("__nt").alias("n_total"))
    s = s.crossJoin(F.broadcast(nt)).withColumn(
        "__idx",
        F.expr(
            "CASE WHEN n_s > 1"
            " THEN 1 + ((r - 1) * (n_total - 1)) DIV (n_s - 1)"
            " ELSE (n_total + 1) DIV 2 END"
        ),
    )
    return s.join(ref.drop("__nt"), s["__idx"] == ref["__gr"]).select(
        "doc_id", "source", "n_chars", "mapped_chars"
    )


def _markov_oracle(iterations: int) -> str:
    """Declarative replay of the integer Markov power step — per-edge
    floored contribution (pi_a * c_ab) // r_a, exact sums, MAX
    renormalization — identical arithmetic to
    ``feature_markov_stationary``."""
    cte = [
        """
WITH o AS (
    SELECT user_id, event_type, ts, event_id,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events),
c AS (
    SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
    FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
r AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM c GROUP BY 1),
st AS (SELECT DISTINCT event_type AS state FROM events),
p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS p FROM st)"""
    ]
    for k in range(1, iterations + 1):
        prev = f"p{k - 1}"
        cte.append(
            f"""
w{k} AS (SELECT c.b AS state,
                CAST(SUM((p.p * c.c) // r.ra) AS BIGINT) AS raw
         FROM c JOIN {prev} p ON p.state = c.a
                JOIN r ON r.a = c.a
         GROUP BY 1),
m{k} AS (SELECT MAX(raw) AS mx FROM w{k}),
p{k} AS (SELECT st.state,
                COALESCE((w.raw * 1000000) // m.mx, 0) AS p
         FROM st LEFT JOIN w{k} w ON w.state = st.state
         CROSS JOIN m{k} m)"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT state, p AS stationary_micro FROM p{iterations}
"""
    )


@query("feature_markov_stationary", oracle=_markov_oracle(3))
def feature_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k = 3 power-iteration iterate toward the stationary
    distribution of the per-user event-type Markov chain — 'where does
    a user's behavior settle': transition counts come from consecutive
    event pairs per user (the ``feature_event_transitions`` pairing),
    and pi' (b) = Σ_a pi(a)·P(a,b) runs in the same integer discipline
    as the engine's other power iterations (per-edge floored
    contribution (pi·c) DIV rowsum — exact BIGINTs — then MAX
    renormalization; like ``sim_power_iteration_pc1``, the CONTRACT is
    the exact iterate, with convergence governed by the chain's
    spectral gap). States = event types, so the iteration frame is
    tiny; determinism is what the integer arithmetic buys.

    Plan shape: one per-user LEAD window (partition-parallel across
    users) collapses events to the |states|² transition-count frame;
    the loop then costs nothing at any corpus size. The window shuffle
    on user_id is the only corpus-sized exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    r = c.groupBy("a").agg(F.sum("c").alias("ra"))
    cr = c.join(F.broadcast(r), "a").localCheckpoint(eager=True)
    st = ev.select(F.col("event_type").alias("state")).distinct()
    st = st.localCheckpoint(eager=True)
    p = st.select("state", F.lit(1000000).cast("bigint").alias("p"))

    def step(p: DataFrame) -> DataFrame:
        wsum = (
            cr.join(p, cr.a == p.state)
            .select(
                F.col("b").alias("state2"),
                F.expr("(p * c) DIV ra").alias("t"),
            )
            .groupBy("state2")
            .agg(F.sum("t").cast("bigint").alias("raw"))
        )
        mx = wsum.agg(F.max("raw").alias("mx"))
        return (
            st.join(wsum, st.state == wsum.state2, "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "state",
                F.coalesce(F.expr("(raw * 1000000) DIV mx"), F.lit(0))
                .cast("bigint")
                .alias("p"),
            )
        )

    p, _ = fixpoint("feature_markov_stationary", p, step, max_rounds=3)
    return p.select("state", F.col("p").alias("stationary_micro"))
