"""Window-function and event-sequence queries (SURVEY.md §2.2): ranking,
analytic (lag/lead), running and range (time-interval) frames, per-group
top-k, sessionization, funnels, retention cohorts, sequence patterns and
interval merging."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.asof import sessionize
from featurestore_for_joycastle_java_spark.operators.ranks import (
    dense_rank_low_card,
    global_row_number,
    ntile_from_rank,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    rolling_time_window,
    top_k_per_group,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "window_topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
    FROM orders)
WHERE rn <= 3
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number window + filter — one shuffle
    on the group key, no global sort. Orderkey tiebreak = deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
        ),
        partition_by=["c_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )


@query(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend
FROM orders
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) spend per customer — rows frame with a unique
    total order (orderdate + orderkey tiebreak)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       CAST(RANK() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INT)
           AS price_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic functions: lag/lead over event order + rank with ties
    (rank is deterministic under ties, unlike row_number)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(wr).alias("price_rank"),
    )


@query(
    "window_rolling_7d",
    oracle="""
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (
           PARTITION BY user_id
           ORDER BY CAST(FLOOR(date_part('epoch', ts)) AS BIGINT)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
           AS spend_7d,
       CAST(COUNT(*) OVER (
           PARTITION BY user_id
           ORDER BY CAST(FLOOR(date_part('epoch', ts)) AS BIGINT)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_events_7d
FROM events
""",
)
def window_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store staple: rolling 7-day spend + event count per
    user. Range frame over epoch seconds (see operators.relational.
    rolling_time_window for the scale notes)."""
    ev = load_table(spark, sf_dir, "events")
    out = rolling_time_window(
        ev,
        partition_by=["user_id"],
        ts_col="ts",
        window_seconds=7 * 86400,
        aggs={
            "spend_7d_raw": F.sum("value"),
            "n_events_7d": F.count(F.lit(1)),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("spend_7d_raw"), 2).alias("spend_7d"),
        "n_events_7d",
    )


@query(
    "window_ntile_dense_rank",
    oracle="""
SELECT c_custkey,
       CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT)
           AS bal_quartile,
       CAST(DENSE_RANK() OVER (ORDER BY c_nationkey) AS INT) AS nation_rank
FROM customer
""",
)
def window_ntile_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + dense_rank over unpartitioned windows. Note: a global
    (unpartitioned) window funnels all rows through one task — fine for a
    150k-row dim, never for a 100 TB fact (partition first, or compute
    quantile cutoffs via approx_percentile and join them in)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4)
        .over(Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
        .alias("bal_quartile"),
        F.dense_rank().over(Window.orderBy("c_nationkey")).alias("nation_rank"),
    )


@query(
    "sessionize_users",
    oracle="""
WITH e AS (
    SELECT user_id, event_id,
           CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS epoch_s
    FROM events),
flagged AS (
    SELECT user_id, event_id, epoch_s,
           CASE WHEN epoch_s - LAG(epoch_s) OVER w > 1800 THEN 1 ELSE 0 END
               AS is_new
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s)),
sessions AS (
    SELECT user_id, event_id, epoch_s,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY epoch_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(MAX(epoch_s) - MIN(epoch_s) AS BIGINT) AS duration_s
FROM sessions
GROUP BY user_id, session_id
""",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup —
    lag + running-sum windows, then one agg; all integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    epoch = F.unix_timestamp("ts")
    return (
        sessions.withColumn("epoch_s", epoch)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("epoch_s") - F.min("epoch_s")).alias("duration_s"),
        )
    )


@query(
    "window_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over explicit full-partition frames (the
    default frame would silently make last_value == current row)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@query(
    "window_percent_rank",
    oracle="""
SELECT c_custkey,
       PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank,
       CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS bal_cume_dist
FROM customer
""",
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist (exact (k-1)/(n-1), k/n arithmetic —
    deterministic). Unique tiebreak keeps ranks reproducible."""
    w = Window.orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


@query(
    "window_rank_scalable",
    oracle="""
SELECT c_custkey,
       CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS INT)
           AS bal_rank,
       CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT)
           AS bal_quartile,
       PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank,
       CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS bal_cume_dist,
       CAST(DENSE_RANK() OVER (ORDER BY c_nationkey) AS INT) AS nation_rank
FROM customer
""",
)
def window_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``window_ntile_dense_rank`` /
    ``window_percent_rank``: exact global row_number / ntile(4) /
    percent_rank / cume_dist / dense_rank with NO single-partition window
    over the fact table.

    Ranks come from the two-pass range-bucketed ``global_row_number``
    (operators/ranks.py) — the only global windows in the plan see 32
    bucket rows and 25 distinct nation keys. ntile/percent_rank/cume_dist
    are integer arithmetic on the exact rank (valid because the
    (c_acctbal, c_custkey) ordering is unique). The r1 exact forms stay
    registered as the one-task oracles of this shape.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    ranked = global_row_number(
        c, "c_acctbal", ["c_custkey"], out_col="bal_rank"
    )
    # distinct nation keys come from the RAW scan (1-column pruned read),
    # not from the ranked lineage — same key population, far cheaper branch
    ranked = dense_rank_low_card(ranked, "c_nationkey", "nation_rank", keys_from=c)
    n = F.col("_n_total")
    rk = F.col("bal_rank")
    return ranked.select(
        "c_custkey",
        rk.cast("int").alias("bal_rank"),
        ntile_from_rank(rk, n, 4).alias("bal_quartile"),
        F.when(n > 1, (rk - 1) / (n - 1))
        .otherwise(F.lit(0.0))
        .alias("bal_pct_rank"),
        (rk / n).alias("bal_cume_dist"),
        "nation_rank",
    )


# --- Behavioral feature-store queries: funnel, cohorts ----------------------


@query(
    "funnel_conversion",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
s1 AS (
    SELECT user_id, event_type, t,
           MIN(CASE WHEN event_type = 'view' THEN t END)
               OVER (PARTITION BY user_id) AS t_view
    FROM e),
s2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND t >= t_view THEN t END)
                  OVER (PARTITION BY user_id) AS t_click
    FROM s1),
s3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t >= t_click THEN t END)
                  OVER (PARTITION BY user_id) AS t_purchase
    FROM s2),
u AS (SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
             MIN(t_purchase) AS t_purchase
      FROM s3 GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_view,
       CAST(COUNT(t_click) AS BIGINT) AS n_view_click,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_view_click_purchase,
       ROUND(CASE WHEN COUNT(t_view) > 0
                  THEN COUNT(t_click) / CAST(COUNT(t_view) AS DOUBLE) END,
             6) AS view_to_click,
       ROUND(CASE WHEN COUNT(t_click) > 0
                  THEN COUNT(t_purchase) / CAST(COUNT(t_click) AS DOUBLE) END,
             6) AS click_to_purchase
FROM u
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-that-click) in ONE shuffle: three stacked window
    aggregates over the same user_id partitioning (Catalyst plans one
    exchange, three Window operators), then a per-user rollup that reuses
    that partitioning and a global count. No self-joins — the classic
    funnel-as-N-joins shape re-shuffles the fact table once per stage;
    this is the 100 TB funnel. Stage timestamps are epoch-µs integers so
    both engines compare identical values."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("t")
    )
    w = Window.partitionBy("user_id")
    is_view = F.col("event_type") == "view"
    s1 = ev.withColumn("t_view", F.min(F.when(is_view, F.col("t"))).over(w))
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("t") >= F.col("t_view")),
                F.col("t"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t") >= F.col("t_click")),
                F.col("t"),
            )
        ).over(w),
    )
    u = s3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    n_view = F.count("t_view")
    n_click = F.count("t_click")
    n_purch = F.count("t_purchase")
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        n_view.alias("n_view"),
        n_click.alias("n_view_click"),
        n_purch.alias("n_view_click_purchase"),
        F.round(
            F.when(n_view > 0, n_click / n_view.cast("double")), 6
        ).alias("view_to_click"),
        F.round(
            F.when(n_click > 0, n_purch / n_click.cast("double")), 6
        ).alias("click_to_purchase"),
    )


@query(
    "retention_cohorts",
    # Week arithmetic is anchor-based integer math (days since 2024-01-01
    # floor-divided by 7), NOT engine week-truncation — date_trunc('week')
    # semantics (ISO vs locale first-day) are exactly the kind of
    # cross-engine divergence an oracle must not depend on.
    oracle="""
WITH e AS (
    SELECT user_id,
           CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                      / 7.0) AS BIGINT) AS wk
    FROM events),
m AS (SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS wk0 FROM e),
d AS (SELECT DISTINCT user_id, wk0, wk - wk0 AS week_offset FROM m)
SELECT strftime(DATE '2024-01-01' + CAST(wk0 * 7 AS INT), '%Y-%m-%d')
           AS cohort_week,
       week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM d GROUP BY 1, 2
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-activity week,
    counted at each later week offset — the activation/retention matrix
    every growth dashboard draws. Shape: one window min over user_id
    (cohort assignment, no join back to the fact), a distinct on (user,
    cohort, offset), one groupBy — exact distinct users per cell without
    countDistinct's second shuffle, because the distinct IS the dedup."""
    anchor = F.lit("2024-01-01").cast("date")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.datediff(F.to_date("ts"), anchor) / 7.0).alias("wk"),
    )
    w = Window.partitionBy("user_id")
    d = (
        ev.withColumn("wk0", F.min("wk").over(w))
        .select("user_id", "wk0", (F.col("wk") - F.col("wk0")).alias("week_offset"))
        .distinct()
    )
    return d.groupBy(
        F.date_format(
            F.date_add(anchor, (F.col("wk0") * 7).cast("int")), "yyyy-MM-dd"
        ).alias("cohort_week"),
        "week_offset",
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "window_streak_longest",
    oracle="""
WITH du AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events),
i AS (
    SELECT user_id, d,
           d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
    FROM du),
s AS (
    SELECT user_id, island, COUNT(*) AS len
    FROM i GROUP BY 1, 2)
SELECT user_id,
       MAX(len) AS longest_streak,
       COUNT(*) AS n_streaks
FROM s GROUP BY 1
""",
)
def window_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus streak
    count) — the classic gaps-and-islands read and a staple retention
    feature. Dedup to (user, day) first (bounds everything by distinct
    pairs), then day − row_number() labels each run of consecutive days
    with a constant island key; two combine-friendly groupBys finish.
    The only window is per-user over the deduped day list."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    i = du.select(
        "user_id",
        F.date_sub(
            F.col("d"), F.row_number().over(w)
        ).alias("island"),
    )
    s = i.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "window_cume_nth",
    # (value, event_id) is a total order ⇒ cume_dist has no peer groups
    # and equals position/n — an integer ratio, bit-identical both
    # engines. Purchase slice keeps the per-type partitions bounded.
    oracle="""
SELECT event_id, event_type,
       CUME_DIST() OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS cume_d,
       NTH_VALUE(value, 2) OVER (
           PARTITION BY event_type ORDER BY value, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_lowest
FROM events
WHERE event_type IN ('purchase', 'signup')
""",
)
def window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST + NTH_VALUE — the two remaining ranked-window forms the
    window family didn't exercise (rank/dense/ntile/percent_rank/lag/
    lead/first_last are covered). Per-type partitions on a filtered
    slice; the scale-safe route for global variants is the two-pass
    rank (`window_rank_scalable`), which composes the same way here."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wf = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "event_type",
        F.cume_dist().over(w).alias("cume_d"),
        F.nth_value("value", 2).over(wf).alias("second_lowest"),
    )


# ------------------------------------------------------- gaps & islands


@query(
    "interval_merge_overlaps",
    oracle="""
WITH iv AS (
    SELECT user_id,
           CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS start_s,
           CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) + 900 AS end_s
    FROM events),
f AS (
    SELECT user_id, start_s, end_s,
           CASE WHEN MAX(end_s) OVER w IS NULL
                  OR start_s > MAX(end_s) OVER w
                THEN 1 ELSE 0 END AS new_i
    FROM iv
    WINDOW w AS (PARTITION BY user_id ORDER BY start_s, end_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
g AS (
    SELECT user_id, start_s, end_s,
           CAST(SUM(new_i) OVER (
               PARTITION BY user_id ORDER BY start_s, end_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS island_id
    FROM f)
SELECT user_id, island_id,
       MIN(start_s) AS start_s, MAX(end_s) AS end_s,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, island_id
""",
)
def interval_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: each event opens a 15-minute
    activity interval; overlapping/back-to-back intervals per user are
    merged into maximal islands (the classic running-max trick: a row
    starts a new island iff its start exceeds the max end of every
    earlier interval). Unlike ``sessionize_users`` (gap between
    CONSECUTIVE events) this merges by COVERAGE — a long interval can
    swallow several later short ones — the semantics needed for
    on-call/availability windows and validity-range compaction.

    Scale shape: both windows partition by user (bounded per-entity
    groups), ordered by integer epochs; one shuffle on user_id, two
    frame passes over each partition, then a combine-friendly groupBy.
    All arithmetic is integer-exact."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("start_s"),
        (F.unix_timestamp("ts") + 900).alias("end_s"),
    )
    w = Window.partitionBy("user_id").orderBy("start_s", "end_s")
    prev_end = F.max("end_s").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_i",
        F.when(prev_end.isNull() | (F.col("start_s") > prev_end), 1).otherwise(
            0
        ),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_i")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("start_s").alias("start_s"),
        F.max("end_s").alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ------------------------------------------------------- trigram motifs


@query(
    "seq_trigram_motifs",
    oracle="""
WITH s AS (
    SELECT event_type AS e1,
           LEAD(event_type, 1) OVER w AS e2,
           LEAD(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1, e2, e3, COUNT(*) AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3
LIMIT 20
""",
)
def seq_trigram_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, fixed length 3: the 20 most frequent
    consecutive event-type trigrams across user journeys (the n-gram
    specialization of GSP, Srikant & Agrawal 1996) — extends
    ``feature_event_transitions`` (bigram Markov) one step deeper,
    enough to separate 'view>click>purchase' from 'click>view>click'
    loops.

    Scale shape: one shuffle on user_id for the lead window (bounded
    per-user partitions), then a combine-friendly count over at most
    |event_type|^3 keys and a TakeOrderedAndProject top-20 with a
    total-order tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(20)
    )


# ------------------------------------------------- running distinct count


@query(
    "window_running_distinct",
    oracle="""
WITH f AS (
    SELECT event_id, user_id,
           CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) = 1
                THEN 1 ELSE 0 END AS first_seen
    FROM events)
SELECT event_id, user_id,
       CAST(SUM(first_seen) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_types_so_far
FROM (SELECT e.event_id, e.user_id, e.ts, f.first_seen
      FROM events e JOIN f ON f.event_id = e.event_id) x
""",
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact RUNNING DISTINCT count per entity: after each event, how
    many distinct event types has this user produced so far? SQL has no
    ``COUNT(DISTINCT) OVER (ORDER BY ...)`` — the exact closed form is
    the first-occurrence trick: flag each (user, type)'s first event
    (row_number = 1 in the per-type ordering), then running-SUM the
    flags in event order. Two ordinary windows replace a
    state-explosion (collect_set per row would carry the whole set in
    every frame).

    Scale shape: two hash-partitioned windows — one keyed (user, type),
    one keyed user — both bounded per-entity; pure integer arithmetic;
    output is event-grain (this is a feature column, not a report)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "t_us", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.withColumn(
        "first_seen",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(w_run).cast("long").alias("n_types_so_far"),
    )


# ------------------------------------------------- rolling z-score


@query(
    "window_rolling_zscore",
    oracle="""
WITH w AS (
    SELECT event_id, user_id, value,
           COUNT(*) OVER win AS n_win,
           AVG(value) OVER win AS m1,
           AVG(value * value) OVER win AS m2
    FROM events
    WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id,
       ROUND((value - m1) / SQRT(m2 - m1 * m1), 6) AS rolling_z
FROM w
WHERE n_win >= 3 AND m2 - m1 * m1 > 0
""",
)
def window_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score over each user's trailing 7 events — the
    time-LOCAL anomaly feature (`feature_anomaly_zscore` standardizes
    against the user's GLOBAL distribution; a drifting baseline needs
    the rolling one). Variance comes from the explicit moment identity
    avg(x^2) - avg(x)^2 computed by the SAME frame in both engines —
    never the builtins (population vs sample again); rows with fewer
    than 3 observations or zero variance emit nothing (a z-score
    against no spread is noise, not signal).

    Scale shape: one bounded per-entity window (7-row frames), three
    frame aggregates sharing one shuffle and sort."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.avg("value").over(win).alias("m1"),
        F.avg(F.col("value") * F.col("value")).over(win).alias("m2"),
    )
    var = F.col("m2") - F.col("m1") * F.col("m1")
    return w.filter((F.col("n_win") >= 3) & (var > 0)).select(
        "event_id",
        "user_id",
        F.round((F.col("value") - F.col("m1")) / F.sqrt(var), 6).alias(
            "rolling_z"
        ),
    )
