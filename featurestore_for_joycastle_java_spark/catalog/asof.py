"""Point-in-time (as-of) join queries (SURVEY.md §7.2 M3): backward and
forward as-of lookups, tolerance-bounded staleness and the hot-key
bucketed variant."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.catalog.features import (
    _DAY_US,
    _events_us,
)
from featurestore_for_joycastle_java_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "asof_backward_purchase_click",
    oracle="""
SELECT p.event_id,
       p.user_id,
       c.event_id AS click_event_id,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND epoch_us(p.ts) >= epoch_us(c.ts)
""",
)
def asof_backward_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (backward): for every purchase, the user's most
    recent prior-or-simultaneous click — 'the feature value known at event
    time', leakage-free. Union+window plan: one shuffle on user_id (see
    operators.asof for the 100 TB notes). Joined on epoch microseconds so
    both engines compare identical integers."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("value").alias("click_value"),
        "t_us",
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t_us",
        right_cols=["click_event_id", "click_value"],
        direction="backward",
    )
    return out.select("event_id", "user_id", "click_event_id", "click_value")


@query(
    "asof_forward_click_purchase",
    oracle="""
SELECT c.event_id,
       c.user_id,
       p.event_id AS next_purchase_id,
       p.value AS next_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND epoch_us(c.ts) <= epoch_us(p.ts)
""",
)
def asof_forward_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of forward: for every click, the user's next purchase (label
    generation for conversion models — 'what happened after')."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("next_purchase_id"),
        "user_id",
        F.col("value").alias("next_purchase_value"),
        "t_us",
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t_us",
        right_cols=["next_purchase_id", "next_purchase_value"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_id", "next_purchase_value")


@query(
    "asof_nearest_error_click",
    # Neither engine has a native NEAREST as-of: the oracle composes
    # DuckDB's backward + forward ASOF joins and picks the closer side
    # (backward wins exact ties) — the same decision rule the Spark
    # operator applies per row after its dual-window fill.
    oracle="""
WITH er AS (
    SELECT event_id, user_id, epoch_us(ts) AS t
    FROM events WHERE event_type = 'error'),
cl AS (
    SELECT event_id AS click_event_id, user_id, epoch_us(ts) AS t
    FROM events WHERE event_type = 'click'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                               ORDER BY event_id) = 1),
b AS (
    SELECT er.event_id, er.user_id, er.t,
           c.click_event_id AS b_id, c.t AS b_t
    FROM er ASOF LEFT JOIN cl c
      ON er.user_id = c.user_id AND er.t >= c.t),
f AS (
    SELECT er.event_id, c.click_event_id AS f_id, c.t AS f_t
    FROM er ASOF LEFT JOIN cl c
      ON er.user_id = c.user_id AND er.t <= c.t)
SELECT b.event_id, b.user_id,
       CASE WHEN b.b_t IS NOT NULL
                 AND (f.f_t IS NULL OR b.t - b.b_t <= f.f_t - b.t)
            THEN b.b_id ELSE f.f_id END AS nearest_click_id,
       CASE WHEN b.b_t IS NOT NULL
                 AND (f.f_t IS NULL OR b.t - b.b_t <= f.f_t - b.t)
            THEN b.b_t ELSE f.f_t END AS t_us_matched
FROM b JOIN f USING (event_id)
""",
)
def asof_nearest_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: for every error event, the user's
    temporally closest click in EITHER direction (the diagnostic-context
    lookup — 'what was the user doing around the failure'). Implemented
    as ONE shuffle: tagged union windowed ascending and descending over
    the same user partitioning, then per-row distance arithmetic; see
    ``operators.asof.asof_join_nearest``."""
    from featurestore_for_joycastle_java_spark.operators.asof import (
        asof_join_nearest,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "t_us"
    )
    # as-of results are UNDEFINED on (key, ts) right-side ties (both
    # engines pick arbitrarily — the operators module doc requires a
    # deduplicated right side); keep the min-event_id click per
    # (user, µs). Dedup via lag over the SAME user_id partitioning the
    # as-of windows use — ordering (t_us, event_id) makes the first row
    # of each instant the min event_id, and the shared partitioning
    # means Catalyst reuses one exchange for dedup + both fills (the
    # plan gate pins exactly one shuffle).
    w_user = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("__prev_t", F.lag("t_us").over(w_user))
        .filter(F.col("__prev_t").isNull() | (F.col("__prev_t") != F.col("t_us")))
        .select(F.col("event_id").alias("nearest_click_id"), "user_id", "t_us")
    )
    out = asof_join_nearest(
        errors,
        clicks,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t_us",
        right_cols=["nearest_click_id"],
    )
    return out.select("event_id", "user_id", "nearest_click_id", "t_us_matched")


@query(
    "asof_bucketed_backward",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t
    FROM events),
p AS (
    SELECT user_id, t, MAX_BY(value, event_id) AS purchase_value
    FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
v AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'view')
SELECT v.event_id, v.user_id, p.purchase_value
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.t >= p.t
""",
)
def asof_bucketed_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of through the SKEW-MITIGATED path (VERDICT r4 item
    #6): for every view, the user's latest prior purchase value, with
    the heavy window partitioned on (user_id, day-bucket) instead of
    user_id — ``operators.asof.asof_join_bucketed``. Result-identical
    to the plain as-of (the oracle is a plain DuckDB ASOF join); the
    skewed-fixture equivalence + plan test lives in
    tests/test_features.py / test_plans.py. The right side is
    deduplicated per (user, instant) with ``max_by`` so the as-of
    winner is defined in both engines."""
    e = _events_us(spark, sf_dir)
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    v = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "t"
    )
    out = asof_join_bucketed(
        v,
        p,
        on=["user_id"],
        left_ts="t",
        right_ts="t",
        right_cols=["purchase_value"],
        bucket_width=86_400_000_000,  # 1 day in µs
    )
    return out.select("event_id", "user_id", "purchase_value")


@query(
    "asof_tolerance_backward",
    # DuckDB has no ASOF tolerance either — the oracle post-filters the
    # unbounded ASOF match with the same inclusive age bound, nulling
    # payload and matched ts together (the operator's atomicity rule).
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t
    FROM events),
p AS (
    SELECT user_id, t, MAX_BY(value, event_id) AS recent_purchase_value
    FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
v AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'view')
SELECT v.event_id, v.user_id,
       CASE WHEN v.t - p.t <= {2 * _DAY_US}
            THEN p.recent_purchase_value END AS recent_purchase_value,
       CASE WHEN v.t - p.t <= {2 * _DAY_US}
            THEN p.t END AS purchase_t_us
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.t >= p.t
""",
)
def asof_tolerance_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness point-in-time read: for every view, the user's
    latest prior purchase value — but only if it is at most 2 days old
    (``asof_join(tolerance=...)``); staler matches are nulled whole.
    The freshness-SLA contract of a feature-serving read: a model must
    not consume a feature that stopped being true."""
    e = _events_us(spark, sf_dir)
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max_by("value", "event_id").alias("recent_purchase_value"))
    )
    v = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "t"
    )
    out = asof_join(
        v,
        p,
        on=["user_id"],
        left_ts="t",
        right_ts="t",
        right_cols=["recent_purchase_value"],
        direction="backward",
        tolerance=2 * _DAY_US,
    )
    return out.select(
        "event_id",
        "user_id",
        "recent_purchase_value",
        F.col("t_matched").alias("purchase_t_us"),
    )
