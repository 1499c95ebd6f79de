"""Streaming queries (SURVEY.md §2.2 streaming row + M4): each runs a real
Structured Streaming query (availableNow drain — the reference's
consume-until-empty, CMT:104-110) into a memory sink, then returns the
result as a batch DataFrame so the driver can oracle-check it against
DuckDB. Batch/stream equivalence IS the check."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark import streaming as ST
from featurestore_for_joycastle_java_spark.catalog.dedup import _recrawl_batch
from featurestore_for_joycastle_java_spark.operators.asof import (
    multi_asof_join,
)
from featurestore_for_joycastle_java_spark.operators.dedup import (
    exact_dedup_incremental,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    exact_sum,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.session import narrow_shuffle_width
from featurestore_for_joycastle_java_spark.sources import load_table, scratch_dir


#: Per-trigger progress of the most recent drains, appended by ``_run``
#: and harvested by bench.py into its artifact — so run-to-run drift on
#: ``stream_*`` queries is attributable to a phase (state commit, empty
#: finalization batch, planning) instead of a bare wall-clock delta.
#: Callers clear it between queries.
DRAIN_PROGRESS: list[dict] = []


#: upper bound on the shuffle width (state-store instances) of a drain
DRAIN_WIDTH = 4


def _run(spark: SparkSession, stream_df: DataFrame, mode: str) -> DataFrame:
    """Drain a stream to a memory sink and return it as a batch DataFrame.
    The sink's view is dropped once the frame is built: the frame keeps
    the analyzed in-memory plan, so the drained rows live as long as the
    frame does, not until the session ends.

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
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


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
    (fixture data never hits the boundary, so an oracle with `>=` passes
    too — the test is what decides it)."""
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


@query(
    "stream_pysource_counts",
    # Same regenerate-in-SQL oracle as pysource_synthetic_agg — here the
    # rows additionally flow through a real StreamingQuery (custom Python
    # stream reader -> stateful complete-mode aggregation -> memory
    # sink), so the check covers the streaming offset path end to end.
    oracle="""
WITH src AS (
SELECT (i * 2654435761) % 4294967296 AS h
FROM range(20000) t(i)
)
SELECT (['click', 'error', 'purchase', 'signup', 'view'])
           [CAST((h // 256) % 5 AS INT) + 1] AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(((h // 65536) % 10000) / 100.0 AS DECIMAL(23,6)))
            AS DOUBLE) AS sum_value
FROM src GROUP BY 1
""",
)
def stream_pysource_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python STREAMING source composed with a stateful
    aggregation: synthetic_events read via its offset-tracked stream
    reader (one availableNow prefetch batch — batchRows=rows; the
    multi-batch exactly-once progression is pinned in
    tests/test_streaming.py), complete-mode groupBy into a memory sink,
    oracle regenerates the input in SQL. ``sf_dir`` unused — the source
    IS the data."""
    from featurestore_for_joycastle_java_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = (
        spark.readStream.format("synthetic_events")
        .option("rows", 20000)
        .option("batchRows", 20000)
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value")).alias("sum_value"),
    )
    return _run(spark, agg, "complete")


@query(
    "stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a broadcast
    batch dimension (customer → market segment) per micro-batch, then a
    stateful aggregation rolls up per segment — the standard streaming
    enrich-then-aggregate topology (dimension re-read each batch, no
    state for the join side, state only for the agg). Completes the
    streaming join matrix next to ``stream_stream_join``. Batch/stream
    equivalence under availableNow drain is the oracle."""
    src = ST.file_stream_source(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    joined = src.join(
        F.broadcast(cust), src.user_id == cust.c_custkey, "inner"
    )
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value")).alias("sum_value"),
    )
    return _run(spark, agg, "complete")


@query(
    "stream_hourly_active_users",
    oracle="""
SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       COUNT(DISTINCT user_id) AS n_active
FROM events
GROUP BY 1
""",
)
def stream_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly active users: watermarked dropDuplicates on
    (hour, user) — the streaming DISTINCT operator, state = one row per
    in-flight (hour, user) — feeding a per-hour count. The streaming
    twin of the sliding-distinct family: counting users, not events,
    under exactly-once dedup state. Batch/stream equivalence under
    availableNow drain is the oracle."""
    src = ST.file_stream_source(spark, sf_dir)
    dedup = (
        src.withWatermark("ts", "2 hours")
        .select(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "user_id",
            F.col("ts"),
        )
        .dropDuplicates(["hour_ts", "user_id"])
    )
    agg = dedup.groupBy("hour_ts").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    out = _run(spark, agg, "complete")
    return out.select(
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_active",
    )


@query(
    "stream_pit_enrich",
    # Leakage-free by construction: an event is enriched only with a
    # dimension version whose timestamp is <= the event's own — the
    # multi_asof_join backward-inclusive rule. Against a Type-1 (current-
    # row-only) dimension that means: matched iff the user's LATEST
    # purchase is not in the event's future, else null (the only retained
    # version would leak). The oracle states exactly that, declaratively.
    oracle="""
WITH dim AS (
    SELECT user_id, value AS profile_value, ts AS dim_ts
    FROM (SELECT user_id, value, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase')
    WHERE rn = 1)
SELECT c.event_id, c.user_id,
       CASE WHEN d.dim_ts <= c.ts THEN d.profile_value END AS profile_value,
       CASE WHEN d.dim_ts <= c.ts THEN epoch_us(d.dim_ts) END AS prof_ts_us
FROM events c LEFT JOIN dim d USING (user_id)
WHERE c.event_type = 'click'
""",
)
def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — the feature-store serving
    topology end-to-end: stream #1 maintains a per-user profile dimension
    (latest purchase value) through the exactly-once versioned SCD1 sink
    (``streaming.scd1_upsert_stream_sink``); stream #2 drains the click
    events through ``foreachBatch``, each batch point-in-time joining the
    CURRENT committed dimension snapshot with ``multi_asof_join`` (clicks
    are the spine, the dimension is the feature frame, match rule
    backward-inclusive dim_ts <= click ts) and appending the enriched
    batch to the serving output.

    Order correctness: within a batch the sink reduces with ``max_by``
    over a (ts, event_id) struct, so the retained version is the global
    latest by event time, not by arrival — which is what makes the batch
    oracle exact. Cross-batch the SCD1 merge is latest-ARRIVAL-wins; the
    availableNow drain of the single-file fixture is one batch, and the
    multi-batch ordering + exactly-once property is pinned separately in
    tests/test_round7.py over a controlled 3-file source.

    Scale shape: dim maintenance is O(|batch| + |dim|) per trigger (the
    sink's documented cost); enrichment per batch is the single-shuffle
    multi_asof_join on user_id — the dimension re-read each batch, no
    state held for the join side. At 100 TB both halves are the standard
    continuously-updated feature-serving pattern."""
    # both drains run on every call, into this call's own directory
    root = scratch_dir("fs_pit_")
    dim_dir = os.path.join(root, "dim")
    out_dir = os.path.join(root, "out")

    # stream #1: maintain the profile dimension off the purchase
    # stream (key user_id, order = event-time with event_id tiebreak)
    purchases = (
        ST.file_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("value").alias("profile_value"),
            F.col("ts").alias("dim_ts"),
            F.struct(F.col("ts"), F.col("event_id")).alias("__ord"),
        )
    )
    q1 = ST.scd1_upsert_stream_sink(
        purchases, dim_dir, key_col="user_id", order_col="__ord"
    )
    q1.awaitTermination()

    # stream #2: enrich clicks per micro-batch against the committed
    # dimension (read inside foreachBatch → always the newest
    # committed snapshot, never a partial write)
    clicks = ST.file_stream_source(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    q2 = pit_enrich_stream_sink(clicks, dim_dir, out_dir)
    q2.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "profile_value", "prof_ts_us"
    )


def pit_enrich_stream_sink(
    clicks, dim_dir: str, out_dir: str, checkpoint_dir: str | None = None
):
    """Start the enrichment stream: each micro-batch multi_asof_joins the
    newest COMMITTED dimension snapshot and writes its output to
    ``out_dir/b=<batch_id>`` with overwrite — a replayed batch (failure
    after write, before checkpoint commit) deterministically rewrites its
    own directory, so delivery is exactly-once, the same discipline as
    the SCD1 sink's versioned snapshots. Shared by the registered query
    and the multi-batch test."""

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        dim = ST.read_dim_latest(sp, dim_dir).select(
            "user_id", "dim_ts", "profile_value"
        )
        enriched = multi_asof_join(
            batch_df.select("event_id", "user_id", "ts"),
            [(dim, "dim_ts", ["profile_value"], "prof")],
            on=["user_id"],
            left_ts="ts",
        )
        enriched.select(
            "event_id",
            "user_id",
            "profile_value",
            F.unix_micros("prof_ts_matched").alias("prof_ts_us"),
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b={batch_id}")
        )

    return ST.drain_each_batch(clicks, enrich_batch, checkpoint_dir)


def _incremental_dedup_processor(idx_dir: str, out_dir: str):
    """foreachBatch processor for the streaming incremental exact dedup:
    batch-internal preceding-min window + one join against the newest
    committed index version; exactly-once per-batch overwrite sinks.

    Cross-batch semantics are FIRST-ARRIVAL-WINS: the keeper of a
    fingerprint is whichever doc was accepted in the earliest batch
    (lowest id within a batch breaks ties). When arrival order across
    batches disagrees with id order, this intentionally diverges from
    the declarative id-order preceding-min rule — pinned red/green in
    ``tests/test_round7.py::test_stream_incremental_dedup_out_of_order``.
    Factored out of ``stream_incremental_dedup`` so that test drives the
    exact production processor."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = ST.newest_snapshot(batch_df.sparkSession, idx_dir, below=batch_id)
        dec = exact_dedup_incremental(batch_df, idx)
        dec.select("doc_id", "dup_of", "accept").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"b={batch_id}"))
        accepted = dec.filter("accept").select(
            "fp", F.col("doc_id").alias("keep_id")
        )
        new_idx = accepted if idx is None else idx.unionByName(accepted)
        new_idx.write.mode("overwrite").parquet(
            os.path.join(idx_dir, f"v={batch_id}")
        )

    return process


@query(
    "stream_incremental_dedup",
    # Arrival order == doc_id order BY CONSTRUCTION (the recrawl batch's
    # ids are originals + 1M/2M and it arrives second), so the streaming
    # index semantics — dup_of = the keeper accepted before you —
    # collapse to one declarative preceding-min window over the combined
    # arrival sequence. With out-of-order ids across batches the two
    # would diverge (first-ARRIVAL wins, documented); the id scheme here
    # makes the oracle exact.
    oracle="""
WITH batch AS (
    SELECT doc_id + 1000000 AS doc_id,
           ' ' || upper(text) || '  ' AS text
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 1000000, text || ' xnovel'
    FROM documents WHERE doc_id % 7 = 1
    UNION ALL
    SELECT doc_id + 2000000, text || ' xnovel'
    FROM documents WHERE doc_id % 7 = 1),
allr AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id, text FROM batch),
f AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM allr),
pm AS (
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY fp ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dup_of
    FROM f)
SELECT doc_id, dup_of, dup_of IS NULL AS accept FROM pm
""",
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental exact dedup — the continuous run of
    ``dedup_incremental_exact``: documents arrive as micro-batches (the
    original corpus, then the synthetic re-crawl batch — two files, one
    per trigger); ``foreachBatch`` resolves each batch against a
    VERSIONED fingerprint index (batch-internal preceding-min window +
    one join against the newest committed index version), emits per-doc
    accept/dup_of decisions to a per-batch overwrite directory, and
    writes index version v=<batch_id> = previous ∪ newly-accepted keys.
    Both sinks follow the SCD1 sink's exactly-once discipline: a
    replayed batch re-reads the same predecessor version and rewrites
    its own outputs deterministically.

    Scale shape per trigger: O(|batch|) window + one hash join against
    the index (at 100 TB: a Bloom-fronted key-value table; here the
    plain-parquet expression of it). The corpus is never rescanned —
    the index carries everything the stream needs."""
    # only the staging is cached; the drain runs on every call, into this
    # call's own directory
    root = scratch_dir("fs_sdedup_")
    idx_dir = os.path.join(root, "idx")
    out_dir = os.path.join(root, "out")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = docs.withColumn("__b", F.lit(0)).unionByName(
        _recrawl_batch(docs).withColumn("__b", F.lit(1))
    )
    stream = ST.staged_file_stream(spark, ("sdedup_src", sf_dir), batches, 2)
    ST.drain_each_batch(
        stream, _incremental_dedup_processor(idx_dir, out_dir)
    ).awaitTermination()
    return spark.read.parquet(out_dir).select("doc_id", "dup_of", "accept")


@query(
    "stream_late_drops",
    # Watermark replay, derived like the engine's three arrival batches
    # (delay 30 min, 1-h tumbling windows, append mode):
    #   batch 1: 08:00..09:59  -> watermark after it: 09:29
    #   batch 2: one 09:59 row (bridge -- the wm a batch USES lags one
    #            commit behind the data, measured; the bridge batch makes
    #            09:29 effective for batch 3)
    #   batch 3: the %9==2 rows at 07:00..07:49 have window end 08:00 <
    #            09:29 -> DROPPED (excluded below); the %9==5 rows at
    #            09:05..09:24 are row-late (ts < 09:29) but their window
    #            [09:00,10:00) is still open -> KEPT (window-level
    #            lateness, the semantic this query pins); %9==8 fresh.
    # Final wm = max(all arrivals) - 30 min = 11:17; append emits only
    # windows whose end <= 11:17 (the [11:00,12:00) window never emits).
    oracle="""
WITH b1 AS (
    SELECT TIMESTAMP '2026-01-01 08:00:00'
           + to_minutes(CAST(event_id % 120 AS BIGINT)) AS ts
    FROM events WHERE event_id < 600 AND event_id % 3 <> 2),
b2 AS (
    SELECT TIMESTAMP '2026-01-01 09:59:00' AS ts
    FROM events WHERE event_id = 2),
b3_kept AS (
    SELECT CASE WHEN event_id % 9 = 5
                THEN TIMESTAMP '2026-01-01 09:05:00'
                     + to_minutes(CAST(event_id % 20 AS BIGINT))
                ELSE TIMESTAMP '2026-01-01 10:30:00'
                     + to_minutes(CAST(event_id % 80 AS BIGINT)) END AS ts
    FROM events
    WHERE event_id < 600 AND event_id % 3 = 2 AND event_id <> 2
      AND event_id % 9 <> 2),
b3_all AS (
    SELECT ts FROM b3_kept
    UNION ALL
    SELECT TIMESTAMP '2026-01-01 07:00:00'
           + to_minutes(CAST(event_id % 50 AS BIGINT))
    FROM events
    WHERE event_id < 600 AND event_id % 9 = 2 AND event_id <> 2),
wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM b3_all),
kept AS (
    SELECT ts FROM b1 UNION ALL SELECT ts FROM b2
    UNION ALL SELECT ts FROM b3_kept)
SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       COUNT(*) AS n_events
FROM kept, wm
WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1 ORDER BY 1
""",
)
def stream_late_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting: a 3-batch staged file stream
    (``streaming.staged_file_stream``) drains through a 1-hour tumbling
    count with a 30-minute watermark in APPEND mode into ``_run``'s
    memory sink, and the sink shows exactly which data survived: rows later
    than the watermark whose WINDOW is already closed are dropped (the
    07:xx batch-3 stragglers), rows equally "late" whose window is still
    open are counted (the 09:05-09:24 stragglers — lateness is decided
    per WINDOW, not per row), and windows the final watermark never
    passed ([11:00,12:00)) are withheld from the append sink entirely.

    Measured mechanics this encodes: the watermark a batch USES lags one
    commit behind the batch whose data produced it — hence the 1-row
    bridge batch between the fresh load and the stragglers; availableNow
    runs a final no-data batch to advance the watermark and flush
    closeable windows; and late rows are discarded by a Filter node
    planned BEFORE the aggregation, so ``numRowsDroppedByWatermark``
    (a state-operator metric) does NOT see them — real drop accounting
    is input-minus-sink, which the test asserts. At 100 TB the same topology is the hourly-rollup
    ingest: state is one count per open window per key, dropped-row
    counts are the ops signal for "our producers are later than the
    watermark budget".
    """
    ev = load_table(spark, sf_dir, "events").select("event_id")
    m = "make_interval(0, 0, 0, 0, 0, CAST(%s AS INT), 0)"
    b1 = ev.filter("event_id < 600 AND event_id % 3 <> 2").selectExpr(
        "0 AS __b",
        "TIMESTAMP '2026-01-01 08:00:00' + " + m % "event_id % 120" + " AS ts",
    )
    b2 = ev.filter("event_id = 2").selectExpr(
        "1 AS __b", "TIMESTAMP '2026-01-01 09:59:00' AS ts"
    )
    b3 = ev.filter(
        "event_id < 600 AND event_id % 3 = 2 AND event_id <> 2"
    ).selectExpr(
        "2 AS __b",
        "CASE WHEN event_id % 9 = 2 THEN "
        "TIMESTAMP '2026-01-01 07:00:00' + " + m % "event_id % 50"
        + " WHEN event_id % 9 = 5 THEN "
        "TIMESTAMP '2026-01-01 09:05:00' + " + m % "event_id % 20"
        + " ELSE TIMESTAMP '2026-01-01 10:30:00' + "
        + m % "event_id % 80"
        + " END AS ts",
    )
    stream = ST.staged_file_stream(
        spark, ("late", sf_dir), b1.union(b2).union(b3), 3
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
        )
    )
    return _run(spark, agg, "append").orderBy("window_start")


# ---------------------------------------------- streaming trending top-k


@query(
    "stream_trending_topk",
    oracle="""
WITH wc AS (
    SELECT DATE_TRUNC('hour', ts) AS ws, event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2),
rk AS (
    SELECT ws, event_type, n_events,
           ROW_NUMBER() OVER (PARTITION BY ws
                              ORDER BY n_events DESC, event_type) AS rnk,
           LAG(n_events) OVER (PARTITION BY event_type ORDER BY ws)
               AS prev_n
    FROM wc)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, n_events,
       CAST(rnk AS INTEGER) AS rnk,
       n_events - COALESCE(prev_n, 0) AS delta_vs_prev
FROM rk WHERE rnk <= 3
""",
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending dashboard: drain the topic with availableNow
    into watermarked 1-hour tumbling counts, then rank each window's top
    3 event types and attach the count delta vs the type's previous
    window (the "rising/falling" arrow). The windowed aggregation runs
    IN the stream (state = |windows x types|, freed past the watermark);
    the rank/lag garnish runs on the drained result — at |windows x
    types| scale, not event scale — because global ranking inside a
    stream would need complete-mode state forever.

    Determinism: counts are exact integers; rank ties break on
    event_type; the delta for a type's first window coalesces to the
    full count (new entrant = all growth)."""
    src = ST.file_stream_source(spark, sf_dir)
    agg = ST.tumbling_counts(src, window="1 hour", watermark="2 hours")
    out = _run(spark, agg, "complete")
    win = out.select(
        F.col("window.start").alias("ws"), "event_type", "n_events"
    )
    w_rank = Window.partitionBy("ws").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    w_lag = Window.partitionBy("event_type").orderBy("ws")
    return (
        win.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("prev_n", F.lag("n_events").over(w_lag))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "rnk",
            (F.col("n_events") - F.coalesce(F.col("prev_n"), F.lit(0)))
            .alias("delta_vs_prev"),
        )
    )


@query(
    "stream_quota_enforcement",
    oracle="""
WITH r AS (
    SELECT user_id, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events)
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE rn <= 67) AS BIGINT) AS n_allowed,
       CAST(COUNT(*) FILTER (WHERE rn > 67) AS BIGINT) AS n_denied,
       MAX(CASE WHEN rn = 67 THEN ts END) AS quota_reached_ts
FROM r GROUP BY 1
""",
)
def stream_quota_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user quota: each user's first 67 events (event-time
    order) are admitted, later ones denied, and the instant the quota
    was reached is recorded — the rate-limiter/entitlement gate every
    ingestion edge runs, and a shape watermarked windows cannot express
    ('first N EVER per key' has no window). Runs as a REAL 3-micro-batch
    drain: events split into three event-id-range batches through
    ``streaming.staged_file_stream`` (ts is monotone in event_id on this
    fixture — verified on all three SFs, zero disorder rows — so batch
    order is event-time order), so the quota state genuinely carries across
    batch commits, users straddle batch boundaries, and the
    quota_reached_ts lands mid-stream for heavy users. The oracle
    replays the admission declaratively as a per-user (ts, event_id)
    rank. The quota sits at 67 — just above the fixture's ~66.5
    median events/user — so roughly half the users exhaust it and the
    rest never do (NULL reached-ts), at every SF (measured: 7/15 under
    at sf0.001, 75/150 at sf0.01, 770/1500 at sf0.1).

    State is three scalars per user (see the operator docstring for the
    100 TB envelope and the ordering contract); the final emission per
    user wins by total-events-seen, a deterministic monotone tiebreak."""

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    # Three event-id-range batches. The cuts are a scalar subquery, so
    # only the staging job computes them; a repeat call runs no job
    # before its drain. Row order inside a batch is free: the rate
    # limiter sorts each batch group by (ts, event_id) in-worker.
    max_id = ev.select(F.max("event_id")).scalar()
    b = (
        F.when(F.col("event_id") <= F.floor(max_id / 3), 0)
        .when(F.col("event_id") <= F.floor(max_id * 2 / 3), 1)
        .otherwise(2)
    )
    stream = ST.staged_file_stream(
        spark, ("quota", sf_dir), ev.withColumn("__b", b), 3
    )
    out = _run(
        spark,
        ST.quota_rate_limiter(stream, key_col="user_id", quota=67),
        "append",
    )
    w = Window.partitionBy("user_id").orderBy(
        (F.col("n_allowed") + F.col("n_denied")).desc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_allowed", "n_denied", "quota_reached_ts")
    )
