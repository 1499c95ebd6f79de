"""Structured Streaming path — the reference's actual modality
(ConsumerMultiThread.java is a Kafka drain loop), Spark-first.

Mapping to the reference (SURVEY.md §2.1):
- "seek to 0, poll until empty, then stop" (CMT:93-110)  →
  ``trigger(availableNow=True)`` — drain everything, then terminate;
- ``max.poll.records=1000`` (CMT:52) → bounded micro-batches:
  ``maxOffsetsPerTrigger`` on Kafka, and :func:`staged_file_stream` for
  the catalog's multi-batch queries (one staged file per trigger);
- per-event-type buffered inserts (CMT:36-150) → ``foreachBatch`` with a
  partitioned write — and unlike the reference, the tail is never lost
  (defect D2) and offsets+sink commit together via checkpointing
  (exactly-once with an idempotent sink, vs. the reference's
  auto-commit-every-10s at-least-once);
- no event-time logic in the reference (EventTimestamp never parsed) —
  the watermark/window/session operators below are the engine extension
  (SURVEY.md §2.2 streaming row).

State-size envelope at 100 TB (design note): every stateful op here is
bounded by its watermark — state = (#keys active within the watermark
horizon) × bytes/key. Tumbling/sliding windows key by (window, group);
session windows and dropDuplicatesWithinWatermark key by entity — size the
horizon accordingly and prefer RocksDB state store on real clusters.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from featurestore_for_joycastle_java_spark.operators.ingest import demux_write
from featurestore_for_joycastle_java_spark.operators.relational import exact_sum

from featurestore_for_joycastle_java_spark.schemas import EVENTS
from featurestore_for_joycastle_java_spark.sources import (
    build_once,
    normalize_events_ts,
    parquet_schema,
    read_nanos_as_long,
    scratch_dir,
)


def _as_stream_dir(file_path: str) -> str:
    """Spark's file stream source reads a DIRECTORY; fixtures are single
    read-only files, so a file is streamed through a scratch directory
    holding one symlink to it (made once per process and file)."""
    if os.path.isdir(file_path):
        return file_path

    def link(root: str) -> str:
        os.symlink(file_path, os.path.join(root, os.path.basename(file_path)))
        return root

    return build_once(("stream_src", file_path), link)


def file_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stand-in for the Kafka topic: stream the events table.

    The fixture's ts varies by generation — timestamp[ns] (read as long
    under nanosAsLong) or timestamp[us]/isAdjustedToUTC=false (read as
    TIMESTAMP_NTZ). The stream reads with the file's schema, inferred once
    per session and file by ``sources.parquet_schema`` (the same cache
    ``load_table`` uses), then ts is normalized to a session-local
    timestamp exactly like ``load_table`` does for batch."""
    read_nanos_as_long(spark)
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(parquet_schema(spark, path))
    return normalize_events_ts(reader.parquet(_as_stream_dir(path)))


def staged_file_stream(
    spark: SparkSession, key: tuple, batches: DataFrame, n_batches: int
) -> DataFrame:
    """A bounded multi-batch stream: the rows of ``batches`` whose integer
    ``__b`` column is ``i`` arrive as micro-batch ``i``, for ``i`` in
    ``range(n_batches)`` — the file-source stand-in for the reference's
    ``max.poll.records`` polls (CMT:52).

    ``batches`` is written in ONE partitioned job, so a source that cuts
    every batch out of one table scans that table once (a write per batch
    would re-scan it per batch). ``repartition(n_batches, "__b")`` puts
    each batch in exactly one task, so each ``__b=i`` directory holds
    exactly one file. Each file then moves to a directory of its own
    (the partition directory names would otherwise add ``__b`` back
    under schema inference), with mtimes 100 s apart, and the stream
    reads one file per trigger in mtime order. Staging runs once per
    process and ``key`` (``sources.build_once``); the stream's schema is
    ``batches``' own without ``__b``."""

    def stage(root: str) -> str:
        parts, src = os.path.join(root, "parts"), os.path.join(root, "src")
        batches.repartition(n_batches, "__b").write.partitionBy("__b").parquet(parts)
        for i in range(n_batches):
            files = glob.glob(os.path.join(parts, f"__b={i}", "*.parquet"))
            if len(files) != 1:
                raise RuntimeError(f"batch {i} staged {len(files)} files, not 1")
            dst = os.path.join(src, f"f{i}", os.path.basename(files[0]))
            os.makedirs(os.path.dirname(dst))
            os.rename(files[0], dst)
            t = 1_700_000_000 + 100 * i
            os.utime(dst, (t, t))
        return src

    schema = StructType([f for f in batches.schema if f.name != "__b"])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(build_once(key, stage), "*"))
    )


def drain_to_memory(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
):
    """Run a streaming query with availableNow (the reference's
    drain-then-stop, CMT:104-110) into an in-memory sink and await
    termination. Memory sink collects to the driver — test harness only;
    production uses foreachBatch/parquet sinks below. Returns the
    (terminated) StreamingQuery so callers can read its progress."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_each_batch(
    stream_df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Start ``stream_df`` with ``write_batch(batch_df, batch_id)`` run on
    every micro-batch — the engine's one ``foreachBatch`` starter. The
    checkpoint commits a batch's source offsets after its write, so a
    sink that overwrites an output of its own ``batch_id`` is
    exactly-once: a batch replayed after a failure between write and
    commit lands on top of its own partial output. The default
    checkpoint is a ``scratch_dir`` removed at exit, since nothing can
    resume a fresh temp checkpoint; pass ``checkpoint_dir`` to resume a
    drain across processes.

    ``available_now`` drains what is available, then stops (the
    reference's drain-then-stop, CMT:104-110). On a
    SimpleDataSourceStreamReader it drains only the batch prefetched at
    query start (its "available" horizon is one read() call): pass
    ``available_now=False`` and stop() explicitly to pump a multi-batch
    Python source (see tests); file and Kafka sources drain fully either
    way."""
    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir or scratch_dir("fs_ckpt_")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def demux_stream_sink(
    stream_df: DataFrame,
    out_dir: str,
    key_col: str = "event_type",
    checkpoint_dir: str | None = None,
):
    """Ops #8-#12 streaming: each micro-batch goes through the batch
    demux, ``operators.ingest.demux_write``, via foreachBatch — the
    reference's per-type buffered inserts without the races (D4) or tail
    loss (D2). A micro-batch is written as one parquet file per route
    (``batch=<batch_id>/<key_col>=<route>/``), or several when a route is
    larger than AQE's advisory partition size. Exactly-once
    (:func:`drain_each_batch`): each micro-batch OVERWRITES its own
    ``batch=<batch_id>`` subdirectory, and the route-to-task hash is
    deterministic, so a replayed batch writes the same layout. Readers
    scan ``out_dir`` and see ``batch`` + ``key_col`` as discovered
    partition columns."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        demux_write(batch_df, os.path.join(out_dir, f"batch={batch_id}"), key_col=key_col)

    return drain_each_batch(stream_df, write_batch, checkpoint_dir)


def jdbc_demux_stream_sink(
    stream_df: DataFrame,
    url: str,
    key_col: str = "event_type",
    keys: tuple[str, ...] = ("view", "click", "purchase", "signup", "error"),
    table_prefix: str = "dwd_",
    checkpoint_dir: str | None = None,
    batchsize: int = 1000,
    **properties,
):
    """The reference's END-TO-END shape: stream -> one relational TABLE
    PER EVENT TYPE over JDBC (Kafka -> SQLite there, CMT:163-201;
    file-stream -> Derby here — same drain/demux/batched-insert
    semantics). Each micro-batch routes rows to ``<table_prefix><type>``
    with the reference's batchsize=1000 prepared-statement batching; the
    explicit ``keys`` list mirrors the reference's hardcoded EVENT_TYPES
    (CMT:30) and keeps the per-batch loop free of a distinct() action.
    The micro-batch is persisted for the loop, so its source read and
    upstream transforms run once per batch, not once per key.

    Delivery is at-least-once into JDBC (the reference's level, S1 in
    SEMANTICS.md): a replayed batch re-inserts. The exactly-once variant
    is the parquet ``demux_stream_sink`` (per-batch-id overwrite)."""
    from featurestore_for_joycastle_java_spark.sources import jdbc_batched_sink

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for k in keys:
                jdbc_batched_sink(
                    batch_df.filter(F.col(key_col) == k),
                    url,
                    f"{table_prefix}{k}",
                    batchsize=batchsize,
                    **properties,
                )
        finally:
            batch_df.unpersist()

    return drain_each_batch(stream_df, write_batch, checkpoint_dir)


def tumbling_counts(
    stream_df: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation on ``ts`` per
    ``event_type``. Late data beyond the watermark is dropped; state per
    (window × event type) is freed once the watermark passes the window
    end."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
    )


def sliding_counts(
    stream_df: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows on ``ts`` (2-hour watermark): each event lands in
    window/slide overlapping windows (state multiplies accordingly — keep
    the ratio small)."""
    return (
        stream_df.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), window, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def session_counts(
    stream_df: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-merged on ``ts``) per ``user_id`` — the
    streaming twin of operators.asof.sessionize; a session closes when the
    watermark passes last_event + gap."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stateful_user_totals(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum of ``value``) carried across micro-batches in
    explicit group state — the arbitrary-stateful-processing escape hatch
    for logic watermarked windows can't express.

    Emits the updated running totals for every group seen in a batch
    (append mode). State is two scalars per active user — at 100 TB the
    envelope is #distinct-users × ~32 bytes; add a state timeout to age
    out idle users on unbounded streams."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(s, 4)],
            }
        )

    # the output key column inherits the input's type (string user ids
    # are as valid as longs — the quota_rate_limiter fix, applied to
    # the whole stateful family)
    key_type = stream_df.schema["user_id"].dataType.simpleString()
    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            f"user_id {key_type}, n_events long, sum_value double"
        ),
        stateStructType="n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(
    stream_df: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup with bounded state on ``ts``: duplicates
    arriving within the watermark horizon are dropped; state ages out
    beyond it."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events joined to left
    events with the same key where ``left_ts <= right_ts <= left_ts +
    within``, each side under a 2-hour watermark. Column names must
    already be distinct across the two sides (rename before calling).

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so each side's buffered state is freed once the
    other side's watermark passes the interval — state is
    O(rate x (within + watermark)) per side, never unbounded. This is the
    streaming shape of the as-of/range join family: at 100 TB/day the
    join shuffles both streams on the key once per micro-batch."""
    lw = left.withWatermark(left_ts, "2 hours")
    rw = right.withWatermark(right_ts, "2 hours")
    return lw.join(
        rw,
        F.expr(
            f"{left_key} = {right_key} AND {right_ts} >= {left_ts} "
            f"AND {right_ts} <= {left_ts} + interval {within}"
        ),
    )


def scd1_upsert_stream_sink(
    stream_df: DataFrame,
    dim_dir: str,
    key_col: str,
    order_col: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Streaming DIMENSION MAINTENANCE: every micro-batch is reduced to
    one latest row per key (``max_by`` over ``order_col``) and MERGED
    into a dimension snapshot with ``operators.scd.scd1_upsert`` — the
    write path a feature store runs continuously to keep an
    overwrite-in-place (SCD type-1) entity table current off the event
    stream. The reference's INSERT-only sink (CMT:163-201) appends
    duplicates forever; this keeps one row per entity.

    Snapshots are VERSIONED (``dim_dir/v=<batch_id>``), because a
    parquet directory cannot be overwritten while the same job reads it:
    batch b merges the newest snapshot with version < b and writes
    ``v=b`` whole. That also makes delivery exactly-once: a batch
    replayed after a sink write but before the checkpoint commit
    re-reads the same predecessor (versions >= its own id are ignored)
    and deterministically rewrites its own snapshot. Read the current
    dimension with ``read_dim_latest``; retire old versions out-of-band.

    Scale: the merge cost per batch is O(|dim| + |batch|) scan + one
    key-hash shuffle — at 100 TB dimensions use a mergeable table format
    for the same semantics; the versioned-snapshot shape is the plain-
    parquet expression of it, and the per-batch reduce keeps the merge
    input at one row per touched key."""
    from featurestore_for_joycastle_java_spark.operators.scd import scd1_upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = [c for c in batch_df.columns if c != key_col]
        # ONE max_by over a struct of the whole payload — independent
        # per-column max_by calls could stitch fields of two different
        # input rows on an order_col tie (the non-atomic-payload bug
        # class the as-of joins' struct fill also avoids)
        newest = (
            batch_df.groupBy(key_col)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in payload]), F.col(order_col)
                ).alias("__s")
            )
            .select(key_col, *[F.col(f"__s.{c}").alias(c) for c in payload])
        )
        dim = newest_snapshot(spark, dim_dir, below=batch_id)
        merged = newest if dim is None else scd1_upsert(dim, newest, key_col)
        merged.write.mode("overwrite").parquet(
            os.path.join(dim_dir, f"v={batch_id}")
        )

    return drain_each_batch(stream_df, write_batch, checkpoint_dir, available_now)


def _committed_versions(dim_dir: str) -> list[int]:
    """Snapshot versions whose parquet COMMIT MARKER (_SUCCESS) exists —
    a version directory appears at write START, so listing alone would
    let a reader (or a merging batch) observe a partial snapshot."""
    if not os.path.isdir(dim_dir):
        return []
    return [
        int(d.split("=", 1)[1])
        for d in os.listdir(dim_dir)
        if d.startswith("v=")
        and d.split("=", 1)[1].isdigit()
        and os.path.exists(os.path.join(dim_dir, d, "_SUCCESS"))
    ]


def newest_snapshot(
    spark: SparkSession, snap_dir: str, below: int | None = None
) -> DataFrame | None:
    """The highest COMMITTED snapshot version under ``snap_dir``, among
    versions below ``below`` when it is given (the predecessor a batch
    merges into); None when there is none. Versions without a _SUCCESS
    marker are in-flight or aborted writes and are skipped."""
    versions = [
        v for v in _committed_versions(snap_dir) if below is None or v < below
    ]
    if not versions:
        return None
    return spark.read.parquet(os.path.join(snap_dir, f"v={max(versions)}"))


def read_dim_latest(spark: SparkSession, dim_dir: str) -> DataFrame:
    """Current dimension = the newest committed snapshot under ``dim_dir``
    (see ``scd1_upsert_stream_sink``)."""
    dim = newest_snapshot(spark, dim_dir)
    if dim is None:
        raise FileNotFoundError(f"no committed dimension snapshots under {dim_dir}")
    return dim


def quota_rate_limiter(
    stream_df: DataFrame,
    key_col: str = "user_id",
    quota: int = 50,
) -> DataFrame:
    """Streaming per-key quota enforcement via ``applyInPandasWithState``
    — the rate-limiter every ingestion edge runs: each key's first
    ``quota`` events (in event-time order) are admitted, the rest
    counted as denied, and the moment the quota was reached is recorded.
    Watermarked windows cannot express 'first N ever per key'; this is
    the arbitrary-stateful escape hatch used the way the API intends.

    Correctness under micro-batching: rows of one batch-group arrive in
    SHUFFLE order, so each batch's rows are sorted by (ts, event_id) before
    the quota is applied; across batches the admission decision is
    correct as long as the source delivers batches in event-time order
    (``staged_file_stream`` does; a Kafka topic partitioned by key with
    in-partition ordering does too).

    State per key is four scalars (admitted, denied, reached-at micros,
    reached flag — the flag is its own field because every long value
    is a legal timestamp, so no in-domain sentinel is collision-free)
    — the 100 TB envelope is #keys × ~40 bytes; add a state timeout to
    age out idle keys on unbounded streams. Emits the running totals per
    touched key each batch (append mode); the final emission per key is
    the settled answer."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        # Reached-ness lives in its OWN boolean field: any sentinel
        # inside the long domain collides with some legitimate
        # timestamp (r = -1 would cover the epoch-0 case, but a quota
        # reached at epoch minus 1 microsecond stores exactly -1), and
        # pre-epoch event times store negative micros legally.
        a, d, r, reached = (
            state.get if state.exists else (0, 0, 0, False)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        # Closed form of the per-row loop (batch arithmetic instead of
        # a Python row loop): the first
        # (quota - a) sorted rows are admitted, the rest denied, and
        # the quota is reached exactly at the (quota - a)th admitted
        # row when this batch crosses it.
        m = len(batch)
        adm = min(m, quota - a) if a < quota else 0
        d += m - adm
        if adm and a + adm == quota:
            r = int(
                pd.Timestamp(batch["ts"].iloc[adm - 1]).value // 1000
            )  # micros
            reached = True
        a += adm
        state.update((a, d, r, reached))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_allowed": [a],
                "n_denied": [d],
                "quota_reached_ts": [
                    pd.Timestamp(r * 1000) if reached else pd.NaT
                ],
            }
        )

    # The output key column inherits the input's type (string user ids
    # are as valid as longs).
    key_type = stream_df.schema[key_col].dataType.simpleString()
    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} {key_type}, n_allowed long, n_denied long, "
            "quota_reached_ts timestamp"
        ),
        stateStructType="a long, d long, r long, reached boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
