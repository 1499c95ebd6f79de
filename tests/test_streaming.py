"""Streaming semantics: batch/stream equivalence (SURVEY.md §5 item 3),
foreachBatch demux sink (no tail loss — defect D2's regression in
streaming form), bounded-state dedup."""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import Counter

from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import streaming as ST
from featurestore_for_joycastle_java_spark.operators.ingest import ingest_pipeline
from featurestore_for_joycastle_java_spark.sources import load_table


def test_stream_drain_equals_batch(spark, sf_dir):
    src = ST.file_stream_source(spark, sf_dir)
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ST.drain_to_memory(agg, "t_equiv", output_mode="complete")
    stream_counts = {
        r.event_type: r.n for r in spark.table("t_equiv").collect()
    }
    batch_counts = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_foreachbatch_demux_no_tail_loss(spark, sf_dir, tmp_path):
    out = str(tmp_path / "dwd_stream")
    ckpt = str(tmp_path / "ckpt")
    src = ST.file_stream_source(spark, sf_dir)
    q = ST.demux_stream_sink(src, out, key_col="event_type", checkpoint_dir=ckpt)
    q.awaitTermination()
    written = spark.read.parquet(out)
    total = load_table(spark, sf_dir, "events").count()
    assert written.count() == total  # defect D2: reference lost tail rows
    # hive-partitioned by event_type for downstream pruning
    types = {r.event_type for r in written.select("event_type").distinct().collect()}
    assert len(types) == 5


def test_stream_dedup_bounded(spark, sf_dir):
    src = ST.file_stream_source(spark, sf_dir)
    deduped = ST.dedup_within_watermark(src, ["user_id", "event_type"])
    ST.drain_to_memory(deduped, "t_dedup", output_mode="append")
    got = spark.table("t_dedup")
    n_pairs_stream = got.select("user_id", "event_type").distinct().count()
    assert got.count() == n_pairs_stream  # exactly one row per pair
    n_pairs_batch = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert n_pairs_stream == n_pairs_batch


def test_foreachbatch_demux_idempotent_replay(spark, sf_dir, tmp_path):
    # exactly-once contract: re-running the drain over the same source
    # with the SAME checkpoint is a no-op, and a simulated replay of an
    # already-committed batch id overwrites (not appends) its output
    out = str(tmp_path / "dwd_stream")
    ckpt = str(tmp_path / "ckpt")
    src = ST.file_stream_source(spark, sf_dir)
    ST.demux_stream_sink(src, out, checkpoint_dir=ckpt).awaitTermination()
    n_first = spark.read.parquet(out).count()

    # checkpoint resume: nothing new to process
    src2 = ST.file_stream_source(spark, sf_dir)
    ST.demux_stream_sink(src2, out, checkpoint_dir=ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == n_first

    # replay batch 0 by hand (what a post-crash retry does): overwrite
    import os

    batch0 = os.path.join(out, "batch=0")
    src_df = spark.read.parquet(batch0)
    replay = spark.createDataFrame(src_df.collect(), src_df.schema)
    replay.write.partitionBy("event_type").mode("overwrite").parquet(batch0)
    spark.catalog.refreshByPath(out)  # drop the cached file listing
    assert spark.read.parquet(out).count() == n_first


def _write_event_files(src: str, n_files: int, rows_per_file: int, types: list[str]) -> Counter:
    """Raw JSON event lines (all seven EVENT_FIELDS present) in ``n_files``
    small text files, routes cycled through ``types``; returns the rows
    per route the ingest pipeline must keep."""
    os.makedirs(src)
    want: Counter = Counter()
    for f in range(n_files):
        with open(os.path.join(src, f"part-{f:03d}.json"), "w") as fh:
            for i in range(rows_per_file):
                t = types[(f * rows_per_file + i) % len(types)]
                want[t] += 1
                rec = {
                    "EventID": f"{f}-{i}",
                    "PlayerID": f"p{i % 7}",
                    "EventTimestamp": "2024-05-01T00:00:00Z",
                    "EventType": t,
                    "EventDetails": f"level {i}",
                    "DeviceType": "ios",
                    "Location": "US",
                }
                fh.write(json.dumps(rec) + "\n")
    return want


def _drain_demux(session, src: str, out: str, ckpt: str, files_per_trigger: int) -> None:
    raw = session.readStream.option("maxFilesPerTrigger", files_per_trigger).text(src)
    ST.demux_stream_sink(
        ingest_pipeline(raw), out, key_col="EventType", checkpoint_dir=ckpt
    ).awaitTermination()


def _files_per_route(batch_dir: str) -> dict[str, int]:
    return {
        os.path.basename(d).split("=", 1)[1]: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(batch_dir, "EventType=*"))
    }


def _route_rows(session, out: str) -> dict[str, int]:
    return {
        r["EventType"]: r["count"]
        for r in session.read.parquet(out).groupBy("EventType").count().collect()
    }


def test_demux_stream_sink_splits_a_large_route(spark, tmp_path):
    # a route larger than AQE's advisory partition size is written by
    # several tasks, so a large trigger keeps its write parallelism; the
    # small advisory size lives on a session of its own
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    want = _write_event_files(
        src, n_files=4, rows_per_file=400, types=["SessionStart"] * 3 + ["Refund"]
    )
    _drain_demux(session, src, out, str(tmp_path / "ckpt"), files_per_trigger=4)
    (batch,) = glob.glob(os.path.join(out, "batch=*"))
    assert _files_per_route(batch)["SessionStart"] > 1
    assert _route_rows(session, out) == want


def _write_plan(spark, target: str) -> str:
    """Final physical plan of the completed SQL execution that wrote
    ``target``, read from the driver's SQL status store. The listener bus
    fills the store asynchronously; the adaptive final-plan update comes
    before the execution's end event, so a completed execution carries
    its final plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + 30
    while True:
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - 50), 50)
        for i in range(recent.size()):
            e = recent.apply(i)
            plan = e.physicalPlanDescription()
            if e.completionTime().isDefined() and f"file:{target}," in plan:
                return plan
        assert time.monotonic() < deadline, f"no completed write of {target}"
        time.sleep(0.1)


def test_demux_stream_sink_one_file_per_route_per_batch(spark, tmp_path):
    # several small files per trigger, so each micro-batch has several
    # input partitions; the sink still writes each route once per batch,
    # through one shuffle: the rebalance by route
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    types = ["SessionStart", "SessionEnd", "InAppPurchase", "LevelUp"]
    want = _write_event_files(src, n_files=6, rows_per_file=40, types=types)
    _drain_demux(spark, src, out, str(tmp_path / "ckpt"), files_per_trigger=3)
    batches = sorted(glob.glob(os.path.join(out, "batch=*")))
    assert len(batches) == 2
    for b in batches:
        assert _files_per_route(b) == {t: 1 for t in types}, b
    assert _route_rows(spark, out) == want

    plan = _write_plan(spark, batches[0])
    assert "== Final Plan ==" in plan, plan
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = re.findall(r"Exchange \((\d+)\)", final)
    assert len(exchanges) == 1, final
    node = re.search(rf"^\({exchanges[0]}\) Exchange\n(.*?)\n\n", plan, re.S | re.M)
    assert "REBALANCE_PARTITIONS_BY_COL" in node.group(1), node.group(1)


def test_sessionize_boundary_gap_exactly_equal(spark, tmp_path):
    """Pin batch/stream sessionization AGREEMENT on the boundary
    (SEMANTICS.md): a gap of EXACTLY gap_seconds merges in BOTH — batch
    because new-session needs gap > g, streaming because session_window
    treats touching windows as overlapping — and gap + 1µs splits in
    streaming. (r1 documented streaming as splitting at exactly g; the
    fixtures never hit the boundary, so this stayed latent.)"""
    from featurestore_for_joycastle_java_spark.operators.asof import sessionize

    base = 1_700_000_000  # epoch seconds
    secs = [base, base + 1800, base + 1800 + 1799]

    # batch: one session covering all three events
    batch_df = spark.createDataFrame(
        [(1, s) for s in secs], "user_id int, epoch long"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"))
    got = sessionize(batch_df, ["user_id"], "ts", gap_seconds=1800)
    assert [r["session_id"] for r in got.collect()] == [0, 0, 0]

    # streaming: user 1 = the same exact-boundary rows (one merged
    # session), user 3 = gap + 1µs (splits into two sessions)
    events_dir = str(tmp_path / "events.parquet")
    ns_per_sec = 1_000_000_000
    rows = [(i, s * ns_per_sec, 1, "view", 1.0, "{}") for i, s in enumerate(secs)]
    rows += [
        (10, base * ns_per_sec, 3, "view", 1.0, "{}"),
        (11, (base + 1800) * ns_per_sec + 1000, 3, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(events_dir)
    src = ST.file_stream_source(spark, str(tmp_path))
    agg = ST.session_counts(src, gap="30 minutes", watermark="2 hours")
    ST.drain_to_memory(agg, "t_boundary", output_mode="complete")
    got = {}
    for r in spark.table("t_boundary").collect():
        got.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(got[1]) == [3], f"exact gap must merge, got {got[1]}"
    assert sorted(got[3]) == [1, 1], f"gap+1us must split, got {got[3]}"


def test_python_streaming_source_exactly_once(spark, tmp_path):
    """The Python streaming source must deliver every generated row
    exactly once across micro-batches: 3000 rows at batchRows=1000 ->
    three offset ranges, no gaps, no duplicates, and the final row set
    equals the batch source's."""
    import time

    from featurestore_for_joycastle_java_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = (
        spark.readStream.format("synthetic_events")
        .option("rows", 3000)
        .option("batchRows", 1000)
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("synth_eo")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n = spark.sql("select count(*) n from synth_eo").collect()[0]["n"]
            if n >= 3000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    row = spark.sql(
        "select count(*) n, count(distinct event_id) d, "
        "min(event_id) lo, max(event_id) hi from synth_eo"
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (3000, 3000, 0, 2999)
    batch = (
        spark.read.format("synthetic_events").option("rows", 3000).load()
    )
    assert sorted(map(tuple, spark.table("synth_eo").collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_scd1_upsert_stream_sink_maintains_dimension(spark, tmp_path):
    """Streaming dimension maintenance: micro-batches of the synthetic
    stream upsert a latest-wins (SCD1) user dimension; the final
    snapshot must equal latest-per-key over the whole stream, with one
    versioned snapshot per micro-batch and one row per user."""
    from pyspark.sql import functions as F

    from featurestore_for_joycastle_java_spark import streaming as ST
    from featurestore_for_joycastle_java_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = (
        spark.readStream.format("synthetic_events")
        .option("rows", 1200)
        .option("batchRows", 400)
        .load()
    )
    dim_dir = str(tmp_path / "dim")
    q = ST.scd1_upsert_stream_sink(
        src,
        dim_dir,
        key_col="user_id",
        order_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=False,  # pump all 3 micro-batches of the Python source
    )
    import os as _os
    import time as _time

    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            from featurestore_for_joycastle_java_spark.streaming import (
                _committed_versions,
            )

            if {0, 1, 2} <= set(_committed_versions(dim_dir)):
                break
            _time.sleep(0.5)
    finally:
        q.stop()

    dim = ST.read_dim_latest(spark, dim_dir)
    expected = (
        spark.read.format("synthetic_events")
        .option("rows", 1200)
        .load()
        .groupBy("user_id")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    got = sorted(map(tuple, dim.select("user_id", "event_id", "event_type", "value").collect()))
    want = sorted(map(tuple, expected.select("user_id", "event_id", "event_type", "value").collect()))
    assert got == want and len(got) == dim.count()
    # one snapshot per micro-batch (1200/400 = 3), versioned by batch id
    from featurestore_for_joycastle_java_spark.streaming import (
        _committed_versions,
    )

    assert {0, 1, 2} <= set(_committed_versions(dim_dir))
