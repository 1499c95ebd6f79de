"""JDBC batched sink (reference op #12, CMT:163-201), exercised for real
against embedded Derby — the JDBC driver that ships inside Spark's own
jar directory, so no sandbox install is needed. r1 left this operator
code-only/untested ("no JDBC driver in the sandbox")."""

from __future__ import annotations

import os

import pytest

from featurestore_for_joycastle_java_spark.sources import (
    jdbc_batched_sink,
    load_table,
)

DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{os.path.join(str(tmp_path), 'fsdb')};create=true"


def test_jdbc_roundtrip_values(spark, sf_dir, derby_url):
    # 10k events through batchsize=1000 prepared-statement batching
    # (exactly the reference's BATCH_SIZE, CMT:35), then read back and
    # value-compare
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    jdbc_batched_sink(
        ev, derby_url, "dwd_events", batchsize=1000, num_partitions=4, **DERBY
    )
    back = spark.read.jdbc(derby_url, "dwd_events", properties=DERBY)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, ev.collect())
    )


def test_jdbc_append_mode_accumulates(spark, sf_dir, derby_url):
    # mode="append" is the reference's INSERT path: a second run adds
    # rows (the sink itself is at-least-once; idempotence is the
    # upstream checkpoint's job — see streaming.demux_stream_sink)
    nation = load_table(spark, sf_dir, "nation")
    jdbc_batched_sink(nation, derby_url, "nation_t", **DERBY)
    jdbc_batched_sink(nation, derby_url, "nation_t", **DERBY)
    back = spark.read.jdbc(derby_url, "nation_t", properties=DERBY)
    assert back.count() == 2 * nation.count()


def test_jdbc_num_partitions_bounds_connections(spark, sf_dir, derby_url):
    # num_partitions=1 == the reference's pool-bounded concurrency
    # (Hikari max, CMT:62); correctness must be unaffected
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    jdbc_batched_sink(cust, derby_url, "cust_t", num_partitions=1, **DERBY)
    back = spark.read.jdbc(derby_url, "cust_t", properties=DERBY)
    assert back.count() == cust.count()


def test_stream_jdbc_demux_end_to_end(spark, sf_dir, derby_url, tmp_path):
    # the reference's whole job: drain the stream, demux by event type,
    # batched inserts into one relational table per type (Kafka->SQLite
    # there; file-stream->Derby here)
    from featurestore_for_joycastle_java_spark import streaming as ST

    src = ST.file_stream_source(spark, sf_dir)
    q = ST.jdbc_demux_stream_sink(
        src, derby_url, checkpoint_dir=str(tmp_path / "ckpt"), **DERBY
    )
    q.awaitTermination()
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for etype, n in want.items():
        back = spark.read.jdbc(derby_url, f"dwd_{etype}", properties=DERBY)
        assert back.count() == n, f"{etype}: {back.count()} != {n}"
    # total conservation: no tail loss (defect D2), no duplication
    total = sum(
        spark.read.jdbc(derby_url, f"dwd_{t}", properties=DERBY).count()
        for t in want
    )
    assert total == ev.count()


def test_stream_jdbc_demux_computes_each_batch_once(spark, sf_dir, derby_url, tmp_path):
    # one micro-batch feeds one write per event type; the batch's source
    # rows are evaluated once per batch, not once per key. The counting
    # UDF is nondeterministic, so no key filter is pushed below it.
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    from featurestore_for_joycastle_java_spark import streaming as ST

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    counted = F.udf(count_row, BooleanType()).asNondeterministic()
    src = ST.file_stream_source(spark, sf_dir).filter(counted("event_id"))
    q = ST.jdbc_demux_stream_sink(
        src, derby_url, checkpoint_dir=str(tmp_path / "ckpt"), **DERBY
    )
    q.awaitTermination()
    ev = load_table(spark, sf_dir, "events")
    assert seen.value == ev.count()
    for r in ev.groupBy("event_type").count().collect():
        back = spark.read.jdbc(derby_url, f"dwd_{r['event_type']}", properties=DERBY)
        assert back.count() == r["count"], r["event_type"]
