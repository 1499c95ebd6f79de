"""Sources & sinks: fixture parquet loaders, format round-trips, Kafka, JDBC.

The reference's only source is a Kafka topic drained from offset 0
(ConsumerMultiThread.java:89-110) and its only sink is batched JDBC inserts
into per-event-type SQLite tables (CMT:163-201). Spark-first equivalents
live here; parquet/csv/json/orc scans are added per SURVEY.md §2.2 (the
reference has none, but the engine needs them — fixtures are parquet).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from featurestore_for_joycastle_java_spark.schemas import TABLE_NAMES

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory for the engine's own intermediate files
    (staged sources, persisted indexes, stream checkpoints), removed when
    the interpreter exits. The package's only ``mkdtemp``."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


#: (name, *parts) -> (root, value) for :func:`build_once`.
_BUILT: dict[tuple, tuple[str, Any]] = {}


def build_once(key: tuple, build: Callable[[str], Any]) -> Any:
    """``build(root)`` run once per process and ``key`` in a fresh
    ``scratch_dir("fs_<key[0]>_")``; later calls return its value. A key
    whose root has vanished is built again. Two threads that miss
    together each build into their own directory and the later store
    wins, so a race costs one build, never a wrong answer."""
    hit = _BUILT.get(key)
    if hit is None or not os.path.isdir(hit[0]):
        root = scratch_dir(f"fs_{key[0]}_")
        hit = (root, build(root))
        _BUILT[key] = hit
    return hit[1]


def enable_conf(spark: SparkSession, key: str) -> None:
    """Set the boolean session conf ``key`` to true where it is not
    already, so a session from ``get_spark`` (which sets the engine's
    confs at build time) sees no conf write, while a session built
    elsewhere still gets the conf the engine needs."""
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def read_nanos_as_long(spark: SparkSession) -> None:
    """Read timestamp[ns] parquet (older fixtures' ``events.ts``) as long
    nanos, which :func:`normalize_events_ts` converts."""
    enable_conf(spark, _NANOS_AS_LONG)


#: session -> {(absolute path, st_mtime_ns, st_size): inferred schema}.
#: Weak keys: a dropped session takes its schemas with it, and a
#: ``newSession()`` (which may carry other parquet confs) infers again. The
#: stat fields make a file rewritten at the same path infer again.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    (session, file). Inference launches one footer-merge job; reads that
    pass the cached schema launch none. Two threads that miss together both
    infer and store the same schema, so a race costs a job, never a wrong
    schema. Callers call :func:`read_nanos_as_long` first, as
    :func:`load_table` does."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(spark, {}).get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMAS_LOCK:
            _SCHEMAS.setdefault(spark, {})[key] = schema
    return schema


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as a session-local µs timestamp, whatever the fixture
    generation stored: timestamp[ns] parquet arrives as long nanos (under
    the nanosAsLong legacy conf) → convert to µs; timestamp[us] with
    isAdjustedToUTC=false arrives as TIMESTAMP_NTZ → cast to TIMESTAMP
    (session tz is pinned UTC, so the instant is unchanged and matches
    DuckDB's naive read). Schema-level fixup either way, no data shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. The schema is inferred once per session and
    file (:func:`parquet_schema`); every call after that is an explicit-
    schema read that launches no job. Each call still builds a fresh
    relation with fresh attribute ids, so a query may load one table twice
    and self-join it; no data is cached. Parquet scan → column pruning and
    predicate pushdown are free once the caller selects/filters (Catalyst
    pushes them into the scan; verify with .explain →
    PushedFilters/ReadSchema).

    The nanosAsLong legacy conf is checked on every call, not only set in
    the session factory: a session built elsewhere must still read
    timestamp[ns] ``events.ts`` as long nanos (:func:`read_nanos_as_long`)."""
    read_nanos_as_long(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a SQL temp view (for spark.sql paths)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


# --- Generic format scans (SURVEY.md §2.2 row 1) ---


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Uniform reader over parquet/csv/json/orc. An explicit schema skips
    inference (a full extra scan at 100 TB — always pass one in production)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None, **options) -> None:
    """Uniform overwriting writer. ``partition_by`` gives hive-style layout
    so downstream scans get partition pruning on those keys."""
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.options(**options).save(path)


# --- Kafka source (reference op #1, CMT:46-57/89-102) ---

#: The schema Spark's Kafka source emits — used by tests to exercise the
#: post-source pipeline (value decode → JSON parse → ingest) broker-free.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    streaming: bool = False,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Reader options as a pure (testable) mapping. Reference semantics:
    ``startingOffsets=earliest`` is the seek-every-partition-to-0
    (CMT:93-98); batch ``endingOffsets=latest`` is the drain-then-stop
    (CMT:104-110); ``maxOffsetsPerTrigger`` bounds a micro-batch the way
    ``max.poll.records=1000`` did (CMT:52)."""
    if max_offsets_per_trigger and not streaming:
        raise ValueError(
            "max_offsets_per_trigger is a streaming trigger bound; "
            "a batch read drains the whole offset range"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
    }
    if not streaming:
        opts["endingOffsets"] = "latest"
    elif max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_values(df: DataFrame) -> DataFrame:
    """Kafka records → the JSON-string ``value`` column ``ingest_pipeline``
    consumes (the reference's StringDeserializer, CMT:54-55). Works on any
    frame with Kafka's output shape — real source or test stand-in."""
    from pyspark.sql import functions as F

    return df.select(F.col("value").cast("string").alias("value"))


def kafka_batch_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
) -> DataFrame:
    """Bounded replay of a whole topic — the reference's "seek to 0, poll
    until empty" (CMT:93-110) as a batch read. Returns raw key/value binary;
    parse via :func:`kafka_values` + ``ingest_pipeline``. The broker I/O
    itself is not exercised in tests (no broker in the container); the
    option surface and the entire post-source pipeline are (see
    tests/test_ingest.py::test_kafka_shaped_records_through_pipeline)."""
    reader = spark.read.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topic).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming variant of :func:`kafka_batch_source`."""
    reader = spark.readStream.format("kafka")
    opts = kafka_source_options(
        bootstrap_servers,
        topic,
        streaming=True,
        max_offsets_per_trigger=max_offsets_per_trigger,
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


# --- JDBC sink (reference op #12, CMT:163-201) ---


def jdbc_batched_sink(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    num_partitions: int | None = None,
    **properties,
) -> None:
    """Spark's JDBC writer does exactly the reference's prepared-statement
    batching (CMT:174-188): per-partition transactions, ``batchsize`` rows
    per executeBatch (reference BATCH_SIZE=1000, CMT:35). ``num_partitions``
    bounds concurrent connections the way the Hikari pool max=4 did
    (CMT:62). Exercised end-to-end against embedded Derby (the JDBC
    driver bundled in Spark's jars) in tests/test_jdbc.py — round-trip
    values, append accumulation, bounded-connection write."""
    if num_partitions:
        df = df.coalesce(num_partitions)
    props = {"batchsize": str(batchsize), **{k: str(v) for k, v in properties.items()}}
    df.write.jdbc(url, table, mode=mode, properties=props)
