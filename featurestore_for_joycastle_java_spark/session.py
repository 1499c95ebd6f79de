"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design goal (AQE on, skew-join handling,
Arrow for any Python exchange) while remaining correct on ``local[*]``.
"""

from __future__ import annotations

import contextlib
import os
import threading
import weakref
from typing import Callable, Iterator

from pyspark.sql import SparkSession

# Conservative defaults that are right at both local-test and cluster scale.
# Anything cluster-size-dependent (shuffle partitions, broadcast threshold)
# is overridable via env or kwargs.
_DEFAULT_CONF = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / toPandas — 10-100x over pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics across engines (DuckDB oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries timestamp[ns], which Spark 4 rejects natively
    # (PARQUET_TYPE_ILLEGAL); read as long nanos, converted in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Don't let tiny files explode task counts in tests; at cluster scale the
    # default 128m is what we want, and this matches it.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Python Data Source API: let custom connectors receive pushed filters
    # (sources/pydatasource.py prunes generation partitions with them).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "featurestore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to whatever the environment provides (spark-submit /
    existing session); tests pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def thread_target(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` made fit to run in a pool thread against ``spark``: it carries
    the caller's local properties and tags (job group, scheduler pool) into
    the thread. ``inheritable_thread_target(session)`` returns a decorator
    only under pinned-thread mode; with ``PYSPARK_PIN_THREAD=false`` it
    returns the session itself (PySpark ties no Python thread to a JVM
    thread, so it has nothing to carry), and ``fn`` runs as it is."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


_SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"
#: per session: [open narrow_shuffle_width scopes, the width to restore]
_NARROWED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_NARROWED_LOCK = threading.Lock()


@contextlib.contextmanager
def narrow_shuffle_width(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the body with the session's shuffle width at most ``n``.

    For work whose shuffled frames are tiny next to the fact tables the
    session width is sized for (iteration frames, streaming state
    stores): there a wide shuffle only adds per-task scheduling. The
    width is session-global, so overlapping scopes from several threads
    share one count: each narrows to ``min(current width, n)``, and the
    last one out restores the width the first one found."""
    with _NARROWED_LOCK:
        width = spark.conf.get(_SHUFFLE_WIDTH)
        scope = _NARROWED.setdefault(spark, [0, width])
        scope[0] += 1
        spark.conf.set(_SHUFFLE_WIDTH, str(min(int(width), n)))
    try:
        yield
    finally:
        with _NARROWED_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                del _NARROWED[spark]
                spark.conf.set(_SHUFFLE_WIDTH, scope[1])
