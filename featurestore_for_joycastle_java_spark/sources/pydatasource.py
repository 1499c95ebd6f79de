"""Python Data Source API (Spark 4): a custom batch source with
partition-parallel reads — the newest connector door, covered with a
source whose output is DETERMINISTIC and arithmetic-replayable, so the
usual DuckDB oracle discipline applies to a connector too.

``synthetic_events`` generates game-telemetry-shaped rows from pure
integer arithmetic on the row id (Knuth multiplicative hashing — a
public constant, not a seeded RNG): every engine, run, and partition
layout produces the identical row set. Each ``InputPartition`` is a
contiguous id range generated independently by its task — the
partition-planning contract that makes a source scale: N tasks, zero
coordination, no driver-side materialization.

Reference parity note: the reference consumes Kafka-shaped JSON events
(ConsumerMultiThread.java CMT:43-160); this source is the load-generator
twin of that input surface for environments without a broker.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from featurestore_for_joycastle_java_spark.sources import enable_conf

#: Knuth's multiplicative hash constant (2^32 / phi) — public domain math.
MULT = 2654435761
_TYPES = ["click", "error", "purchase", "signup", "view"]


def synth_row(i: int) -> tuple[int, int, str, float]:
    """The generation rule, exported so tests and oracles can replay it:
    h = (i * MULT) mod 2^32; fields are slices of h. All BIGINT-exact
    (products stay under 2^63 for any realistic row count)."""
    h = (i * MULT) % (1 << 32)
    return (
        i,
        h % 150,
        _TYPES[(h >> 8) % 5],
        ((h >> 16) % 10000) / 100.0,
    )


#: The identical rule as DuckDB SQL over range(n) — '>>' spelled as
#: integer division so the arithmetic is unambiguous in both dialects.
SYNTH_SQL = """
SELECT i AS event_id,
       h % 150 AS user_id,
       (['click', 'error', 'purchase', 'signup', 'view'])
           [CAST((h // 256) % 5 AS INT) + 1] AS event_type,
       ((h // 65536) % 10000) / 100.0 AS value
FROM (SELECT i, (i * 2654435761) % 4294967296 AS h
      FROM range({n}) t(i))
"""


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _SyntheticReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", 10_000))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        # id bounds tightened by pushed filters: [lo, hi)
        self.lo = 0
        self.hi = self.n_rows

    def pushFilters(self, filters):
        """Filter pushdown INTO the connector (the custom-source half of
        the predicate-pushdown contract): range predicates on event_id
        tighten the generation bounds, so whole partitions are PRUNED at
        planning time — the source never generates, serializes, or ships
        the excluded ids. Everything else is declined (yielded back), and
        Spark re-applies every declined filter above the scan, so
        pushdown is purely an optimization, never a correctness risk."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            # some pushed filters carry no value (IsNotNull, ...); the
            # exact `type is int` check also declines bool (a bool IS an
            # int in Python — absorbing EqualTo(col, True) as lo/hi=1..2
            # would be wrong in principle)
            if attr == ("event_id",) and type(
                getattr(f, "value", None)
            ) is int:
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, f.value + 1)
                else:
                    yield f
                continue
            yield f  # declined — Spark evaluates it post-scan

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        n = hi - lo
        if n == 0:
            return [_RangePartition(0, 0)]
        step = -(-n // self.n_parts)  # ceil div
        return [
            _RangePartition(p, min(p + step, hi))
            for p in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        """Arrow-batch reads: yielding pyarrow RecordBatches instead of
        per-row tuples skips the per-row pickle/unpickle on the worker
        boundary — the documented right shape for a bulk connector
        (Spark 4 Python Data Source "Arrow Batch Support"). The arithmetic is the exact integer rule of
        ``synth_row``: uint64 products wrap mod 2^64, and since 2^32
        divides 2^64, ``(i*MULT) mod 2^64 mod 2^32`` equals the
        unbounded ``(i*MULT) mod 2^32`` — bit-identical rows for ANY
        row id, not just ids below the int64 envelope. value is an
        integer < 10000 divided by 100.0 in float64, the same IEEE op
        as Python's ``/ 100.0``."""
        import numpy as np
        import pyarrow as pa

        types_np = np.array(_TYPES, dtype=object)
        step = 1 << 20  # bound per-batch memory on huge partitions
        for lo in range(partition.start, partition.end, step):
            hi = min(lo + step, partition.end)
            i = np.arange(lo, hi, dtype=np.uint64)
            h = (i * np.uint64(MULT)) % np.uint64(1 << 32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i.astype(np.int64), type=pa.int64()),
                    pa.array(
                        (h % np.uint64(150)).astype(np.int64),
                        type=pa.int64(),
                    ),
                    pa.array(
                        types_np[
                            ((h >> np.uint64(8)) % np.uint64(5)).astype(
                                np.int64
                            )
                        ],
                        type=pa.string(),
                    ),
                    pa.array(
                        (
                            (h >> np.uint64(16)) % np.uint64(10000)
                        ).astype(np.float64)
                        / 100.0,
                        type=pa.float64(),
                    ),
                ],
                names=["event_id", "user_id", "event_type", "value"],
            )


class SyntheticEventsDataSource(DataSource):
    """spark.read.format("synthetic_events").option("rows", N)
    .option("partitions", P).load()"""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, event_type string, value double"

    def reader(self, schema):
        return _SyntheticReader(self.options)

    def simpleStreamReader(self, schema):
        return _SyntheticStreamReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same name is fine).

    Also enables Python-source filter pushdown
    (``spark.sql.python.filterPushdown.enabled``, a runtime-settable SQL
    conf, default false in Spark 4) where the session lacks it: with it
    off, a reader that implements ``pushFilters`` fails planning
    outright — and a session built without the engine's confs must
    still plan it, so the source carries its own prerequisite there.
    NOTE this is a session-global conf affecting every Python data
    source planned afterwards (it changes no semantics for sources that
    don't push, only whether pushFilters is consulted); a session that
    already has it — ``get_spark`` sets it in ``_DEFAULT_CONF`` —
    sees no conf write (``sources.enable_conf``)."""
    enable_conf(spark, "spark.sql.python.filterPushdown.enabled")
    spark.dataSource.register(SyntheticEventsDataSource)


class _SyntheticStreamReader(SimpleDataSourceStreamReader):
    """Simple streaming reader over the same generation rule: the offset
    is just the next row id, each micro-batch emits up to ``batch_rows``
    rows, and the stream is exhausted at ``rows`` — so a bounded drain
    (`availableNow`) terminates deterministically with exactly the batch
    source's row set. Offsets are plain dicts (JSON-serializable), which
    is the checkpoint/exactly-once contract: a restarted query resumes
    from the committed id with no duplicates, because generation is a
    pure function of the id range."""

    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", 10_000))
        self.batch_rows = int(options.get("batchRows", 1_000))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        # a LIST, not a generator: the engine pickles the prefetched batch
        # to replay it between offsets (exactly-once), and generators
        # don't pickle. batch_rows bounds driver memory.
        lo = int(start["next"])
        hi = min(lo + self.batch_rows, self.n_rows)
        return [synth_row(i) for i in range(lo, hi)], {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # asymmetric contract: read()'s batch is PICKLED (needs a list),
        # this replay path is CONSUMED (needs an iterator)
        return iter(
            [synth_row(i) for i in range(int(start["next"]), int(end["next"]))]
        )

    def commit(self, end: dict) -> None:
        pass
