"""Reference-parity ingest pipeline, Spark-first.

Re-expresses the whole of ConsumerMultiThread.java (CMT) /
ConsumerSingleThread.java as ONE declarative plan:

    source → from_json → conditional regex extract → completeness filter
           → fixed projection → write.partitionBy(event_type)

Operator-by-operator mapping (SURVEY.md §2.1):
- #3 JSON deserialization        (CMT:114)     -> :func:`parse_events`
- #4+#5 gated regex extraction   (CMT:115-127) -> :func:`extract_numeric_feature`
- #6 completeness filter         (CMT:130-132) -> :func:`completeness_filter`
- #7 fixed-order projection      (CMT:135-138) -> :func:`project_fields`
- #8 demux by event type         (CMT:36,140)  -> :func:`demux_write` /
  :func:`demux_tables`
- #12 batched sink               (CMT:163-201) -> parquet partitioned write or
  ``sources.jdbc_batched_sink``

Deliberate divergences from the reference (defects documented in SURVEY.md
§2.1, fixed here): D1 (wrong DDL loop) — we create per-EVENT-TYPE outputs;
D2 (no tail flush) — whole-DataFrame writes lose nothing; D3 (NPE on
present-but-null) — null field == incomplete == dropped by the filter.

Critical semantics note (CMT:117): the EVENT_TYPES membership check does NOT
drop rows — it only gates whether the regex rewrites the details field.
Non-matching event types still flow through to their own dwd table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from featurestore_for_joycastle_java_spark.schemas import (
    EVENT_FIELDS,
    EXTRACT_EVENT_TYPES,
    GAME_EVENT_SCHEMA,
    NUMBER_PATTERN,
)


def parse_events(df: DataFrame) -> DataFrame:
    """Op #3: JSON string ``value`` -> typed struct (CMT:114's fastjson Map
    parse).

    ``from_json`` with ``GAME_EVENT_SCHEMA`` reproduces dynamic-in/fixed-out:
    declared fields surface, absent keys -> null, extra keys dropped. Runs
    JVM-side inside whole-stage codegen — no Python in the loop.
    """
    return df.select(
        F.from_json(F.col("value").cast("string"), GAME_EVENT_SCHEMA).alias("j")
    ).select("j.*")


def extract_numeric_feature(
    df: DataFrame,
    detail_col: str = "EventDetails",
    type_col: str = "EventType",
    event_types: tuple[str, ...] = EXTRACT_EVENT_TYPES,
    out_col: str = "EventValue",
) -> DataFrame:
    """Ops #4+#5: gated first-match numeric extraction (CMT:115-127).

    Reference behavior replicated exactly:
    - only rows with type in ``event_types`` are extracted (CMT:117);
    - first regex match wins; alternation prefers the decimal form at the
      same start position, so "4.99 USD" -> 4.99, "level 7" -> 7 (CMT:121);
    - no match -> the original value is kept (CMT:124's no-match branch).

    Divergence: the extracted number lands in a separate typed column
    ``out_col`` (double) instead of overwriting the string field in place
    (CMT:125's type-punning). The raw string column is preserved.
    Note the reference recompiled the Pattern per record (CMT:121); codegen
    compiles it once per task here.
    """
    extracted = F.regexp_extract(F.col(detail_col), NUMBER_PATTERN, 1)
    return df.withColumn(
        out_col,
        F.when(
            F.col(type_col).isin(*event_types) & (extracted != F.lit("")),
            extracted.cast("double"),
        ).otherwise(F.lit(None).cast("double")),
    )


def completeness_filter(df: DataFrame, fields: list[str] = EVENT_FIELDS) -> DataFrame:
    """Op #6: drop rows missing any required field (CMT:130-132).

    The Java check was key-presence (a present-but-null value passed and
    then NPE'd at insert, defect D3); with from_json both absent and null
    are null, so null-as-missing is the single sane semantics — matches the
    documented intent (reference README.md:119).
    """
    return df.na.drop(subset=fields)


def project_fields(df: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Op #7: fixed-order projection of the declared fields (CMT:135-138),
    plus any engine-added columns (e.g. the extracted EventValue)."""
    return df.select(*EVENT_FIELDS, *(extra or []))


def demux_write(
    df: DataFrame,
    out_dir: str,
    key_col: str = "EventType",
) -> None:
    """Ops #8+#12: route rows to per-event-type outputs (CMT:36,140 buffers;
    CMT:168 table-per-type) as ONE partitioned write.

    ``partitionBy(key_col)`` gives hive-layout dirs — the scalable analog of
    table-per-type: downstream readers get partition pruning. No 1000-row
    manual buffering (CMT:35, 143-150): file sizing is the engine's job.
    The rows go through one ``rebalance`` shuffle keyed by ``key_col``
    first, so each route is written by as few tasks as its size needs:
    with AQE on, a small input (one 1000-row micro-batch) is coalesced to
    one file per route, and a route larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` is split into
    several files, so a large write keeps its parallelism; with AQE off
    the hint is a hash repartition by ``key_col``, one file per route.
    (Without the shuffle every input task would open a writer per route.)
    This also fixes defect D2 (the reference dropped up to BATCH_SIZE-1 tail
    rows per type at end-of-stream).
    """
    df.hint("rebalance", key_col).write.partitionBy(key_col).mode("overwrite").parquet(out_dir)


_DEMUX_DEFAULT_KEYS = object()


def demux_tables(
    df: DataFrame,
    key_col: str = "EventType",
    keys: Sequence[str] | None = _DEMUX_DEFAULT_KEYS,  # type: ignore[assignment]
) -> dict[str, DataFrame]:
    """Table-per-type view of the demux (dwd_<EventType>, CMT:168,174-175)
    as lazily-filtered DataFrames, for callers who want the reference's
    exact table layout (e.g. a JDBC sink per type).

    For the default ``key_col`` the DEFAULT key set is the reference's
    hardcoded EVENT_TYPES tuple (CMT:26,30) — fully lazy, no hidden
    driver action. Any OTHER demux column requires ``keys`` explicitly
    (that tuple would silently produce empty tables there — raise
    instead). ``keys=None`` opts into discovering the distinct key set,
    which runs a ``collect()`` action over ``df``; fine for a bounded
    demux column, explicit opt-in on purpose."""
    if keys is _DEMUX_DEFAULT_KEYS:
        if key_col != "EventType":
            raise ValueError(
                f"demux_tables: pass keys explicitly for key_col={key_col!r} "
                "(or keys=None to discover the distinct values)"
            )
        keys = EXTRACT_EVENT_TYPES
    if keys is None:
        keys = [r[0] for r in df.select(key_col).distinct().collect()]
    return {t: df.filter(F.col(key_col) == t) for t in keys}


def ingest_pipeline(raw: DataFrame) -> DataFrame:
    """The reference's entire main() (CMT:43-160) as one composed plan.

    Input: raw records with a JSON-string column (Kafka value or file).
    Output: validated, projected rows with the extracted EventValue, ready
    for :func:`demux_write`. Catalyst gets the whole plan at once, so the
    reference's hand-orderings (filter-before-buffer, cheap-gate-before-
    regex; SURVEY.md §4.1) fall out of predicate pushdown for free.
    """
    parsed = parse_events(raw)
    extracted = extract_numeric_feature(parsed)
    valid = completeness_filter(extracted)
    return project_fields(valid, extra=["EventValue"])


# --- Fixture-proxy pipeline -------------------------------------------------
# The driver fixture `events` table plays the game_events topic's role
# (FIXTURES.md: event_type↔EventType, props↔EventDetails, user_id↔PlayerID,
# ts↔EventTimestamp). Same operator chain, fixture column names.

FIXTURE_EVENT_FIELDS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
FIXTURE_EXTRACT_TYPES = ("purchase", "signup")


def fixture_ingest(events: DataFrame) -> DataFrame:
    """Reference pipeline over the fixture events table (already typed, so
    op #3 is a no-op). Extracts the first number in ``props`` for purchase/
    signup rows into ``event_value``; other rows keep their ``value``
    (mirrors the keep-original branch, CMT:124). A regex match is a digit
    string, so its cast is never null and the coalesce falls back to
    ``value`` exactly where nothing was extracted."""
    extracted = extract_numeric_feature(
        events,
        detail_col="props",
        type_col="event_type",
        event_types=FIXTURE_EXTRACT_TYPES,
        out_col="event_value",
    )
    with_value = extracted.withColumn(
        "event_value", F.coalesce(F.col("event_value"), F.col("value"))
    )
    valid = completeness_filter(with_value, fields=FIXTURE_EVENT_FIELDS)
    return valid.select(
        "event_id",
        "user_id",
        "event_type",
        "event_value",
        "value",
        "props",
    )
