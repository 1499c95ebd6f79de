"""Reference-pipeline queries (SURVEY.md §2.1) over the fixture ``events``
table (the game_events topic's stand-in, FIXTURES.md): parse, extract,
completeness filter, projection and demux by event type, plus the Python
data-source read path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from featurestore_for_joycastle_java_spark.operators.ingest import (
    FIXTURE_EVENT_FIELDS,
    fixture_ingest,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    exact_sum,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


# Shared SQL fragment: the fixture pipeline (conditional regex extraction +
# completeness filter) as the oracle sees it.
_INGEST_SQL = """
SELECT
    event_id,
    user_id,
    event_type,
    CASE
        WHEN event_type IN ('purchase', 'signup')
             AND regexp_extract(props, '(\\d+\\.\\d+|\\d+)', 1) <> ''
        THEN TRY_CAST(regexp_extract(props, '(\\d+\\.\\d+|\\d+)', 1) AS DOUBLE)
        ELSE value
    END AS event_value,
    value,
    props
FROM events
WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
  AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
"""


@query("ingest_dwd", oracle=_INGEST_SQL)
def ingest_dwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops #4-#7: gated regex extraction + completeness filter + projection
    (CMT:115-138). The reference's whole per-record loop as one plan."""
    return fixture_ingest(load_table(spark, sf_dir, "events"))


@query(
    "ingest_demux_counts",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(event_value AS DECIMAL(23,6))) AS DOUBLE) AS sum_event_value,
       CAST(SUM(CAST(event_value AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*) AS avg_event_value
FROM ({_INGEST_SQL})
GROUP BY event_type
""",
)
def ingest_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #8: demux by event type (CMT:36,140) summarized per route — the
    per-dwd-table row counts a downstream consumer of the reference's
    SQLite tables would see, plus value totals. Partial (map-side) agg +
    final agg; one shuffle on the 5-value event_type key."""
    dwd = fixture_ingest(load_table(spark, sf_dir, "events"))
    dsum = exact_sum(F.col("event_value"))
    n = F.count(F.lit(1))
    return dwd.groupBy("event_type").agg(
        n.alias("n_rows"),
        dsum.alias("sum_event_value"),
        (dsum / n).alias("avg_event_value"),
    )


@query(
    "ingest_json_props",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS props_k
FROM events
""",
)
def ingest_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #3: JSON field probe (CMT:114's parse, single-field form) —
    get_json_object stays JVM-side; no Python in the loop."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("props_k"),
    )


@query(
    "ingest_completeness",
    oracle="""
SELECT COUNT(*) AS n_valid
FROM events
WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
  AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
""",
)
def ingest_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #6: field-completeness validation (CMT:130-132) — count of rows
    surviving the all-fields-present filter."""
    events = load_table(spark, sf_dir, "events")
    valid = events.na.drop(subset=FIXTURE_EVENT_FIELDS)
    return valid.agg(F.count(F.lit(1)).alias("n_valid"))


@query(
    "pysource_synthetic_agg",
    # The source's generation rule is pure integer arithmetic on the row
    # id (see sources/pydatasource.py::SYNTH_SQL) — the oracle REGENERATES
    # the whole input in SQL and aggregates it, so the check covers the
    # connector end to end: partition planning, per-partition generation,
    # schema, and the aggregation on top.
    oracle="""
WITH src AS (
SELECT i AS event_id,
       h % 150 AS user_id,
       (['click', 'error', 'purchase', 'signup', 'view'])
           [CAST((h // 256) % 5 AS INT) + 1] AS event_type,
       ((h // 65536) % 10000) / 100.0 AS value
FROM (SELECT i, (i * 2654435761) % 4294967296 AS h
      FROM range(20000) t(i))
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM src GROUP BY 1
""",
)
def pysource_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector door — Spark 4's Python Data Source API: a
    partition-parallel batch source (``synthetic_events``, 8 independent
    id-range partitions) read through the normal
    ``spark.read.format(...)`` path and aggregated. The source's rows
    derive from Knuth multiplicative hashing of the row id, so the
    DuckDB oracle regenerates the identical input from ``range(n)`` and
    the match verifies the CONNECTOR (planning, generation, schema), not
    just the aggregation. ``sf_dir`` is unused — the source IS the data."""
    from featurestore_for_joycastle_java_spark.operators.relational import exact_sum
    from featurestore_for_joycastle_java_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", 20000)
        .option("partitions", 8)
        .load()
    )
    return src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        exact_sum(F.col("value")).alias("sum_value"),
    )


@query(
    "ingest_variant_props",
    oracle="""
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                 IS NULL THEN 0 ELSE 1 END AS has_k
FROM events
""",
)
def ingest_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest through Spark 4's VARIANT type:
    `parse_json` once, then typed `variant_get` path extraction — the
    open-schema alternative to `from_json`-with-declared-schema
    (`ingest_json_props`): fields can appear/vanish per row without a
    schema migration, and the binary variant encoding scans faster than
    re-parsing JSON text per access. DuckDB mirrors with its JSON
    extraction; the null-marker column pins the missing-field
    contract."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id", F.parse_json(F.col("props")).alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "int")
    return v.select(
        "event_id",
        k.alias("k_int"),
        F.when(k.isNull(), 0).otherwise(1).alias("has_k"),
    )
