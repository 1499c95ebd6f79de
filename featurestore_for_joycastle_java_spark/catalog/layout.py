"""Physical-layout queries (SURVEY.md §2.2): partition pruning, bucketed
joins, Morton/Z-order clustering and the data skipping it buys, zone
maps and their overlap depth, compaction bin-packing, file inventories
and schema evolution across written files."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.layout import (
    morton_key,
    morton_sql,
)
from featurestore_for_joycastle_java_spark.operators.ranks import (
    global_row_number,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table, write_any


# bits=17: the engine's own quality gate pins value < 1000, so
# y = floor(value·100) needs 17 bits (99,999 < 2^17); 16 would silently
# collide distinct y values at larger fixtures while every value-level
# oracle stayed green. morton_key also refuses out-of-range inputs
# executor-side.
_MORTON_ORACLE = f"""
SELECT event_id,
       user_id AS x,
       CAST(FLOOR(value * 100) AS BIGINT) AS y,
       CAST({morton_sql("user_id", "CAST(FLOOR(value * 100) AS BIGINT)", bits=17)}
            AS BIGINT) AS morton
FROM events
"""


@query("layout_morton_keys", oracle=_MORTON_ORACLE)
def layout_morton_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (user_id, cents(value)) —
    the multi-dimensional data-layout primitive: range-partitioning files
    on this key gives BOTH dimensions min/max-stat locality, so 2-D box
    predicates prune files instead of scanning the corpus (see
    ``operators/layout.py``; the physical clustering itself is
    ``cluster_by_morton``, exercised with a layout-property test). The
    key is 32 unrolled shift/mask long-ops — whole-stage codegen, no
    HOFs — and the oracle rebuilds every bit with division/modulo
    arithmetic, so the interleaving is verified bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("user_id")
    y = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        morton_key(x, y, bits=17).cast("bigint").alias("morton"),
    )


#: sf_dir -> already-written partitioned-events scratch path (see
#: layout_partition_prune: one write per process, atexit-cleaned).
_PART_SCRATCH: dict[str, str] = {}


@query(
    "layout_compaction_bins",
    # Next-fit packing is a running sum + integer division over the
    # manifest — deterministic given manifest order (fileno), so both
    # engines produce identical bins.
    oracle="""
WITH f AS (
    SELECT doc_id // 50 AS fileno,
           CAST(SUM(n_chars) AS BIGINT) AS bytes
    FROM documents GROUP BY 1),
cum AS (
    SELECT fileno, bytes,
           SUM(bytes) OVER (ORDER BY fileno
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cc
    FROM f)
SELECT CAST((cc - bytes) // 65536 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
       MIN(fileno) AS first_fileno,
       MAX(fileno) AS last_fileno
FROM cum GROUP BY 1
""",
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: pack the file manifest into
    ~64 KiB output bins by next-fit over manifest order (bin = floor of
    the preceding cumulative size / target) — the table-maintenance
    step that keeps scan task counts proportional to data, not to
    historical write patterns. Files are simulated as 50-doc groups of
    the documents table (the fixture ships one parquet per table).

    Scale shape: the planner's input is the FILE MANIFEST — O(number of
    files) metadata, not O(rows) — so the single global running-sum
    window is a metadata operation (same accept as the rank twins'
    dim-sized windows); the expensive part, actually rewriting each
    bin, is embarrassingly parallel per bin."""
    f = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.expr("doc_id DIV 50").alias("fileno"))
        .agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    )
    w = Window.orderBy("fileno").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = f.withColumn("cc", F.sum("bytes").over(w))
    return (
        cum.groupBy(
            F.expr("(cc - bytes) DIV 65536").cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
            F.min("fileno").alias("first_fileno"),
            F.max("fileno").alias("last_fileno"),
        )
    )


@query(
    "layout_partition_prune",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_value_micro
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY 1
""",
)
def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read-back: events are
    written `partitionBy(event_date)` and re-read with a single-date
    filter — the storage-layout half of predicate pushdown. The scan
    plans ONLY the matching date directory (PartitionFilters in the
    scan node — plan-gated in tests/test_round5d.py); non-matching
    partitions are never listed into tasks, the property that turns a
    100 TB table into a 3 TB read for a one-day query. The checksum of
    the pruned read must equal filtering the original table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias(
            "value_micro"
        ),
        F.to_date("ts").alias("event_date"),
    )
    # One scratch write per (process, sf_dir): repeated construction —
    # plan lint, parametrized tests, bench warmup — reuses the layout
    # instead of leaking a fresh mkdtemp per call; atexit removes it.
    path = _PART_SCRATCH.get(sf_dir)
    if path is None:
        base = tempfile.mkdtemp(prefix="fs_part_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = os.path.join(base, "events_by_date")
        write_any(ev, path, partition_by=["event_date"])
        _PART_SCRATCH[sf_dir] = path
    back = spark.read.parquet(path).filter(
        F.col("event_date") == F.lit("2024-01-15").cast("date")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_micro").cast("bigint").alias("sum_value_micro"),
    )


# ---------------------------------------------------------------- layout


@query(
    "layout_zonemap_stats",
    # Two layouts of the same 50-doc files: natural (doc_id order) and
    # clustered (row_number by (n_chars, doc_id)). Zone map = per-file
    # MIN/MAX(n_chars); classes for predicate n_chars >= 450:
    # skip (hi < T), full (lo >= T), partial otherwise.
    oracle="""
WITH nat AS (
    SELECT doc_id // 50 AS fileno, n_chars FROM documents),
clu AS (
    SELECT (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) // 50
               AS fileno,
           n_chars
    FROM documents),
z AS (
    SELECT 'natural' AS layout, fileno,
           MIN(n_chars) AS lo, MAX(n_chars) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
    FROM nat GROUP BY 2
    UNION ALL
    SELECT 'clustered', fileno, MIN(n_chars), MAX(n_chars),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) AS BIGINT)
    FROM clu GROUP BY 2)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN hi < 450 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_skip,
       CAST(SUM(CASE WHEN lo >= 450 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_full,
       CAST(SUM(CASE WHEN hi >= 450 AND lo < 450 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_partial,
       CAST(SUM(CASE WHEN hi >= 450 THEN n_docs ELSE 0 END) AS BIGINT)
           AS n_docs_scanned,
       CAST(SUM(n_match) AS BIGINT) AS n_matching
FROM z GROUP BY 1
""",
)
def layout_zonemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max zone maps evaluated for `n_chars >= 450`
    under two layouts of the same 50-doc files: NATURAL (arrival
    order) and CLUSTERED (sorted by the predicate column). The output
    quantifies the whole point of clustering: under the natural layout
    every file straddles the range (zero skips — zone maps are
    useless), clustered nearly every non-matching file is skipped and
    `n_docs_scanned` collapses toward `n_matching`. This is the WHY
    artifact behind the Z-order layout and compaction ops: min/max
    pruning is a property of LAYOUT, not of the statistics.

    Scale shape: zone-map construction is one map-side-combined
    groupBy per layout to an O(files) frame; the clustered file
    assignment uses the two-pass bucketed `global_row_number` (no
    single-partition fact window); the summary is a metadata-frame
    aggregate. Identical `n_matching` across layouts doubles as an
    internal consistency check (tested)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = F.lit(450)
    nat = docs.select(
        F.expr("doc_id DIV 50").alias("fileno"), "n_chars"
    ).withColumn("layout", F.lit("natural"))
    ranked = global_row_number(docs, "n_chars", ["doc_id"], out_col="rn")
    clu = ranked.select(
        F.expr("CAST((rn - 1) DIV 50 AS BIGINT)").alias("fileno"), "n_chars"
    ).withColumn("layout", F.lit("clustered"))
    z = (
        nat.unionByName(clu)
        .groupBy("layout", "fileno")
        .agg(
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
        )
    )
    return z.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(F.col("hi") < t, 1).otherwise(0))
        .cast("bigint")
        .alias("n_skip"),
        F.sum(F.when(F.col("lo") >= t, 1).otherwise(0))
        .cast("bigint")
        .alias("n_full"),
        F.sum(F.when((F.col("hi") >= t) & (F.col("lo") < t), 1).otherwise(0))
        .cast("bigint")
        .alias("n_partial"),
        F.sum(F.when(F.col("hi") >= t, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_scanned"),
        F.sum("n_match").cast("bigint").alias("n_matching"),
    )


#: sf_dir -> (lineitem_table, orders_table) bucketed-table names already
#: created in this process's session catalog (files under the session
#: warehouse dir; metadata is session-scoped, so existence is re-checked
#: against the live catalog too).
_BUCKET_SCRATCH: dict[str, tuple[str, str]] = {}


@query(
    "layout_bucketed_join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the storage-layout answer to the
    biggest shuffle in the warehouse: lineitem and orders are written
    ONCE as bucketed tables (8 buckets on the join key, sorted within
    buckets), and every subsequent fact-to-fact join on that key runs
    with NO Exchange on either side (plan-gated in tests/test_round7.py
    — zero shuffles feeding the SortMergeJoin). At 100 TB this is the
    difference between re-shuffling both fact tables on every join and
    paying the layout cost once at ingest: the standard bucketing /
    storage-partitioned-join contract. The ``merge`` hint pins the
    sort-merge strategy so the gate proves bucketing (a broadcast would
    trivially have no shuffle and prove nothing)."""
    import hashlib

    names = _BUCKET_SCRATCH.get(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    lt, ot = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    if names is None or not spark.catalog.tableExists(lt):
        # EXTERNAL tables under a per-process scratch root: the shared
        # spark-warehouse location outlives the (session-scoped) table
        # metadata, so a managed table would hit LOCATION_ALREADY_EXISTS
        # on the next process (caught by the r7 full-registry sweep)
        root = tempfile.mkdtemp(prefix="fs_bkt_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        for t in (lt, ot):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(root, lt))
            .saveAsTable(lt)
        )
        (
            od.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(root, ot))
            .saveAsTable(ot)
        )
        _BUCKET_SCRATCH[sf_dir] = (lt, ot)
    j = (
        spark.table(lt)
        .hint("merge")
        .join(
            spark.table(ot),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )


@query(
    "layout_zorder_prune",
    # Everything runs in BUCKET space (16 user levels x 12 hour levels)
    # on both engines, so layouts, file boundaries, zone maps and the
    # predicate are integer-deterministic; the 1-D sort orders by the
    # SAME bucket column it is compared on (ordering by raw user_id
    # would agree on buckets but shuffle ties differently).
    oracle="""
WITH mx AS (SELECT MAX(user_id) AS mu FROM events),
e AS (
    SELECT event_id,
           LEAST(15, CAST(FLOOR(user_id * 16.0 / (mu + 1)) AS BIGINT))
               AS u_b,
           CAST(EXTRACT(hour FROM ts) // 2 AS BIGINT) AS h_b
    FROM events CROSS JOIN mx),
m AS (
    SELECT event_id, u_b, h_b,
           (((u_b >> 0) & 1) << 0) + (((h_b >> 0) & 1) << 1)
         + (((u_b >> 1) & 1) << 2) + (((h_b >> 1) & 1) << 3)
         + (((u_b >> 2) & 1) << 4) + (((h_b >> 2) & 1) << 5)
         + (((u_b >> 3) & 1) << 6) + (((h_b >> 3) & 1) << 7) AS morton
    FROM e),
lay AS (
    SELECT 'natural' AS layout, event_id // 500 AS fileno, u_b, h_b FROM m
    UNION ALL
    SELECT 'sorted_user',
           (ROW_NUMBER() OVER (ORDER BY u_b, event_id) - 1) // 500, u_b, h_b
    FROM m
    UNION ALL
    SELECT 'zorder',
           (ROW_NUMBER() OVER (ORDER BY morton, event_id) - 1) // 500,
           u_b, h_b
    FROM m),
f AS (
    SELECT layout, fileno,
           MIN(u_b) AS lo_u, MAX(u_b) AS hi_u,
           MIN(h_b) AS lo_h, MAX(h_b) AS hi_h,
           COUNT(*) AS n,
           SUM(CASE WHEN u_b BETWEEN 4 AND 11 AND h_b BETWEEN 4 AND 5
                    THEN 1 ELSE 0 END) AS nm
    FROM lay GROUP BY 1, 2)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN hi_u < 4 OR lo_u > 11 OR hi_h < 4 OR lo_h > 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skip,
       CAST(SUM(CASE WHEN hi_u < 4 OR lo_u > 11 OR hi_h < 4 OR lo_h > 5
                     THEN 0 ELSE n END) AS BIGINT) AS n_rows_scanned,
       CAST(SUM(nm) AS BIGINT) AS n_matching
FROM f GROUP BY 1
""",
)
def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-interleaved) clustering vs 1-D sort for 2-D
    zone-map pruning — the multi-dimensional extension of
    ``layout_zonemap_stats`` and the WHY behind Delta/Iceberg Z-ORDER:
    a 1-D user sort makes user-predicate pruning perfect and hour
    pruning useless (every file spans all hours); interleaving the bits
    of (user-bucket, hour-bucket) gives BOTH dimensions partial
    locality, so a 2-D box predicate (middle user band x morning hours)
    skips far more files than either 1-D layout. Quantifies all three
    layouts on identical 500-row files: n_skip / n_rows_scanned /
    n_matching per layout, with identical n_matching across layouts as
    the built-in consistency check.

    Scale shape: bucket + Morton are pure per-row integer expressions;
    the two sorted layouts use the two-pass range-bucketed
    ``global_row_number`` (no single-partition fact window — the
    Z-ORDER WRITE itself at 100 TB is exactly this global sort); file
    stats are one map-side-combined groupBy per layout to an O(files)
    frame; the summary aggregates the metadata frame."""
    from featurestore_for_joycastle_java_spark.operators.ranks import (
        global_row_number,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.hour("ts").alias("hr")
    )
    mx = ev.agg(F.max("user_id").alias("mu"))
    e = ev.crossJoin(F.broadcast(mx)).select(
        "event_id",
        F.least(
            F.lit(15),
            F.floor(F.col("user_id") * 16.0 / (F.col("mu") + 1)),
        )
        .cast("bigint")
        .alias("u_b"),
        F.floor(F.col("hr") / 2).cast("bigint").alias("h_b"),
    )

    def bit(c, i, k):
        return F.shiftleft(
            F.shiftright(F.col(c), i).bitwiseAND(F.lit(1)), k
        )

    morton = sum(
        [bit("u_b", i, 2 * i) for i in range(4)]
        + [bit("h_b", i, 2 * i + 1) for i in range(4)],
        F.lit(0),
    )
    m = e.withColumn("morton", morton)

    def filed(df, order_col):
        r = global_row_number(df, order_col, ["event_id"], out_col="__rn")
        return r.select(
            F.expr("CAST((__rn - 1) DIV 500 AS BIGINT)").alias("fileno"),
            "u_b",
            "h_b",
        )

    nat = m.select(
        F.expr("event_id DIV 500").alias("fileno"), "u_b", "h_b"
    ).withColumn("layout", F.lit("natural"))
    srt = filed(m, "u_b").withColumn("layout", F.lit("sorted_user"))
    zo = filed(m, "morton").withColumn("layout", F.lit("zorder"))

    match = (F.col("u_b").between(4, 11)) & (F.col("h_b").between(4, 5))
    f = (
        nat.unionByName(srt)
        .unionByName(zo)
        .groupBy("layout", "fileno")
        .agg(
            F.min("u_b").alias("lo_u"),
            F.max("u_b").alias("hi_u"),
            F.min("h_b").alias("lo_h"),
            F.max("h_b").alias("hi_h"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(match, 1).otherwise(0)).alias("nm"),
        )
    )
    skip = (
        (F.col("hi_u") < 4)
        | (F.col("lo_u") > 11)
        | (F.col("hi_h") < 4)
        | (F.col("lo_h") > 5)
    )
    return f.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(skip, 1).otherwise(0)).cast("bigint").alias("n_skip"),
        F.sum(F.when(skip, 0).otherwise(F.col("n")))
        .cast("bigint")
        .alias("n_rows_scanned"),
        F.sum("nm").cast("bigint").alias("n_matching"),
    )


#: sf_dir -> scratch root holding the two heterogeneous-schema parquet
#: batches (one write per process, atexit-cleaned).
_EVOLVE_SCRATCH: dict[str, str] = {}


@query(
    "layout_schema_evolution",
    # The batches are DERIVED from orders deterministically (even keys =
    # v1 without o_orderstatus, odd keys = v2 without o_custkey), so the
    # mergeSchema fill-null contract is declaratively restatable on the
    # base table: a column is present exactly on its batch's rows.
    oracle="""
SELECT * FROM (
SELECT 'o_custkey' AS column_name,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       (SELECT COUNT(o_custkey) FROM orders WHERE o_orderkey % 2 = 0)
           AS n_present
UNION ALL
SELECT 'o_orderkey', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(o_orderkey) FROM orders)
UNION ALL
SELECT 'o_orderstatus', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(o_orderstatus) FROM orders WHERE o_orderkey % 2 = 1)
UNION ALL
SELECT 'o_totalprice', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(o_totalprice) FROM orders)
) ORDER BY column_name
""",
)
def layout_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two ingestion batches written with
    DIFFERENT schemas (v1 carries ``o_custkey``, v2 drops it and adds
    ``o_orderstatus``) are read back as ONE table under
    ``mergeSchema=true``, and the audit counts per-column presence across
    the unified frame — pinning the fill-null contract (a column absent
    from a file reads as null for that file's rows, never an error).

    This is the lakehouse reality a 100 TB corpus lives with: producers
    evolve additively over years, and the reader must unify thousands of
    heterogeneous footers. ``mergeSchema`` pays a per-file footer read at
    planning (why Delta/Iceberg move the unified schema into the
    transaction log instead — same read semantics, O(1) planning); the
    audit itself is one scan with per-column count aggregates, map-side
    combined. Scratch batches are written once per process and
    atexit-cleaned (plan-lint eager list, tests/test_plan_lint.py).
    """
    root = _EVOLVE_SCRATCH.get(sf_dir)
    if root is None or not os.path.isdir(root):
        root = tempfile.mkdtemp(prefix="fs_evolve_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "b1"))
        )
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "b2"))
        )
        _EVOLVE_SCRATCH[sf_dir] = root

    unified = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "b1"), os.path.join(root, "b2")
    )
    cols = ["o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"]
    assert sorted(unified.columns) == cols, unified.columns
    wide = unified.agg(
        F.count(F.lit(1)).alias("__rows"),
        *[F.count(c).alias(f"{c}__p") for c in cols],
    )
    lanes = ", ".join(f"'{c}', __rows, {c}__p" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {lanes}) AS (column_name, n_rows, n_present)"
    ).orderBy("column_name")


# ------------------------------------------------- parquet inventory


@query(
    "layout_file_inventory",
    oracle="""
SELECT 'orders' AS table_name, 'orders.parquet' AS file_name,
       COUNT(*) AS n_rows FROM orders
UNION ALL
SELECT 'customer', 'customer.parquet', COUNT(*) FROM customer
UNION ALL
SELECT 'lineitem', 'lineitem.parquet', COUNT(*) FROM lineitem
""",
)
def layout_file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical file inventory through Spark's hidden ``_metadata``
    column: per parquet file, its basename and row count — the
    storage-introspection door (file skew, small-file detection,
    compaction planning inputs) that reads NO data columns: the row
    count groups by a constant-per-file metadata column, so column
    pruning reduces the scan to file enumeration + counts. The oracle
    restates the same truth declaratively (one file per table in the
    fixtures, basenames deterministic) because DuckDB table functions
    take literal paths and oracles must stay SF-independent; the
    footer route (``parquet_file_metadata``) was verified equivalent
    once at sf0.01 during development."""
    out = None
    for t in ("orders", "customer", "lineitem"):
        d = (
            load_table(spark, sf_dir, t)
            .select(F.col("_metadata.file_name").alias("file_name"))
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                F.lit(t).alias("table_name"), "file_name", "n_rows"
            )
        )
        out = d if out is None else out.unionAll(d)
    return out


@query(
    "layout_overlap_depth",
    oracle="""
WITH f AS (
    SELECT l_orderkey // 400 AS file_id,
           CAST(MIN(l_partkey) AS BIGINT) AS lo,
           CAST(MAX(l_partkey) AS BIGINT) AS hi
    FROM lineitem GROUP BY 1),
ev AS (
    SELECT lo AS pos, 1 AS delta, 0 AS tie FROM f
    UNION ALL
    SELECT hi, -1, 1 FROM f),
sweep AS (
    SELECT pos,
           CAST(SUM(delta) OVER (ORDER BY pos, tie
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS depth
    FROM ev),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files FROM f)
SELECT n.n_files,
       CAST(MAX(sweep.depth) AS BIGINT) AS max_overlap_depth,
       CAST((MAX(sweep.depth) * 1000000) // n.n_files AS BIGINT)
           AS depth_ratio_ppm
FROM sweep, n
GROUP BY n.n_files
""",
)
def layout_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonemap overlap depth for a simulated file layout: bucket
    lineitem into 'files' by order-key ranges (the natural ingest
    order), take each file's (min, max) zonemap on l_partkey — a column
    UNCORRELATED with ingest order — and sweep the interval set for the
    maximum number of files whose partkey ranges overlap at one point.
    This is THE metric behind Delta/Iceberg re-clustering decisions
    (OPTIMIZE ZORDER triggers when depth ≈ file count): depth 1 means
    partkey predicates prune to one file, depth ≈ n_files means zonemaps
    prune nothing — which is exactly what this fixture shows, and why
    ``layout_zorder_prune`` exists. Sweep is the classic
    boundary-event trick: +1 at each min, −1 after each max (tie column
    orders closes after opens at equal positions, counting touching
    intervals as overlapping), running max — all exact integers.

    Plan shape: one hash aggregate to n_files rows, one window over
    2·n_files boundary events (file-count-bounded, never row-bounded),
    one 1-row result. At 100 TB, n_files is the table's file count —
    exactly the frame a metadata service holds in memory."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy(
        F.expr("l_orderkey DIV 400").alias("file_id")
    ).agg(
        F.min("l_partkey").cast("bigint").alias("lo"),
        F.max("l_partkey").cast("bigint").alias("hi"),
    )
    ev = f.select(
        F.col("lo").alias("pos"), F.lit(1).alias("delta"), F.lit(0).alias("tie")
    ).unionByName(
        f.select(
            F.col("hi").alias("pos"),
            F.lit(-1).alias("delta"),
            F.lit(1).alias("tie"),
        )
    )
    w = Window.orderBy("pos", "tie").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = ev.select(F.sum("delta").over(w).cast("bigint").alias("depth"))
    n = f.agg(F.count(F.lit(1)).alias("n_files"))
    return (
        sweep.agg(F.max("depth").alias("max_overlap_depth"))
        .crossJoin(F.broadcast(n))
        .select(
            "n_files",
            "max_overlap_depth",
            F.expr(
                "CAST((max_overlap_depth * 1000000) DIV n_files AS BIGINT)"
            ).alias("depth_ratio_ppm"),
        )
    )
