"""Relational surface queries (SURVEY.md §2.2): scans, filters and
projections; all join types (broadcast/shuffle, semi/anti/cross, full
outer, skew-salted); aggregations (partial+final, distinct, rollup/cube/
grouping sets, stats, sketches, incremental merge); sorts/limits; set
ops; SQL subqueries; pivot/explode reshapes; splits and file-format
round-trips.

Oracle-parity conventions (driver hashes values with columns sorted by
name): every computed column aliased identically both sides; integer sums
CAST to BIGINT in DuckDB (SUM(int) is HUGEINT there); dates rendered via
date_format/strftime, never as raw timestamps.

Float-summation rule (learned the hard way — see git history): ROUND(SUM(x),
k) is deterministic across engines only when the data is exact k-decimal
(the true sum then sits ON a grid point, never a midpoint). Derived money
(price*(1-disc) is 4-decimal, *(1+tax) is 6-decimal) summed over large
groups accumulates enough cross-engine summation-order error to straddle
rounding midpoints. The bulletproof pattern used here: fixed-point exact
summation (``operators.relational.exact_sum`` — semantics of SUM(CAST(x AS
DECIMAL(_,6))), but on codegen'd long accumulators, ~4x faster than Spark's
128-bit decimal sum), then one cast to double that is bit-identical in both
engines. The DuckDB oracles keep the equivalent CAST-to-DECIMAL spelling.
This is also the right answer at 100 TB (no silent cents drift): the long
accumulators overflow only past ~1e13 rows per group."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.catalog.features import (
    _events_us,
    _split_mid,
)
from featurestore_for_joycastle_java_spark.operators.bloom import bloom_prune
from featurestore_for_joycastle_java_spark.operators.ranks import (
    global_row_number,
    grouped_prefix_sum,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    exact_sum,
    salted_join,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import (
    load_table,
    read_any,
    scratch_dir,
    write_any,
)


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


@query(
    "agg_distinct_counts",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CAST(FLOOR(value) AS BIGINT)) AS n_value_buckets,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg in Spark). Bucketing
    uses floor(), not cast-to-int: DuckDB's double→int CAST rounds to
    nearest while Spark truncates — floor is the portable spelling."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.floor("value")).alias("n_value_buckets"),
        F.count(F.lit(1)).alias("n_events"),
    )


# The rows-only ``agg_approx_distinct`` query was retired: it was the
# same HLL sketch as ``agg_approx_distinct_bounded`` minus the
# bounded-error oracle — strictly weaker, no extra coverage.


@query(
    "agg_rollup",
    oracle="""
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status → status+priority → grand total)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "agg_cube",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n_items,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both grouping dimensions (all 2^2 grouping sets)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (spark.sql path)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_stats",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*) AS avg_bal,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal,
       ROUND(SQRT((CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(29,8))) AS DOUBLE)
             - CAST(SUM(CAST(c_acctbal AS DECIMAL(23,6))) AS DOUBLE)
               * CAST(SUM(CAST(c_acctbal AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)), 4) AS std_bal,
       ROUND(QUANTILE_CONT(c_acctbal, 0.5), 4) AS median_bal
FROM customer
GROUP BY c_nationkey
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: avg and sample stddev from exact decimal
    moments (x and x² are 2/4-decimal → decimal sums are exact and order-
    independent). The final decimal→double conversion of the x² sum is not
    correctly-rounded identically in both engines (last-ulp drift), so
    std gets a 4dp snap — safe because both sides agree to ~1e-9. Median =
    interpolated percentile (same type-7 definition as quantile_cont)."""
    c = F.col("c_acctbal")
    sx = exact_sum(c)
    sx2 = exact_sum(c * c, dp=8)
    n = F.count(F.lit(1))
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            n.alias("n_cust"),
            (sx / n).alias("avg_bal"),
            F.min(c).alias("min_bal"),
            F.max(c).alias("max_bal"),
            F.round(F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1))), 4).alias("std_bal"),
            F.round(F.percentile(c, 0.5), 4).alias("median_bal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
SELECT c_custkey,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spend
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (n_orders=0 rows)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having a finished order. No row
    multiplication — the build side only answers existence."""
    cust = load_table(spark, sf_dir, "customer")
    fin = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        fin, cust.c_custkey == fin.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_cross",
    oracle="""
SELECT r_name, seg AS segment
FROM region
CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny distinct sets (5 x 5) — the only sane cross
    join shape; anything larger must be an LSH/bucketed join instead."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    segs = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
    )
    return region.crossJoin(segs)


@query(
    "join_range_theta",
    oracle="""
SELECT p_partkey, p_retailprice, bucket_lo, bucket_hi
FROM part
JOIN (
    SELECT 0.0 AS bucket_lo, 500.0 AS bucket_hi
    UNION ALL SELECT 500.0, 1000.0
    UNION ALL SELECT 1000.0, 1500.0
    UNION ALL SELECT 1500.0, 100000.0
) buckets
  ON p_retailprice >= bucket_lo AND p_retailprice < bucket_hi
""",
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range-condition) join against a tiny broadcast bucket table —
    Spark plans BroadcastNestedLoopJoin; fine because the inner side is 4
    rows. Large-large range joins must bucketize first (see asof module)."""
    part = load_table(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [(0.0, 500.0), (500.0, 1000.0), (1000.0, 1500.0), (1500.0, 100000.0)],
        "bucket_lo double, bucket_hi double",
    )
    return part.join(
        F.broadcast(buckets),
        (part.p_retailprice >= buckets.bucket_lo)
        & (part.p_retailprice < buckets.bucket_hi),
    ).select("p_partkey", "p_retailprice", "bucket_lo", "bucket_hi")


# --- Sorts / limits / set ops ----------------------------------------------


@query(
    "sort_limit_topn",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject (per-partition heap
    + driver merge of N), never a full sort. Unique tiebreak (orderkey)
    makes the result set deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "setops_nations",
    oracle="""
SELECT 'union' AS op, k FROM (
    SELECT DISTINCT c_nationkey AS k FROM customer
    UNION
    SELECT DISTINCT s_nationkey AS k FROM supplier)
UNION ALL
SELECT 'intersect' AS op, k FROM (
    SELECT DISTINCT c_nationkey AS k FROM customer
    INTERSECT
    SELECT DISTINCT s_nationkey AS k FROM supplier)
UNION ALL
SELECT 'except' AS op, k FROM (
    SELECT DISTINCT c_nationkey AS k FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey AS k FROM supplier)
""",
)
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics) tagged into one
    result: nation keys present in customers vs suppliers."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    cd, sd = c.distinct(), s.distinct()
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "k")  # noqa: E731
    return (
        tag(cd.union(sd).distinct(), "union")
        .unionAll(tag(cd.intersect(sd), "intersect"))
        .unionAll(tag(cd.subtract(sd), "except"))
    )


@query(
    "filter_project_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
""",
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare scan+filter+project — exists to keep the pushdown honest: the
    plan must show PushedFilters [l_quantity > 45, l_returnflag = 'R'] and
    a 5-column ReadSchema (verified in tests/test_plans.py)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "join_full_outer",
    oracle="""
SELECT n_name,
       CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp,
       CAST(COALESCE(total_bal, 0) AS DOUBLE) AS total_bal
FROM nation
FULL JOIN (
    SELECT s_nationkey,
           COUNT(*) AS n_supp,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(23,6))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey) s
  ON n_nationkey = s_nationkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: every nation (suppliers or not) + every supplier
    nation (known or not) — nulls coalesced to zeros."""
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            exact_sum(F.col("s_acctbal")).alias("total_bal"),
        )
    )
    return nation.join(
        supp, nation.n_nationkey == supp.s_nationkey, "full"
    ).select(
        "n_name",
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        F.coalesce("total_bal", F.lit(0.0)).alias("total_bal"),
    )


@query(
    "setops_bag",
    oracle="""
SELECT 'intersect_all' AS op, o_orderpriority FROM (
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'except_all' AS op, o_orderpriority FROM (
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
""",
)
def setops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) semantics: INTERSECT ALL / EXCEPT ALL preserve
    multiplicities — the other half of the set-op surface."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    p = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "o_orderpriority")  # noqa: E731
    return tag(f.intersectAll(p), "intersect_all").unionAll(
        tag(f.exceptAll(p), "except_all")
    )


@query(
    "agg_pivot",
    oracle="""
SELECT CAST(FLOOR(user_id / 10) AS BIGINT) AS user_bucket,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY CAST(FLOOR(user_id / 10) AS BIGINT)
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide counts per category) with an explicit value list — the
    scalable form: no extra pass to discover categories, output width
    fixed at plan time."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.floor(F.col("user_id") / 10).alias("user_bucket"))
        .pivot("event_type", types)
        .count()
    )
    return wide.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


_ROUNDTRIP_AGG = """
SELECT '{fmt}' AS fmt,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(23,6))) AS DOUBLE) AS sum_qty,
       COUNT(DISTINCT l_returnflag) AS n_flags
FROM lineitem WHERE l_orderkey % 10 = 0
"""


@query(
    "formats_roundtrip",
    oracle=" UNION ALL ".join(
        _ROUNDTRIP_AGG.format(fmt=f) for f in ("csv", "json", "orc")
    ),
)
def formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv/json/orc sink+scan round-trip fidelity: write a lineitem slice
    in each format, read it back with an explicit schema, checksum — must
    equal the parquet original (columns chosen to be lossless in text
    formats: integers, integer-valued doubles, strings)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )
    schema = "l_orderkey long, l_linenumber int, l_quantity double, l_returnflag string"
    out = None
    base = scratch_dir("fs_fmt_")
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(base, fmt)
        write_any(li, path, fmt=fmt)
        back = read_any(spark, path, fmt=fmt, schema=schema)
        agg = back.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            F.countDistinct("l_returnflag").alias("n_flags"),
        ).select("fmt", "n_rows", "sum_qty", "n_flags")
        out = agg if out is None else out.unionAll(agg)
    return out


_SCALAR_SUBQ = """
SELECT c_custkey, c_acctbal,
       ROUND((SELECT AVG(c_acctbal) FROM customer), 6) AS avg_bal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
"""


@query("subquery_scalar", oracle=_SCALAR_SUBQ)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in both projection and predicate —
    Catalyst plans it as a one-row subquery broadcast, the fact scan stays
    single-pass. Identical ANSI text runs on both engines."""
    _views(spark, sf_dir, "customer")
    return spark.sql(_SCALAR_SUBQ)


_EXISTS_SUBQ = """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
  AND NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
                    AND l.l_quantity >= 49)
"""


@query("subquery_exists", oracle=_EXISTS_SUBQ)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — Catalyst decorrelates to a
    left-semi + left-anti join (verify with .explain); no per-row
    re-execution of the inner query at any scale."""
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_EXISTS_SUBQ)


_IN_SUBQ = """
SELECT 'in' AS op, COUNT(*) AS n
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'not_in' AS op, COUNT(*) AS n
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
"""


@query("subquery_in_notin", oracle=_IN_SUBQ)
def subquery_in_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries, including NOT IN's three-valued-logic
    behavior (a NULL in the subquery empties the NOT IN result — both
    engines implement it; o_custkey is non-null here so counts add up)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_IN_SUBQ)


@query(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
       ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50_qty,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
       ROUND(median(l_extendedprice), 6) AS median_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear-interpolation continuous quantiles) and
    median per group. Exact percentile needs the group's values together
    — one shuffle on the group key; at 100 TB prefer approx_percentile
    (see agg_approx_percentile_bounded in this module for the
    bounded-error sketch-side check)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25_qty"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
    )


@query(
    "join_salted_skew",
    oracle="""
WITH dim AS (
    SELECT event_type, COUNT(*) AS type_total
    FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, d.type_total
FROM events e JOIN dim d USING (event_type)
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: events' event_type distribution is heavily skewed
    (a handful of hot keys), so the fact key is salted ×16 and the dim
    replicated — row-identical to the plain join (the oracle IS the plain
    join), but no single reducer owns a hot key."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_total"))
    return salted_join(
        ev, dim, on=["event_type"], n_salt=16, salt_source="event_id"
    ).select("event_id", "event_type", "type_total")


@query(
    "reshape_unpivot",
    oracle="""
SELECT c_nationkey, metric, val
FROM (SELECT c_nationkey,
             CAST(COUNT(*) AS DOUBLE) AS n_cust,
             ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(23,6))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_bal,
             MAX(c_acctbal) AS max_bal
      FROM customer GROUP BY c_nationkey)
UNPIVOT (val FOR metric IN (n_cust, avg_bal, max_bal))
""",
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt): per-nation metrics melted to
    (key, metric, value) rows — pivot's inverse, a pure projection
    (no shuffle beyond the feeding agg)."""
    wide = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_cust"),
            F.round(
                exact_sum(F.col("c_acctbal")) / F.count(F.lit(1)),
                6,
            ).alias("avg_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )
    return wide.unpivot(
        ["c_nationkey"], ["n_cust", "avg_bal", "max_bal"], "metric", "val"
    )


@query(
    "split_train_test",
    oracle="""
SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM (SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS bucket
            FROM documents))
GROUP BY split
""",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by content-addressed
    hash bucket (md5 of the id) — the training-pipeline staple: stable
    under reruns, re-shards, and cluster-size changes, no stored split
    table, and portable across engines (unlike seeded sample())."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        d.select(F.col("doc_id"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "agg_approx_distinct_bounded",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY event_type
""",
)
def agg_approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error check for the HLL path (r1's ``agg_approx_distinct``
    was rows-only): per event type, |approx - exact| / exact must stay
    within 5% (2.5x the rsd=0.02 sketch bound; measured max 0.4% at
    sf0.1). The oracle asserts the bound by construction — if the sketch
    drifts past 5% the boolean flips and the value-hash fails. Exact count
    rides along so the row is still anchored to real data."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_5pct"),
        )
    )


@query(
    "agg_approx_percentile_bounded",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50_exact,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
       TRUE AS within_2pct
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_percentile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path with a bounded-error oracle:
    approx_percentile (GK sketch, accuracy=1000 → rank error ≤ 0.1%)
    against the exact interpolated percentile per group. Exact values are
    oracle-matched; the sketch must land within 2% relative (measured max
    0.27% across sf0.001-0.1). Complements ``agg_percentiles`` (exact
    only), which its own docstring flags as the thing NOT to run on a
    100 TB fact."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exact-percentile buffer (array form) + one sketch per group —
    # not three separate percentile aggregates for the same column
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("__ex"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("__ap"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("__ex")[0], 6).alias("p50_exact"),
            F.round(F.col("__ex")[1], 6).alias("p95_exact"),
            (
                F.abs(F.col("__ap") - F.col("__ex")[0]) / F.col("__ex")[0]
                <= 0.02
            ).alias("within_2pct"),
        )
    )


@query(
    "agg_value_histogram",
    oracle="""
SELECT event_type,
       CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
       ROUND(CAST(FLOOR(value / 5.0) AS BIGINT) * 5.0, 1) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (width-5 buckets):
    the distribution profile behind dashboards and data-quality checks.
    Pure map-side bucketing + one combined aggregation — the bucket id
    is arithmetic on the row, so the shuffle carries one row per
    (type, bucket), not per event."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 5.0)
    return ev.groupBy(
        "event_type",
        bucket.alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value")).alias("sum_value"),
    ).select(
        "event_type",
        "bucket",
        F.round(F.col("bucket") * 5.0, 1).alias("bucket_lo"),
        "n_events",
        "sum_value",
    )


@query(
    "agg_hll_mergeable_distinct",
    # The estimate itself is engine-local (DataSketches HLL), so the
    # oracle pins the EXACT distinct count plus the 5%-relative-error
    # boolean — the same bounded-error pattern as
    # agg_approx_distinct_bounded, but here the sketch is built in
    # PARTS (one per event_type) and merged, which is the property that
    # matters at scale and the property a broken merge would break.
    oracle="""
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_parts,
       TRUE AS est_ok
FROM events
""",
    bench=False,  # verification harness (sketch build + exact twin)
)
def agg_hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches — the pre-aggregated-rollup property that
    makes approximate distinct usable at 100 TB: build one HLL sketch of
    user_id PER event_type (five independent partial sketches, as a
    rollup table would persist them), union-merge the sketch column, and
    estimate the global distinct count from the merge alone. The
    estimate must land within 5% of the exact count (relative error of
    the default lgConfigK=12 is ~1.6%, so the bound only trips on a
    broken build/merge, not on sketch variance). A naive
    approx_count_distinct re-scans raw data for every roll-up window;
    mergeable sketches make each window a metadata operation."""
    ev = load_table(spark, sf_dir, "events")
    parts = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = parts.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.crossJoin(merged).select(
        "n_exact",
        "n_parts",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= 0.05
        ).alias("est_ok"),
    )


@query(
    "agg_countmin_user_counts",
    # The sketch is deterministic md5 arithmetic, so unlike HLL this one
    # replays COMPLETELY cross-engine: DuckDB rebuilds all d×w counters,
    # re-derives every key's d cells, takes the same min — full value
    # oracle on the estimates themselves, plus the structural
    # never-underestimates boolean.
    oracle="""
WITH cells AS (
    SELECT i.i AS row_i,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' || i.i),
                                1, 15)) AS BIGINT) % 64 AS col_j,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events CROSS JOIN range(4) AS i(i)
    GROUP BY 1, 2),
keys AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM events GROUP BY 1),
est AS (
    SELECT k.user_id, k.n_exact, MIN(c.c) AS cms_est
    FROM keys k
    CROSS JOIN range(4) AS i(i)
    JOIN cells c
      ON c.row_i = i.i
     AND c.col_j = CAST(('0x' || substr(md5(CAST(k.user_id AS VARCHAR)
                                            || '_' || i.i), 1, 15))
                        AS BIGINT) % 64
    GROUP BY 1, 2)
SELECT user_id, n_exact, cms_est, cms_est >= n_exact AS never_under
FROM est
""",
)
def agg_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter counts (Cormode & Muthukrishnan
    2005): d=4 hash rows × w=64 counters estimate every user's event
    count from a 256-cell table — constant memory regardless of key
    cardinality, mergeable across partitions/streams by cell-wise
    addition (the partial aggregation IS the merge). Hashing is
    md5-derived (engine-portable, no seed), so the oracle rebuilds the
    identical sketch and the VALUE of every estimate is checked, not
    just a bound; ``never_under`` pins CMS's one-sided error
    structurally. Build shape: explode d rows per event → groupBy
    (row, col) map-side-combines to d·w cells before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    d, wdt = 4, 64

    def cell(key_col, i):
        h = F.conv(
            F.substring(
                F.md5(F.concat(key_col.cast("string"), F.lit(f"_{i}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return h % wdt

    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row_i"),
                            cell(F.col("user_id"), i).alias("col_j"),
                        )
                        for i in range(d)
                    ]
                )
            ).alias("rc")
        )
        .groupBy("rc.row_i", "rc.col_j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    lookups = keys.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        cell(F.col("user_id"), i).alias("col_j"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("rc"),
    ).select("user_id", "n_exact", "rc.row_i", "rc.col_j")
    est = (
        lookups.join(F.broadcast(cells), ["row_i", "col_j"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "cms_est",
        (F.col("cms_est") >= F.col("n_exact")).alias("never_under"),
    )


@query(
    "agg_incremental_merge",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY 1
""",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: partial states (count / exact
    decimal sum / min / max) computed INDEPENDENTLY over two time slices
    of the stream, then merged — and the merge provably equals the full
    recompute (the oracle). This is the mergeability contract that makes
    100 TB rollups metadata operations: yesterday's persisted state +
    today's batch partials, never a re-scan of history. Decimal sums
    keep the merge order-independent and exact; min/max/count are
    trivially associative."""
    e = _events_us(spark, sf_dir)
    before, after = _split_mid(e)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("value").cast("decimal(23,6)")).alias("__s"),
            F.min("value").alias("__mn"),
            F.max("value").alias("__mx"),
        )

    return (
        partial(before)
        .unionByName(partial(after))
        .groupBy("event_type")
        .agg(
            F.sum("__n").alias("n_events"),
            F.sum("__s").cast("double").alias("sum_value"),
            F.min("__mn").alias("min_value"),
            F.max("__mx").alias("max_value"),
        )
    )


@query(
    "agg_salted_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1
""",
)
def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted EXACT distinct count: stage 1 groups by
    (event_type, hash(user_id) % 64) and counts distinct users inside
    each salt partition; stage 2 SUMS the per-salt counts. The sum is
    exact — not approximate — because the salt is a pure function of
    the counted key, so the per-salt distinct sets partition the key
    space (no user spans two salts). Skew treatment for COUNT(DISTINCT)
    on a hot group key at 100 TB: Spark's plain countDistinct already
    spreads the DEDUP phase on (group, key), but its COUNT phase then
    funnels one row per distinct key of a hot group through a single
    reducer; the salt splits that phase 64 ways and leaves only 64
    pre-counted rows per group for the final exchange (plan-gated in
    tests/test_plans.py). The salt never leaves the plan, so
    engine-specific hashing is invisible to the oracle."""
    e = load_table(spark, sf_dir, "events")
    stage1 = e.groupBy(
        "event_type",
        F.pmod(F.hash("user_id"), F.lit(64)).alias("__salt"),
    ).agg(
        F.countDistinct("user_id").alias("__d"),
        F.count(F.lit(1)).alias("__c"),
    )
    return stage1.groupBy("event_type").agg(
        F.sum("__d").alias("n_users"),
        F.sum("__c").alias("n_events"),
    )


@query(
    "join_bloom_prune",
    # The oracle is bloom-independent BY DESIGN: the bloom only thins the
    # fact side before the exact join, so the final result must equal the
    # plain join (false positives removed by the join, false negatives
    # impossible — pinned by tests/test_round5c.py).
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(23,6))) AS DOUBLE)
           AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1
""",
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim→fact join with explicit Bloom shuffle-reduction:
    BUILDING-segment customers (a ~20% slice of an already small dim)
    filter orders; the Bloom bitmap of their keys broadcasts to the
    orders scan and rejects non-matching rows map-side, so the join's
    shuffle carries ~the output instead of the whole fact table. At
    100 TB this is the difference between shuffling 100 TB and shuffling
    the few TB that survive — the same effect Spark's runtime row-level
    bloom targets, in explicit, plan-testable form
    (``operators/bloom.py``). The exact join afterwards removes bloom
    false positives, so correctness never depends on filter tuning."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    pruned = bloom_prune(orders, cust, "o_custkey", "c_custkey")
    return (
        pruned.join(F.broadcast(cust), pruned.o_custkey == cust.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "agg_sliding_distinct_wau",
    oracle="""
WITH du AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
    FROM events),
days AS (SELECT DISTINCT d FROM du)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       COUNT(DISTINCT du.user_id) AS wau
FROM du JOIN days ON days.d BETWEEN du.d AND du.d + 6
GROUP BY 1
""",
)
def agg_sliding_distinct_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling active users (WAU) per observed day — EXACT sliding
    DISTINCT, the aggregate plain window frames cannot express without a
    per-day re-scan. Rewrite: dedup to (user, day) first (the only
    full-fact shuffle, map-side combined), explode each pair to the ≤7
    target days it serves, semi-join to observed days (tiny, broadcast),
    then count distinct per target day. Work is bounded at 7× the
    *distinct* pairs — independent of raw event volume — and every stage
    partitions by its key. The approximate path at extreme cardinality is
    the day-level HLL-partial union (``agg_hll_mergeable_distinct``
    pattern: union 7 day-sketches per target day); this exact form is
    preferred while distinct pairs fit a shuffle."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day_d"),
        "user_id",
    )
    out = (
        contrib.join(
            F.broadcast(days.withColumnRenamed("d", "day_d")), "day_d"
        )
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return out.select(
        F.date_format("day_d", "yyyy-MM-dd").alias("day"), "wau"
    )


@query(
    "agg_mode_per_group",
    oracle="""
WITH c AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2),
r AS (
    SELECT user_id, event_type, n,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
    FROM c)
SELECT user_id, event_type AS top_type, n AS n_top
FROM r WHERE rk = 1
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (each user's most frequent event type,
    ties → lexicographically smallest) as a PURE AGGREGATION:
    min(struct(-n, type)) over the (user, type) counts — struct
    comparison is lexicographic, so the min is max-count-then-min-type.
    No window anywhere: both stages are hash aggregations with map-side
    combine, so each of the two key-shrinking shuffles carries partials
    ((user,type) counts, then per-user min-structs) — never raw fact
    rows, and never the sort-without-partial-agg a rank-filter window
    rewrite would pay."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    s = F.min(
        F.struct(
            (-F.col("n")).alias("neg_n"), F.col("event_type").alias("t")
        )
    ).alias("s")
    return c.groupBy("user_id").agg(s).select(
        "user_id",
        F.col("s.t").alias("top_type"),
        (-F.col("s.neg_n")).alias("n_top"),
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT user_id // 64) AS n_words
FROM events
GROUP BY 1
""",
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (roaring-style
    chunking): user ids bucket into 64-bit words (id DIV 64 → bit_or of
    shifted bits), then popcounts sum per group. Unlike HLL partials
    (`agg_hll_mergeable_distinct`) the merge is exact, and unlike plain
    countDistinct the shuffled state is one row per OCCUPIED word
    (≥64× row compression on dense id spaces, and words merge
    associatively — rollups stay metadata-cost). n_words doubles as the
    state-size audit the bitmap-vs-HLL decision needs. Dense-id
    assumption documented: sparse 64-bit id spaces should hash-compact
    ids first or fall back to HLL."""
    ev = load_table(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.expr("user_id DIV 64").alias("w"),
            F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))").alias("bit"),
        )
        .groupBy("event_type", "w")
        .agg(F.bit_or("bit").alias("mask"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("n_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


@query(
    "agg_hll_sliding_wau",
    # Verification-harness shape (the agg_hll_mergeable_distinct
    # pattern): the oracle recomputes the EXACT per-day WAU and asserts
    # the per-day sketch estimate landed within 5% (lgConfigK=12 ≈ 1.6%
    # rel. error — the bound trips on a broken merge, not variance).
    oracle="""
WITH du AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
    FROM events),
days AS (SELECT DISTINCT d FROM du)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       COUNT(DISTINCT du.user_id) AS n_exact,
       TRUE AS est_ok
FROM du JOIN days ON days.d BETWEEN du.d AND du.d + 6
GROUP BY 1
""",
    bench=False,  # verification harness (sketch path + exact twin)
)
def agg_hll_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for `agg_sliding_distinct_wau`: ONE HLL sketch
    per (day) — built once, each the size of a rollup-table cell — then
    every 7-day window is a union-merge of ≤7 day sketches (a metadata
    operation; the raw data is never re-scanned per window). The exact
    rewrite explodes 7× the distinct pairs; the sketch path explodes 7×
    the DAYS. Per-day estimates must land within 5% of the exact WAU
    (computed alongside as the verification twin)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id")
    day_sk = du.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = day_sk.select("d").withColumnRenamed("d", "day_d")
    contrib = day_sk.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "day_d"
        ),
        "sk",
    )
    est = (
        contrib.join(F.broadcast(days), "day_d")
        .groupBy("day_d")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        du.distinct()
        .select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("day_d"),
            "user_id",
        )
        .join(F.broadcast(days), "day_d")
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return exact.join(est, "day_d").select(
        F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= 0.05
        ).alias("est_ok"),
    )


@query(
    "join_incremental_delta",
    # The oracle is the FULL recompute: the incremental 4-way delta
    # composition must reproduce it exactly — the identity
    # (A∪ΔA)⋈(B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB.
    oracle="""
SELECT l.l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(23,6))) AS DOUBLE)
           AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def join_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN: with a new batch ΔA, ΔB
    arriving on top of base A, B, the maintained join is the base result
    plus three delta joins (ΔA⋈B, A⋈ΔB, ΔA⋈ΔB) — each sized by the
    DELTA, so the per-batch cost is O(|Δ|·fanout), never a re-scan of
    the full join (the identity `agg_incremental_merge` provides for
    aggregates, extended to joins). Base/delta split here is a
    deterministic key slice (orderkey mod 5); the aggregate over the
    4-way union must equal the full recompute, which is the oracle."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    oa = o.filter(F.col("o_orderkey") % 5 != 0)
    od = o.filter(F.col("o_orderkey") % 5 == 0)
    la = li.filter(F.col("l_orderkey") % 3 != 0)
    ld = li.filter(F.col("l_orderkey") % 3 == 0)

    def j(left, right):
        return left.join(
            right, left.o_orderkey == right.l_orderkey
        ).select("l_returnflag", "l_extendedprice")

    inc = j(oa, la).union(j(od, la)).union(j(oa, ld)).union(j(od, ld))
    return inc.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("l_extendedprice")).alias("revenue"),
    )


@query(
    "join_null_safe_eq",
    oracle="""
WITH d AS (
    SELECT DISTINCT NULLIF(n_nationkey % 5, 4) AS bucket FROM nation),
c AS (
    SELECT NULLIF(c_nationkey % 5, 4) AS bucket, c_custkey FROM customer)
SELECT d.bucket, COUNT(c.c_custkey) AS n_customers
FROM d JOIN c ON d.bucket IS NOT DISTINCT FROM c.bucket
GROUP BY 1
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the join
    dimensions with an 'unknown' (NULL) key need — a plain equi-join
    silently drops every NULL-keyed row on both sides; null-safe
    matches NULL to NULL exactly once. Still hash-joinable (Spark plans
    BroadcastHashJoin on the null-safe key, not a nested loop). The
    NULL bucket row in the output is the point of the query."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    d = nation.select(
        F.nullif(F.col("n_nationkey") % 5, F.lit(4)).alias("bucket")
    ).distinct()
    c = cust.select(
        F.nullif(F.col("c_nationkey") % 5, F.lit(4)).alias("cb"),
        "c_custkey",
    )
    return (
        d.join(c, d.bucket.eqNullSafe(c.cb))
        .groupBy("bucket")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


_LATERAL_TOPN_TEXT = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c.c_acctbal DESC, c.c_custkey
    LIMIT 2) t
"""


@query("join_lateral_topn", oracle=_LATERAL_TOPN_TEXT)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — each
    nation's top-2 customers by balance. The third SQL-text door (after
    the grouped-agg and windowed-ledger frontends): the IDENTICAL ANSI
    string runs through ``spark.sql`` and DuckDB, exercising Spark's
    lateral-subquery decorrelation (Catalyst rewrites the per-row top-2
    into a ranked window under a DomainJoin — no nested-loop re-scan per
    outer row, which is what a naive lateral would cost at scale)."""
    from featurestore_for_joycastle_java_spark.sources import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPN_TEXT)


@query(
    "sort_skyline_suppliers",
    # The oracle is the DECLARATIVE dominance definition (NOT EXISTS a
    # strictly-better supplier) — independent of the engine's
    # sort-based algorithm, so it proves the rewrite, not just
    # replays it.
    oracle="""
WITH s AS (
    SELECT l_suppkey AS s_suppkey,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
               AS total_qty,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY 1)
SELECT s_suppkey, total_qty, n_orders
FROM s a
WHERE NOT EXISTS (
    SELECT 1 FROM s b
    WHERE b.total_qty >= a.total_qty AND b.n_orders >= a.n_orders
      AND (b.total_qty > a.total_qty OR b.n_orders > a.n_orders))
""",
)
def sort_skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of suppliers on (total quantity
    shipped, distinct orders served), both maximized — the
    multi-objective "best suppliers" read that no single ORDER BY can
    express (Börzsönyi et al., ICDE 2001).

    A supplier survives iff no other supplier is ≥ on both dimensions
    and > on one. Instead of the quadratic NOT-EXISTS (the oracle), the
    engine uses the sort-based rewrite: collapse to one row per
    distinct total_qty (group max of n_orders), then a running max over
    strictly-greater qty rows — a survivor must beat that running max
    and be its own qty-group's max. The heavy work (the fact-table
    aggregation) is fully distributed; the windows run on the
    aggregated supplier frame — entity-dim-sized, the same accept as
    the rank twins (a fact-sized skyline would first shrink through
    this same per-key aggregation)."""
    s = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
    )
    g = s.groupBy("total_qty").agg(F.max("n_orders").alias("gmax"))
    w = Window.orderBy(F.col("total_qty").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = g.withColumn("prevmax", F.max("gmax").over(w))
    return (
        s.join(F.broadcast(g), "total_qty")
        .filter(
            (F.col("prevmax").isNull() | (F.col("n_orders") > F.col("prevmax")))
            & (F.col("n_orders") == F.col("gmax"))
        )
        .select("s_suppkey", "total_qty", "n_orders")
    )


# ------------------------------------------------------------------- agg


@query(
    "agg_weighted_median",
    # TYPE-1 weighted median: smallest value whose cumulative weight
    # reaches ceil(W/2) = (W+1) DIV 2 — integer rank arithmetic over
    # the distinct-value frame, no interpolation (the winsorize
    # pattern, weighted).
    oracle="""
WITH e AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents,
           CAST(FLOOR(l_quantity) AS BIGINT) AS w
    FROM lineitem),
d AS (
    SELECT l_returnflag, cents, CAST(SUM(w) AS BIGINT) AS wc
    FROM e GROUP BY 1, 2),
cum AS (
    SELECT l_returnflag, cents, wc,
           SUM(wc) OVER (PARTITION BY l_returnflag ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cw
    FROM d),
tot AS (
    SELECT l_returnflag, CAST(SUM(wc) AS BIGINT) AS tw FROM d GROUP BY 1)
SELECT t.l_returnflag, t.tw AS total_weight,
       MIN(CASE WHEN cum.cw >= (t.tw + 1) // 2 THEN cum.cents END)
           AS wmedian_cents
FROM tot t JOIN cum ON cum.l_returnflag = t.l_returnflag
GROUP BY 1, 2
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted TYPE-1 median of extended price per return flag,
    weighted by quantity — "the price point at which half the UNITS
    (not half the line items) sit below". The weighted companion to
    the exact unweighted quantile ops (winsorize, percentile): row
    medians mislead whenever weights are skewed.

    Scale shape: identical to `feature_winsorize` — collapse to the
    distinct-(group, value) frame with summed weights (map-side
    combine), run the cumulative window there (partition-parallel per
    group, frame size = value cardinality not row count), attach
    per-group totals by broadcast. No interpolation anywhere, so no
    cross-engine float hazard."""
    e = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * F.lit(100.0))
        .cast("bigint")
        .alias("cents"),
        F.floor("l_quantity").cast("bigint").alias("w"),
    )
    d = e.groupBy("l_returnflag", "cents").agg(
        F.sum("w").cast("bigint").alias("wc")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cw", F.sum("wc").over(w))
    tot = d.groupBy("l_returnflag").agg(
        F.sum("wc").cast("bigint").alias("tw")
    )
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .groupBy("l_returnflag", F.col("tw").alias("total_weight"))
        .agg(
            F.min(
                F.when(
                    F.col("cw") >= F.expr("(tw + 1) DIV 2"),
                    F.col("cents"),
                )
            ).alias("wmedian_cents")
        )
    )


@query(
    "agg_hll_mergeable",
    # The estimates are not SQL-replayable (Apache DataSketches binary
    # state); the oracle pins the EXACT count and the two booleans the
    # operator exists to prove — merged-vs-direct closeness and the
    # error bound — which flip on any drift and fail the value hash
    # (the agg_approx_*_bounded pattern). Closeness, NOT equality: the
    # union promotes sketches to a different target representation
    # (HLL_8) than a directly-built sketch, so estimates can differ by
    # a few counts once past sparse mode (sf0.1: merged 1488 vs direct
    # 1494 vs exact 1500) — caught by the r7 full-registry sweep; the
    # lattice merge guarantees bounded closeness, not bit equality.
    oracle="""
SELECT COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merge_within_1pct,
       TRUE AS within_5pct
FROM events
""",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+
    ``hll_sketch_agg``/``hll_union_agg``): per-event-type sketches
    unioned must estimate within 1 % of one sketch built over the whole
    table (and within 5 % of exact) — the lattice-merge property that
    makes distinct-count state shardable, persistable and incrementally
    maintainable. Equality would be too strong: the union's target
    representation differs from a directly-built sketch past sparse
    mode (see the oracle comment). This is the real-sketch upgrade of
    ``agg_approx_distinct_bounded`` (whose HLL++ state never leaves the
    aggregation) and the distinct-count sibling of
    ``agg_incremental_merge``'s partial-aggregate contract: at 100 TB
    you keep one small sketch per (day, slice) and answer any rollup by
    unioning sketches, never rescanning the fact. The parquet
    round-trip of the binary sketch column is pinned in
    tests/test_round7.py."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias(
            "est_m"
        )
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
            "est_d"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "exact_users",
        (
            F.abs(F.col("est_m") - F.col("est_d")) / F.col("exact_users")
            <= 0.01
        ).alias("merge_within_1pct"),
        (
            F.abs(F.col("est_d") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_5pct"),
    )


@query(
    "agg_approx_topk",
    # Exactness argument, not a tolerance: approx_top_k's Misra-Gries
    # style summary is EXACT while the tracked-item capacity (100 here)
    # exceeds the column's cardinality (~5 event types), so the emitted
    # counts equal the true counts and the top-3 set is the true top-3 —
    # the oracle replays it declaratively. Past capacity the counts
    # become estimates; capacity is the knob that trades memory for the
    # exact-prefix guarantee.
    oracle="""
SELECT event_type, CAST(n AS BIGINT) AS est_n
FROM (SELECT event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY 1)
WHERE rn <= 3
""",
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k`` (Spark 4 SQL) — the bounded-
    memory frequent-items sketch: one pass, O(capacity) state per
    partition, mergeable partials; at 100 TB the only way to answer
    "top URLs / tokens / keys" without a full groupBy of a
    billion-key column. Run with capacity > cardinality it degrades
    gracefully to EXACT counts (the property this fixture pins); at
    true scale the capacity bounds memory and the result is the
    guaranteed-superset heavy-hitter estimate."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__events_topk"
    )
    return spark.sql(
        """
        SELECT t.item AS event_type, t.count AS est_n
        FROM (SELECT explode(approx_top_k(event_type, 3, 100)) AS t
              FROM __events_topk)
        """
    ).select("event_type", F.col("est_n").cast("bigint").alias("est_n"))


@query(
    "agg_theta_audience_overlap",
    # Below the sketch's nominal-entries threshold (default 2^12 = 4096)
    # a theta sketch retains EVERY distinct hash, so estimates are exact
    # and deterministic — and distinct users per segment are 150/1500 at
    # sf0.01/0.1 — hence the oracle pins the EXACT set algebra, not
    # bounds. Past saturation the same query degrades to ~1-2% estimates
    # (docstring) and an agg_hll_mergeable-style boolean oracle applies.
    oracle="""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.et AS seg_a, b.et AS seg_b,
       a.n AS n_a, b.n AS n_b,
       (SELECT COUNT(*) FROM
            (SELECT user_id FROM u WHERE event_type = a.et
             INTERSECT
             SELECT user_id FROM u WHERE event_type = b.et))
           AS n_overlap,
       (SELECT COUNT(*) FROM
            (SELECT user_id FROM u WHERE event_type = a.et
             UNION
             SELECT user_id FROM u WHERE event_type = b.et))
           AS n_union,
       (SELECT COUNT(*) FROM
            (SELECT user_id FROM u WHERE event_type = a.et
             EXCEPT
             SELECT user_id FROM u WHERE event_type = b.et))
           AS n_only_a
FROM (SELECT event_type AS et, COUNT(DISTINCT user_id) AS n FROM u
      GROUP BY 1) a
JOIN (SELECT event_type AS et, COUNT(DISTINCT user_id) AS n FROM u
      GROUP BY 1) b
  ON (a.et, b.et) IN (('click','purchase'), ('click','view'),
                      ('signup','error'))
ORDER BY seg_a, seg_b
""",
)
def agg_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap analytics via THETA sketches (Apache DataSketches,
    Spark 4 ``theta_sketch_agg``/``theta_intersection``/``theta_union``/
    ``theta_difference``): one sketch per behavioral segment (event
    type), then the full distinct-set ALGEBRA — overlap, union, and
    A-minus-B — evaluated sketch-on-sketch without ever re-touching the
    fact table.

    This is the capability boundary HLL cannot cross: HLL union is
    lossless but HLL has NO intersection (inclusion-exclusion on
    estimates compounds error and goes negative on small overlaps);
    theta sketches carry a hash SAMPLE, so intersections and differences
    are first-class. At 100 TB: one sketch per (segment, day) persisted
    at ingest — any "users who did A and B but not C this week" question
    becomes set algebra over kilobyte sketches. Below nominal entries
    (4096) the sketch keeps every hash and the numbers are EXACT (the
    fixture regime, pinned by the oracle); past it they are ~1-2%
    estimates with the same algebra.
    """
    u = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("user_id").cast("int").alias("uid"))
    )
    sk = u.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(uid)").alias("s"),
        F.countDistinct("uid").cast("long").alias("n"),
    )
    pairs = spark.createDataFrame(
        [("click", "purchase"), ("click", "view"), ("signup", "error")],
        "seg_a string, seg_b string",
    )
    a = sk.alias("a")
    b = sk.alias("b")
    return (
        pairs.join(a, F.col("seg_a") == F.col("a.event_type"))
        .join(b, F.col("seg_b") == F.col("b.event_type"))
        .select(
            "seg_a",
            "seg_b",
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.expr(
                "CAST(theta_sketch_estimate("
                "theta_intersection(a.s, b.s)) AS BIGINT)"
            ).alias("n_overlap"),
            F.expr(
                "CAST(theta_sketch_estimate("
                "theta_union(a.s, b.s)) AS BIGINT)"
            ).alias("n_union"),
            F.expr(
                "CAST(theta_sketch_estimate("
                "theta_difference(a.s, b.s)) AS BIGINT)"
            ).alias("n_only_a"),
        )
        .orderBy("seg_a", "seg_b")
    )


@query(
    "agg_kll_quantile_merge",
    # KLL estimates are not SQL-replayable (randomized compactor state);
    # the oracle pins the exact stream length (KLL tracks n exactly) and
    # the rank-error booleans the sketch guarantees (k=200 default:
    # ~1.65% normalized rank error at 99% confidence; 3% bound leaves
    # margin) — the agg_hll_mergeable pattern for quantiles.
    oracle="""
SELECT COUNT(*) AS n_rows,
       TRUE AS rank_p50_ok,
       TRUE AS rank_p90_ok
FROM orders
""",
)
def agg_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Apache DataSketches KLL, Spark 4
    ``kll_sketch_agg_double``/``kll_sketch_merge_double``): one sketch
    per order-priority slice, merged into a whole-table sketch whose
    p50/p90 are then validated against the EXACT empirical CDF — the
    engine computes the true rank of each estimated quantile (one
    filter-count per quantile) and asserts it within the sketch's rank-
    error bound. n is tracked exactly by KLL, so merged n must equal
    COUNT(*) bit-for-bit.

    The quantile sibling of `agg_hll_mergeable` and the sketch behind
    "p99 latency per (service, day), rollup-able to any period without
    rescanning": percentile_approx answers one query; persisted KLL
    partials answer every future rollup by merge. At 100 TB the slice
    sketches are the stored artifact; this query IS the merge path.
    """
    orders = load_table(spark, sf_dir, "orders")
    slices = orders.groupBy("o_orderpriority").agg(
        F.expr("kll_sketch_agg_double(o_totalprice)").alias("sk")
    )
    # kll_sketch_merge_double is a 2-arg SCALAR merge (not an agg):
    # fold the slice sketches with an aggregate HOF — the same
    # left-fold a 100 TB rollup runs over persisted partials
    merged = slices.agg(
        F.collect_list("sk").alias("sks")
    ).selectExpr(
        "aggregate(slice(sks, 2, size(sks) - 1), sks[0], "
        "(acc, x) -> kll_sketch_merge_double(acc, x)) AS m"
    ).select(
        F.expr("kll_sketch_get_n_double(m)").cast("long").alias("n_rows"),
        F.expr("kll_sketch_get_quantile_double(m, 0.5)").alias("p50"),
        F.expr("kll_sketch_get_quantile_double(m, 0.9)").alias("p90"),
    )
    est = merged.collect()[0]
    total = est["n_rows"]
    # ONE validation scan for both quantiles (r12 opt, guide §2.4 —
    # the two filter().count() passes re-read orders once per quantile
    # for two independent conditional counts the same aggregate
    # computes together; counts identical by construction)
    ranks = orders.agg(
        F.sum((F.col("o_totalprice") <= est["p50"]).cast("long")).alias(
            "n50"
        ),
        F.sum((F.col("o_totalprice") <= est["p90"]).cast("long")).alias(
            "n90"
        ),
    ).collect()[0]
    r50 = ranks["n50"] / total
    r90 = ranks["n90"] / total
    return spark.createDataFrame(
        [(total, abs(r50 - 0.5) <= 0.03, abs(r90 - 0.9) <= 0.03)],
        "n_rows long, rank_p50_ok boolean, rank_p90_ok boolean",
    )


# ------------------------------------------------------------ ABC/Pareto


@query(
    "agg_abc_pareto",
    oracle="""
WITH rev AS (
    SELECT l_partkey,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_e4
    FROM lineitem GROUP BY 1),
c AS (
    SELECT l_partkey, rev_e4,
           SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_e4,
           SUM(rev_e4) OVER () AS tot_e4
    FROM rev),
k AS (
    SELECT CASE WHEN cum_e4 * 5 <= tot_e4 * 4 THEN 'A'
                WHEN cum_e4 * 20 <= tot_e4 * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           rev_e4, tot_e4
    FROM c)
SELECT abc_class,
       COUNT(*) AS n_parts,
       CAST(SUM(rev_e4) AS BIGINT) AS rev_e4,
       ROUND(CAST(SUM(rev_e4) AS DOUBLE) / CAST(MAX(tot_e4) AS DOUBLE), 6)
           AS rev_share
FROM k GROUP BY 1
""",
)
def agg_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by discounted
    revenue; class A = the head covering the first 80 % of cumulative
    revenue, B = up to 95 %, C = the tail. Thresholds compare exact
    integers (``cum*5 <= tot*4``) — no float boundary can flip a part's
    class between engines.

    Scale shape: the GLOBAL revenue-descending cumulative sum is the
    textbook 100 TB trap (one task sees every part). Implemented with
    ``operators.ranks.grouped_prefix_sum`` over one logical group: parts
    are range-bucketed on revenue, the running sum is an ordinary
    hash-partitioned window within (group, bucket), and only the
    <= n_buckets bucket totals flow through the single-partition
    prefix window. Revenue is exact integer ten-thousandths (prices are
    2-decimal doubles; ``round(x*100)`` recovers exact cents)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    dpct = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents * dpct).alias("rev_e4"))
    tot = rev.agg(F.sum("rev_e4").alias("tot_e4"))
    cum = grouped_prefix_sum(
        rev.withColumn("_g", F.lit(1)).withColumn(
            "_neg", -F.col("rev_e4")
        ),
        ["_g"],
        "_neg",
        "rev_e4",
        out_col="cum_e4",
        tiebreak_cols=["l_partkey"],
    ).crossJoin(F.broadcast(tot))
    classed = cum.select(
        F.when(F.col("cum_e4") * 5 <= F.col("tot_e4") * 4, "A")
        .when(F.col("cum_e4") * 20 <= F.col("tot_e4") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_e4",
        "tot_e4",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_e4").alias("rev_e4"),
        F.round(
            F.sum("rev_e4").cast("double") / F.max("tot_e4").cast("double"),
            6,
        ).alias("rev_share"),
    )


# ------------------------------------------------------- exact median


@query(
    "agg_exact_median",
    # Median as the average of the order statistics at positions
    # floor((n+1)/2) and floor((n+2)/2) under (value, unique-key) order
    # — NOT the engines' builtin MEDIAN/percentile (whose interpolation
    # conventions differ); both sides compute the same two elements.
    oracle="""
WITH b AS (
    SELECT l_extendedprice AS v,
           l_orderkey * 8 + l_linenumber AS k
    FROM lineitem),
r AS (
    SELECT v,
           ROW_NUMBER() OVER (ORDER BY v, k) AS rn,
           COUNT(*) OVER () AS n
    FROM b)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       AVG(v) AS median
FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
""",
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of extended price — the anchor for the
    approximate percentile family (``agg_approx_percentile_bounded``
    proves a bound; this is the true value): the two middle order
    statistics are located by exact global rank and averaged (one
    element when n is odd — both positions coincide).

    Scale shape: the classic exact-median trap is sort-everything; here
    the range-bucketed ``global_row_number`` finds the middle elements
    with one hash-partitioned shuffle and a <= n_buckets prefix window,
    then a 2-row filter feeds a scalar agg. The AVG of two doubles is
    one IEEE op, identical in both engines — no rounding needed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
    )
    r = global_row_number(li, "v", ["k"], out_col="rn")
    return (
        r.filter(
            (F.col("rn") == F.floor((F.col("_n_total") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("_n_total") + 2) / 2))
        )
        .agg(
            F.max("_n_total").alias("n"),
            F.avg("v").alias("median"),
        )
    )


# ------------------------------------------- higher moments (manual)


@query(
    "agg_moments_skew_kurtosis",
    # Built-in skewness/kurtosis are NOT used: Spark's are population
    # moments, DuckDB's are sample-adjusted — silently different
    # numbers. Both sides compute the same explicit power sums and the
    # same population formulas.
    oracle="""
WITH s AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(l_extendedprice) AS s1,
           SUM(l_extendedprice * l_extendedprice) AS s2,
           SUM(l_extendedprice * l_extendedprice * l_extendedprice) AS s3,
           SUM(l_extendedprice * l_extendedprice * l_extendedprice
               * l_extendedprice) AS s4
    FROM lineitem GROUP BY 1),
m AS (
    SELECT l_returnflag, n,
           s1 / n AS m1,
           s2 / n - (s1 / n) * (s1 / n) AS var_pop,
           s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n)
               * (s1 / n) AS mu3,
           s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS mu4
    FROM s)
SELECT l_returnflag, n,
       ROUND(m1, 4) AS mean,
       ROUND(mu3 / POW(var_pop, 1.5), 4) AS skewness_pop,
       ROUND(mu4 / (var_pop * var_pop) - 3, 4) AS excess_kurtosis_pop
FROM m
""",
)
def agg_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag from
    explicit power sums — distribution-shape profiling for feature QA
    (skew ~ 0 and kurtosis ~ 0 means z-scoring is safe;
    `feature_winsorize`-grade tails show up here first). Deliberately
    NOT the engines' built-ins: Spark ships population moments, DuckDB
    sample-adjusted ones — same name, different number; the explicit
    central-moment identities pin ONE definition on both sides.

    Scale shape: one combine-friendly agg of four power sums (map-side
    partials), then scalar arithmetic on the |groups| frame. Rounded at
    4 decimals: the power sums reach ~1e21 where double ulps are ~1e5,
    so agreement holds at coarse precision by design — the docstring of
    record for why s4 at 100 TB needs a two-pass centered algorithm
    instead."""
    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    var_pop = F.col("s2") / F.col("n") - m1 * m1
    mu3 = F.col("s3") / F.col("n") - 3 * m1 * (F.col("s2") / F.col("n")) + 2 * m1 * m1 * m1
    mu4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(m1, 4).alias("mean"),
        F.round(mu3 / F.pow(var_pop, 1.5), 4).alias("skewness_pop"),
        F.round(mu4 / (var_pop * var_pop) - 3, 4).alias(
            "excess_kurtosis_pop"
        ),
    )


# ---------------------------------------------------- right outer


@query(
    "join_right_outer",
    oracle="""
SELECT n.n_name,
       c.c_custkey
FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join — every nation survives even with no qualifying
    high-balance customer (null c_custkey), completing the join-type
    inventory (inner/left/semi/anti/full/cross/right). Planner note:
    Catalyst canonicalizes right joins by flipping build sides, so the
    physical plan is the mirrored left-outer — the row semantics are
    what this query pins."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_nationkey")
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return c.join(
        n, F.col("c_nationkey") == F.col("n_nationkey"), "right"
    ).select("n_name", "c_custkey")


# ------------------------------------------------- ordered listagg


@query(
    "agg_ordered_listagg",
    oracle="""
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
       COUNT(*) AS n_nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def agg_ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): nations per
    region as one deterministic comma-joined string — the denormalized
    label column reporting layers ask for constantly. Spark has no
    ordered string_agg aggregate; the deterministic spelling is
    collect_list -> array_sort -> array_join, which pins the order
    INSIDE the expression instead of praying over input order (the
    classic listagg nondeterminism bug).

    Scale shape: one combine-friendly collect per group — safe when the
    per-group list is bounded (25 nations); for unbounded groups the
    answer is top-k truncation first, never an unbounded collect."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(
            F.broadcast(r),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations_csv"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ------------------------------------------------- ratio to parent


@query(
    "agg_ratio_to_parent",
    oracle="""
WITH rev AS (
    SELECT n.n_regionkey, c.c_nationkey,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2),
reg AS (
    SELECT n_regionkey, SUM(rev_cents) AS region_cents
    FROM rev GROUP BY 1),
tot AS (SELECT SUM(rev_cents) AS total_cents FROM rev)
SELECT r.r_name, n.n_name,
       CAST(v.rev_cents AS BIGINT) AS rev_cents,
       CAST(v.rev_cents * 1000000 // g.region_cents AS BIGINT)
           AS share_in_region_ppm,
       CAST(v.rev_cents * 1000000 // t.total_cents AS BIGINT)
           AS share_of_total_ppm
FROM rev v
JOIN reg g ON g.n_regionkey = v.n_regionkey
JOIN nation n ON n.n_nationkey = v.c_nationkey
JOIN region r ON r.r_regionkey = v.n_regionkey
CROSS JOIN tot t
""",
)
def agg_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent rollup: each nation's order revenue as an exact
    ppm share of its REGION and of the GRAND TOTAL — the two-level
    contribution report (drill-down with 'percent of parent' columns)
    that plain GROUPING SETS can't express without the reference back
    to the parent level. All integer cents and integer ppm.

    Scale shape: one fact rollup to |nations| rows; the region and
    grand-total frames are tiny re-aggregations of THAT (never a second
    fact scan); dims broadcast back."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    reg = rev.groupBy("n_regionkey").agg(
        F.sum("rev_cents").alias("region_cents")
    )
    tot = rev.agg(F.sum("rev_cents").alias("total_cents"))
    return (
        rev.join(F.broadcast(reg), "n_regionkey")
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "r_name",
            "n_name",
            "rev_cents",
            F.expr("rev_cents * 1000000 DIV region_cents")
            .cast("bigint")
            .alias("share_in_region_ppm"),
            F.expr("rev_cents * 1000000 DIV total_cents")
            .cast("bigint")
            .alias("share_of_total_ppm"),
        )
    )


@query(
    "agg_exact_trimmed_mean",
    oracle="""
WITH v AS (
    SELECT event_type, event_id,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events),
r AS (
    SELECT event_type, v6,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY v6, event_id) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM v),
t AS (
    SELECT event_type, n, n // 10 AS k,
           CAST(SUM(v6) AS BIGINT) AS sum_all,
           CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN v6 ELSE 0 END) AS BIGINT) AS sum_mid
    FROM r GROUP BY 1, 2)
SELECT event_type, n, k AS n_trimmed_each_side,
       CAST(CASE WHEN sum_all >= 0 THEN sum_all // n
                 ELSE -((-sum_all) // n) END AS BIGINT) AS mean_micro,
       CAST(CASE WHEN sum_mid >= 0 THEN sum_mid // (n - 2 * k)
                 ELSE -((-sum_mid) // (n - 2 * k)) END AS BIGINT)
           AS trimmed_mean_micro
FROM t
""",
)
def agg_exact_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% two-sided trimmed mean per event type (Tukey &
    McLaughlin 1963): drop the lowest and highest ⌊n/10⌋ micro-floored
    values (total order via (value, event_id)), average the middle in
    exact integer arithmetic — 21.2% breakdown robustness between the
    median (50%) and the mean (0%). Completes the robust location
    family: median resists everything, the trimmed mean keeps more
    efficiency under clean data, ``feature_winsorize`` CLAMPS where
    this DROPS — the difference matters exactly when the tails carry
    real mass.

    Plan shape: one per-type rank window (partition-parallel), one
    conditional aggregate against the window-carried per-type count —
    no second pass, no percentile UDAF; the full mean comes from the
    same aggregate for a one-scan comparison column."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v6"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_all = Window.partitionBy("event_type")
    r = v.select(
        "event_type",
        "v6",
        F.row_number().over(w_rank).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    t = r.groupBy("event_type", "n").agg(
        F.sum("v6").cast("bigint").alias("sum_all"),
        F.sum(
            F.when(
                (F.col("rn") > F.expr("n DIV 10"))
                & (F.col("rn") <= F.col("n") - F.expr("n DIV 10")),
                F.col("v6"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("sum_mid"),
    )
    return t.select(
        "event_type",
        "n",
        F.expr("n DIV 10").alias("n_trimmed_each_side"),
        F.expr(
            "CAST(CASE WHEN sum_all >= 0 THEN sum_all DIV n"
            " ELSE -((-sum_all) DIV n) END AS BIGINT)"
        ).alias("mean_micro"),
        F.expr(
            "CAST(CASE WHEN sum_mid >= 0"
            " THEN sum_mid DIV (n - 2 * (n DIV 10))"
            " ELSE -((-sum_mid) DIV (n - 2 * (n DIV 10))) END AS BIGINT)"
        ).alias("trimmed_mean_micro"),
    )


@query(
    "agg_log2_histogram",
    oracle="""
WITH v AS (
    SELECT event_type,
           CAST(FLOOR(value * 100.0) AS BIGINT) + 1 AS vc
    FROM events)
SELECT event_type,
       CAST(LENGTH(bin(vc)) - 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(vc) AS BIGINT) AS lo_cents,
       CAST(MAX(vc) AS BIGINT) AS hi_cents
FROM v GROUP BY 1, 2
""",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucketed value histogram per event type — the HdrHistogram
    / DDSketch bucket layout (Dunning & Ertl; relative-error buckets)
    that telemetry systems use for heavy-tailed quantities, with the
    bucket index computed EXACTLY on both engines as
    ``length(bin(v)) − 1`` = ⌊log₂ v⌋ over cent-integers (+1 shift for
    zero) — no float log anywhere, so no boundary value can land in
    different buckets on different engines. Each bucket carries count
    and exact min/max, which is what makes merged histograms
    re-quantilable downstream.

    Plan shape: ONE map-side-combinable hash aggregate over events;
    output is types × ~⌈log₂ max⌉ rows, corpus-size-independent — the
    mergeable-summary shape (per-partition partial buckets combine
    exactly) a 1000-executor telemetry rollup wants."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        (F.floor(F.col("value") * 100.0).cast("bigint") + 1).alias("vc"),
    )
    return v.groupBy(
        "event_type",
        (F.length(F.bin(F.col("vc"))) - 1).cast("bigint").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("vc").cast("bigint").alias("lo_cents"),
        F.max("vc").cast("bigint").alias("hi_cents"),
    )
