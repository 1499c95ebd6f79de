"""TPC-H-shaped relational coverage (SURVEY.md §2.2): all 22 query shapes,
adapted to the fixture schema. There is no partsupp table, so
part↔supplier relationships derive from lineitem; there are no
commit/receipt dates, so "late" means shipped long after the order date;
there are no phone/comment/shipmode columns, so Q22's country code is a
customer-name digit slice and Q16's complaint filter is a negative-balance
filter. Nation names are NATION_<k>, brands Brand#<k>, and p_type is a
single word.

Every aggregate that feeds a comparison or a hash is either integer-exact
in doubles (quantities, counts) or goes through ``exact_sum`` / one shared
division, so Spark and DuckDB produce bit-identical values (see the
float-summation rule in catalog/relational.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.relational import (
    broadcast_join,
    exact_sum,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


_DISC_PRICE = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))"


# --- Aggregations -----------------------------------------------------------


@query(
    "tpch_q1_pricing",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(23,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(23,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(23,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical hash-agg with partial
    (map-side) + final aggregation — one shuffle on a 6-value key. The
    shipdate filter pushes to the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    dsum = exact_sum
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (dsum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- Joins ------------------------------------------------------------------


@query(
    "tpch_q3_shipping",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
""",
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective filters on both sides of a 3-way equi-join,
    then hash agg. Filters push to the scans; join keys shuffle once each."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
    )


@query(
    "tpch_q5_revenue",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def tpch_q5_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-table join. Dims (region, nation) get explicit
    broadcast hints — the fact chain never shuffles for them; the
    customer/orders/lineitem/supplier equi-joins are AQE's to plan."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nations_in_region = broadcast_join(
        nation, region, nation.n_regionkey == region.r_regionkey
    )
    return (
        broadcast_join(cust, nations_in_region, cust.c_nationkey == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "tpch_q6_forecast",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(23,6))) AS DOUBLE)
           AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting-revenue: pure scan+filter+agg — the
    canonical pushdown/pruning showcase (all four predicates reach the
    parquet scan; only 4 columns read). No shuffle except the single-row
    final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * F.col("l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q12_priority",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
""",
)
def tpch_q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style priority counts (recast onto the fixture's columns:
    l_linestatus for l_shipmode): fact-fact equi-join with conditional
    aggregation. The lineitem date filter evaluates before the join,
    shrinking the shuffle; the orderpriority CASE runs map-side in the
    partial agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q7_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bilateral trade volume: the same tiny dimension
    (nation) joined twice under different roles — both sides broadcast, so
    the fact chain shuffles only for the lineitem/orders/supplier equi-
    joins. The pair filter is applied after both nation joins (Catalyst
    cannot split an OR across them) but each broadcast is a kilobyte."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "tpch_q10_returns",
    oracle=f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY CAST(SUM({_DISC_PRICE}) AS DOUBLE) DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style top returned-revenue customers. The global top-20
    is a TakeOrdered (per-partition top-k then a 20-row driver merge), not
    a full sort; ties broken by c_custkey so the cut is deterministic —
    both engines order by the same exact-decimal-derived double."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q14_promo",
    oracle=f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE}
                                   ELSE CAST(0 AS DECIMAL(23,6)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
""",
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo-revenue share: conditional aggregate over a
    single join, one output row. Both sums are exact fixed-point; the
    ratio is one double division (identical operands both engines), then
    an explicit 6dp round."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * exact_sum(promo) / exact_sum(disc_price), 6
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q18_bigorders",
    oracle="""
WITH big AS (
    SELECT l_orderkey, SUM(l_quantity) AS total_qty
    FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 180)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
)
def tpch_q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: a HAVING-filtered aggregate
    over the fact table feeds the join (aggregate-then-join keeps the
    orders/customer side joining against the small filtered set, not raw
    lineitem). l_quantity is integer-valued, so the double sum is exact
    and the >180 cut deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


@query(
    "tpch_q19_disjunct",
    oracle=f"""
SELECT CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 16 AND 30
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 31 AND 50
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate join. Catalyst derives the
    per-side implied filters from the OR-of-ANDs (part: brand IN (...) and
    the size envelope; lineitem: the quantity envelope) and pushes them to
    the scans, so the join sees pre-filtered inputs; the full disjunction
    is then applied as the join's residual condition."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#2") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#3") & s.between(16, 30) & q.between(10, 20))
        | ((b == "Brand#4") & s.between(31, 50) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q4_priority",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
""",
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style priority check: EXISTS becomes a left-semi join, so
    lineitem is never widened into the output — the semi join short-
    circuits per order and the date filter is pushed to the orders scan
    before the shuffle. "Late" = shipped >30 days after order date (the
    fixtures carry no commit/receipt dates)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q8_mktshare",
    oracle=f"""
WITH vol AS (
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           {_DISC_PRICE} AS volume,
           n2.n_name AS supp_nation
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region    ON r_regionkey = n1.n_regionkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01')
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                           ELSE CAST(0 AS DECIMAL(23,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY 1
""",
)
def tpch_q8_mktshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share. The customer side restricts
    to one region (nation+region broadcast twice under different roles);
    the share is a conditional exact sum over the same rows as the total,
    so the ratio divides two decimals derived from one pass — no second
    scan, no separate denominator query."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nation = nation.join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust_nation), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(supp_nation), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(exact_sum(nation_vol) / exact_sum(vol), 6).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_profit",
    oracle="""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1
                     AS DECIMAL(23,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-line profit by supplier nation and year.
    The fixtures have no partsupp.ps_supplycost, so cost is proxied as
    10% of retail price per unit — the shape (line revenue minus a
    part-joined cost term, summed over a name-pattern part subset) is
    preserved, and profit goes negative for deep discounts, exercising
    exact_sum's negative-value path."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(exact_sum(profit).alias("sum_profit"))
    )


@query(
    "tpch_q11_partvalue",
    oracle="""
WITH pv AS (
    SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,6)))
                           AS DOUBLE) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY 1)
SELECT l_partkey, part_value
FROM pv
WHERE part_value > (SELECT 0.001 * CAST(SUM(CAST(part_value AS DECIMAL(23,6)))
                                        AS DOUBLE)
                    FROM pv)
""",
)
def tpch_q11_partvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-part identification (partsupp value →
    shipped-lineitem value from one region's suppliers). The scalar-
    subquery HAVING threshold is the aggregated set re-aggregated to one
    row and broadcast back — the base aggregate is computed once and
    reused on both sides, never recomputed per row."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = (
        supp.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("r_regionkey") == F.col("n_regionkey"),
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        li.join(F.broadcast(euro_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(exact_sum(F.col("l_extendedprice")).alias("part_value"))
    )
    # exact_sum (not F.sum over doubles) so the threshold derives from the
    # same order-independent exact value on both engines — a part_value
    # within an ulp of the cut can't flip between Spark and the oracle
    threshold = pv.agg(
        (F.lit(0.001) * exact_sum(F.col("part_value"))).alias("threshold")
    )
    return (
        pv.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@query(
    "tpch_q13_custdist",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY 1)
GROUP BY 1
""",
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution. The priority
    exclusion lives in the JOIN condition, not a WHERE — customers whose
    only orders are urgent must still appear with count 0, which a
    post-join filter would destroy. COUNT(o_orderkey) over the left join
    counts only matched rows (null-skipping), giving the zero bucket."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_topsupplier",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
)
def tpch_q15_topsupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier (the view + scalar-MAX pattern). The
    revenue aggregate is computed once; its one-row MAX is broadcast back
    as an equi-condition rather than sorting the whole aggregate for the
    top row — ties all surface, matching the spec. Revenue values are
    exact decimals rendered as doubles, so the equality is bit-safe."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_partsupp_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def tpch_q16_partsupp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier diversity per part group. The part↔
    supplier relation comes from lineitem (no partsupp in the fixtures)
    and the complaint exclusion becomes a negative-balance NOT IN,
    executed as a broadcast anti join BEFORE the distinct aggregate so
    excluded suppliers never enter the count's shuffle."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "tpch_q17_smallqty",
    oracle="""
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,6))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < 0.2 * (SELECT AVG(l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = p_partkey)
""",
)
def tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity revenue. The correlated per-part
    AVG is decorrelated into one grouped aggregate joined back on
    partkey — the same rewrite Catalyst and DuckDB both apply, made
    explicit. l_quantity is integer-valued so sum/count (hence the AVG
    and the 0.2× threshold) are bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            per_part_avg, F.col("avg_partkey") == F.col("l_partkey")
        )
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(exact_sum(F.col("l_extendedprice")) / F.lit(7.0), 6).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q20_excess",
    oracle="""
SELECT DISTINCT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity) > 50)
""",
)
def tpch_q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style high-volume suppliers (availqty threshold → shipped
    quantity threshold). The grouped-HAVING IN-subquery becomes an
    aggregate → projection → semi join; quantity sums are integer-exact
    so the >50 cut is deterministic. Region filter narrows the supplier
    side before the semi join probes it."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    asia_nation = nation.join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    ).select("n_nationkey")
    return (
        supp.join(
            F.broadcast(asia_nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "tpch_q21_waiting",
    oracle="""
WITH flagged AS (
    SELECT l_orderkey, l_suppkey,
           l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'),
per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
    FROM flagged GROUP BY 1)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT f.l_orderkey, f.l_suppkey
      FROM flagged f
      JOIN per_order USING (l_orderkey)
      WHERE f.is_late AND n_supp > 1 AND n_late = 1)
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY 1
""",
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style sole-blame late suppliers. The classic EXISTS /
    NOT-EXISTS double self-join is reformulated as one grouped pass —
    per order: distinct suppliers and distinct LATE suppliers — then a
    filter (multi-supplier order, exactly one late). One shuffle on
    orderkey replaces two additional joins of lineitem against itself;
    at 100 TB that is the difference between 1× and 3× fact-table
    traffic. "Late" = shipped >60 days after order date."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    flagged = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late"),
    )
    blamed = (
        flagged.filter(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        blamed.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q22_dormant",
    oracle="""
SELECT SUBSTRING(c_name, 17, 2) AS cgroup,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
""",
)
def tpch_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant big-balance customers (phone country code
    → customer-number digit slice). NOT EXISTS is an anti join against
    orders' custkey projection; the global positive-balance average is a
    one-row broadcast. Group sums go through exact_sum at 2dp so the
    double totals hash-match DuckDB's decimal cast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cgroup"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(F.col("c_acctbal"), dp=2).alias("totacctbal"),
        )
    )


@query(
    "tpch_q2_mincost",
    oracle="""
WITH ps AS (
    SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
           MIN(l_extendedprice / l_quantity) AS cost
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE' AND p_size < 10 AND p_type = 'LARGE'
    GROUP BY 1, 2, 3, 4, 5)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
       cost
FROM ps a
WHERE cost = (SELECT MIN(cost) FROM ps b WHERE b.p_partkey = a.p_partkey)
""",
)
def tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style cheapest supplier per part (supplycost → observed
    unit price from lineitem). The correlated per-part MIN becomes a
    window MIN over the already-aggregated (part, supplier) set — tiny
    relative to the fact table, and partitioned on the same key the
    aggregate just shuffled on, so the window adds no extra exchange.
    Ties (several suppliers at the exact min) all surface, as in the
    spec. The min compares identical double divisions in both engines,
    and the cost is emitted as the RAW double: both engines hold the
    bit-identical value, so repr-comparison is exact — whereas rounding
    it to 6dp diverged at sf0.1 (r5): Spark's round(double) goes through
    BigDecimal.valueOf (shortest decimal repr, "…8125" -> …813) while
    DuckDB rounds the full binary value ("…81249999…" -> …812)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") < 10) & (F.col("p_type") == "LARGE")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_nation = nation.join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    ).select("n_nationkey", "n_name")
    ps = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(euro_nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        ps.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "n_name",
            "cost",
        )
    )
