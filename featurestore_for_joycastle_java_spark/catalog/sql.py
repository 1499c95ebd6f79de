"""SQL-text doors (SURVEY.md §2.2): the same engine reached through
``spark.sql`` strings over temp views — aggregates, window functions,
PIVOT and a recursive CTE — and through the pandas-on-Spark API,
instead of the DataFrame API."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


#: ONE ANSI-SQL string, two engines: Spark executes it via spark.sql over
#: registered temp views, DuckDB executes the identical text as the oracle.
#: Decimal-accumulated money math keeps the result engine-exact.
_SQL_FRONTEND_TEXT = """
SELECT l_returnflag,
       l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6)))
            AS DOUBLE) AS revenue,
       CAST(SUM(CAST(l_quantity AS DECIMAL(23,6))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_frontend_revenue", oracle=_SQL_FRONTEND_TEXT)
def sql_frontend_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT front end: the exact oracle string executed by
    ``spark.sql`` over registered temp views — parser, analyzer, and
    Catalyst all exercised on ANSI text rather than the DataFrame DSL
    (every other query registers plans programmatically; a user of the
    engine gets both doors). The one SQL string is engine-portable by
    construction: decimal-accumulated sums, explicit casts, no dialect
    functions."""
    from featurestore_for_joycastle_java_spark.sources import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_FRONTEND_TEXT)


#: Second SQL-text door: ONE ANSI string with WINDOW functions —
#: running decimal ledger + partition count — parsed and executed by both
#: engines verbatim. Frame semantics are pinned by the unique ORDER BY key
#: (default RANGE UNBOUNDED PRECEDING..CURRENT ROW is identical when the
#: ordering is total), money math is decimal-accumulated.
_SQL_LEDGER_TEXT = """
SELECT user_id,
       event_id,
       CAST(SUM(CAST(value AS DECIMAL(23,6))) OVER (
            PARTITION BY user_id ORDER BY event_id) AS DOUBLE)
           AS running_spend,
       COUNT(*) OVER (PARTITION BY user_id) AS n_user_purchases
FROM events
WHERE event_type = 'purchase'
"""


@query("sql_frontend_ledger", oracle=_SQL_LEDGER_TEXT)
def sql_frontend_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text front end #2 — windowed: the identical ANSI string runs
    through ``spark.sql`` (temp views) and the DuckDB oracle, this time
    exercising window-function parsing/planning (running per-user spend
    ledger + partition count). Complements ``sql_frontend_revenue``
    (grouped aggregation door): between them the SQL-text path covers
    both optimizer shapes a warehouse user types most."""
    from featurestore_for_joycastle_java_spark.sources import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_LEDGER_TEXT)


@query(
    "ps_frontend_priority_stats",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY 1
""",
)
def ps_frontend_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTH API door: pandas-on-Spark (``pyspark.pandas``) — the
    same engine surface a pandas user reaches without learning the
    DataFrame DSL (the other doors: programmatic DataFrame, two
    SQL-text frontends, and the connector API). The pandas-style
    groupby/agg compiles to the identical Catalyst aggregation plan;
    chosen aggregates (count/min/max) are order-independent so the door
    adds API coverage without a float-determinism surface."""
    import pyspark.pandas as pps

    sdf = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    psdf = sdf.pandas_api()
    out = psdf.groupby("o_orderpriority").agg(
        n_orders=("o_orderkey", "count"),
        min_price=("o_totalprice", "min"),
        max_price=("o_totalprice", "max"),
    )
    return out.reset_index().to_spark()


_RECURSIVE_CHAIN_TEXT = """
WITH RECURSIVE ord AS (
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders),
walk (o_custkey, o_orderkey, nxt, depth) AS (
    SELECT o_custkey, o_orderkey, nxt, 1 FROM ord WHERE rn = 1
    UNION ALL
    SELECT o.o_custkey, o.o_orderkey, o.nxt, w.depth + 1
    FROM walk w JOIN ord o ON o.o_orderkey = w.nxt)
SELECT o_custkey, MAX(depth) AS chain_len, MAX(o_orderkey) AS max_orderkey
FROM walk
GROUP BY o_custkey
"""


@query(
    "sql_recursive_chain",
    oracle=_RECURSIVE_CHAIN_TEXT,
    # API-door correctness query, kept out of the bench: Spark executes
    # one full join round per recursion level with no lineage
    # truncation (12 s at sf0.1 for ~25 levels — cost is per-level
    # planning, the same failure mode the hand-built loops fix with
    # localCheckpoint). The engine's PERFORMANT iterative paths are the
    # CC hop-shortcut loop and pagerank_int; this door exists so
    # recursive SQL text a user brings still runs and verifies.
    bench=False,
)
def sql_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE door (NEW in Spark 4.0): the IDENTICAL `WITH
    RECURSIVE` text runs through `spark.sql` and DuckDB — a successor
    walk down each customer's date-ordered order chain (seeded at the
    first order, stepping through a LEAD-built successor table until it
    ends). The aggregate (chain length = order count, max key) is
    independently checkable, so the recursion itself is what's under
    test: per-iteration the engine joins the frontier to the successor
    table — O(longest chain) rounds, frontier never exceeds one row per
    customer. Spark's recursion currently supports UNION ALL only
    (UNION-distinct raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so
    the walk is structured to never revisit a row instead of relying on
    dedup — the pattern cyclic graphs need rethinking for (the CC
    operator's hop-shortcut loop is the engine's cycle-safe path)."""
    from featurestore_for_joycastle_java_spark.sources import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CHAIN_TEXT)


# -------------------------------------------------- SQL PIVOT door


@query(
    "sql_frontend_pivot",
    oracle="""
SELECT user_id % 10 AS cohort,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS error
FROM events GROUP BY 1
""",
)
def sql_frontend_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text front-end door for the PIVOT clause: a user writes
    ANSI-ish ``PIVOT (agg FOR col IN (...))`` against a registered view
    and gets the same wide frame the DataFrame ``agg_pivot`` builds
    programmatically. COALESCE(.., 0) in the outer select pins the
    empty-cell convention to 0 (Spark's pivot yields NULL for absent
    cells; the oracle's conditional aggregation yields 0).

    Plan note: Catalyst rewrites PIVOT into exactly the two-stage
    conditional aggregation the oracle spells out — same shuffle, same
    partial aggs; the clause is sugar, not a different engine path."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT cohort,
               COALESCE(click, 0L) AS click,
               COALESCE(view, 0L) AS view,
               COALESCE(purchase, 0L) AS purchase,
               COALESCE(signup, 0L) AS signup,
               COALESCE(error, 0L) AS error
        FROM (SELECT user_id % 10 AS cohort, event_type FROM events_v)
        PIVOT (COUNT(1) FOR event_type IN
               ('click' AS click, 'view' AS view, 'purchase' AS purchase,
                'signup' AS signup, 'error' AS error))
        """
    )
