"""Relational operator surface (SURVEY.md §2.2) — reusable composites.

Plain joins/aggregations/sorts ARE the DataFrame API; this module only adds
the composites worth naming. Everything stays declarative so Catalyst gets
the whole plan (pushdown, pruning, join strategy selection, AQE).

Scale notes baked into each helper's design:
- per-group top-k avoids a global sort: window + filter = one shuffle on
  the partition key, then a local sort per partition;
- small-dimension joins take an explicit ``broadcast`` hint so a 100 TB
  fact side never shuffles for a kilobyte dimension;
- rolling time windows use a numeric range frame (epoch seconds) — Spark's
  rangeBetween needs a numeric sort key, and epoch seconds keep DuckDB
  oracle parity exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def exact_sum(c: Column, dp: int = 6) -> Column:
    """Order-independent exact SUM of a double column at ``dp`` fractional
    digits, equivalent to ``SUM(CAST(x AS DECIMAL(_, dp)))`` but ~4x faster.

    Spark's Sum over a decimal wider than 18 digits leaves the compact-long
    representation and pays per-row 128-bit arithmetic. Instead each value is
    split into two LONG accumulators — integer part and half-up-rounded
    fractional part scaled by 10^dp — summed with plain codegen'd long
    addition, and recombined exactly in decimal AFTER aggregation (a
    per-group, not per-row, cost). Returns double.

    Scale envelope: each long sum overflows past ~9.2e18; with |x| < 10^m the
    integer accumulator is safe below 9.2e18 / 10^m rows PER GROUP (m=6 →
    ~9e12 rows) and the fraction accumulator below 9.2e18 / 10^dp rows — far
    beyond a 100 TB table's row count either way, and unlike summing
    round(x * 10^dp) in one long, the envelope does not shrink as dp grows.

    Semantics notes: NULLs are skipped (as SUM does); all-NULL → NULL. Ties
    exactly half-way at the dp-th digit round half-up on the fractional
    remainder (for negative values this differs from decimal-cast HALF_UP,
    which rounds away from zero); NaN/Inf inputs are undefined (decimal cast
    maps them to NULL).
    """
    i = F.floor(c)
    f = ((c - i) * F.lit(10**dp) + F.lit(0.5)).cast("long")
    return (
        F.sum(i).cast("decimal(38,6)")
        + F.sum(f).cast("decimal(38,6)") / F.lit(10**dp)
    ).cast("double")


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window + filter.

    One shuffle (on ``partition_by``), no global sort. Callers MUST make
    ``order_by`` a total order (add a unique tiebreak column) or row_number
    is nondeterministic under ties.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def broadcast_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Inner join with an explicit broadcast hint on the dimension side —
    the fact side never shuffles. Use only for genuinely small dims (fits
    in every executor); for borderline sizes let AQE decide instead."""
    return fact.join(F.broadcast(dim), on, "inner")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) parquet table: rows are
    hash-distributed into ``n_buckets`` files per partition by
    ``bucket_cols``.

    Two tables bucketed identically on their join key co-locate: the join
    plans with NO Exchange on either side (asserted in tests/test_plans.
    py) — at 100 TB that's the entire shuffle of the larger fact table
    saved on every subsequent join, amortizing the one-time bucketed
    write. ``sort_cols`` additionally pre-sorts within buckets so
    sort-merge joins skip their sort step."""
    writer = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salt: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-resistant inner equi-join: spread each hot fact key over
    ``n_salt`` shuffle partitions by appending a deterministic salt
    (xxhash64 of ``salt_source``, a high-cardinality fact column), and
    replicate the dim side ×``n_salt`` so every salted fact row still
    finds its match.

    Result is row-identical to ``fact.join(dim, on)`` — only the
    physical shuffle distribution changes. Use when BOTH sides are too big
    to broadcast AND fact keys are skewed (one key ≫ others would pin a
    single reducer); AQE's skew-join split handles sort-merge skew
    automatically, but salting also fixes skewed hash aggregations and
    works under any join strategy."""
    if salt_source is None:
        raise ValueError("salt_source (a high-cardinality fact column) is required")
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salt)).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return salted_fact.join(salted_dim, [*on, "__salt"], "inner").drop("__salt")


def rolling_time_window(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    window_seconds: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Rolling event-time window per entity (e.g. 7-day spend per user) —
    the feature-store staple. Range frame over epoch seconds: peers with
    the same second get identical frame results (deterministic).

    State/shuffle envelope at scale: one shuffle on ``partition_by``; each
    partition sorts locally by time. Skewed entities (one user = billions
    of rows) would need pre-bucketing by (entity, time-bucket); at that
    point switch to the streaming path (streaming/windows)."""
    with_epoch = df.withColumn("_epoch_s", F.unix_timestamp(F.col(ts_col)))
    w = (
        Window.partitionBy(*partition_by)
        .orderBy("_epoch_s")
        .rangeBetween(-window_seconds, 0)
    )
    out = with_epoch.select(
        "*", *[expr.over(w).alias(name) for name, expr in aggs.items()]
    )
    return out.drop("_epoch_s")
