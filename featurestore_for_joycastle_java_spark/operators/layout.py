"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional locality — the lakehouse file-skipping pattern.

A table range-partitioned and sorted on a single column prunes well on
that column and terribly on any other. Interleaving the bits of two
columns into one Morton key and laying files out by key ranges gives
BOTH columns locality: a 2-D box predicate touches the few files whose
key ranges intersect the box's curve segments, so min/max row-group
stats skip the rest. This is public, textbook space-filling-curve
clustering (Morton 1966); engines ship it as ``OPTIMIZE ... ZORDER BY``.

The key is pure bit arithmetic — deterministic, engine-replayable, and
(deliberately) built from unrolled shift/mask terms rather than a HOF
fold: 2·bits long-ops inline stay inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    bit b of x → bit 2b, bit b of y → bit 2b+1.

    Out-of-range inputs FAIL FAST executor-side (raise_error) instead of
    silently truncating: a masked-off high bit would collide distant
    values into one key and corrupt the clustering property while every
    value-level oracle stayed green — the exact failure class a layout
    operator must refuse (same guard philosophy as srp_codes' dim
    check)."""
    lim = 1 << bits
    oob = (x < 0) | (x >= lim) | (y < 0) | (y >= lim)
    guard = F.when(
        oob,
        F.raise_error(
            F.concat(
                F.lit(f"morton_key: inputs must be in [0, {lim}), got ("),
                x.cast("string"),
                F.lit(", "),
                y.cast("string"),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    terms = [guard]
    for b in range(bits):
        terms.append(
            F.shiftleft(
                F.shiftrightunsigned(x.cast("long"), b).bitwiseAND(F.lit(1)),
                2 * b,
            )
        )
        terms.append(
            F.shiftleft(
                F.shiftrightunsigned(y.cast("long"), b).bitwiseAND(F.lit(1)),
                2 * b + 1,
            )
        )
    return reduce(lambda a, c: a.bitwiseOR(c), terms).alias("morton")


def morton_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The identical key as portable SQL (DuckDB oracle side): the same
    unrolled terms spelled with integer division/modulo — '>>' and '&'
    avoided so the arithmetic is unambiguous across dialects."""
    terms = [
        f"(({x_expr}) // {1 << b} % 2) * {1 << (2 * b)}"
        for b in range(bits)
    ] + [
        f"(({y_expr}) // {1 << b} % 2) * {1 << (2 * b + 1)}"
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def cluster_by_morton(
    df: DataFrame,
    x_col: Column,
    y_col: Column,
    bits: int = 16,
) -> DataFrame:
    """Physically cluster rows along the Z-curve: add the Morton key,
    range-partition on it into 8 partitions (sampled range boundaries —
    one extra pass, same as any repartitionByRange), and sort within
    partitions so row-group min/max stats are tight. Writing the result with
    ``.write.parquet`` yields the file layout that 2-D box predicates
    prune against."""
    keyed = df.withColumn("morton", morton_key(x_col, y_col, bits))
    return keyed.repartitionByRange(8, "morton").sortWithinPartitions(
        "morton"
    )
