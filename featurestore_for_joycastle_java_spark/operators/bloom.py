"""Bloom-filter join pruning — shuffle-reduction for selective joins.

The classic big-join optimization the engine's relational layer was
missing: when a large fact table joins a *selective* small side (a
filtered dimension), most fact rows will not survive the join, yet a
plain shuffle join still shuffles ALL of them. A Bloom filter built from
the small side's keys and broadcast to the fact scan rejects the
non-matching majority *before* the shuffle — at 100 TB this turns a
full-fact shuffle into a near-output-sized one. Spark's own runtime
row-level filtering (``spark.sql.optimizer.runtime.bloomFilter``) does
this opportunistically for shuffle joins; this operator is the explicit,
composable form (works for any downstream plan, and its parameters are
visible/testable rather than cost-model-internal).

Everything stays JVM-side and codegen-friendly: the filter is built with
``xxhash64`` + ``bit_or`` aggregation into a word-indexed bitmap map
(one row, broadcast), and the probe is k = 3 map lookups + bit tests per
fact row — no Python, no UDF, no collect. False positives are possible
(callers keep their exact join afterwards — the oracle-checked result is
therefore bloom-independent); false negatives are impossible, which the
property test pins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["bloom_build", "bloom_prune"]


def _positions(key: Column, num_bits: int) -> list[Column]:
    """The k = 3 bit positions for ``key``: pmod(xxhash64(key, seed), m).

    Seeds enter as an extra hashed column, the standard way to derive a
    hash family from one 64-bit hash. ``pmod`` keeps positions
    non-negative (xxhash64 is signed).
    """
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)) for i in range(3)
    ]


def _bit_test(word: Column, bit: Column) -> Column:
    """(word >> bit) & 1 == 1 with a *column* shift amount — the Python
    ``shiftrightunsigned`` helper only takes literal shifts, so the
    variable-shift form goes through the SQL expression."""
    return (
        F.call_function("shiftrightunsigned", word, bit.cast("int"))
        .bitwiseAND(F.lit(1).cast("long"))
        == 1
    )


def bloom_build(
    small: DataFrame, key: str, *, num_bits: int = 1 << 17
) -> DataFrame:
    """One-row DataFrame holding the Bloom bitmap of ``small[key]``.

    The bitmap is a ``map<long, long>`` from 64-bit word index to word
    value, built wholly as aggregation: explode the k positions, distinct
    them, ``bit_or`` the shifted bits per word. ``num_bits`` defaults to
    131072 bits = 2048 words = 16 KiB — broadcast-trivial; size it at
    roughly 10 bits per distinct key for ~1% false positives (classic
    m/n=9.6 → 1% with optimal k≈7; k=3 trades a few FPs for cheaper
    probes).
    """
    pos = small.select(
        F.explode(F.array(*_positions(F.col(key), num_bits))).alias("pos")
    ).distinct()
    words = pos.groupBy(
        F.floor(F.col("pos") / F.lit(64)).cast("long").alias("w")
    ).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            )
        ).alias("mask")
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "mask"))).alias(
            "__bloom__"
        )
    )


def bloom_prune(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    *,
    num_bits: int = 1 << 17,
) -> DataFrame:
    """Rows of ``big`` whose ``big_key`` *may* appear in
    ``small[small_key]`` — a superset of the exact semi join (no false
    negatives), map-side and shuffle-free.

    Composition contract: follow with the exact join; this only thins
    what reaches its shuffle. The bloom frame broadcasts (one row, ≤16
    KiB default) so the probe is a stateless per-row expression inside
    whole-stage codegen.
    """
    bloom = bloom_build(small, small_key, num_bits=num_bits)
    probe = None
    for pos in _positions(F.col(big_key), num_bits):
        word = F.coalesce(
            F.element_at(
                F.col("__bloom__"), F.floor(pos / F.lit(64)).cast("long")
            ),
            F.lit(0).cast("long"),
        )
        bit = _bit_test(word, pos % 64)
        probe = bit if probe is None else (probe & bit)
    return (
        big.join(F.broadcast(bloom))
        .filter(probe)
        .drop("__bloom__")
    )
