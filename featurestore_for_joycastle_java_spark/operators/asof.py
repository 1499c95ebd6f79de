"""Point-in-time (as-of) joins and sessionization — the feature-store core
that plain SQL engines special-case (DuckDB ASOF JOIN; Spark has no native
ASOF as of 4.x, SURVEY.md §7.3).

Every as-of join here is one tagged-union fill (``_tagged_fill``), the
union+window pattern chosen for 100 TB scale:

    tag left/right → union → window over (key, order by ts, side)
        → last(right payload, ignorenulls) → keep left rows

- ONE shuffle (on the join key) + a per-key local sort — same cost shape
  as a sort-merge join. No range-explode, no per-key collect.
- Right side rows carry their payload; left rows carry nulls; `last(...,
  ignorenulls=True)` over an unbounded-preceding frame fills each left row
  with the most recent right payload — exactly "the latest feature value
  known at event time" (backward direction), leakage-free.
- Skew: one hot entity serializes into one task. ``asof_join_bucketed``
  splits the window's partitioning key to (key, time-bucket) and
  stitches cross-bucket matches from a bucket-granular carry frame —
  semantics identical, hot keys spread across their time range.
  ``multi_asof_join`` joins ONE left spine to N feature frames in a
  single shuffle (the training-set assembly read).

Direction semantics (pandas ``merge_asof`` vocabulary; backward and
forward match DuckDB ASOF for the oracle):
- backward: match the latest right row with r.ts <= l.ts (ties included);
- forward:  match the earliest right row with r.ts >= l.ts (ties included);
- nearest:  the closer of the two, backward winning exact-distance ties.

If multiple right rows share one (key, ts), which one wins is undefined in
both engines — deduplicate the right side first (max_by/arg_max) when the
timestamp isn't unique per key.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

_SIDE = "__asof_side"
_TS = "__asof_ts"
_SUFFIX = "_matched"
#: scan orders per direction: False scans ts ascending (the backward
#: fill), True descending (the forward fill)
_ORDERS = {"backward": (False,), "forward": (True,), "nearest": (False, True)}


def _tagged_fill(
    left: DataFrame,
    rights: list[tuple[DataFrame, str, list]],
    on: list[str],
    left_ts: str,
    descending: tuple[bool, ...] = (False,),
) -> DataFrame:
    """The one as-of fill behind every join in this module.

    ``rights`` holds ``(frame, ts, fields)``: each right row carries
    ``struct(*fields)`` as ONE payload, filled with a single
    ``last(ignorenulls)`` — filling each column independently would let
    a NULL payload value on the matched row pull a STALE value from an
    earlier right row, pairing fields of two different right rows. A
    right row with a NULL ts carries NO payload: a NULL ts can never
    satisfy l.ts >= r.ts / <= r.ts — DuckDB ASOF matches nothing — but
    it sorts first/last in the window and would otherwise fill a
    half-row.

    Left rows are tagged 1 and right rows 0, so at equal ts the right
    rows come first and ties match in either scan order. Each entry of
    ``descending`` is one scan order; every fill shares the one
    ``partitionBy(on)``, so Catalyst plans ONE Exchange however many
    rights and orders there are (one Window operator per order).

    Returns the left rows — ``on``, ``left_ts``, the other left columns,
    as many as ``left`` has — followed by one struct column ``__f{j}`` per (scan order, right),
    order-major: ``j = order index * len(rights) + right index``."""
    rest = [c for c in left.columns if c not in on and c != left_ts]
    frames = [
        left.select(*on, F.col(left_ts).alias(_TS), F.lit(1).alias(_SIDE), *rest)
    ]
    for i, (right, right_ts, fields) in enumerate(rights):
        payload = F.when(F.col(right_ts).isNotNull(), F.struct(*fields))
        frames.append(
            right.select(
                *on,
                F.col(right_ts).alias(_TS),
                F.lit(0).alias(_SIDE),
                payload.alias(f"__p{i}"),
            )
        )
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
    fills = []
    for desc in descending:
        ts = F.col(_TS).desc() if desc else F.col(_TS).asc()
        w = (
            Window.partitionBy(*on)
            .orderBy(ts, F.col(_SIDE).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fills += [
            F.last(f"__p{i}", ignorenulls=True).over(w)
            for i in range(len(rights))
        ]
    fill_cols = [f"__f{j}" for j in range(len(fills))]
    return (
        union.select("*", *[f.alias(n) for f, n in zip(fills, fill_cols)])
        .filter(F.col(_SIDE) == 1)
        .select(*on, F.col(_TS).alias(left_ts), *rest, *fill_cols)
    )


def _payload_names(
    left: DataFrame, right_cols: list[str], right_ts: str
) -> list[str]:
    """Output names of an as-of payload: each right column, suffixed
    ``_matched`` if it collides with a left column, then the matched
    right timestamp ``<right_ts>_matched``."""
    names = [c + _SUFFIX if c in left.columns else c for c in right_cols]
    return [*names, right_ts + _SUFFIX]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: every left row + the right payload as of its timestamp.

    ``right_cols`` are the payload columns to carry over (suffixed
    ``_matched`` if they collide with left columns). The matched right
    timestamp is exposed as ``<right_ts>_matched``. Left rows with no
    qualifying right row keep nulls (left-outer semantics).

    ``direction="nearest"`` (pandas ``merge_asof(direction='nearest')``,
    which neither Spark nor DuckDB ships natively) takes the temporally
    CLOSEST right payload, backward winning exact-distance ties. It is
    still ONE shuffle, not two joins: the backward and forward fills run
    over the same (key) partitioning — Catalyst plans a single exchange
    with two Window operators (the second sorts within partitions, no
    re-shuffle) — and per-row arithmetic then picks the closer side.

    ``tolerance`` (pandas ``merge_asof(tolerance=...)``): maximum allowed
    |l.ts - r.ts| for a match — the bounded-staleness contract a feature
    store serves ("use the latest value, but never older than X"). It
    applies to the chosen match in every direction (for nearest, after
    the side is picked). Matches beyond it are nulled wholesale (payload
    + matched ts together — atomic, never a half-expired row).

    Nearest and tolerance require NUMERIC timestamps (epoch seconds/µs)
    so the distance is exact integer math — callers convert with
    ``unix_micros`` first (the contract the oracles replay); the plan
    cost is one post-fill comparison per row."""
    if direction not in _ORDERS:
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")

    names = _payload_names(left, right_cols, right_ts)
    matched_ts = names[-1]
    fields = [F.col(c).alias(n) for c, n in zip([*right_cols, right_ts], names)]
    orders = _ORDERS[direction]
    filled = _tagged_fill(left, [(right, right_ts, fields)], on, left_ts, orders)

    t, m = F.col(left_ts), F.col("__f0")
    if direction == "nearest":
        b_ts, f_ts = m[matched_ts], F.col("__f1")[matched_ts]
        use_b = b_ts.isNotNull() & (f_ts.isNull() | ((t - b_ts) <= (f_ts - t)))
        m = F.when(use_b, m).otherwise(F.col("__f1"))
    if tolerance is not None:
        # one condition gates payload AND matched ts — a match either
        # survives whole or nulls whole (same atomicity rule as the fill)
        m = F.when(F.abs(t - m[matched_ts]) <= F.lit(tolerance), m)
    return filled.select(
        *filled.columns[: len(left.columns)], *[m[n].alias(n) for n in names]
    )


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when the gap
    since the entity's previous event exceeds ``gap_seconds``; the
    per-entity session number lands in ``session_id``.

    lag + cumulative-sum over one window: a single shuffle on the entity
    key. Epoch seconds keep the arithmetic integer-exact (oracle parity and
    no DST surprises). The streaming twin is F.session_window (see
    streaming module)."""
    epoch = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(*key_cols).orderBy(epoch)
    is_new = F.when(
        (epoch - F.lag(epoch).over(w)) > gap_seconds, 1
    ).otherwise(0)
    # first row per key: lag is null -> when() falls to otherwise(0); session
    # ids then start at 0 for every entity.
    running = Window.partitionBy(*key_cols).orderBy(epoch).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(is_new).over(running))


def multi_asof_join(
    left: DataFrame,
    rights: list[tuple[DataFrame, str, list[str], str]],
    on: list[str],
    left_ts: str,
) -> DataFrame:
    """Point-in-time join of ONE left spine to N right feature frames in
    a SINGLE shuffle — the leakage-free training-set assembly read (one
    label spine as-of joined to every feature table at label time).

    ``rights``: list of ``(right_df, right_ts, payload_cols, tag)``.
    Payload column names must be unique across all rights and disjoint
    from the left's columns (pre-alias them); each right's matched
    timestamp is exposed as ``<tag>_ts_matched``.

    Plan shape: the N-right ``_tagged_fill`` — N independent
    ``last(payload_struct, ignorenulls)`` fills over the SAME window
    spec, which Catalyst plans as ONE Exchange (on the key) and ONE
    Window operator evaluating all N fills in a single pass. A
    per-feature asof_join chain would shuffle the spine N times; this
    shuffles the union once, which at 100 TB is the difference between
    N fact-table exchanges and one.

    Direction is backward-inclusive (latest right row with r.ts <= l.ts,
    DuckDB ASOF semantics); per-right ties at one (key, ts) are
    undefined in both engines — dedup each right first (same contract as
    ``asof_join``)."""
    taken = set(left.columns)
    names = []
    for _, _, cols, tag in rights:
        # the generated matched-ts name participates in the uniqueness
        # check too: duplicate tags — or a left column named like one —
        # would emit ambiguous output columns
        names.append([*cols, f"{tag}_ts{_SUFFIX}"])
        for c in names[-1]:
            if c in taken:
                raise ValueError(f"duplicate payload column: {c}")
            taken.add(c)

    filled = _tagged_fill(
        left,
        [
            (right, right_ts, [*cols, F.col(right_ts).alias(ns[-1])])
            for (right, right_ts, cols, _), ns in zip(rights, names)
        ],
        on,
        left_ts,
    )
    return filled.select(
        *filled.columns[: len(left.columns)],
        *[F.col(f"__f{i}")[n].alias(n) for i, ns in enumerate(names) for n in ns],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    bucket_width: int,
) -> DataFrame:
    """Skew-mitigated backward as-of join: result-identical to
    ``asof_join(direction="backward")``, but the big window partitions by
    (key, time-bucket) instead of (key) — a hot entity's rows spread
    across its time range instead of serializing into one task (the
    module-doc skew note, implemented).

    Decomposition: the latest right row at-or-before t is either (a) in
    the left row's own bucket — found by an as-of join partitioned on
    (key, bucket) — or (b) the LATEST right row of the nearest earlier
    non-empty bucket, which is independent of t within the bucket. (b)
    comes from a bucket-granular carry frame: one ``max_by`` per (key,
    bucket), forward-filled per key over bucket indices — a frame of
    size O(#keys x #active buckets), so the only per-key-serial window
    runs over bucket counts, not row counts.

    Cost: 3 small shuffles (within-bucket union window + carry window +
    stitch join, the last two on bucket-granular/bucket-keyed frames) vs
    asof_join's 1 — buy it when the hot key's single-task sort costs
    more than two extra full-frame shuffles. The crossover is
    PARALLELISM-DEPENDENT (the straggler runs on one core while the
    extra shuffles use all of them). Measured:

    - local[8], 2 M left + 1 M right rows, 95% on ONE key over 64 daily
      buckets: plain 2.56 s (one task sorts ~2.8 M rows) vs 1.51 s
      bucketed — bucketed WINS.
    - local[32] (SCALETEST_r11, inflated sf0.1 events): plain still
      wins at 0.96 M hot rows (1.13 vs 3.24 s, 30% skew), at 2.9 M
      (1.33 vs 1.63 s, 90% skew) and at 5.8 M (1.96 vs 2.28 s), the
      ratio shrinking monotonically per octave (1.5 → 1.23 → 1.16) —
      measured-extrapolated crossover ~1–2×10⁷ rows/key at 32-way
      parallelism.

    Guidance threshold (from the three measurements): reach for the
    bucketed variant when rows-on-the-hottest-key ≳ 3 M × (cores / 8)
    at single-node parallelism (Spark's single-task sort clears ~3 M
    rows/s warm, so the straggler must carry tens of millions before
    it beats two extra shuffle rounds); on a large cluster the
    comparison is one-core sort of the hot key vs two extra
    all-to-all shuffle ROUNDS of the frame — with thousands of cores
    the shuffle rounds amortize and the crossover drops back toward
    ~10⁶–10⁷ rows/key. Even-key frames should always prefer plain
    asof_join (one shuffle, no stitch).

    ``left_ts``/``right_ts`` must be NUMERIC (epoch seconds/µs) so
    ``floor(ts / bucket_width)`` is exact integer math. Tie semantics
    and the dedup-right contract match ``asof_join`` (ties only arise
    within a bucket, where the inner as-of applies the same rule)."""
    bkt = "__asof_bkt"
    names = _payload_names(left, right_cols, right_ts)
    matched_ts = names[-1]

    lb = left.withColumn(bkt, F.floor(F.col(left_ts) / F.lit(bucket_width)))
    rb = right.withColumn(bkt, F.floor(F.col(right_ts) / F.lit(bucket_width)))

    # (a) within-bucket as-of: the heavy window, partitioned on (key, bucket)
    within = asof_join(lb, rb, on + [bkt], left_ts, right_ts, right_cols)

    # (b) carry frame: latest right payload per (key, bucket), exposed to
    # every LATER left bucket. Right buckets enter the fill at sort key
    # (bkt + 1) so a left bucket b sees exactly the right buckets < b.
    # NULL-ts right rows can never match and their bucket is NULL
    # anyway — drop them before the carry aggregation.
    payload_t = F.struct(
        *[F.col(c).alias(n) for c, n in zip([*right_cols, right_ts], names)]
    )
    r_latest = (
        rb.filter(F.col(right_ts).isNotNull())
        .groupBy(*on, bkt)
        .agg(F.max_by(payload_t, F.col(right_ts)).alias("__carry"))
        .withColumn(bkt, F.col(bkt) + 1)
    )
    carry = _tagged_fill(
        lb.select(*on, bkt).distinct(), [(r_latest, bkt, ["__carry"])], on, bkt
    ).select(*on, bkt, F.col("__f0.__carry").alias("__c"))

    # stitch: within-bucket match wins; else the carry — the matched ts
    # is the non-null witness of a real within match (payload values may
    # legitimately be null on a matched row). The join is NULL-SAFE on
    # the keys: Window.partitionBy groups NULL keys into one partition,
    # so the plain as-of matches them — a null-unsafe equi-join here
    # would silently drop their cross-bucket carry.
    w_al, c_al = within.alias("__wb"), carry.alias("__cb")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__wb.{c}").eqNullSafe(F.col(f"__cb.{c}")) for c in on + [bkt]],
    )
    stitched = w_al.join(c_al, cond, "left")
    has_within = F.col(f"__wb.{matched_ts}").isNotNull()
    return stitched.select(
        *[F.col(f"__wb.{c}").alias(c) for c in on],
        F.col(f"__wb.{left_ts}").alias(left_ts),
        *[
            F.col(f"__wb.{c}").alias(c)
            for c in left.columns
            if c not in on and c != left_ts and c != bkt
        ],
        *[
            F.when(has_within, F.col(f"__wb.{n}"))
            .otherwise(F.col(f"__cb.__c.{n}"))
            .alias(n)
            for n in names[:-1]
        ],
        F.coalesce(
            F.col(f"__wb.{matched_ts}"), F.col(f"__cb.__c.{matched_ts}")
        ).alias(matched_ts),
    )
