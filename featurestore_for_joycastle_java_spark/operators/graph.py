"""Iterative graph analytics — integer-deterministic PageRank.

Extends the engine's graph surface (connected components,
``operators/dedup.py``) with the other canonical iterative algorithm.
The classic float PageRank is NOT reproducible across engines or even
across partitionings (per-node contribution sums are order-dependent
doubles), so this implementation does ALL arithmetic in scaled integers:

    r0(v)   = S                    (S = 1e6 micro-units, scale-invariant)
    c(u→v)  = r(u) DIV deg(u)      (integer floor division)
    r'(v)   = (15·S) DIV 100 + (85 · Σ c(u→v)) DIV 100

Every contribution is an exact BIGINT, sums commute, and the result is
bit-identical for any partitioning, engine, or execution order — so the
oracle can replay all iterations declaratively. The DIV truncation loses
< deg(u) micro-units per node per round (≤ ppm-level relative error
vs float PageRank) in exchange for exactness — the same trade the
decimal-exact aggregation queries make.

Scale shape: one edges frame (cached, hash-partitioned on src), per
iteration one join (ranks onto edges by src — co-partitioned after the
first shuffle) + one groupBy dst with map-side combine. k iterations =
O(k·|E|) total work, the textbook distributed PageRank schedule. Every
loop here runs through ``operators.iterate.fixpoint``, which cuts the
lineage each round.

The iteration frames are one row per node or edge, tiny next to any fact
table, so the loops run at a shuffle width of at most ``LOOP_WIDTH``: the
session's fact-sized width only adds task scheduling (measured at sf0.1 on
a 4-core host, session width 32: PageRank 5.02 → 4.51 s and LPA
9.65 → 7.57 s at width 8).
Every round materializes inside the scope, so nothing planned under the
narrow width escapes it. On a real cluster, size this to node count and
executor memory.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from featurestore_for_joycastle_java_spark.operators.iterate import fixpoint
from featurestore_for_joycastle_java_spark.session import narrow_shuffle_width

__all__ = ["pagerank_int", "hits_int", "label_propagation"]

#: micro-unit scale for integer ranks
SCALE = 1_000_000
#: upper bound on the shuffle width of the iteration frames
LOOP_WIDTH = 8


def _narrowed(loop):
    """``loop(edges, **options)`` run at a shuffle width of at most
    ``LOOP_WIDTH``."""

    @functools.wraps(loop)
    def run(edges: DataFrame, **options) -> DataFrame:
        with narrow_shuffle_width(edges.sparkSession, LOOP_WIDTH):
            return loop(edges, **options)

    return run


@_narrowed
def pagerank_int(
    edges: DataFrame,
    *,
    iterations: int = 5,
) -> DataFrame:
    """Integer PageRank over a directed edge list → (node, rank_micro).

    ``edges`` must already be the shape to rank (deduplicated;
    symmetrize beforehand for undirected semantics). Nodes with no
    out-edges contribute nothing (their rank leaks — standard
    simplification); nodes with no in-edges settle at the teleport
    floor. The damping is an integer percentage (85) so the damping step
    stays in integer arithmetic.
    """
    damping_pct = 85
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # nodes feeds every iteration's zero rows — materialize it once
    # instead of re-deriving the union+distinct five times
    nodes = nodes.localCheckpoint(eager=True)
    r = nodes.select("node", F.lit(SCALE).cast("bigint").alias("r"))
    # one zero contribution per node keeps no-in-edge nodes at the
    # teleport floor inside the round's one groupBy; a left join of the
    # sums back onto nodes would add a broadcast (and its job) per round
    zeros = nodes.select("node", F.lit(0).cast("bigint").alias("c"))
    floor_term = (SCALE * (100 - damping_pct)) // 100

    def step(r: DataFrame) -> DataFrame:
        contrib = ed.join(r, ed.src == r.node).select(
            F.col("dst").alias("node"),
            F.expr("r DIV deg").alias("c"),
        )
        insum = contrib.unionByName(zeros).groupBy("node").agg(
            F.sum("c").alias("insum")
        )
        return insum.select(
            "node",
            (
                F.lit(floor_term).cast("bigint")
                + F.expr(f"({damping_pct} * insum) DIV 100")
            ).alias("r"),
        )

    r, _ = fixpoint("pagerank_int", r, step, max_rounds=iterations)
    return r.select("node", F.col("r").alias("rank_micro"))


@_narrowed
def hits_int(
    edges: DataFrame,
    *,
    iterations: int = 3,
) -> DataFrame:
    """Integer-deterministic HITS (Kleinberg 1999, "Authoritative
    sources in a hyperlinked environment") over a directed edge list →
    (node, side, score_micro) with ``side`` in {'hub', 'authority'}.

    Same reproducibility discipline as :func:`pagerank_int`: the float
    algorithm L2-normalizes each half-step, which is neither exactly
    replayable nor order-independent, so instead every score is a scaled
    BIGINT and each half-step renormalizes by the exact integer MAX:

        a'(v) = Σ_{u→v} h(u)            (exact BIGINT sum)
        a(v)  = (a'(v) · S) DIV max a'   (S = 1e6; max-norm, not L2)
        h'(u) = Σ_{u→v} a(v)            (uses the NEW authorities)
        h(u)  = (h'(u) · S) DIV max h'

    Max-normalization keeps the fixed point of the power iteration (the
    principal eigenvector direction of AᵀA / AAᵀ is scale-free) while
    staying in integers; scores land in [0, S] with the top hub and top
    authority pinned at exactly S. Overflow envelope: raw sums are ≤
    in_deg·S and the ·S renormalization needs in_deg·S² < 2^63, i.e.
    max degree below ~9e6 — past that, widen to DECIMAL(38,0) before
    the multiply (the oracle's HUGEINT already is).

    Scale shape: the edges are cached and joined by src or dst per
    half-step, with map-side combined sums; unlike pagerank_int's, the
    cached edges are not partitioned by the join key, so every half-step
    re-shuffles them. Each half-step is one round of the fixpoint
    loop, and its one action brings the raw sums' max back to the driver:
    that action persists the raw sums, and the next half-step divides by
    the max as a literal. So every half-step runs inside this call, and
    no broadcast timeout has to cover a chain of them."""
    e = edges.select("src", "dst").cache()
    # the initial hubs as raw sums with max S: normalized, all are S
    h0 = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(SCALE).cast("bigint").alias("raw"))
        .localCheckpoint(eager=True)
    )
    peaks = [SCALE]
    scores: list[DataFrame] = []  # normalized hubs, authorities, hubs, ...

    def normalize(raw: DataFrame) -> DataFrame:
        return raw.select(
            "node", F.expr(f"(raw * {SCALE}) DIV {peaks[-1]}").alias("s")
        )

    def half_step(raw: DataFrame) -> DataFrame:
        scores.append(normalize(raw))
        # from hubs, sum over out-edges onto dst; from authorities, onto src
        key, out = ("src", "dst") if len(scores) % 2 else ("dst", "src")
        s = scores[-1]
        return (
            e.join(s, e[key] == s.node)
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum("s").cast("bigint").alias("raw"))
        )

    def peak(raw: DataFrame) -> int:
        # 0 only for an empty (or all-zero) vector, a fixed point
        peaks.append(raw.agg(F.max("raw")).first()[0] or 0)
        return peaks[-1]

    hraw, _ = fixpoint(
        "hits_int", h0, half_step, max_rounds=2 * iterations, changed=peak
    )
    score = F.col("s").alias("score_micro")
    hubs = normalize(hraw).select("node", F.lit("hub").alias("side"), score)
    auths = scores[-1].select("node", F.lit("authority").alias("side"), score)
    return hubs.union(auths)


@_narrowed
def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007,
    "Near linear time algorithm to detect community structures in
    large-scale networks", Phys. Rev. E 76) over a directed edge list →
    (node, label).

    The classic LPA is randomized twice over — random visit order and
    random tie-breaks — which is useless for an engine whose driver
    hash-compares results against a declarative oracle. This variant is
    fully deterministic: updates are SYNCHRONOUS (every node recomputes
    from the PREVIOUS round's labels, so no visit order exists) and ties
    on neighbor-label frequency break to the SMALLEST label. Labels are
    initialized to the node id, so after k rounds each node carries the
    smallest-dominant id within k hops — communities emerge exactly as
    in the paper, minus the randomness. Callers wanting undirected
    semantics symmetrize ``edges`` first (the same contract as
    :func:`pagerank_int`).

    Scale shape: the edge frame is cached and joined by src once per
    round; as in :func:`hits_int`, the cached edges are not partitioned
    by the join key, so every round's sort-merge join re-shuffles them
    (``Exchange hashpartitioning(src)`` over the cached scan; a small
    edge frame is broadcast instead). The (node, label) frequency count
    is ONE hash aggregate with map-side combine, the argmax-with-tiebreak
    is a second aggregate over it — ``max(struct(count, -label))`` — NOT
    a window, so no per-node sort materializes. k rounds = O(k·|E|), with
    a per-round checkpoint keeping lineage flat."""
    e = edges.select("src", "dst").cache()
    lbl = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").cast("bigint").alias("lbl"))
        .localCheckpoint(eager=True)
    )

    def step(lbl: DataFrame) -> DataFrame:
        freq = (
            e.join(lbl, e.src == lbl.node)
            .groupBy(F.col("dst").alias("n2"), F.col("lbl").alias("l2"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC): labels are non-negative, so
        # max(struct(c, -l2)) picks the highest count, then the smallest
        # label — one aggregate, no window sort
        best = F.max(F.struct(F.col("c"), (-F.col("l2")).alias("nl")))
        upd = (
            freq.groupBy(F.col("n2").alias("node"))
            .agg(best.alias("m"))
            .select("node", (-F.col("m.nl")).cast("bigint").alias("__new"))
        )
        # nodes with no in-edges keep their previous label
        return lbl.join(upd, "node", "left").select(
            "node", F.coalesce(F.col("__new"), F.col("lbl")).alias("lbl")
        )

    lbl, _ = fixpoint("label_propagation", lbl, step, max_rounds=iterations)
    return lbl.select("node", F.col("lbl").alias("label"))
