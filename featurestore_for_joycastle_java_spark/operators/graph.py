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
O(k·|E|) total work, the textbook distributed PageRank schedule. Deep
lineage is bounded by small k (callers with k ≳ 10 should checkpoint,
as the CC loop does).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank_int", "hits_int", "label_propagation"]

#: micro-unit scale for integer ranks
SCALE = 1_000_000


def pagerank_int(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer PageRank over a directed edge list → (node, rank_micro).

    ``edges`` must already be the shape to rank (deduplicated;
    symmetrize beforehand for undirected semantics). Nodes with no
    out-edges contribute nothing (their rank leaks — standard
    simplification); nodes with no in-edges settle at the teleport
    floor. ``damping_pct`` is an integer percentage so the damping step
    stays in integer arithmetic.
    """
    spark = edges.sparkSession
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    # Iteration frames are one row per node/edge — tiny relative to any
    # fact table — so the session's fact-sized shuffle width only adds
    # task-scheduling overhead here (measured at sf0.1: 32 → 8 halves
    # the loop's wall clock). Safe to scope to this function: every
    # iteration materializes INSIDE it (eager localCheckpoint below), so
    # nothing planned under the narrow width escapes. On a real cluster
    # size this to node-count / executor-memory, as the streaming drains
    # do for state stores.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_GRAPH_SHUFFLE", "8"),
    )
    try:
        return _pagerank_loop(edges, src, dst, iterations, damping_pct)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def _pagerank_loop(
    edges: DataFrame, src: str, dst: str, iterations: int, damping_pct: int
) -> DataFrame:
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
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
    for _ in range(iterations):
        contrib = ed.join(
            r, ed.src == r.node
        ).select(
            F.col("dst").alias("node"),
            F.expr("r DIV deg").alias("c"),
        )
        insum = contrib.unionByName(zeros).groupBy("node").agg(
            F.sum("c").alias("insum")
        )
        r = insum.select(
            "node",
            (
                F.lit(floor_term).cast("bigint")
                + F.expr(f"({damping_pct} * insum) DIV 100")
            ).alias("r"),
        )
        # truncate lineage per round (the CC-loop pattern): without this
        # each action re-analyzes/re-compiles the whole k-deep join
        # stack, and planning — not data — dominates (measured at sf0.1
        # for k=5: 10.2 s no-checkpoint → 6.8 s per-round checkpoint →
        # ~4 s with width 8); the ranks frame is one small row per node,
        # so the materialization is cheap at any scale
        r = r.localCheckpoint(eager=True)
    return r.select("node", F.col("r").alias("rank_micro"))


def hits_int(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
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

    Scale shape mirrors pagerank_int: edges cached and joined by src or
    dst per half-step (co-partitioned after the first shuffle), map-side
    combined sums, a 1-row broadcast max frame per half-step, and a
    per-round localCheckpoint to keep lineage flat."""
    spark = edges.sparkSession
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_GRAPH_SHUFFLE", "8"),
    )
    try:
        return _hits_loop(edges, src, dst, iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def _hits_loop(
    edges: DataFrame, src: str, dst: str, iterations: int
) -> DataFrame:
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).cache()
    h = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(SCALE).cast("bigint").alias("h"))
        .localCheckpoint(eager=True)
    )
    a = None
    # r13 (guide §2.4/§2.6): checkpoint the RAW sums lazily and let the
    # max-broadcast build be the materializing action. The previous shape
    # checkpointed the NORMALIZED frame eagerly, which executed each
    # half-step's join+agg TWICE per round (once under the broadcast
    # build of the max, once under the eager checkpoint — the two
    # actions share no exchange) and paid two driver jobs per half-step.
    # Now the broadcast's job computes and persists araw/hraw; the
    # normalized frame is a shallow crossJoin over the persisted RDD and
    # needs no checkpoint of its own (lineage stays one hop). Same exact
    # integer arithmetic, same per-round localCheckpoint lineage
    # truncation; measured interleaved at sf0.1: 4.68 -> 3.84 s median.
    for _ in range(iterations):
        araw = (
            e.join(h, e.src == h.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").cast("bigint").alias("raw"))
            .localCheckpoint(eager=False)
        )
        amax = araw.agg(F.max("raw").alias("m"))
        a = araw.crossJoin(F.broadcast(amax)).select(
            "node", F.expr(f"(raw * {SCALE}) DIV m").alias("a")
        )
        hraw = (
            e.join(a, e.dst == a.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").cast("bigint").alias("raw"))
            .localCheckpoint(eager=False)
        )
        hmax = hraw.agg(F.max("raw").alias("m"))
        h = hraw.crossJoin(F.broadcast(hmax)).select(
            "node", F.expr(f"(raw * {SCALE}) DIV m").alias("h")
        )
    hubs = h.select("node", F.lit("hub").alias("side"), F.col("h").alias("score_micro"))
    auths = a.select(
        "node", F.lit("authority").alias("side"), F.col("a").alias("score_micro")
    )
    return hubs.union(auths)


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
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

    Scale shape mirrors the other iterative ops here: the edge frame is
    cached and joined by src once per round (co-partitioned after the
    first shuffle), the (node, label) frequency count is ONE hash
    aggregate with map-side combine, the argmax-with-tiebreak is a
    second aggregate over it — ``max(struct(count, -label))`` — NOT a
    window, so no per-node sort materializes. k rounds = O(k·|E|), with
    a per-round localCheckpoint keeping lineage flat."""
    spark = edges.sparkSession
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_GRAPH_SHUFFLE", "8"),
    )
    try:
        return _lpa_loop(edges, src, dst, iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def _lpa_loop(
    edges: DataFrame, src: str, dst: str, iterations: int
) -> DataFrame:
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).cache()
    lbl = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").cast("bigint").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        freq = (
            e.join(lbl, e.src == lbl.node)
            .groupBy(F.col("dst").alias("n2"), F.col("lbl").alias("l2"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC): labels are non-negative, so
        # max(struct(c, -l2)) picks the highest count, then the smallest
        # label — one aggregate, no window sort
        upd = (
            freq.groupBy(F.col("n2").alias("node"))
            .agg(F.max(F.struct(F.col("c"), (-F.col("l2")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).cast("bigint").alias("lbl"))
        )
        # nodes with no in-edges keep their previous label
        lbl = (
            lbl.join(upd.withColumnRenamed("lbl", "__new"), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__new"), F.col("lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return lbl.select("node", F.col("lbl").alias("label"))
