"""Graph queries over edge tables derived from the fixtures (SURVEY.md
§2.3): PageRank, HITS, label propagation, k-core, BFS and multi-source
closeness, triangles, clustering coefficient, assortativity, degree
distribution and link prediction. The iterative ones run on
``operators.iterate.fixpoint``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.graph import (
    label_propagation,
)
from featurestore_for_joycastle_java_spark.operators.graphs import (
    cosupply_edges,
    degrees,
    kcore_edges,
    triangle_counts,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


def _pagerank_oracle(iterations: int) -> str:
    """Declarative replay of the integer PageRank loop: one CTE per
    iteration (identical integer arithmetic — `//` is DuckDB's integer
    floor division, Spark's DIV)."""
    cte = [
        """
WITH eraw AS (
    SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT src, dst FROM eraw
      UNION ALL SELECT dst, src FROM eraw),
d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
n AS (SELECT DISTINCT node FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n)"""
    ]
    for i in range(1, iterations + 1):
        cte.append(
            f"""
i{i} AS (
    SELECT n.node,
           CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT)
               AS r
    FROM n LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // d.deg) AS insum
        FROM e JOIN d USING (src)
        JOIN {'r0' if i == 1 else f'i{i - 1}'} p ON p.node = e.src
        GROUP BY e.dst) s USING (node))"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key,
       r AS rank_micro
FROM i{iterations}
"""
    )


@query("graph_pagerank_int", oracle=_pagerank_oracle(5))
def graph_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph
    (distinct pairs from orders⨝lineitem; even ids customers, odd
    suppliers) — 'which suppliers sit at the center of the purchase
    network'. Fully integer-deterministic (see ``operators/graph.py``:
    scaled-integer ranks, DIV contributions, exact BIGINT sums), so the
    oracle replays all five iterations declaratively and every rank
    matches exactly — no recall bound, no tolerance. Completes the
    iterative-graph pair started by connected components."""
    from featurestore_for_joycastle_java_spark.operators.graph import (
        pagerank_int,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    eraw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    e = eraw.union(
        eraw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    r = pagerank_int(e, iterations=5)
    return r.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("key"),
        "rank_micro",
    )


# ----------------------------------------------------------------- graph


@query(
    "graph_triangles_cosupply",
    # The oracle is the DECLARATIVE key-ordered triple join (a<b<c on
    # supplier keys) — independent of the engine's degree-ordered
    # orientation, so it proves the algorithm, not just replays it.
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (
    SELECT a AS s_suppkey FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY 1
""",
)
def graph_triangles_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts in the co-supply graph (suppliers
    adjacent iff they ship the same part in a bulk lineitem,
    qty ≥ 49) — the clustering/community-density primitive beside
    PageRank (centrality) and connected components (reachability).

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer", WWW 2011).
    Each undirected edge is directed from its (degree, key)-smaller
    endpoint to the larger; wedges are enumerated at the SMALLEST
    endpoint of each triangle and closed against the directed edge
    list, so every triangle is emitted exactly once and the wedge join
    fans out by OUT-degree, which the orientation bounds by O(√|E|)
    even on power-law graphs — the "last reducer" (max-degree hub)
    never enumerates its quadratic neighborhood. The bipartite
    part→supplier projection dedups (part, supplier) BEFORE pairing,
    and pairs are per-part (Σ per-part m² , never global n²).

    The wedge-closure engine lives in ``operators/graphs.py::
    triangle_counts`` (shared, property-tested against a brute-force
    reference on random graphs); plan/perf notes live on its docstring."""
    return triangle_counts(cosupply_edges(spark, sf_dir)).select(
        F.col("x").alias("s_suppkey"), "n_triangles"
    )


# ----------------------------------------------------------------- graph


@query(
    "graph_link_common_neighbors",
    # Declarative oracle: wedge-centered common-neighbor counts for
    # non-adjacent pairs, Jaccard in integer ppm, deterministic top-50
    # by (cn DESC, u, v).
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
adj AS (
    SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
cn AS (
    SELECT a.y AS u, b.y AS v, CAST(COUNT(*) AS BIGINT) AS cn
    FROM adj a JOIN adj b ON a.x = b.x AND a.y < b.y
    GROUP BY 1, 2),
nonedge AS (
    SELECT cn.u, cn.v, cn.cn
    FROM cn LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
    WHERE e.u IS NULL)
SELECT ne.u, ne.v, ne.cn,
       CAST(ne.cn * 1000000 // (du.d + dv.d - ne.cn) AS BIGINT)
           AS jaccard_ppm
FROM nonedge ne
JOIN deg du ON du.x = ne.u
JOIN deg dv ON dv.x = ne.v
ORDER BY ne.cn DESC, ne.u ASC, ne.v ASC
LIMIT 50
""",
)
def graph_link_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction on the co-supply graph: the 50 NON-adjacent
    supplier pairs with the most common neighbors (plus neighborhood
    Jaccard in ppm) — "these two suppliers ship alongside the same
    partners but never co-supply; they are the likeliest next edge"
    (Liben-Nowell & Kleinberg, CIKM 2003). Complements PageRank
    (centrality), CC (reachability), triangles (density).

    Scale shape: candidate pairs come from the WEDGE join (common
    neighbor = wedge center), so only pairs at distance 2 are ever
    materialized — never the quadratic non-edge set; the Σ deg² wedge
    cost is the same bound as triangle counting. Anti-join against
    the edge list removes adjacent pairs; degree frame broadcasts;
    final top-50 is a TakeOrderedAndProject with a total-order
    tiebreak.

    Plan note (measured, sf0.1): the edge list feeds four branches
    (adj ×2 via the union, the anti-join, degrees); the static plan
    repeats the subtree but ReuseExchange deduplicates at runtime —
    1.5 s as-is vs 2.8 s with `.cache()` (materialization barrier >
    reuse savings; cache rejected on measurement)."""
    e = cosupply_edges(spark, sf_dir)
    adj = e.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).unionAll(e.select(F.col("v").alias("x"), F.col("u").alias("y")))
    a, b = adj.alias("a"), adj.alias("b")
    cn = (
        a.join(
            b,
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
        )
        .groupBy(F.col("a.y").alias("u"), F.col("b.y").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    nonedge = cn.join(e, ["u", "v"], "left_anti")
    deg = degrees(e)
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    return (
        nonedge.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "cn",
            F.expr("cn * 1000000 DIV (du + dv - cn)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("cn").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(50)
    )


# ----------------------------------------------------------------- graph


_KCORE_K = 18


_KCORE_STAGES = 16  # ≥ 2× the deepest measured peel (7 rounds at sf0.1)


def _kcore_oracle(k: int = _KCORE_K, stages: int = _KCORE_STAGES) -> str:
    """Unrolled peeling oracle: stage i computes degrees over the
    surviving edge set, keeps nodes with degree ≥ k, and restricts
    edges to kept endpoints. Peeling is monotone (the surviving set
    only shrinks and a converged stage reproduces itself), so any
    stage depth ≥ the actual peel count yields the exact k-core; 16
    stages is > 2× the deepest measured fixture (7 rounds at sf0.1).
    The final SELECT reports each core node's degree WITHIN the core.
    """
    sql = """
WITH bip AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e0 AS MATERIALIZED (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s)"""
    # every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each stage references its predecessor ~3x, so the inlined tree
    # (and the number of parquet re-opens) would grow 3^stages
    for i in range(stages):
        sql += f""",
d{i} AS MATERIALIZED (
    SELECT x, COUNT(*) AS dg
    FROM (SELECT u AS x FROM e{i} UNION ALL SELECT v FROM e{i})
    GROUP BY 1),
a{i} AS MATERIALIZED (SELECT x FROM d{i} WHERE dg >= {k}),
e{i + 1} AS MATERIALIZED (
    SELECT e.u, e.v FROM e{i} e
    JOIN a{i} au ON au.x = e.u
    JOIN a{i} av ON av.x = e.v)"""
    sql += f"""
SELECT x AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS x FROM e{stages} UNION ALL SELECT v FROM e{stages})
GROUP BY 1
"""
    return sql


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-supply graph (k = 18): the maximal subgraph in
    which every supplier retains ≥ 18 co-supply partners — the
    cohesive-subgraph primitive (Seidman 1983) that separates a dense
    trading community from peripheral suppliers; the fifth graph read
    (PageRank, CC, triangles, link prediction, k-core), sharing
    `operators/graphs.py`.

    The peel loop lives in ``operators/graphs.py::kcore_edges``
    (shared, property-tested against a Python peeling reference on
    random graphs); algorithm and scale notes live on its docstring.
    Output: each core member's degree within the core. Empty result
    (graph fully peeled, e.g. the sparsest fixture) is a valid
    converged state."""
    # max_rounds = the oracle's unrolled stage count: a fixture deep
    # enough to out-peel the 16 stages raises loudly in the engine
    # instead of silently diverging from the non-converged oracle
    # (the graph_closeness_multi_bfs shared-bound discipline, r11)
    e = kcore_edges(
        cosupply_edges(spark, sf_dir), _KCORE_K, max_rounds=_KCORE_STAGES
    )
    return degrees(e).select(
        F.col("x").alias("s_suppkey"),
        F.col("d").cast("bigint").alias("core_degree"),
    )


#: BFS depth bound shared by the engine loop and the oracle's recursive
#: CTE: 30 ≫ the measured single-digit co-supply diameter, and a deeper
#: future fixture truncates BOTH sides at the same depth instead of
#: diverging.
_BFS_MAX_HOPS = 30


@query(
    "graph_bfs_hops",
    # Recursive-CTE BFS with a generous depth cap (30 ≫ the co-supply
    # diameter — the engine loop shares the bound via _BFS_MAX_HOPS;
    # UNION-dedup alone cannot terminate on cyclic graphs because
    # revisits arrive with ever-larger hop counts).
    oracle=f"""
WITH RECURSIVE
bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2),
dir AS (
    SELECT u AS src, v AS dst FROM e
    UNION ALL
    SELECT v AS src, u AS dst FROM e),
s0 AS (SELECT MIN(u) AS s FROM e),
walk AS (
    SELECT s AS node, 0 AS hops FROM s0
    UNION
    SELECT d.dst AS node, w.hops + 1 AS hops
    FROM walk w JOIN dir d ON d.src = w.node
    WHERE w.hops < {_BFS_MAX_HOPS})
SELECT node, CAST(MIN(hops) AS INT) AS hops
FROM walk GROUP BY 1 ORDER BY node
""",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS (shortest hop counts) over the co-supply graph
    — the traversal member of the graph family (PageRank, k-core,
    triangles, common-neighbors, CC): distances from the minimum-key
    supplier to every reachable node by frontier expansion.

    The traversal is ``operators.graphs.bfs`` with the one root; the
    oracle replays the fixpoint as a depth-capped recursive CTE.
    """
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        bfs,
        cosupply_edges,
    )

    e = cosupply_edges(spark, sf_dir).localCheckpoint(eager=True)
    root = e.agg(F.min("u").alias("root"))
    return (
        bfs(e, root, _BFS_MAX_HOPS)
        .select("node", F.col("hops").cast("int"))
        .orderBy("node")
    )


# -------------------------------------------------------- Adamic-Adar


@query(
    "graph_adamic_adar",
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
adj AS (
    SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (
    SELECT a.y AS u, b.y AS v, d.d
    FROM adj a JOIN adj b ON a.x = b.x AND a.y < b.y
    JOIN deg d ON d.x = a.x),
cn AS (
    SELECT u, v, COUNT(*) AS cn,
           ROUND(SUM(1.0 / LN(CAST(d AS DOUBLE))), 6) AS aa_score
    FROM wedge GROUP BY 1, 2),
nonedge AS (
    SELECT cn.u, cn.v, cn.cn, cn.aa_score
    FROM cn LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
    WHERE e.u IS NULL)
SELECT u, v, cn, aa_score
FROM nonedge
ORDER BY aa_score DESC, u, v
LIMIT 50
""",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar, Social Networks 2003)
    on the co-supply graph: non-adjacent supplier pairs scored by
    SUM(1/ln(deg(z))) over common neighbors z — rare shared partners
    count more than promiscuous hubs, the weighting that beats raw
    common-neighbor counts (Liben-Nowell & Kleinberg 2003); ranked
    top-50. Complements ``graph_link_common_neighbors`` (unweighted).

    Scale shape: identical wedge-join bound as triangle counting
    (candidates only at distance 2, Sigma deg^2 work, never the
    quadratic non-edge set); the center's degree rides INTO the wedge
    join via one broadcast so the score is a plain combine-friendly
    SUM; anti-join drops adjacent pairs; deterministic top-50 orders by
    the ROUNDED score with (u, v) tiebreak on both engines. deg(z) >= 2
    for every wedge center, so ln is always positive."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        cosupply_edges,
        degrees,
    )

    e = cosupply_edges(spark, sf_dir)
    adj = e.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).unionAll(e.select(F.col("v").alias("x"), F.col("u").alias("y")))
    deg = degrees(e)
    a = adj.alias("a")
    b = adj.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
        )
        .join(
            F.broadcast(deg.select(F.col("x").alias("cx"), "d")),
            F.col("a.x") == F.col("cx"),
        )
        .select(
            F.col("a.y").alias("u"),
            F.col("b.y").alias("v"),
            F.col("d"),
        )
    )
    cn = wedge.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), 6)
        .alias("aa_score"),
    )
    return (
        cn.join(e, ["u", "v"], "left_anti")
        .orderBy(F.col("aa_score").desc(), "u", "v")
        .limit(50)
    )


# ------------------------------------------------- degree distribution


@query(
    "graph_degree_distribution",
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
adj AS (SELECT u AS x FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY 1)
SELECT CAST(LENGTH(BIN(d)) AS INTEGER) AS bit_bin,
       COUNT(*) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_d,
       CAST(MAX(d) AS BIGINT) AS max_d
FROM deg GROUP BY 1
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-supply graph in power-of-two bins —
    the first thing to look at before ANY graph algorithm at scale: a
    heavy tail means wedge joins need the high-degree mitigation and
    hash partitions will skew (feeds `diag_key_skew`-style decisions for
    `graph_triangles_cosupply`/`graph_adamic_adar`). Bins are the BIT
    LENGTH of the degree (length of the binary rendering) — integer-
    exact in both engines, dodging the floor(log2(x)) float trap where
    one engine's log2(8) = 2.9999... flips a bin.

    Scale shape: degree frame is node-sized (one combine-friendly
    count), binning is a projection, the histogram is <= 64 rows."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        cosupply_edges,
        degrees,
    )

    deg = degrees(cosupply_edges(spark, sf_dir))
    return (
        deg.select(
            F.length(F.bin(F.col("d"))).cast("int").alias("bit_bin"),
            "d",
        )
        .groupBy("bit_bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
    )


# --------------------------------------------------- assortativity


@query(
    "graph_assortativity",
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
adj AS (SELECT u AS x FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS DOUBLE) AS d FROM adj GROUP BY 1),
de AS (
    SELECT du.d AS dx, dv.d AS dy
    FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
    UNION ALL
    SELECT dv.d, du.d
    FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v)
SELECT COUNT(*) AS n_endpoints,
       ROUND((AVG(dx * dy) - AVG(dx) * AVG(dy))
             / (SQRT(AVG(dx * dx) - AVG(dx) * AVG(dx))
                * SQRT(AVG(dy * dy) - AVG(dy) * AVG(dy))), 6)
           AS assortativity
FROM de
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman, PRL 2002): the Pearson correlation
    of endpoint degrees over every edge (symmetrized) — positive means
    hubs attach to hubs (social networks), negative means hubs attach
    to leaves (technological/dependency graphs). One number that
    predicts how skew-prone every downstream wedge join and partition
    scheme will be, next to `graph_degree_distribution`'s histogram.

    Scale shape (r10 single-reference restructuring, the triangles
    discipline — was 49 Exchange nodes static, the post-rfm audit max):
    degrees are attached in ONE pass over the edge list (explode each
    edge into its endpoint rows, window-count per endpoint — a
    high-cardinality node partition, not a whole-graph funnel — regroup
    to the edge grain), and the endpoint symmetrization is an explode
    instead of a self-unionAll, so the edge subtree appears once in the
    static plan instead of six times. Degrees are small exact integers
    in double (means/products exact until astronomically large sums);
    the final correlation rounds on both sides."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        cosupply_edges,
    )

    e = cosupply_edges(spark, sf_dir)
    w2 = Window.partitionBy("x")
    j = (
        e.select(
            F.explode(F.array(F.lit(True), F.lit(False))).alias("at_u"),
            "u",
            "v",
        )
        .withColumn(
            "x", F.when(F.col("at_u"), F.col("u")).otherwise(F.col("v"))
        )
        .withColumn("d", F.count(F.lit(1)).over(w2))
        .groupBy("u", "v")
        .agg(
            F.max(F.when(F.col("at_u"), F.col("d")))
            .cast("double")
            .alias("du"),
            F.max(F.when(~F.col("at_u"), F.col("d")))
            .cast("double")
            .alias("dv"),
        )
    )
    de = j.select(
        F.explode(
            F.array(
                F.struct(F.col("du").alias("dx"), F.col("dv").alias("dy")),
                F.struct(F.col("dv").alias("dx"), F.col("du").alias("dy")),
            )
        ).alias("__p")
    ).select("__p.dx", "__p.dy")
    num = F.avg(F.col("dx") * F.col("dy")) - F.avg("dx") * F.avg("dy")
    den = F.sqrt(
        F.avg(F.col("dx") * F.col("dx")) - F.avg("dx") * F.avg("dx")
    ) * F.sqrt(F.avg(F.col("dy") * F.col("dy")) - F.avg("dy") * F.avg("dy"))
    return de.agg(
        F.count(F.lit(1)).alias("n_endpoints"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ------------------------------------------- global clustering coeff


@query(
    "graph_clustering_coefficient",
    oracle="""
WITH bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT DISTINCT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
adj AS (SELECT u AS x FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
       w.n_wedges,
       ROUND(3.0 * t.n_triangles / w.n_wedges, 6) AS global_cc
FROM tri t, w
""",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient (transitivity): 3 x triangles /
    wedges — what fraction of open two-paths close. The one-number
    density summary next to `graph_triangles_cosupply` (which localizes
    triangles) and `graph_assortativity` (who attaches to whom); high
    transitivity predicts that wedge-join candidate generation
    (Adamic-Adar, common-neighbors) will verify efficiently.

    Scale shape: triangles by the ordered-triple join on the u < v edge
    list (each triangle counted once, the standard Sigma deg^2-bounded
    enumeration); wedges in closed form from the degree frame (integer
    d(d-1)/2 — exact); one 1-row cross of two scalars."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        cosupply_edges,
        degrees,
    )

    e = cosupply_edges(spark, sf_dir)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = degrees(e)
    w = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("long")
        .alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(w)).select(
        "n_triangles",
        "n_wedges",
        F.round(
            3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("global_cc"),
    )


def _hits_oracle(iterations: int) -> str:
    """Declarative replay of the integer HITS loop — one authority and
    one hub half-step (each with its exact-integer max renormalization)
    per iteration, identical arithmetic to ``operators/graph.py::
    hits_int`` (`//` = Spark's DIV on non-negative scores)."""
    cte = [
        """
WITH e AS (
    SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e)"""
    ]
    for i in range(1, iterations + 1):
        prev_h = "h0" if i == 1 else f"h{i - 1}"
        cte.append(
            f"""
ar{i} AS (SELECT e.dst AS node, CAST(SUM(p.h) AS BIGINT) AS raw
          FROM e JOIN {prev_h} p ON p.node = e.src GROUP BY 1),
am{i} AS (SELECT MAX(raw) AS m FROM ar{i}),
a{i} AS (SELECT node, (raw * 1000000) // m AS a FROM ar{i}, am{i}),
hr{i} AS (SELECT e.src AS node, CAST(SUM(p.a) AS BIGINT) AS raw
          FROM e JOIN a{i} p ON p.node = e.dst GROUP BY 1),
hm{i} AS (SELECT MAX(raw) AS m FROM hr{i}),
h{i} AS (SELECT node, (raw * 1000000) // m AS h FROM hr{i}, hm{i})"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT 'customer' AS kind, node // 2 AS key, 'hub' AS side,
       h AS score_micro
FROM h{iterations}
UNION ALL
SELECT 'supplier' AS kind, node // 2 AS key, 'authority' AS side,
       a AS score_micro
FROM a{iterations}
"""
    )


@query("graph_hits_int", oracle=_hits_oracle(3))
def graph_hits_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the directed
    customer→supplier trade graph — 'which customers are the broadest
    buyers (hubs) and which suppliers the most sought-after
    (authorities)'. The third integer-deterministic iterative graph
    algorithm (after connected components and PageRank): float HITS
    L2-normalizes each half-step, which no SQL replay can reproduce
    bit-exactly, so ``operators/graph.py::hits_int`` renormalizes by the
    exact integer MAX instead (the power iteration's fixed point is
    scale-free, so the eigenvector direction is unchanged) and the
    oracle replays all three iterations declaratively — every score
    matches exactly, no tolerance. Same scale schedule as
    ``graph_pagerank_int``: O(k·|E|) with co-partitioned edge joins,
    map-side combined sums, 1-row broadcast max frames, per-round
    checkpointing."""
    from featurestore_for_joycastle_java_spark.operators.graph import hits_int

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    r = hits_int(e, iterations=3)
    return r.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("key"),
        "side",
        "score_micro",
    )


def _lpa_oracle(iterations: int) -> str:
    """Declarative replay of the synchronous min-tiebreak LPA loop on
    the symmetrized customer↔supplier trade graph."""
    cte = [
        """
WITH ue AS (
    SELECT DISTINCT 2 * o.o_custkey AS a, 2 * l.l_suppkey + 1 AS b
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT a AS src, b AS dst FROM ue UNION ALL SELECT b, a FROM ue),
l0 AS (SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl FROM e)"""
    ]
    for k in range(1, iterations + 1):
        prev = f"l{k - 1}"
        cte.append(
            f"""
c{k} AS (SELECT e.dst AS node, p.lbl, COUNT(*) AS c
         FROM e JOIN {prev} p ON p.node = e.src GROUP BY 1, 2),
l{k} AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl ASC) AS rn
             FROM c{k}) WHERE rn = 1)"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key, lbl AS community
FROM l{iterations}
"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle(3))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the (symmetrized) customer↔supplier trade
    graph via deterministic synchronous label propagation — 'which
    customers and suppliers form trading blocs'. The fourth iterative
    graph algorithm in the engine (after connected components, PageRank,
    HITS), and the first whose classic formulation is RANDOMIZED; see
    ``operators/graph.py::label_propagation`` for how synchronous
    updates + smallest-label tie-breaks make it exactly replayable (the
    oracle unrolls all three rounds with a window argmax). Same O(k·|E|)
    co-partitioned schedule as the other loops; the argmax is a
    two-level hash aggregate (``max(struct(count, -label))``), never a
    per-node window sort."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    ue = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    e = ue.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        ue.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # Same discipline as text_textrank_keywords: materialize the edge
    # list at the session's fact-sized shuffle width so the
    # orders⋈lineitem distinct never runs under the loop's narrowed
    # width, and the loop's cache/init read a settled frame.
    e = e.localCheckpoint(eager=True)
    r = label_propagation(e, iterations=3)
    return r.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("key"),
        F.col("label").alias("community"),
    )


#: BFS depth bound shared by the engine loop and the oracle's recursive
#: CTE, so an eccentricity > 30 under a future fixture truncates both
#: sides at the same depth instead of making them silently diverge.
_CLOSENESS_MAX_HOPS = 30


def _closeness_oracle(max_hops: int) -> str:
    """Depth-capped recursive-CTE replay of the simultaneous 8-source
    BFS + Wasserman-Faust closeness assembly."""
    return f"""
WITH RECURSIVE
bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2),
dir AS (
    SELECT u AS src, v AS dst FROM e
    UNION ALL
    SELECT v AS src, u AS dst FROM e),
nodes AS (SELECT DISTINCT src AS node FROM dir),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
srcs AS (SELECT node AS root FROM nodes ORDER BY node LIMIT 8),
walk AS (
    SELECT root, root AS node, 0 AS hops FROM srcs
    UNION
    SELECT w.root, d.dst AS node, w.hops + 1 AS hops
    FROM walk w JOIN dir d ON d.src = w.node
    WHERE w.hops < {max_hops}),
dist AS (
    SELECT root, node, CAST(MIN(hops) AS BIGINT) AS h
    FROM walk GROUP BY 1, 2),
agg AS (
    SELECT root,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(h) AS BIGINT) AS sum_dist
    FROM dist GROUP BY 1)
SELECT agg.root, agg.n_reached, agg.sum_dist,
       CAST(CASE WHEN agg.sum_dist > 0 AND nn.n > 1
            THEN (agg.n_reached * agg.n_reached * 1000000)
                 // ((nn.n - 1) * agg.sum_dist)
            ELSE 0 END AS BIGINT) AS closeness_micro
FROM agg, nn
"""


@query(
    "graph_closeness_multi_bfs",
    oracle=_closeness_oracle(_CLOSENESS_MAX_HOPS),
)
def graph_closeness_multi_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality (Bavelas 1950; Wasserman & Faust 1994's
    disconnected-graph correction) for the 8 smallest-keyed suppliers
    in the co-supply graph, by SIMULTANEOUS multi-source BFS: the
    visited set is keyed (root, node), so all 8 frontiers expand in the
    same per-round join — one traversal instead of eight, the batching
    a 1000-executor run wants (Pregel with composite vertex state).
    closeness = ((r−1)/(n−1)) · ((r−1)/Σd) in exact integer micro
    units, where r counts reached nodes and Σd sums hop distances —
    the WF correction keeps disconnected components comparable.

    The traversal is ``operators.graphs.bfs``, bounded by the same
    ``_CLOSENESS_MAX_HOPS`` the oracle's recursive CTE uses, so the two
    sides can never silently diverge on a deeper fixture. The oracle
    replays the same bounded walk as one recursive CTE over
    (root, node, hops)."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        bfs,
        cosupply_edges,
        degrees,
    )

    e = cosupply_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = degrees(e).select(F.col("x").alias("node")).localCheckpoint(eager=True)
    n_nodes = nodes.count()
    roots = nodes.orderBy("node").limit(8).select(F.col("node").alias("root"))
    visited = bfs(e, roots, _CLOSENESS_MAX_HOPS)
    agg = visited.groupBy("root").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
        F.sum("hops").cast("bigint").alias("sum_dist"),
    )
    return agg.select(
        "root",
        "n_reached",
        "sum_dist",
        F.expr(
            "CAST(CASE WHEN sum_dist > 0 AND "
            f"{n_nodes} > 1"
            " THEN (n_reached * n_reached * 1000000)"
            f" DIV (({n_nodes} - 1) * sum_dist)"
            " ELSE 0 END AS BIGINT)"
        ).alias("closeness_micro"),
    )
