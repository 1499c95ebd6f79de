"""Property-based tests (hypothesis) for the iterative/graph operators
against independent Python references on RANDOM graphs — structure a
fixed fixture can't enumerate: degree ties in the triangle orientation,
long chains vs the CC two-hop loop, peel cascades where removing one
node drags a whole chain under k.

Each example runs several (tiny) Spark jobs, so example counts are
deliberately small; the point is randomized structure, not volume.
"""

from __future__ import annotations

from itertools import combinations

from hypothesis import given, settings, strategies as st

_SETTINGS = dict(max_examples=8, deadline=None)

# random undirected graphs: up to 10 nodes, edges as a subset of pairs.
# node ids are drawn sparse (0..30) so components can't rely on density.
_edge = st.tuples(
    st.integers(min_value=0, max_value=30),
    st.integers(min_value=0, max_value=30),
).filter(lambda t: t[0] != t[1])
_edges = st.lists(_edge, min_size=1, max_size=25).map(
    lambda es: sorted({(min(u, v), max(u, v)) for u, v in es})
)


def _edge_df(spark, edges, cols=("u", "v")):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], f"{cols[0]} long, {cols[1]} long"
    )


def _adj(edges):
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


# ------------------------------------------------------- triangle counts


@settings(**_SETTINGS)
@given(_edges)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered wedge closure vs per-node brute force over all
    (a,b,c) combinations — orientation-independent reference, so ties in
    (degree, key) ordering are exercised rather than assumed."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        triangle_counts,
    )

    adj = _adj(edges)
    want: dict[int, int] = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                want[x] = want.get(x, 0) + 1

    got = {
        r["x"]: r["n_triangles"]
        for r in triangle_counts(_edge_df(spark, edges)).collect()
    }
    assert got == want, f"edges={edges}: {got} != {want}"


# ----------------------------------------------------------------- k-core


@settings(**_SETTINGS)
@given(_edges, st.integers(min_value=1, max_value=4))
def test_kcore_edges_match_python_peel(spark, edges, k):
    """Distributed peel loop vs the sequential Python peeling reference
    (repeatedly delete any node with degree < k); the k-core is unique,
    so any peel order converges to the same edge set."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        kcore_edges,
    )

    surviving = set(edges)
    while True:
        adj = _adj(surviving)
        doomed = {x for x, nb in adj.items() if len(nb) < k}
        if not doomed:
            break
        surviving = {
            (u, v) for u, v in surviving if u not in doomed and v not in doomed
        }

    got = {
        (r["u"], r["v"])
        for r in kcore_edges(_edge_df(spark, edges), k).collect()
    }
    assert got == surviving, f"edges={edges} k={k}: {got} != {surviving}"


# --------------------------------------------------- connected components


@settings(**_SETTINGS)
@given(_edges, st.lists(st.integers(min_value=31, max_value=40), max_size=3))
def test_connected_components_match_union_find(spark, edges, isolated):
    """Two-hop min-label propagation vs a Python union-find, with extra
    isolated nodes (no incident edge) that must come back labeled with
    their own id. Components are canonicalized to min-member id, which is
    exactly the operator's fixpoint label."""
    from featurestore_for_joycastle_java_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    node_ids = sorted({x for e in edges for x in e} | set(isolated))
    for u, v in edges:
        parent[find(u)] = find(v)
    roots: dict[int, int] = {}
    for x in node_ids:
        r = find(x)
        roots[r] = min(roots.get(r, x), x)
    want = {x: roots[find(x)] for x in node_ids}

    nodes = spark.createDataFrame([(int(x),) for x in node_ids], "doc_id long")
    e_df = _edge_df(spark, edges, cols=("id_a", "id_b"))
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(nodes, e_df).collect()
    }
    assert got == want, f"edges={edges} iso={isolated}: {got} != {want}"


# --------------------------------------------------------- integer pagerank


@settings(**_SETTINGS)
@given(_edges, st.integers(min_value=1, max_value=4))
def test_pagerank_int_matches_python_replay(spark, edges, iters):
    """The whole point of integer PageRank is bit-exact replayability:
    a 15-line Python loop with the same floor-division arithmetic must
    reproduce every rank_micro on a random DIRECTED graph (random edge
    direction, dangling nodes, no-in-edge nodes, varying iteration
    counts)."""
    from featurestore_for_joycastle_java_spark.operators.graph import (
        SCALE,
        pagerank_int,
    )

    # orient each undirected pair by parity for direction diversity
    directed = [
        ((u, v) if (u + v) % 2 == 0 else (v, u)) for u, v in edges
    ]
    nodes = sorted({x for e in directed for x in e})
    deg = {u: 0 for u in nodes}
    for u, _ in directed:
        deg[u] += 1
    r = {x: SCALE for x in nodes}
    for _ in range(iters):
        insum = {x: 0 for x in nodes}
        for u, v in directed:
            insum[v] += r[u] // deg[u]
        r = {x: (SCALE * 15) // 100 + (85 * insum[x]) // 100 for x in nodes}

    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in directed], "src long, dst long"
    )
    got = {
        row["node"]: row["rank_micro"]
        for row in pagerank_int(df, iterations=iters).collect()
    }
    assert got == r, f"edges={directed} iters={iters}: {got} != {r}"


# --------------------------------------------- label propagation (r10b)


@settings(**_SETTINGS)
@given(_edges)
def test_label_propagation_matches_dict_replay(spark, edges):
    """Synchronous min-tiebreak LPA vs an independent dict replay on
    random graphs — exercises tie patterns (equal neighbor-label
    counts) and no-in-edge fallbacks that the fixture's dense trade
    graph never produces."""
    from featurestore_for_joycastle_java_spark.operators.graph import (
        label_propagation,
    )

    sym = [(u, v) for u, v in edges] + [(v, u) for u, v in edges]
    got = {
        r["node"]: r["label"]
        for r in label_propagation(
            _edge_df(spark, sym, cols=("src", "dst")), iterations=3
        ).collect()
    }
    nodes = {u for u, _ in sym} | {v for _, v in sym}
    lbl = {n: n for n in nodes}
    for _ in range(3):
        freq: dict[int, dict[int, int]] = {}
        for s, d in sym:
            freq.setdefault(d, {}).setdefault(lbl[s], 0)
            freq[d][lbl[s]] += 1
        nxt = {}
        for n in nodes:
            if n in freq:
                best = max(freq[n].items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[n] = best[0]
            else:
                nxt[n] = lbl[n]
        lbl = nxt
    assert got == lbl


# ------------------------------------- integer power iteration (r10b)


_matdim = st.integers(min_value=1, max_value=5)


@settings(**_SETTINGS)
@given(
    st.integers(min_value=1, max_value=5).flatmap(
        lambda d: st.lists(
            st.lists(
                st.integers(min_value=-1000, max_value=1000),
                min_size=d,
                max_size=d,
            ),
            min_size=2,
            max_size=8,
        )
    )
)
def test_power_iteration_matches_bigint_replay(spark, rows):
    """The sign-factored MAX-ABS renormalized power step (the
    sim_power_iteration_pc1 kernel) vs pure-Python bigints on random
    integer data matrices — exercises negative raw sums and sign
    tie patterns the near-isotropic embedding fixture rarely hits.
    Rebuilds the kernel from a (vec_id, dim, value) frame exactly as
    the catalog query does."""
    from pyspark.sql import functions as F

    d = len(rows[0])
    x = spark.createDataFrame(
        [
            (i, j + 1, int(val))
            for i, r in enumerate(rows)
            for j, val in enumerate(r)
        ],
        "vec_id long, i long, v6 long",
    )
    a = x.select("vec_id", "i", F.col("v6").alias("__va"))
    b = x.select(
        F.col("vec_id").alias("__vid"),
        F.col("i").alias("j"),
        F.col("v6").alias("__vb"),
    )
    cells = (
        a.join(b, F.col("vec_id") == F.col("__vid"))
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("__va") * F.col("__vb")).cast("decimal(38,0)"))
            .alias("g")
        )
    )
    v = cells.select(F.col("i").alias("node")).distinct().select(
        "node", F.lit(1000000).cast("decimal(38,0)").alias("v")
    )
    for _ in range(2):
        raw = (
            cells.join(v, cells.j == v.node)
            .groupBy("i")
            .agg(
                F.sum((F.col("g") * F.col("v")).cast("decimal(38,0)"))
                .alias("raw")
            )
        )
        m = raw.agg(
            F.greatest(
                F.max(F.abs(F.col("raw"))),
                F.lit(1).cast("decimal(38,0)"),
            ).alias("m")
        )
        v = raw.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("node"),
            F.when(F.col("raw") >= 0, F.expr("(raw * 1000000) DIV m"))
            .otherwise(-F.expr("((-raw) * 1000000) DIV m"))
            .cast("decimal(38,0)")
            .alias("v"),
        )
    got = {int(r["node"]): int(r["v"]) for r in v.collect()}

    def tdiv(p, q):
        r = abs(p) // q
        return r if p >= 0 else -r

    gram = [
        [
            sum(row[i] * row[j] for row in rows)
            for j in range(d)
        ]
        for i in range(d)
    ]
    vec = [10**6] * d
    for _ in range(2):
        raw = [
            sum(gram[i][j] * vec[j] for j in range(d)) for i in range(d)
        ]
        mx = max(abs(r) for r in raw)
        if mx == 0:
            vec = [0] * d
            break
        vec = [tdiv(r * 10**6, mx) for r in raw]
    assert got == {i + 1: vec[i] for i in range(d)}


def test_pagerank_int_union_form_matches_left_join_form(spark, sf_dir):
    """The loop sums each round's contributions together with one zero row
    per node (union + groupBy). Pinned against the earlier form, which
    left-joined the contribution sums back onto the node list and
    coalesced the no-in-edge nodes to 0, on the trade graph of
    ``graph_pagerank_int``."""
    from pyspark.sql import functions as F

    from featurestore_for_joycastle_java_spark.operators.graph import (
        SCALE,
        pagerank_int,
    )
    from featurestore_for_joycastle_java_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eraw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # plus one source-only node, so a node with no in-edges is ranked too
    e = eraw.union(eraw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.union(spark.createDataFrame([(-2, 1)], "src long, dst long"))

    ed = e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src")
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    r = nodes.select("node", F.lit(SCALE).cast("bigint").alias("r"))
    for _ in range(5):
        insum = (
            ed.join(r, ed.src == r.node)
            .select(F.col("dst").alias("node"), F.expr("r DIV deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("insum"))
        )
        r = nodes.join(insum, "node", "left").select(
            "node",
            (
                F.lit((SCALE * 15) // 100).cast("bigint")
                + F.expr("(85 * coalesce(insum, 0L)) DIV 100")
            ).alias("r"),
        ).localCheckpoint(eager=True)

    want = sorted(map(tuple, r.collect()))
    got = sorted(map(tuple, pagerank_int(e, iterations=5).collect()))
    assert len(got) > 100 and got == want
    assert dict(want)[-2] == (SCALE * 15) // 100
