"""The engine's one fixpoint loop (``operators/iterate.py``) and its one
shuffle-width scope (``session.narrow_shuffle_width``): the iterative
operators run their rounds inside the call, two of them can share a
session from two threads, and no module re-grows its own loop or its own
session-width mutation."""

from __future__ import annotations

import ast
import os
import sys
from concurrent.futures import ThreadPoolExecutor

from featurestore_for_joycastle_java_spark.operators.graph import (
    hits_int,
    label_propagation,
    pagerank_int,
)
from featurestore_for_joycastle_java_spark.operators.graphs import bfs
from featurestore_for_joycastle_java_spark.session import (
    narrow_shuffle_width,
    thread_target,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "featurestore_for_joycastle_java_spark",
)
WIDTH = "spark.sql.shuffle.partitions"

#: two 3-cycles joined by a bridge, plus a source-only node
_TOY = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 4)]


def _edges(spark):
    return spark.createDataFrame(_TOY, "src long, dst long")


def test_hits_runs_every_half_step_inside_the_call(spark, jobs_in):
    """Each half-step's max comes back to the driver inside ``hits_int``,
    so the first action on the result only reads the last two persisted
    score frames instead of finishing a chain of half-steps (and their
    broadcasts) under one broadcast timeout."""
    e = _edges(spark)
    iterations = 3
    out = {}

    def call():
        out["df"] = hits_int(e, iterations=iterations)

    in_call = jobs_in(spark, "hits-call", call)
    on_read = jobs_in(spark, "hits-read", lambda: out["df"].collect())
    # the initial hubs checkpoint, then at least one job per half-step
    assert in_call >= 2 * iterations + 1
    assert on_read == 1


def test_loops_share_a_session_across_threads(spark):
    """PageRank and label propagation in two threads on one session give
    the serial answers and leave the session's shuffle width as it was."""
    e = _edges(spark)

    def ranks():
        return sorted(map(tuple, pagerank_int(e, iterations=3).collect()))

    def labels():
        return sorted(map(tuple, label_propagation(e, iterations=3).collect()))

    prev = spark.conf.get(WIDTH)
    # wider than the loops' scope, so a lost restore would show
    spark.conf.set(WIDTH, "16")
    try:
        serial = [ranks(), labels()]
        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(thread_target(spark, f)) for f in (ranks, labels)]
            assert [f.result() for f in futures] == serial
        assert spark.conf.get(WIDTH) == "16"
    finally:
        spark.conf.set(WIDTH, prev)


def test_narrow_shuffle_width_never_widens_and_restores_once(spark):
    prev = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, "6")
    try:
        with narrow_shuffle_width(spark, 8):
            assert spark.conf.get(WIDTH) == "6"
            # an overlapping scope (another thread's) narrows further; the
            # width comes back only when the last scope closes
            with narrow_shuffle_width(spark, 4):
                assert spark.conf.get(WIDTH) == "4"
            assert spark.conf.get(WIDTH) == "4"
        assert spark.conf.get(WIDTH) == "6"
    finally:
        spark.conf.set(WIDTH, prev)


def test_narrow_shuffle_width_under_thread_churn(spark):
    """Many threads opening and closing overlapping scopes: inside any
    scope the width is narrowed, and after the last one it is restored
    (a lost update would leave the session at 4 or restore 16 too soon)."""
    prev, interval = spark.conf.get(WIDTH), sys.getswitchinterval()
    spark.conf.set(WIDTH, "16")

    def churn(_):
        for _ in range(25):
            with narrow_shuffle_width(spark, 4):
                assert spark.conf.get(WIDTH) == "4"

    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(thread_target(spark, churn), i) for i in range(8)]
            for f in futures:
                f.result(timeout=120)
        assert spark.conf.get(WIDTH) == "16"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.set(WIDTH, prev)


def test_bfs_is_keyed_by_root_and_stops_at_the_hop_cap(spark):
    """Path 1-2-3-4 from both ends, capped at 2 hops: each root reaches
    the nodes within 2 hops, the far end of the path from neither."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u long, v long")
    roots = spark.createDataFrame([(1,), (4,)], "root long")
    got = sorted(map(tuple, bfs(e, roots, 2).collect()))
    assert got == [(1, 1, 0), (1, 2, 1), (1, 3, 2), (4, 2, 2), (4, 3, 1), (4, 4, 0)]


def _modules():
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def _method_calls(tree, names):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in names
        ):
            yield node


def test_shuffle_width_is_set_only_in_session():
    """The shuffle width is session-global: only ``session.py`` sets it,
    through a scope that restores it once across threads."""
    found = [
        f"{rel}:{call.lineno}"
        for rel, tree in _modules()
        if rel != "session.py"
        for call in _method_calls(tree, {"set"})
        if call.args
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == WIDTH
    ]
    assert not found, f"set the shuffle width via narrow_shuffle_width: {found}"


def test_no_hand_rolled_checkpoint_loop():
    """Every loop that checkpoints per round runs through
    ``operators.iterate.fixpoint``."""
    found = [
        f"{rel}:{call.lineno}"
        for rel, tree in _modules()
        if rel != os.path.join("operators", "iterate.py")
        for loop in ast.walk(tree)
        if isinstance(loop, (ast.For, ast.While))
        for stmt in loop.body + loop.orelse
        for call in _method_calls(stmt, {"localCheckpoint", "checkpoint"})
    ]
    assert not found, f"route these loops through fixpoint: {found}"


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_one_scratch_dir_and_one_drain_starter():
    """Temp directories come from ``sources.scratch_dir`` (removed at
    exit) and every ``foreachBatch`` sink starts in
    ``streaming.drain_each_batch``."""
    owners = {
        "mkdtemp": (os.path.join("sources", "__init__.py"), "scratch_dir"),
        "foreachBatch": (os.path.join("streaming", "__init__.py"), "drain_each_batch"),
    }
    found = [
        f"{rel}:{call.lineno}"
        for rel, tree in _modules()
        for stmt in tree.body
        for call in ast.walk(stmt)
        if isinstance(call, ast.Call)
        and _callee(call) in owners
        and owners[_callee(call)] != (rel, getattr(stmt, "name", None))
    ]
    assert not found, f"use scratch_dir / drain_each_batch: {found}"


def test_one_staged_stream_source_and_one_home_for_stream_starts():
    """Multi-batch file sources are staged in
    ``streaming.staged_file_stream``, the only place that sets file
    mtimes or ``maxFilesPerTrigger``, and every streaming query starts
    in the ``streaming`` package."""
    home = os.path.join("streaming", "__init__.py")
    found = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for stmt in tree.body
        for node in ast.walk(stmt)
        if (
            (
                (isinstance(node, ast.Call) and _callee(node) == "utime")
                or (
                    isinstance(node, ast.Constant)
                    and node.value == "maxFilesPerTrigger"
                )
            )
            and (rel, getattr(stmt, "name", None))
            != (home, "staged_file_stream")
        )
        or (
            isinstance(node, ast.Attribute)
            and node.attr == "writeStream"
            and rel != home
        )
    ]
    assert not found, f"use staged_file_stream / the streaming starters: {found}"


def test_one_copy_of_each_vector_search_stage():
    """In the similarity modules each vector-search stage is written once:
    a top-n per key (``row_number`` over a window, kept by ``<=``) runs
    through ``relational.top_k_per_group``, and the lowid-centroid
    ``limit``, the argmax-cosine ``fold`` and the L2-normalize lambda
    appear once each."""
    homes = {os.path.join(d, "similarity.py") for d in ("operators", "catalog")}
    sim = {rel: tree for rel, tree in _modules() if rel in homes}
    top_n = [
        f"{rel}:{call.lineno}"
        for rel, tree in sim.items()
        for call in _method_calls(tree, {"filter"})
        if isinstance(call.func.value, ast.Call)
        and _callee(call.func.value) == "withColumn"
        and any(
            isinstance(c, ast.Call) and _callee(c) == "row_number"
            for c in ast.walk(call.func.value)
        )
        and call.args
        and isinstance(call.args[0], ast.Compare)
        and isinstance(call.args[0].ops[0], ast.LtE)
    ]
    assert not top_n, f"use top_k_per_group: {top_n}"
    nodes = [n for tree in sim.values() for n in ast.walk(tree)]
    limits = [
        c
        for c in nodes
        if isinstance(c, ast.Call)
        and _callee(c) == "limit"
        and [getattr(a, "id", None) for a in c.args] == ["n_centroids"]
    ]
    folds = [n for n in nodes if isinstance(n, ast.FunctionDef) and n.name == "fold"]
    normalizers = [
        n
        for n in nodes
        if isinstance(n, ast.Lambda)
        and isinstance(n.body, ast.BinOp)
        and isinstance(n.body.op, ast.Div)
        and isinstance(n.body.right, ast.Subscript)
    ]
    assert (len(limits), len(folds), len(normalizers)) == (1, 1, 1)


def test_one_as_of_fill():
    """Every as-of join in ``operators/asof.py`` runs through one
    tagged-union fill: ``unionByName`` and ``last`` are called only in
    ``_tagged_fill``, so the NULL-timestamp and one-struct payload rules
    live in one place."""
    tree = dict(_modules())[os.path.join("operators", "asof.py")]
    calls = {
        (getattr(stmt, "name", None), call.lineno)
        for stmt in tree.body
        for call in ast.walk(stmt)
        if isinstance(call, ast.Call) and _callee(call) in {"unionByName", "last"}
    }
    outside = sorted(c for c in calls if c[0] != "_tagged_fill")
    assert not outside, f"route these through _tagged_fill: {outside}"
    assert calls, "the as-of fill is gone"


#: The one option no call site sets: the Kafka source's per-trigger bound
#: is a deployment setting (the reference's ``max.poll.records``).
_UNSET_OK = {("kafka_stream_source", "max_offsets_per_trigger")}


def test_every_operator_option_is_set_by_some_caller():
    """A defaulted parameter of a module-level function outside
    ``catalog/`` is an option; one that no call site in the repo sets
    has one value in use and belongs in the function body as a constant.
    A call that passes ``*args`` or ``**kwargs`` counts as setting every
    parameter."""
    repo = os.path.dirname(PKG)
    paths = [
        os.path.join(root, f)
        for d in ("tools", "perfbench", "tests")
        for root, _, files in os.walk(os.path.join(repo, d))
        for f in files
        if f.endswith(".py")
    ] + [os.path.join(repo, f) for f in os.listdir(repo) if f.endswith(".py")]
    pkg = list(_modules())
    trees = [tree for _, tree in pkg]
    for path in paths:
        with open(path) as fh:
            trees.append(ast.parse(fh.read()))
    calls: dict[str | None, list[ast.Call]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                calls.setdefault(_callee(node), []).append(node)

    def sets(call: ast.Call, pos: int | None, name: str) -> bool:
        return (
            any(isinstance(a, ast.Starred) for a in call.args)
            or any(k.arg in (None, name) for k in call.keywords)
            or (pos is not None and len(call.args) > pos)
        )

    unset = []
    for rel, tree in pkg:
        if rel.startswith("catalog" + os.sep):
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            params = a.posonlyargs + a.args
            first = len(params) - len(a.defaults)
            options = [(i, p.arg) for i, p in enumerate(params) if i >= first]
            options += [
                (None, p.arg)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            unset += [
                f"{rel}:{fn.lineno} {fn.name}({name})"
                for pos, name in options
                if (fn.name, name) not in _UNSET_OK
                and not any(sets(c, pos, name) for c in calls.get(fn.name, []))
            ]
    assert not unset, f"no caller sets these options; make them constants: {unset}"
