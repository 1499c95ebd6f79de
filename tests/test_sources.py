"""The fixture-table resolver: ``sources.load_table`` infers each table's
schema once per (session, file) and reads with that schema afterwards."""

from __future__ import annotations

import ast
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from featurestore_for_joycastle_java_spark.sources import load_table

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "featurestore_for_joycastle_java_spark",
)


def _fixture_copy(tmp_path, sf_dir, name="lineitem"):
    """A private copy of one fixture table, so no other test has inferred it."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), d / f"{name}.parquet")
    return str(d)


def test_second_load_launches_no_job(spark, sf_dir, tmp_path, jobs_in):
    d = _fixture_copy(tmp_path, sf_dir)
    first = jobs_in(spark, "sources-first", lambda: load_table(spark, d, "lineitem").schema)
    second = jobs_in(spark, "sources-second", lambda: load_table(spark, d, "lineitem").schema)
    assert first >= 1, "the first load of a file infers its schema"
    assert second == 0, f"a second load must reuse the schema, launched {second} job(s)"


def test_new_session_infers_again(spark, sf_dir, tmp_path, jobs_in):
    d = _fixture_copy(tmp_path, sf_dir)
    load_table(spark, d, "lineitem")
    other = spark.newSession()
    jobs = jobs_in(other, "sources-new-session", lambda: load_table(other, d, "lineitem").schema)
    assert jobs >= 1, "a new session (own parquet confs) must infer for itself"


def test_cached_read_matches_an_inferring_read(spark, sf_dir):
    path = os.path.join(sf_dir, "lineitem.parquet")
    load_table(spark, sf_dir, "lineitem")  # the next call reads with the cached schema
    got, inferred = load_table(spark, sf_dir, "lineitem"), spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_self_join_of_two_loads(spark, sf_dir):
    """Every call is a fresh relation with fresh attribute ids: a query
    that loads one table twice and joins it to itself gets the rows an
    inferring read of each side gives."""
    path = os.path.join(sf_dir, "customer.parquet")

    def pairs(a, b):
        return sorted(
            a.join(
                b,
                (a.c_nationkey == b.c_nationkey) & (a.c_custkey < b.c_custkey),
            )
            .select(a.c_custkey.alias("l"), b.c_custkey.alias("r"))
            .collect()
        )

    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    got = pairs(load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "customer"))
    assert want and got == want


def test_rewritten_file_infers_again(spark, tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    path = str(d / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(d), "t").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), path
    )
    got = load_table(spark, str(d), "t")
    assert got.columns == ["a", "b"]
    assert [tuple(r) for r in got.collect()] == [(3, "x")]


def test_shared_session_sees_no_nanos_conf_write(spark, sf_dir, monkeypatch):
    """The nanosAsLong and Python-source pushdown confs are written only
    where they are missing: a ``get_spark`` session, which sets them at
    build time, sees no session conf write from a batch or a stream read
    of the fixtures, or from registering the synthetic source."""
    from pyspark.sql.conf import RuntimeConfig

    from featurestore_for_joycastle_java_spark.sources.pydatasource import (
        register_synthetic_source,
    )
    from featurestore_for_joycastle_java_spark.streaming import file_stream_source

    writes = []
    real_set = RuntimeConfig.set

    def counting_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    load_table(spark, sf_dir, "events")
    file_stream_source(spark, sf_dir)
    register_synthetic_source(spark)
    assert writes == []


def test_concurrent_loads_agree(spark, sf_dir, tmp_path):
    """The benchmark's warm pass resolves tables from several threads at
    once: a race may infer twice, never return a wrong schema."""
    d = _fixture_copy(tmp_path, sf_dir, "orders")
    want = spark.read.parquet(os.path.join(d, "orders.parquet")).schema
    with ThreadPoolExecutor(4) as pool:
        schemas = list(pool.map(lambda _: load_table(spark, d, "orders").schema, range(8)))
    assert all(s == want for s in schemas)


def _fixture_path(expr: ast.expr, tainted: set[str]) -> bool:
    """``expr`` is a path built from ``sf_dir`` (or a local holding one): the
    name itself, or an ``os.path.join``, f-string or ``+`` with it as a part.
    A lookup keyed by ``sf_dir`` (``_SCRATCH.get(sf_dir)``) is not."""
    if isinstance(expr, ast.Name):
        return expr.id in tainted
    for node in ast.walk(expr):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "join":
            parts = node.args
        elif isinstance(node, ast.JoinedStr):
            parts = [v.value for v in node.values if isinstance(v, ast.FormattedValue)]
        elif isinstance(node, ast.BinOp):
            parts = [node.left, node.right]
        else:
            continue
        if any(isinstance(n, ast.Name) and n.id in tainted for n in parts):
            return True
    return False


def _reads_fixture(call: ast.Call, tainted: set[str]) -> bool:
    """``<...>.read<...>.parquet/load(path)`` on an ``sf_dir`` path."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr in ("parquet", "load")):
        return False
    chain, node = [], f.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        else:
            node = node.func
    return "read" in chain and any(_fixture_path(a, tainted) for a in call.args)


def test_no_fixture_read_outside_sources():
    """One table-resolution path: every fixture read goes through
    ``load_table`` (the schema cache), none calls ``spark.read`` on an
    ``sf_dir`` path directly."""
    offenders = []
    for root, _, files in os.walk(PKG):
        if os.path.relpath(root, PKG).split(os.sep)[0] == "sources":
            continue
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
                tainted, grew = {"sf_dir"}, True
                while grew:  # locals that hold an sf_dir path
                    before = len(tainted)
                    for a in assigns:
                        if _fixture_path(a.value, tainted):
                            tainted.update(t.id for t in a.targets if isinstance(t, ast.Name))
                    grew = len(tainted) > before
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and _reads_fixture(node, tainted):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not offenders, f"fixture reads bypassing sources.load_table: {sorted(set(offenders))}"
