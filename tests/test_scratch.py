"""The engine's one owner of scratch state (``sources.scratch_dir`` /
``sources.build_once``) and its one ``foreachBatch`` starter
(``streaming.drain_each_batch``): repeated queries reuse what they built,
every scratch directory is removed at exit, and no drain leaves its
memory-sink view behind."""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import sys
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor

from featurestore_for_joycastle_java_spark import registry
from featurestore_for_joycastle_java_spark.catalog.streaming import DRAIN_PROGRESS
from featurestore_for_joycastle_java_spark.sources import build_once, load_table
from tests.oracle import compare

registry.load_catalog()


def test_build_once_builds_once_and_again_after_its_root_is_gone(monkeypatch):
    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **k: registered.append((fn, a, k)))
    roots = []

    def build(root):
        roots.append(root)
        return os.path.join(root, "out")

    key = ("unit", uuid.uuid4().hex)
    first = build_once(key, build)
    assert build_once(key, build) == first and len(roots) == 1
    assert os.path.basename(roots[0]).startswith("fs_unit_")
    assert first == os.path.join(roots[0], "out")
    assert (shutil.rmtree, (roots[0],), {"ignore_errors": True}) in registered

    shutil.rmtree(roots[0])
    second = build_once(key, build)
    assert len(roots) == 2 and second == os.path.join(roots[1], "out")
    assert (shutil.rmtree, (roots[1],), {"ignore_errors": True}) in registered
    for fn, a, k in registered:
        fn(*a, **k)
    assert not os.path.exists(roots[1])


def test_build_once_race_costs_a_build_never_a_wrong_answer():
    """Threads that miss together each build into their own root; every
    caller gets a complete build, and later calls agree on one of them."""
    key = ("race", uuid.uuid4().hex)

    def build(root):
        with open(os.path.join(root, "done"), "w") as fh:
            fh.write(root)
        return root

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(build_once, key, build) for _ in range(64)]
            got = [f.result(timeout=30) for f in futures]
    finally:
        sys.setswitchinterval(switch)
    for root in got:
        with open(os.path.join(root, "done")) as fh:
            assert fh.read() == root
    assert build_once(key, build) == build_once(key, build) in got


def _fs_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "fs_*")))


def test_repeat_stream_query_makes_no_new_scratch_dir(spark, sf_dir):
    """The quota drain's staged source is a function of the fixture: a
    second call streams the same files and stages nothing new."""
    q = registry.QUERIES["stream_quota_enforcement"]
    q(spark, sf_dir)
    before = _fs_dirs()
    q(spark, sf_dir)
    assert _fs_dirs() - before == set()


def test_repeat_late_drops_drains_again_but_stages_nothing_new(spark, sf_dir):
    """The late-drops stream stages its three batches once per process,
    yet every call drains them again through the memory sink."""
    q = registry.QUERIES["stream_late_drops"]
    q(spark, sf_dir)
    before = _fs_dirs()
    DRAIN_PROGRESS.clear()
    q(spark, sf_dir)
    assert _fs_dirs() - before == set()
    staged = load_table(spark, sf_dir, "events").filter("event_id < 600").count()
    assert sum(p["input_rows"] or 0 for p in DRAIN_PROGRESS) == staged


def test_stream_query_leaves_no_memory_sink_view(spark, sf_dir):
    name = "stream_drain_demux_counts"
    out = registry.QUERIES[name](spark, sf_dir)
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("st_")] == []
    compare(out, registry.ORACLES[name], sf_dir)
