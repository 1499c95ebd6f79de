"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, stats  # noqa: E402


def _bytes(seed: int, tmp_path) -> tuple[bytes, dict]:
    lines, expect = gen.generate_lines(seed, 2000)
    paths = gen.write_files(lines, str(tmp_path / f"s{seed}"), 4)
    digest = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            digest.update(fh.read())
    return digest.digest(), expect


def test_generator_is_deterministic_per_seed(tmp_path):
    a, ea = _bytes(7, tmp_path / "a")
    b, eb = _bytes(7, tmp_path / "b")
    c, _ = _bytes(8, tmp_path / "c")
    assert a == b and ea == eb
    assert a != c


def test_generator_mix_has_every_case():
    lines, expect = gen.generate_lines(3, 5000)
    kept = sum(rows for rows, _ in expect.values())
    dropped = len(lines) - kept
    share = gen.MALFORMED_SHARE + gen.INCOMPLETE_SHARE
    assert abs(dropped / len(lines) - share) < 0.02
    assert any(not line.startswith("{") for line in lines)  # not JSON at all
    assert any('null' in line for line in lines)  # present-but-null field
    assert set(expect) == set(gen.EVENT_TYPE_WEIGHTS)
    assert all(total > 0 for t, (_, total) in expect.items() if t in gen.EXTRACT_EVENT_TYPES)
    assert all(total == 0 for t, (_, total) in expect.items() if t not in gen.EXTRACT_EVENT_TYPES)


@pytest.mark.parametrize(
    "details, value",
    [("4.99 USD", "4.99"), ("level 7", "7"), ("2 items 4.99", "2"), ("price 4.99 x3", "4.99"), ("bonus chest", None)],
)
def test_expected_value_is_first_match(details, value):
    got = gen.expected_value("InAppPurchase", details)
    assert (str(got) if got is not None else None) == value
    assert gen.expected_value("LevelUp", details) is None


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile([float(i) for i in range(39)], 0.75)  # 9 beyond p75
    with pytest.raises(ValueError):
        stats.percentile([float(i) for i in range(49)], 0.8)  # 9 beyond p80
    with pytest.raises(ValueError):
        stats.percentile([float(i) for i in range(99)], 0.9)  # 9 beyond p90
    assert stats.percentile([float(i) for i in range(1, 41)], 0.75) == 30.0
    assert stats.percentile([float(i) for i in range(1, 51)], 0.8) == 40.0
    assert stats.percentile([float(i) for i in range(1, 101)], 0.9) == 90.0


def test_metric_names_and_units():
    unit_re = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    catalog = {**stats.END_TO_END, **stats.PER_LAYER}
    assert len(catalog) == len(stats.END_TO_END) + len(stats.PER_LAYER)
    for name, unit in catalog.items():
        assert stats.NAME_RE.fullmatch(name) and len(name) <= 64 and name[0].isalnum(), name
        assert unit_re.fullmatch(unit), (name, unit)


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == stats.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def test_result_metrics_requires_every_metric():
    values = {k: 1.0 for k in stats.END_TO_END}
    out = stats.result_metrics(values, stats.END_TO_END)
    assert out["setup_s"] == {"value": 1.0, "unit": "s"}
    del values["setup_s"]
    with pytest.raises(KeyError):
        stats.result_metrics(values, stats.END_TO_END)


def test_eventlog_parser_on_recorded_log():
    """A two-op log recorded from a traced run: each op is one job group
    with a schema-inference job during build and SQL-execution jobs during
    its noop write."""
    log = eventlog.parse(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    with open(os.path.join(HERE, "data", "eventlog_small.expect.json")) as fh:
        expect = json.load(fh)
    for group, want in expect["groups"].items():
        jobs = log.group_jobs({group})
        got = eventlog.totals(jobs)
        assert {k: got[k] for k in ("jobs", "stages", "tasks")} == want["counts"], group
        assert sum(j.infer for j in jobs) == want["infer_jobs"], group
        assert got["executor_run_s"] > 0
    ws, we = expect["write_span"]
    assert log.covered_s(ws, we) == pytest.approx(expect["write_covered_s"])


def test_covered_s_merges_overlaps():
    log = eventlog.EventLog()
    log.sql = {0: [1000, 3000], 1: [2000, 4000], 2: [9000, 9500]}
    assert log.covered_s(0.5, 5.0) == pytest.approx(3.0)
    # exec 0 started before the window; exec 1 is clipped to its end
    assert log.covered_s(1.5, 3.5) == pytest.approx(1.5)


def test_every_mix_query_has_a_digest():
    from perfbench import workloads

    with open(workloads.DIGESTS) as fh:
        digests = json.load(fh)["queries"]
    assert set(digests) == set(workloads.CATALOG_MIX)
    assert not set(workloads.FEATURE_QUERIES) & set(workloads.LLM_QUERIES)
    assert all(os.path.isdir(d) for d in workloads.CATALOG_MIX.values())
