"""Round-5g operator tests: k-core vs a driver-side brute-force peel,
core-degree invariants, zone-map layout dominance, and out-of-fold
encoding identities.

(Cross-engine value parity for every round5g query is covered by
tests/test_oracle_parity.py via registry parametrization.)
"""

from __future__ import annotations

import contextlib
import io
from collections import Counter

from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.catalog.graph import _KCORE_K
from featurestore_for_joycastle_java_spark.operators.graphs import (
    cosupply_edges,
)
from featurestore_for_joycastle_java_spark.registry import QUERIES
from featurestore_for_joycastle_java_spark.sources import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ----------------------------------------------------------------- graph


def _brute_kcore(edges: set, k: int) -> dict:
    """Driver-side peeling ground truth: returns {node: core_degree}."""
    edges = set(edges)
    while True:
        deg: Counter = Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        kill = {x for x, d in deg.items() if d < k}
        if not kill:
            return dict(deg)
        edges = {
            (u, v) for u, v in edges if u not in kill and v not in kill
        }


def test_kcore_matches_bruteforce(spark, sf_dir):
    raw = {
        (r["u"], r["v"]) for r in cosupply_edges(spark, sf_dir).collect()
    }
    expected = _brute_kcore(raw, _KCORE_K)
    got = {
        r["s_suppkey"]: r["core_degree"]
        for r in QUERIES["graph_kcore"](spark, sf_dir).collect()
    }
    assert got == expected


def test_kcore_degree_floor(spark, sf_dir):
    """Every member of the k-core keeps >= k neighbors inside it (the
    defining property) — vacuously true when the fixture peels empty."""
    rows = QUERIES["graph_kcore"](spark, sf_dir).collect()
    assert all(r["core_degree"] >= _KCORE_K for r in rows)


def test_kcore_oracle_stage_margin(spark, sf_dir):
    """The unrolled DuckDB oracle is exact only if its stage count
    covers the actual peel depth. Measure the depth on this fixture and
    assert the committed ``_KCORE_STAGES`` keeps a >= 2x margin — the
    claim the constant's comment makes. If a fixture regeneration ever
    deepens the peel past the margin, this fails BEFORE the driver sees
    an unconverged (wrong) oracle."""
    from featurestore_for_joycastle_java_spark.catalog.graph import (
        _KCORE_STAGES,
    )

    edges = {
        (r["u"], r["v"]) for r in cosupply_edges(spark, sf_dir).collect()
    }
    depth = 0
    while True:
        deg: Counter = Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        kill = {x for x, d in deg.items() if d < _KCORE_K}
        if not kill:
            break
        depth += 1
        edges = {
            (u, v) for u, v in edges if u not in kill and v not in kill
        }
    assert 2 * depth <= _KCORE_STAGES, (
        f"peel depth {depth} eats the oracle's {_KCORE_STAGES}-stage "
        "margin — raise _KCORE_STAGES"
    )


# ---------------------------------------------------------------- layout


def test_zonemap_clustered_dominates(spark, sf_dir):
    rows = {
        r["layout"]: r
        for r in QUERIES["layout_zonemap_stats"](spark, sf_dir).collect()
    }
    nat, clu = rows["natural"], rows["clustered"]
    assert nat["n_files"] == clu["n_files"]
    # same data, same predicate: identical true match counts
    assert nat["n_matching"] == clu["n_matching"]
    # clustering can only improve (or tie) skip counts and scan volume
    assert clu["n_skip"] >= nat["n_skip"]
    assert clu["n_docs_scanned"] <= nat["n_docs_scanned"]
    # class partition: skip + full + partial = files
    for r in (nat, clu):
        assert r["n_skip"] + r["n_full"] + r["n_partial"] == r["n_files"]
    # scanned docs can never undercount the true matches
    assert clu["n_docs_scanned"] >= clu["n_matching"]


# -------------------------------------------------------------- features


def test_oof_identities(spark, sf_dir):
    rows = QUERIES["feature_target_encoding_oof"](spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
    )
    tot = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vm").alias("s"))
        .collect()
    }
    for r in rows:
        n_tot, s_tot = tot[r["event_type"]]
        assert r["n_in"] + r["n_out"] == n_tot
        if r["n_out"] > 0:
            # OOF mean is the floor of the complement ratio
            assert r["oof_mean_micro"] == r["oof_sum_micro"] // r["n_out"]
            assert r["oof_sum_micro"] == s_tot - (s_tot - r["oof_sum_micro"])
        else:
            assert r["oof_mean_micro"] is None


def test_oof_no_fact_sortmergejoin(spark, sf_dir):
    plan = _plan(QUERIES["feature_target_encoding_oof"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
