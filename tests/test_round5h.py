"""Round-5h operator tests: RRF fusion arithmetic and provenance,
NDCG@10 numpy cross-check and bounds, freshness-lag invariants.

(Cross-engine value parity for every round5h query is covered by
tests/test_oracle_parity.py via registry parametrization.)
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.catalog.eval import _NDCG_W
from featurestore_for_joycastle_java_spark.catalog.similarity import _RRF_K
from featurestore_for_joycastle_java_spark.registry import QUERIES
from featurestore_for_joycastle_java_spark.sources import load_table


# ------------------------------------------------------------- retrieval


def test_rrf_score_arithmetic_and_order(spark, sf_dir):
    rows = QUERIES["sim_rrf_hybrid"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = []
    for r in rows:
        expect = 0
        if r["r_lex"] is not None:
            assert 1 <= r["r_lex"] <= 20
            expect += 1_000_000 // (_RRF_K + r["r_lex"])
        if r["r_vec"] is not None:
            assert 1 <= r["r_vec"] <= 20
            expect += 1_000_000 // (_RRF_K + r["r_vec"])
        assert r["r_lex"] is not None or r["r_vec"] is not None
        assert r["rrf_scaled"] == expect
        scores.append(r["rrf_scaled"])
    assert scores == sorted(scores, reverse=True)


def test_rrf_self_retrieval(spark, sf_dir):
    """The query vector is embedding 0 — its own document must sit at
    vector rank 1 (cosine to itself = 1.0), so doc 0 must appear in
    the fused output."""
    rows = QUERIES["sim_rrf_hybrid"](spark, sf_dir).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert 0 in by_doc and by_doc[0]["r_vec"] == 1


# ------------------------------------------------------------------ eval


def test_ndcg_constants_are_log2_floors():
    for i, w in enumerate(_NDCG_W, start=1):
        assert w == math.floor(1e6 / math.log2(i + 1))


def test_ndcg_matches_numpy(spark, sf_dir):
    row = QUERIES["eval_ndcg_at10"](spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("rel"),
        )
        .collect()
    )
    byu: dict = {}
    for r in ev:
        byu.setdefault(r["user_id"], []).append(
            (-r["vm"], r["event_id"], r["rel"])
        )
    ndcgs = []
    for u, items in byu.items():
        items.sort()
        rels = [it[2] for it in items]
        npos = sum(rels)
        if npos == 0:
            continue
        dcg = sum(
            _NDCG_W[i] for i in range(min(10, len(rels))) if rels[i] == 1
        )
        idcg = sum(_NDCG_W[: min(npos, 10)])
        ndcgs.append(dcg * 1_000_000 // idcg)
    assert row["n_users"] == len(ndcgs)
    assert row["mean_ndcg_ppm"] == sum(ndcgs) // len(ndcgs)
    assert 0 <= row["mean_ndcg_ppm"] <= 1_000_000


# --------------------------------------------------------------- quality


def test_freshness_invariants(spark, sf_dir):
    rows = QUERIES["quality_freshness_sla"](spark, sf_dir).collect()
    assert rows
    lags = [r["lag_minutes"] for r in rows]
    assert min(lags) == 0  # the freshest source defines the clock
    for r in rows:
        assert r["lag_minutes"] >= 0
        assert r["sla_ok"] == (1 if r["lag_minutes"] <= 120 else 0)
