"""Repo-wide physical-plan lint: EVERY registered query's plan is swept
for the shapes that break at 100 TB — unintended cartesian products and
row-at-a-time Python execution — with an explicit, documented whitelist
for the queries where the shape is the point.

This is the global complement to tests/test_plans.py's per-query gates:
a new catalog query cannot silently ship a nested-loop join or a plain
Python UDF; it either stays clean or earns a whitelist entry with a
reason.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.registry import QUERIES

#: Queries whose *construction* executes Spark jobs (streaming drains,
#: iterative loops with checkpoints, eager probes) — linting them would
#: run real work per test; their plan shapes are asserted in their own
#: dedicated tests instead.
_EAGER_CONSTRUCTION_PREFIXES = ("stream_",)
_EAGER_CONSTRUCTION = {
    "graph_pagerank_int",  # eager fixpoint loop (tests/test_round5c.py)
    "graph_kcore",  # fixpoint peeling loop (tests/test_round5g.py)
    "dedup_cc_clusters",  # checkpointed CC loop (tests/test_dedup.py)
    "dedup_pipeline_lsh",  # composes the CC loop
    "dedup_pipeline_exact",  # composes the CC loop
    "train_corpus_prep_neardup",  # composes the CC loop
    "train_corpus_prep",
    "er_customer_clusters",  # composes the CC loop
    "er_golden_record",  # composes the CC loop
    # eager by design: validates sketch quantiles against the exact CDF,
    # which requires the estimates driver-side before the checks
    "agg_kll_quantile_merge",
    "graph_bfs_hops",  # operators.graphs.bfs loop (tests/test_round7.py)
    # eager partitioned scratch write at construction (once per process,
    # atexit-cleaned); its scan shape is plan-gated in tests/test_round5d.py
    "layout_partition_prune",
    # eager signature-persist write at construction (once per process,
    # atexit-cleaned); composition law gated in tests/test_round7.py
    "dedup_incremental_batch",
    # eager fingerprint-index persist at construction (same pattern);
    # per-class structural truth gated in tests/test_round7.py
    "dedup_incremental_exact",
    # eager bucketed-table writes at construction (once per process);
    # the no-shuffle join plan is gated in tests/test_round7.py
    "layout_bucketed_join",
    # eager IVF index persist at construction (once per process,
    # atexit-cleaned); rebuild equivalence gated in tests/test_round7.py
    "sim_ivf_incremental",
    # eager heterogeneous-batch scratch write at construction (once per
    # process, atexit-cleaned); fill-null contract gated in
    # tests/test_round7.py
    "layout_schema_evolution",
    # eager by design: the Observation API only yields metrics after the
    # production action runs, so construction triggers the job
    "profile_observe_metrics",
    # eager sharded-export write at construction (once per process,
    # atexit-cleaned); the read-back manifest IS the oracle check
    "train_export_shards",
    # eager by design: measures three IVF recalls + ground truth at
    # construction and returns the characterization rows
    "sim_ivf_nprobe_curve",
}

#: CartesianProduct (shuffle cartesian — BOTH sides big) is deliberate
#: only here. BroadcastNestedLoopJoin is NOT flagged: its broadcast side
#: is bounded by autoBroadcastJoinThreshold, and the repo's pervasive
#: legitimate use is the 1-row scalar-stats attach
#: (crossJoin(broadcast(agg))) — linear in the big side, not a hazard.
_CARTESIAN_OK = {
    "join_cross",  # the cross-join operator itself
    "dedup_embedding_cosine",  # exact all-pairs correctness anchor
    "sim_cosine_topk",  # brute-force baseline (scale path: LSH/IVF/PQ)
    "sim_knn_loo_accuracy",  # leave-one-out anchor (scale path: ivfpq
    # shortlist feeds the same vote stage)
}

#: Python execution (Arrow-batched or connector) is the operator here.
_PYTHON_OK_PREFIXES = ("udf_", "udtf_", "multimodal_", "pysource_")


def _lazy_queries():
    names = []
    for name in sorted(QUERIES):
        if name.startswith(_EAGER_CONSTRUCTION_PREFIXES):
            continue
        if name in _EAGER_CONSTRUCTION:
            continue
        names.append(name)
    return names


@pytest.mark.parametrize("name", _lazy_queries())
def test_plan_has_no_forbidden_shapes(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    if name not in _CARTESIAN_OK:
        assert "CartesianProduct" not in plan, (
            f"{name}: unintended cartesian product"
        )
    if not name.startswith(_PYTHON_OK_PREFIXES):
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python in the hot path"
        )
