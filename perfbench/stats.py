"""Metric catalog and the statistics the benchmark reports."""

from __future__ import annotations

import math
import re
import statistics

#: Samples a percentile must have beyond it before it is reported.
MIN_BEYOND = 10

#: End-to-end metrics (``--trace 0``): name -> unit. ``throughput`` is rows/s
#: on ``ingest_drain`` and queries/s on the query mixes.
END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics (``--trace 1``): name -> unit.
PER_LAYER = {
    # session + registry
    "setup.session_s": "s",
    "setup.catalog_import_s": "s",
    "setup.warmup_s": "s",
    # catalog build + sources.load_table
    "build_s": "s",
    "build.jobs": "count",
    "build.infer_jobs": "count",
    "build.share": "ratio",
    # Catalyst plan
    "plan_s": "s",
    # iterative loops (driver actions during build)
    "loop.build_s": "s",
    "loop.jobs": "count",
    # Spark execute + Arrow kernels
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "executor_cpu_ratio": "ratio",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "peak_exec_mem_mb": "MB",
    # operators.ingest + streaming sink
    "trigger.count": "count",
    "trigger.add_batch_s": "s",
    "trigger.planning_s": "s",
    "trigger.offsets_s": "s",
    "trigger.commit_s": "s",
    "input_rows": "count",
    "valid_ratio": "ratio",
    "output_mb": "MB",
    "output_files": "count",
    # single- vs multi-threaded consumer (ingest_drain only)
    "local1.throughput": "1/s",
    "local1.speedup": "ratio",
    # the traced run's own throughput (its overhead against the untraced
    # runs of the same sources is in the host context line)
    "trace.throughput": "1/s",
}

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q < 1). Refuses when fewer than
    ``MIN_BEYOND`` samples lie beyond it, since such a tail is one or two
    unlucky ops, not a percentile."""
    n = len(values)
    beyond = n - math.ceil(q * n)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {beyond} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[math.ceil(q * n) - 1]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def result_metrics(values: dict[str, float], catalog: dict[str, str]) -> dict:
    """The ``metrics`` object of the result line: every catalog metric, with
    its unit. A missing metric is a bug in the benchmark, so it raises."""
    missing = sorted(set(catalog) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in catalog.items()}
