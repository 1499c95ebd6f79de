"""The benchmark's workloads.

Each workload is driven by one client thread in a closed loop: the next op
starts when the previous one has finished. A workload runs in whole passes;
the harness repeats passes until the timed section is long enough.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from decimal import Decimal

from perfbench import gen
from perfbench.tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
#: The LLM-data queries run on the smaller sf0.001 copy: the loop query
#: costs Spark jobs every round, so a smaller graph keeps enough ops in a run.
SMALL_FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.001")
DIGESTS = os.path.join(HERE, "digests.json")


class Op:
    """One timed op: its latency and whether it succeeded."""

    __slots__ = ("name", "latency_s", "ok")

    def __init__(self, name: str, latency_s: float, ok: bool = True):
        self.name, self.latency_s, self.ok = name, latency_s, ok


# --- ingest_drain -----------------------------------------------------------


class IngestDrain:
    """Drain seeded raw JSON files through the reference's whole job:
    ``readStream.text`` -> ``ingest_pipeline`` -> ``demux_stream_sink``
    (``availableNow``). One op is one micro-batch; one pass drains every file
    into a fresh sink and checkpoint.

    A micro-batch is 1000 lines, the reference's ``max.poll.records`` and
    ``BATCH_SIZE`` (BASELINE.md), spread over 4 files, so each batch runs
    4 parallel tasks."""

    TRIGGERS = 50
    FILES_PER_TRIGGER = 4
    LINES_PER_FILE = 250
    FILES = TRIGGERS * FILES_PER_TRIGGER
    WARM_FILES = 2 * FILES_PER_TRIGGER

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.input_dir = os.path.join(work, "ingest", "input")
        self.warm_dir = os.path.join(work, "ingest", "warm")
        self.expect: dict[str, list] = {}
        self.passes = 0
        self.rows = 0
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self.last_sink = ""

    def prepare(self) -> None:
        lines, self.expect = gen.generate_lines(self.seed, self.FILES * self.LINES_PER_FILE)
        paths = gen.write_files(lines, self.input_dir, self.FILES)
        os.makedirs(self.warm_dir, exist_ok=True)
        for p in paths[: self.WARM_FILES]:
            shutil.copy(p, self.warm_dir)

    def _drain(self, spark, src: str, tag: str):
        from featurestore_for_joycastle_java_spark.operators.ingest import ingest_pipeline
        from featurestore_for_joycastle_java_spark.streaming import demux_stream_sink

        raw = spark.readStream.option("maxFilesPerTrigger", self.FILES_PER_TRIGGER).text(src)
        sink = os.path.join(self.work, "ingest", f"sink-{tag}")
        ckpt = os.path.join(self.work, "ingest", f"ckpt-{tag}")
        q = demux_stream_sink(ingest_pipeline(raw), sink, key_col="EventType", checkpoint_dir=ckpt)
        q.awaitTermination()
        return q, sink

    def warm(self, spark) -> tuple[int, int]:
        self._drain(spark, self.warm_dir, "warm")
        return 0, 0

    def run_pass(self, spark, rng: random.Random) -> list[Op]:
        tag = f"p{self.passes}"
        with self.tracer.span("pass", op=tag) as span:
            q, sink = self._drain(spark, self.input_dir, tag)
        self.passes += 1
        self.last_sink = sink
        self.run_ids.append(str(q.runId))
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        for p in batches:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + p["durationMs"]["triggerExecution"] / 1000
            self.tracer.add("trigger", start, end, f"{tag}/{p['batchId']}", span)
        self.progress.extend(batches)
        self.rows += sum(p["numInputRows"] for p in batches)
        return [Op(f"{tag}/{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000) for p in batches]

    def items(self, ops: list[Op]) -> int:
        return self.rows

    def check(self, spark) -> tuple[int, int]:
        """Read the last pass's sink back: per-route rows and exact decimal
        EventValue sums must equal the generator's expectation, and every
        pass must have read every line."""
        from pyspark.sql import functions as F

        got = {
            r["EventType"]: [r["rows"], r["total"] or Decimal(0)]
            for r in spark.read.parquet(self.last_sink)
            .groupBy("EventType")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.col("EventValue").cast("decimal(38,6)")).alias("total"),
            )
            .collect()
        }
        lines = self.FILES * self.LINES_PER_FILE
        ok = got == self.expect and self.rows == lines * self.passes
        self.routes = {k: v[0] for k, v in sorted(got.items())}
        return 1, 0 if ok else 1

    def layer_metrics(self, log) -> dict[str, float]:
        from perfbench import eventlog

        dur = [p["durationMs"] for p in self.progress]

        def phase(*keys: str) -> float:
            return sum(d.get(k, 0) for d in dur for k in keys) / 1000

        kept = sum(self.routes.values())
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.last_sink)
            for f in fs
            if f.endswith(".parquet")
        ]
        out = {
            "build_s": 0.0,
            "build.jobs": 0,
            "build.infer_jobs": 0,
            "build.share": 0.0,
            "plan_s": 0.0,
            "loop.build_s": 0.0,
            "loop.jobs": 0,
            "exec_s": phase("addBatch"),
            "trigger.count": len(self.progress),
            "trigger.add_batch_s": phase("addBatch"),
            "trigger.planning_s": phase("queryPlanning"),
            "trigger.offsets_s": phase("latestOffset", "getBatch"),
            "trigger.commit_s": phase("walCommit", "commitOffsets"),
            "input_rows": self.rows,
            "valid_ratio": kept / (self.FILES * self.LINES_PER_FILE),
            "output_mb": sum(os.path.getsize(f) for f in files) / (1024 * 1024),
            "output_files": len(files),
        }
        out.update(eventlog.totals(log.group_jobs(set(self.run_ids))))
        return out

    def counts(self) -> dict:
        return {"rows_per_route": self.routes}


# --- query mixes ------------------------------------------------------------

#: 16 short batch catalog queries on ``fixtures/sf0.01`` that run no Python
#: workers. They resolve fixtures through ``sources.load_table`` on every
#: call, so their time goes mostly to build and plan.
FEATURE_QUERIES = (
    "tpch_q6_forecast",
    "tpch_q13_custdist",
    "feature_crossed_hash",
    "feature_count_encoding",
    "feature_target_encoding",
    "feature_ewma_decay",
    "agg_rollup",
    "agg_stats",
    "agg_distinct_counts",
    "agg_approx_topk",
    "window_ntile_dense_rank",
    "window_topk_per_group",
    "window_lag_lead",
    "asof_forward_click_purchase",
    "join_semi",
    "ingest_demux_counts",
)

#: The LLM-data operators on ``fixtures/sf0.001``, cut to what fits a run:
#: one iterative loop that runs driver actions every round (``operators.graph``
#: integer PageRank), two Arrow kernels in Python workers (``similarity`` SRP
#: codes and the Gram matrix) and one wide-shuffle text operator (``text``
#: TF-IDF). Their time goes to execution and to the loop's driver actions.
LLM_QUERIES = (
    "graph_pagerank_int",
    "dedup_embedding_srp",
    "sim_gram_matrix",
    "text_tfidf",
)

#: The ``catalog_mix`` workload: every query with the fixture it runs on.
CATALOG_MIX = {
    **{q: FIXTURE_DIR for q in FEATURE_QUERIES},
    **{q: SMALL_FIXTURE_DIR for q in LLM_QUERIES},
}


def canonical_digest(pdf) -> str:
    """sha256 of the oracle comparison's canonical form of a result
    (tests/oracle.py): columns sorted by name, values rendered, rows sorted."""
    from oracle import _canon

    return hashlib.sha256(repr(_canon(pdf)).encode()).hexdigest()


class QueryMix:
    """A closed loop over a fixed query list. One op is one query: the
    ``QUERIES[name]`` call (build) plus a noop write (plan + execute). The
    seed permutes the order of every pass."""

    def __init__(self, queries: dict[str, str], tracer: Tracer):
        self.queries, self.tracer = queries, tracer  # query name -> fixture dir
        self.ops: list[dict] = []  # traced ops: id, query, build and write spans

    def prepare(self) -> None:
        pass

    def _registry(self):
        from featurestore_for_joycastle_java_spark import registry

        return registry.QUERIES

    def warm(self, spark) -> tuple[int, int]:
        """The warm pass doubles as the output check: each query's result is
        collected once and its canonical digest compared with the one
        recorded (and confirmed against its DuckDB oracle) in digests.json.
        It is not timed, so it runs ``nproc`` queries at a time: a first run
        spends most of its time compiling on the driver."""
        with open(DIGESTS) as fh:
            want = json.load(fh)["queries"]
        queries = self._registry()

        def differs(name: str) -> bool:
            pdf = queries[name](spark, self.queries[name]).toPandas()
            if canonical_digest(pdf) != want.get(name):
                print(f"perfbench: {name}: result digest differs from digests.json", flush=True)
                return True
            return False

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            failed = sum(pool.map(differs, self.queries))
        return len(self.queries), failed

    def run_pass(self, spark, rng: random.Random) -> list[Op]:
        queries = self._registry()
        order = list(self.queries)
        rng.shuffle(order)
        ops = []
        sc = spark.sparkContext
        for name in order:
            op_id = f"op-{len(self.ops)}"
            if self.tracer.enabled:
                sc.setJobGroup(op_id, name)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op", op=op_id) as root:
                    with self.tracer.span("build", op=op_id, parent=root) as b:
                        df = queries[name](spark, self.queries[name])
                    with self.tracer.span("write", op=op_id, parent=root) as w:
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, the loop goes on
                print(f"perfbench: {name} failed: {ex}", flush=True)
                ok = False
            ops.append(Op(name, time.perf_counter() - t0, ok))
            if self.tracer.enabled and ok:
                self.ops.append({"id": op_id, "query": name, "build": b.interval, "write": w.interval})
        if self.tracer.enabled:
            sc.setJobGroup("idle", "between ops")
        return ops

    def items(self, ops: list[Op]) -> int:
        return len(ops)

    def check(self, spark) -> tuple[int, int]:
        return 0, 0

    def layer_metrics(self, log) -> dict[str, float]:
        from perfbench import eventlog

        by_group: dict[str, list] = {}
        for job in log.group_jobs({o["id"] for o in self.ops}):
            by_group.setdefault(job.group, []).append(job)
        build_s = plan_s = exec_s = loop_s = op_s = 0.0
        build_jobs = infer_jobs = loop_jobs = 0
        for o in self.ops:
            (bs, be), (ws, we) = o["build"], o["write"]
            jobs = by_group.get(o["id"], [])
            in_build = [j for j in jobs if j.submit_ms < ws * 1000]
            infer = sum(j.infer for j in in_build)
            build_s += be - bs
            op_s += we - bs
            build_jobs += len(in_build)
            infer_jobs += infer
            if len(in_build) > infer:  # driver actions beyond schema inference
                loop_jobs += len(in_build) - infer
                loop_s += be - bs
            covered = log.covered_s(ws, we)
            exec_s += covered
            plan_s += (we - ws) - covered
        out = {
            "build_s": build_s,
            "build.jobs": build_jobs,
            "build.infer_jobs": infer_jobs,
            "build.share": build_s / op_s if op_s else 0.0,
            "plan_s": plan_s,
            "loop.build_s": loop_s,
            "loop.jobs": loop_jobs,
            "exec_s": exec_s,
            "trigger.count": 0,
            "trigger.add_batch_s": 0.0,
            "trigger.planning_s": 0.0,
            "trigger.offsets_s": 0.0,
            "trigger.commit_s": 0.0,
            "input_rows": 0,
            "valid_ratio": 0.0,
            "output_mb": 0.0,
            "output_files": 0,
        }
        out.update(eventlog.totals([j for js in by_group.values() for j in js]))
        return out

    def counts(self) -> dict:
        return {}


def make(name: str, seed: int, work: str, tracer: Tracer):
    if name == "ingest_drain":
        return IngestDrain(seed, work, tracer)
    if name == "catalog_mix":
        return QueryMix(CATALOG_MIX, tracer)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ingest_drain", "catalog_mix")
