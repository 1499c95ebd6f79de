"""The repository's benchmark: one command, one fresh process per run.

    python3 perfbench/run.py --workload catalog_mix --seed 7 --seconds 10 --trace 0

Spark runs at ``local[nproc]`` with shuffle width ``nproc``, built with
``session.get_spark``; one client thread issues the work in a closed loop.
A run sets up once (``setup_s`` counts from process start to a ready
session with the catalog imported and the JVM warmed up), generates its
inputs, makes a warm pass, then times whole passes until at least
``--seconds`` have passed and at least ``MIN_OPS`` ops have succeeded, so
the p75 latency has ten samples beyond it (a traced run stops at
``MIN_OPS`` alone). Outputs are checked outside the timed section.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and one job group per op, and prints the per-layer
metrics. The last stdout line is the result object; the line before it
holds the host context (canaries, steal share, nproc, sample count).

Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "featurestore_for_joycastle_java_spark"

#: Successful ops a timed section needs: p75 must have ten samples beyond it.
MIN_OPS = 40
#: Hard cap on the timed section, so a run on a slow host still ends in time.
MAX_TIMED_S = 100


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # A fixed 1 GB heap and the serial collector: the heap then grows with
        # allocation alone, not with GC timing, so peak RSS repeats run to run
        # (with the default G1 it swung 800-1230 MB on one workload and seed).
        "spark.driver.memory": "1g",
        # No /tmp/hsperfdata file: the run writes nothing outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -XX:+UseSerialGC"
        ),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _jvm_warmup(spark) -> None:
    """A fixed first action: class loading, codegen and the parquet reader."""
    from perfbench.workloads import FIXTURE_DIR

    spark.read.parquet(os.path.join(FIXTURE_DIR, "orders.parquet")).groupBy(
        "o_orderstatus"
    ).count().collect()


def setup(master: str, width: int, conf: dict[str, str]):
    """Session ready, catalog imported, JVM warmed up. Returns the session
    and the three phase times."""
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark(
        app_name="perfbench", master=master, shuffle_partitions=width, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    importlib.import_module(f"{PACKAGE}.registry").load_catalog()
    t2 = time.perf_counter()
    _jvm_warmup(spark)
    t3 = time.perf_counter()
    return spark, {"session": t1 - t0, "catalog_import": t2 - t1, "warmup": t3 - t2}


def _shutdown() -> None:
    """Stop Spark, then the JVM and everything under it, and wait for them."""
    from pyspark import SparkContext

    from perfbench import probes

    others = [p for p in probes.process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in others):
        time.sleep(0.1)


def _history(workload: str) -> str:
    return os.path.join(WORK, "history", f"{workload}.jsonl")


def _sources_hash() -> str:
    """Hash of the package's and the benchmark's sources: an untraced run is
    a baseline for the tracing overhead only if it ran the same code."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_throughputs(workload: str, sources: str) -> list[float]:
    if not os.path.exists(_history(workload)):
        return []
    with open(_history(workload)) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return [r["throughput"] for r in rows if r.get("sources") == sources]


def _local1(args: argparse.Namespace, run_dir: str, conf: dict[str, str]) -> float:
    """Rows/s of one warm ``ingest_drain`` pass at ``local[1]``: the
    reference's single-threaded consumer, against the multi-threaded one."""
    from perfbench import workloads
    from perfbench.tracing import Tracer

    spark, _ = setup("local[1]", 1, conf)
    single = workloads.make(args.workload, args.seed, os.path.join(run_dir, "local1"), Tracer(False))
    single.prepare()
    single.warm(spark)
    t = time.perf_counter()
    single.run_pass(spark, random.Random(args.seed))
    return single.rows / (time.perf_counter() - t)


def run(args: argparse.Namespace, run_dir: str) -> int:
    from perfbench import eventlog, probes, stats, workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    width = len(os.sched_getaffinity(0))
    conf = spark_conf(run_dir, bool(args.trace))
    tracer = Tracer(bool(args.trace))
    with tracer.span("setup"):
        spark, parts = setup(f"local[{width}]", width, conf)
    setup_s = probes.process_age_s()  # one cold set-up, from process start
    parts["session"] += setup_s - sum(parts.values())

    w = workloads.make(args.workload, args.seed, run_dir, tracer)
    t0 = time.perf_counter()
    w.prepare()
    with tracer.span("warm"):
        attempted, failed = w.warm(spark)
    host = {
        "nproc": width,
        "prepare_and_warm_s": time.perf_counter() - t0,
        "canary_py_before_s": probes.python_canary_s(),
        "canary_jvm_before_s": probes.jvm_canary_s(spark),
    }

    rng = random.Random(args.seed)
    ops = []
    cpu0, steal0 = probes.tree_cpu_s(), probes.cpu_jiffies()
    t0 = time.perf_counter()
    with tracer.span("timed"):
        while True:
            ops += w.run_pass(spark, rng)
            elapsed = time.perf_counter() - t0
            # A traced run stops at the first pass boundary past MIN_OPS, so two
            # traced runs of one seed do the same work and their counts agree.
            done = sum(o.ok for o in ops)
            enough = done >= MIN_OPS and (args.trace or elapsed >= args.seconds)
            if enough or elapsed >= MAX_TIMED_S:
                break
    cpu = probes.tree_cpu_s() - cpu0
    host["steal_share"] = probes.steal_share(steal0, probes.cpu_jiffies())
    host["peak_rss_mb"] = rss = probes.peak_rss_mb()
    host["canary_py_after_s"] = probes.python_canary_s()
    host["canary_jvm_after_s"] = probes.jvm_canary_s(spark)

    a, f = w.check(spark)
    attempted += a + len(ops)
    failed += f + sum(not o.ok for o in ops)
    lat = [o.latency_s for o in ops if o.ok]
    host.update({"samples": len(lat), "timed_s": elapsed})
    try:
        tail = stats.percentile(lat, 0.75)
        thin = False
    except ValueError as ex:  # too many failed ops: the run is not a result
        print(f"perfbench: {ex}", file=sys.stderr)
        tail, thin = max(lat, default=elapsed), True
    throughput = w.items(ops) / elapsed
    values = {
        "setup_s": setup_s,
        "throughput": throughput,
        "latency_p50_s": statistics.median(lat) if lat else elapsed,
        "latency_p75_s": tail,
        "cpu_s_per_op": cpu / len(ops),
        # The worker pool's size depends on task timing (3-5 workers of about
        # 110 MB each on one seed), so only its largest worker counts.
        "peak_rss_mb": rss["driver"] + rss["jvm"] + rss["workers_max"],
    }

    if args.trace:
        app_id = spark.sparkContext.applicationId
        spark.stop()
        layer = w.layer_metrics(eventlog.parse(eventlog.app_log(conf["spark.eventLog.dir"], app_id)))
        for part in ("session", "catalog_import", "warmup"):
            layer[f"setup.{part}_s"] = parts[part]
        layer["local1.throughput"] = layer["local1.speedup"] = 0.0
        if args.workload == "ingest_drain":
            layer["local1.throughput"] = _local1(args, run_dir, conf)
            layer["local1.speedup"] = throughput / layer["local1.throughput"]
        layer["trace.throughput"] = throughput
        untraced = _untraced_throughputs(args.workload, _sources_hash())
        host["trace_overhead"] = 1 - throughput / statistics.median(untraced) if untraced else None
        host["trace_baseline_runs"] = len(untraced)
        if not untraced:
            print(
                f"perfbench: no untraced {args.workload} run of these sources in {_history(args.workload)}; "
                "tracing overhead not reported",
                file=sys.stderr,
            )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json"),
            {"workload": args.workload, "seed": args.seed, "host": host, "end_to_end": values,
             "per_layer": layer, "counts": w.counts()},
        )
        metrics = stats.result_metrics(layer, stats.PER_LAYER)
    else:
        os.makedirs(os.path.dirname(_history(args.workload)), exist_ok=True)
        with open(_history(args.workload), "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "sources": _sources_hash(), "throughput": throughput}) + "\n")
        metrics = stats.result_metrics(values, stats.END_TO_END)

    print(json.dumps({"host": host}))
    print(json.dumps({"correct": failed == 0 and not thin, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    try:
        sys.path[0] = ROOT  # the package and perfbench, from this checkout
        sys.path.append(os.path.join(ROOT, "tests"))  # tests/oracle.py: the canonical result form
        try:
            importlib.import_module(PACKAGE)
        except ImportError as ex:
            print(f"perfbench: cannot import the program under {ROOT}: {ex}", file=sys.stderr)
            return 2
        return run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
