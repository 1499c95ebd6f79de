"""Benchmark harness (driver contract): run every benchable registered
query at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is materialized with a noop-format write — full plan execution,
nothing collected to the driver.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from featurestore_for_joycastle_java_spark import get_spark, registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.registry import BENCH_SKIP, QUERIES

def _host_cpu_jiffies() -> dict[str, int]:
    """Aggregate jiffies from /proc/stat's first line — notably STEAL
    (time the hypervisor ran someone else while this VM wanted CPU).
    Added r10: the round-10 box showed steal ~= user cumulatively, which
    uniformly inflated every query ~1.4x vs r9 and produced 2-3x swings
    on identical back-to-back isolated runs. Recording the steal delta
    across the suite turns that from unattributable drift into committed
    evidence. Zeros on non-Linux (best effort)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        # user nice system idle iowait irq softirq steal ...
        busy = sum(vals[:3]) + sum(vals[5:7]) if len(vals) > 6 else sum(vals)
        return {
            "steal": vals[7] if len(vals) > 7 else 0,
            "busy": busy,
            "total": sum(vals),
        }
    except (OSError, ValueError, IndexError):
        return {"steal": 0, "busy": 0, "total": 0}


def rerun_median(name, timings, reruns, run_once, flagged, regressions) -> None:
    """Two more runs of ``name``: its recorded time becomes the median of
    the three (all three kept in ``reruns``), and the regression gate is
    re-checked on that median, so a flag stands or appears only on it."""
    runs = [timings[name], run_once(name), run_once(name)]
    reruns[name] = runs
    timings[name] = statistics.median(runs)
    flag = flagged(name, timings[name])
    if flag is not None:
        flag["runs"] = runs
        regressions[name] = flag


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        app_name="featurestore-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session startup; events goes through load_table so the
    # nanos-timestamp conversion path is warmed too (otherwise the
    # alphabetically-first events query absorbs the whole first-touch cost)
    from featurestore_for_joycastle_java_spark.sources import load_table

    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    # Fixture identity (r4): per-table row count + schema hash recorded in
    # the artifact, so cross-round per-query ratios are attributable —
    # the r2→r3 CC "regression" was confounded by a silent fixture regen
    # (denser near-dup graph) that nothing on disk recorded.
    fixture: dict[str, dict[str, object]] = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            t = load_table(spark, sf_dir, f[: -len(".parquet")])
            t.write.format("noop").mode("overwrite").save()
            fixture[f[: -len(".parquet")]] = {
                "rows": t.count(),
                "schema_md5": hashlib.md5(
                    t.schema.simpleString().encode()
                ).hexdigest()[:12],
            }

    # Streaming queries append per-trigger progress here (catalog/
    # streaming.DRAIN_PROGRESS); recording it per query makes cross-round
    # stream_* drift attributable to a phase (state commit / empty
    # finalization batch / planning) instead of a bare wall delta.
    from featurestore_for_joycastle_java_spark.catalog import streaming as CS

    stream_metrics: dict[str, list[dict]] = {}

    def run_once(name: str) -> float:
        CS.DRAIN_PROGRESS.clear()
        t0 = time.monotonic()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.monotonic() - t0, 3)
        if CS.DRAIN_PROGRESS:
            stream_metrics[name] = list(CS.DRAIN_PROGRESS)
        # each query is measured independently: drop cached blocks (e.g.
        # the LSH shingle table) so storage pressure from earlier queries
        # can't skew later ones — the per-query number is the query, not
        # the suite's accumulated state
        spark.catalog.clearCache()
        return dt

    # Host-speed canary (r10): a fixed pure-JVM aggregation, timed min-of-2
    # after the warmup. It has no I/O, no Python, no fixture dependence —
    # its cross-round ratio IS the host-speed ratio, so a suite-total move
    # that matches the canary move is the box, not the code. Paired with
    # the /proc/stat steal delta across the suite (see _host_cpu_jiffies).
    def _canary() -> float:
        t0 = time.monotonic()
        # double math: sum(id^2) over 30M rows overflows BIGINT under
        # ANSI; the double sum is the same codegen-tight loop
        spark.range(30_000_000).selectExpr(
            "sum(cast(id as double) * cast(id as double)) as s"
        ).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    _canary()  # plan/codegen warm — discarded
    canary_s = round(min(_canary(), _canary()), 3)
    jiffies0 = _host_cpu_jiffies()

    names = [n for n in sorted(QUERIES) if n not in BENCH_SKIP]
    timings: dict[str, float] = {}
    t_suite = time.monotonic()
    for name in names:
        timings[name] = run_once(name)
    total = round(time.monotonic() - t_suite, 3)
    jiffies1 = _host_cpu_jiffies()
    steal_d = jiffies1["steal"] - jiffies0["steal"]
    busy_d = jiffies1["busy"] - jiffies0["busy"]
    host = {
        "canary_jvm_sum_s": canary_s,
        "steal_jiffies_suite": steal_d,
        # steal as a share of the CPU the suite actually wanted — the
        # honest "how much of our compute did the host take" number
        # (steal vs TOTAL would be diluted by idle threads)
        "steal_pct_of_busy": round(100.0 * steal_d / (busy_d + steal_d), 2)
        if (busy_d + steal_d)
        else None,
    }

    # Regression gate baseline comes from GIT (the committed artifact of
    # the prior round), not the file on disk — two consecutive local runs
    # must NOT re-baseline on each other (slow drift would ratchet past
    # the gate, and a second run would erase the round baseline).
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_queries.json"
    )
    prior: dict = {}
    try:
        blob = subprocess.run(
            ["git", "show", "HEAD:bench_queries.json"],
            capture_output=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=30,
        )
        if blob.returncode == 0:
            prior = json.loads(blob.stdout)
    except (json.JSONDecodeError, OSError, subprocess.SubprocessError):
        prior = {}

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    prior_same_sf = prior.get("sf") == sf_val

    def flagged(n: str, t_now: float) -> dict[str, float] | None:
        # >1.5x slowdowns that also cost >0.3s absolute — sub-second
        # jitter at suite scale is noise, a 1.5x on a multi-second query
        # is rot (r2 shipped a 2.3x CC regression nobody caught in-round)
        t_old = prior.get("queries", {}).get(n) if prior_same_sf else None
        if t_old and t_now > 1.5 * t_old and t_now - t_old > 0.3:
            return {"prior": t_old, "now": t_now, "ratio": round(t_now / t_old, 2)}
        return None

    # Noise control (r4): a single-shot number in a contended suite flags
    # false regressions (r3: dedup_pipeline_lsh 8.2s in-suite vs 4.4s warm
    # same-session). Any flagged query gets TWO more runs; the recorded
    # time becomes the median of the three, and the flag stands only if
    # the median still clears the gate.
    regressions: dict[str, dict[str, float]] = {}
    reruns: dict[str, list[float]] = {}

    def rerun(n: str) -> None:
        rerun_median(n, timings, reruns, run_once, flagged, regressions)

    for n in names:
        if flagged(n, timings[n]) is not None:
            rerun(n)

    # Top-10 medians (r13, VERDICT r12 ask #2): the 10 slowest queries
    # define the printed one-line summary AND most of PERF's per-query
    # comparisons, yet each was a single shot — one hypervisor-steal
    # burst during any of them defined the round (both r12 driver runs
    # landed in 13-19% steal windows and read as regressions on
    # untouched code). Every top-10 query now gets TWO more runs and
    # records the median; the raw runs stay in rerun_medians so the
    # single-shot numbers remain committed evidence. Queries already
    # median-ed by the regression gate are not re-run. The gate is
    # re-checked on each median: a fast single shot whose median is slow
    # is a regression too.
    for n, _ in sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[
        :10
    ]:
        if n not in reruns:
            rerun(n)

    # Cross-round drift (VERDICT r4): the per-round gate compares only
    # against HEAD, so a sub-gate slowdown each round ratchets invisibly
    # (stream_stream_join 2.70 -> 4.28 s over two rounds, each step under
    # 1.5x). bench_history.json keeps the last rounds' full per-query maps
    # (committed); current timings are ALSO compared against the OLDEST
    # retained round at the same sf, flagged at the same 1.5x/0.3s gate.
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_history.json"
    )
    history: list[dict] = []
    try:
        blob = subprocess.run(
            ["git", "show", "HEAD:bench_history.json"],
            capture_output=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=30,
        )
        if blob.returncode == 0:
            history = json.loads(blob.stdout).get("rounds", [])
    except (json.JSONDecodeError, OSError, subprocess.SubprocessError):
        history = []
    drift_vs_oldest: dict[str, dict[str, float]] = {}
    same_sf = [h for h in history if h.get("sf") == sf_val]
    if same_sf:
        oldest = same_sf[0]
        # Same noise control as the regression gate (r4): the suite has
        # grown ~15% in query count since the oldest retained round, so
        # per-query in-suite contention biases sub-2s queries upward and
        # a DIFFERENT handful crosses the 1.5x line on every run (r7b
        # close: 9, then 1, then 4 flags across three back-to-back runs,
        # disjoint sets). A drift flag must survive a median-of-3 before
        # it is recorded; the rerun median also becomes the recorded
        # time, consistent with the regression path.
        for n in names:
            t_old = oldest.get("queries", {}).get(n)
            if t_old and timings[n] > 1.5 * t_old and timings[n] - t_old > 0.3:
                if n not in reruns:
                    rerun(n)
        for n in names:
            t_old = oldest.get("queries", {}).get(n)
            t_now = timings[n]
            if t_old and t_now > 1.5 * t_old and t_now - t_old > 0.3:
                drift_vs_oldest[n] = {
                    "oldest": t_old,
                    "oldest_label": oldest.get("label", "?"),
                    "now": t_now,
                    "ratio": round(t_now / t_old, 2),
                }
    label = os.environ.get("SPARK_GRAFT_BENCH_LABEL") or time.strftime(
        "%Y-%m-%d"
    )
    history = history + [{"label": label, "sf": sf_val, "queries": timings}]
    # retain the last 6 rounds PER scale factor — a shared window would
    # let frequent runs at one SF silently evict the other SF's drift
    # baseline (r5 review fix)
    by_sf: dict = {}
    for h in history:
        by_sf.setdefault(h.get("sf"), []).append(h)
    history = [h for sf_rounds in by_sf.values() for h in sf_rounds[-6:]]
    with open(hist_path, "w") as fh:
        json.dump({"rounds": history}, fh, indent=1, sort_keys=True)

    # VERDICT r11 ask #4: the bench-skipped queries (recall/verification
    # harnesses — quadratic ground truth or fit-heavy by design, which
    # is WHY they are skipped at sf0.1) get ONE committed timing each at
    # sf0.01 per round, so no registered query is a timing blind spot.
    # Single-shot, separate artifact key, no regression gate — these are
    # correctness harnesses, not performance surfaces; the gate lives on
    # the benched suite.
    skip_sf_dir = os.environ.get(
        "SPARK_GRAFT_SKIP_SF_DIR", "/root/testdata/sf0.01"
    )
    # r13 (VERDICT r12 asks #2/#8): a single cold shot per probe breathed
    # with host-steal bursts (the r12 PQ-fit claim was unconfirmable from
    # the committed single shots — one landed at 38.6 s mid-burst).
    # Median-of-3 per probe; all raw runs stay in the artifact
    # (skipped_probe_runs), so run 1 keeps the old cold-shot semantics
    # (first-touch init included) and the median is the committed number.
    skipped_probes: dict[str, float] = {}
    skipped_probe_runs: dict[str, list[float]] = {}
    if os.path.isdir(skip_sf_dir):
        for name in sorted(BENCH_SKIP):
            runs = []
            for _ in range(3):
                t0 = time.monotonic()
                QUERIES[name](spark, skip_sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.monotonic() - t0, 3))
                spark.catalog.clearCache()
            skipped_probe_runs[name] = runs
            skipped_probes[name] = statistics.median(runs)

    # Full per-query map goes to a file; the one printed line stays compact
    # (the driver captures a bounded amount of stdout — r1's 108-entry line
    # got tail-truncated to "parsed": null).
    full = {
        "metric": "bench_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(names),
        "skipped": sorted(BENCH_SKIP),
        "skipped_probes": {
            "sf_dir": skip_sf_dir,
            "sec": skipped_probes,
            "runs": skipped_probe_runs,
        },
        "regressions_vs_prior": regressions,
        "drift_vs_oldest": drift_vs_oldest,
        # 0 means the gate had NO committed same-sf baseline (inert run) —
        # commit bench_history.json at round close or drift can't fire
        "drift_baseline_rounds": len(same_sf),
        "rerun_medians": reruns,
        "stream_metrics": stream_metrics,
        "fixture": fixture,
        "host": host,
    }
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "bench_suite_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": full["sf"],
                "n_queries": len(names),
                "n_skipped_probed": len(skipped_probes),
                "n_regressions": len(regressions),
                "n_drift_vs_oldest": len(drift_vs_oldest),
                "host": host,
                "full": "bench_queries.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
