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

#: Measured drift attributions (r7): queries whose cross-round drift gate
#: fired and was run to ground. Attached to their drift_vs_oldest entries
#: so the flag carries its explanation instead of re-firing unexplained.
DRIFT_NOTES = {
    # Probe (r7, sf0.1, local[32]): build 0.13 s; warm steady-state exec
    # 0.85-0.95 s across 9 runs == the oldest 0.855 s baseline; a trivial
    # 1-row Arrow UDTF costs 2.2 s cold vs 0.3 s warm, so the delta is
    # Python-worker spawn + Arrow-UDTF pipeline init, which in-suite
    # depends on whether an earlier Python query left a reusable worker.
    # Conclusive same-code spread: the r6 driver runs recorded 0.413 s
    # (bench_queries.json) and 1.431 s (bench_history.json) back to back.
    # Worker-startup scheduling noise, not query rot; fixture unchanged
    # (documents 500 rows, same schema hash, output 4 667 rows).
    # Probe (r7 close, sf0.1, local[32]): isolated warm steady-state
    # feature_rfm 1.98-2.33 s across 5 runs == the oldest 2.29 s
    # baseline; funnel_conversion 0.49-0.52 s, BETTER than the oldest
    # 0.64 s. Both flags fired at an identical 1.52x in the same suite
    # run whose total grew ~16% uniformly (223.5 -> 260.2 s, 238
    # queries) — suite-level scheduler contention, not query rot.
    "feature_rfm": "suite contention; isolated warm 1.98-2.33s =="
    " oldest 2.29s (see comment)",
    "funnel_conversion": "suite contention; isolated warm 0.49-0.52s"
    " beats oldest 0.64s (see comment)",
    "udtf_token_hist": "arrow-udtf worker startup noise; warm exec"
    " 0.85-0.95s == oldest baseline (see comment)",
    # Probe (r7b close, sf0.1, local[32]): isolated warm steady-state
    # 0.94-1.10 s over 5 runs = ratio 1.36 vs the 0.737 s oldest row —
    # UNDER the 1.5x gate in isolation; the flag only fires with
    # in-suite scheduler contention stacked on top (same uniform-
    # slowdown signature as the feature_rfm/funnel_conversion notes).
    "sql_frontend_ledger": "suite contention; isolated warm 0.94-1.10s"
    " = 1.36x vs oldest, under the gate (see comment)",
    # Probe (r9 open, sf0.1, local[32]): isolated warm steady-state
    # 0.785-0.857 s (first warm run 1.264 s) == the oldest 0.861 s
    # baseline; the r8 in-suite 1.137/1.163 s rows are the same
    # uniform-contention signature as feature_rfm — sub-second query at
    # the suite noise floor, not rot.
    "eval_chi2_independence": "suite contention; isolated warm"
    " 0.785-0.857s == oldest 0.861s (see comment)",
    # Probe (r9 close, sf0.1, local[32]): the 347s suite run flagged six
    # more sub-3s queries at 1.52-2.55x — the same uniform-contention
    # signature (suite total itself sat 16% over the 268-296s same-code
    # band). Isolated warm steady-state, 5 runs each after a warmup:
    "er_golden_record": "isolated warm 2.14-2.21s sits inside the"
    " same-code in-suite band 1.45-2.31s (6 rounds); the 1.451s oldest"
    " row is the band floor, not a baseline the query left",
    "feature_gini_concentration": "suite contention; isolated warm"
    " 0.69-0.79s BEATS oldest 0.978s",
    "feature_lag_matrix": "suite contention; isolated warm 0.52-0.58s"
    " beats oldest 0.704s",
    "feature_scd2_lookup": "suite contention; isolated warm 0.50-0.68s"
    " == oldest 0.559s",
    "multimodal_decode_features": "arrow-python worker startup noise"
    " (the udtf_token_hist signature); isolated warm 0.35-0.39s vs"
    " oldest 0.307s = 1.2x, far under the in-suite 2.55x flag",
    "profile_events_columns": "suite contention; isolated warm"
    " 0.40-0.48s beats oldest 0.731s",
    "join_bloom_prune": "suite contention; isolated warm 1.03-1.43s"
    " vs oldest 1.326s — under the gate; in-suite same-code band"
    " 1.33-1.96s across 6 rounds",
    # Probe (r11 open, sf0.1, local[32], 5.5% steal during the probe —
    # see WARM_PROBES): isolated warm 0.858-1.363 s, median 1.07 s =
    # 1.21x the 0.887 s oldest row, under the gate; the 1.6x swing
    # between identical runs is the r10-documented steal signature on
    # a sub-1.5s query (plan unchanged across rounds). VERDICT r10
    # ask #5 closed: noise, not rot.
    "agg_ratio_to_parent": "steal-era noise; isolated warm"
    " 0.858-1.363s median 1.07s = 1.21x oldest 0.887s, under the gate"
    " (r11 probe, see comment)",
    "stream_quota_enforcement": "suite contention; isolated warm median"
    " 6.58s (r12 probe, AFTER the 4-field state schema) sits under the"
    " r11 suite row 7.78s — the added reached-boolean costs nothing"
    " (see WARM_PROBES)",
}

#: Isolated-warm attributions for the suite's top cost movers (VERDICT
#: r8 ask #4) — measured at r9 open, sf0.1, local[32], 5 warm runs after
#: a warmup. Every isolated range sits UNDER its oldest in-suite row, so
#: the r8 suite-total movement is scheduler contention, not query rot.
#: Emitted verbatim into the bench artifact so the numbers are committed
#: evidence, not transcript anecdotes.
WARM_PROBES = {
    "eval_chi2_independence": {
        "isolated_warm_s": [1.264, 1.016, 0.817, 0.857, 0.785],
        "oldest_in_suite_s": 0.861,
        "verdict": "== oldest; in-suite 1.16s was contention",
        "r10_steal_era_s": [3.203, 2.234, 1.691, 0.817, 0.669],
        "r10_verdict": "converges to 0.67-0.82s == the r9 band once the"
        " host stops stealing; see host.steal_pct_of_busy",
    },
    "graph_pagerank_int": {
        "isolated_warm_s": [3.274, 3.172, 3.049, 3.063, 3.032],
        "oldest_in_suite_s": 5.689,
        "verdict": "0.54x oldest; the 5.1->7.1s suite rows are"
        " contention on the 5-iteration job, not regression",
        "r10_steal_era_s": [7.437, 5.09, 4.882, 4.961, 4.065],
        "r10_verdict": "1.3-2.5x the r9 isolated band on an IDLE box —"
        " the hypervisor-steal signature, not code (code unchanged)",
    },
    "dedup_cc_clusters": {
        "isolated_warm_s": [4.265, 4.409, 4.332, 4.29, 4.261],
        "oldest_in_suite_s": 5.35,
        "verdict": "0.81x oldest; suite rows 5.4-9.8s are contention",
        "r10_steal_era_s": [10.061, 12.868, 7.916, 9.455, 7.782],
        "r10_verdict": "1.8-3.0x the r9 isolated band, 60% swing between"
        " identical runs — steal, not code (code unchanged)",
    },
    "dedup_incremental_batch": {
        "isolated_warm_s": [2.38, 2.112, 2.162, 1.888, 1.979],
        "oldest_in_suite_s": 5.339,
        "verdict": "0.40x oldest (warm runs exclude the once-per-process"
        " index persist the first suite call pays); no regression",
        "r10_steal_era_s": [3.293, 4.529, 2.643, 7.206, 5.767],
        "r10_verdict": "2.7x swing between identical runs — steal, not"
        " code (code unchanged)",
    },
    # r11 probes (VERDICT r10 asks #4/#5): measured at r11 open, sf0.1,
    # local[32], 5 warm runs after a warmup; steal during the probe
    # window 5.5% of busy (the r10 steal era continues).
    "feature_capped_running_sum": {
        "isolated_warm_s": [3.648, 3.056, 2.556, 2.729, 3.449],
        "oldest_in_suite_s": 3.73,
        "verdict": "r11 probe: isolated warm 2.56-3.65s sits AT/UNDER"
        " the r9 suite row 3.73s — the r10 5.05s row was steal/"
        "contention, not code (plan unchanged; the 1.4x swing between"
        " identical runs at 5.5% steal is the documented signature)."
        " The per-batch Arrow sort suspect is acquitted: the floor run"
        " (2.56s) includes the identical sort.",
    },
    "agg_ratio_to_parent": {
        "isolated_warm_s": [1.363, 1.069, 1.104, 1.032, 0.858],
        "oldest_in_suite_s": 0.887,
        "verdict": "r11 probe: median 1.07s = 1.21x oldest, under the"
        " 1.5x gate in isolation; rerun medians swinging 0.85-2.03s on"
        " an unchanged plan are steal-era noise — DRIFT_NOTES now"
        " carries the attribution so drift_vs_oldest stops re-flagging",
    },
    # r12 probe: the quota limiter's state schema gained a dedicated
    # `reached` boolean this round (ADVICE r11 — every long is a legal
    # timestamp, no in-domain sentinel is collision-free), so the
    # schema change was probed the same day it shipped rather than
    # waiting for a drift flag.
    "stream_quota_enforcement": {
        "isolated_warm_s": [7.021, 6.58, 8.069, 6.397, 6.075],
        "oldest_in_suite_s": 7.78,
        "verdict": "r12 probe, taken AFTER the 4-field state schema"
        " landed: isolated warm median 6.58s sits UNDER the r11 suite"
        " row 7.78s — the extra boolean state field costs nothing"
        " measurable (3 real micro-batch commits x state instances"
        " remain the honest fixed floor); the 9.73s r12 suite row is"
        " in-suite contention (suite total moved 327->349s uniformly"
        " at 2.75% steal)",
    },
}

#: r10 host finding, committed with the probes above: this round's box
#: reports cumulative /proc/stat STEAL on par with USER time (the
#: hypervisor runs someone else while this VM wants CPU). Measured
#: effects vs r9 on UNCHANGED code: uniform ~1.4x median in-suite
#: inflation across all 289 queries, and 2-3x swings between identical
#: back-to-back isolated runs on an otherwise idle box. The `host`
#: block in the artifact (canary_jvm_sum_s + steal_pct_of_busy, added
#: this round) makes the condition measurable per run; cross-round
#: suite-total comparisons should be read against it.


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
                if n in DRIFT_NOTES:
                    drift_vs_oldest[n]["attribution"] = DRIFT_NOTES[n]
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
        "isolated_warm_probes": WARM_PROBES,
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
                # UNEXPLAINED drift only: an entry whose DRIFT_NOTES
                # attribution records a run-to-ground probe verdict
                # (steal/contention/startup noise, with the isolated
                # numbers) is explained — the gate exists to surface
                # moves nobody has looked at, not to re-flag the same
                # noise every round (VERDICT r10 ask #5). The full
                # drift dict, attributed entries included, stays in
                # bench_queries.json::drift_vs_oldest.
                "n_drift_vs_oldest": len(
                    [
                        n
                        for n, v in drift_vs_oldest.items()
                        if "attribution" not in v
                    ]
                ),
                "n_drift_attributed": len(
                    [
                        n
                        for n, v in drift_vs_oldest.items()
                        if "attribution" in v
                    ]
                ),
                "host": host,
                "full": "bench_queries.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
