"""Run the benchmark on several seeds and report each metric's median and
spread (inter-quartile distance over median), as the acceptance check does.

    python3 perfbench/steady.py --workloads ingest_drain,catalog_mix --seeds 10

Runs are sequential, from the checkout root, with BENCHMARK.json's
``run_seconds``. Results are appended to ``.perfbench_work/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    sys.path[0] = ROOT
    from perfbench.stats import spread

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = os.path.join(ROOT, ".perfbench_work", "steady.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            walls.append(time.monotonic() - t)
            if proc.returncode:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            *_, host, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
            with open(out, "a") as fh:
                record = {"workload": workload, "seed": seed, "wall_s": walls[-1], **host, **result}
                fh.write(json.dumps(record) + "\n")
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f}s correct={result['correct']}", flush=True)
        print(f"{workload}: mean wall {statistics.mean(walls):.1f}s")
        for k, vs in values.items():
            s = spread(vs) if len(vs) >= 2 else float("nan")
            print(f"  {k:16s} median {statistics.median(vs):.4g}  spread {s:.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
