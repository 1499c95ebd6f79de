"""Process-tree and host probes read from ``/proc``.

The Spark JVM is a child of the benchmark's Python process, and the Python
workers are children of the JVM, so the process tree rooted at the benchmark
holds every CPU second and byte of memory the workload costs.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the live tree, plus those of reaped
    children (so exited Python workers still count)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14..17.
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident sets (VmHWM, MB): this process, the JVM (its child),
    and the JVM's descendants (the Python worker pool): their count, sum
    and largest."""
    out = {"driver": _peak_rss_mb(os.getpid()), "jvm": 0.0, "workers": 0, "workers_sum": 0.0, "workers_max": 0.0}
    for child in _children(os.getpid()):
        out["jvm"] += _peak_rss_mb(child)
        for pid in process_tree(child)[1:]:
            mb = _peak_rss_mb(pid)
            out["workers"] += 1
            out["workers_sum"] += mb
            out["workers_max"] = max(out["workers_max"], mb)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so count only the first eight.
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def python_canary_s(n: int = 2_000_000) -> float:
    """A fixed pure-Python loop: moves only with the host."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t


def jvm_canary_s(spark, n: int = 20_000_000) -> float:
    """A fixed pure-JVM Spark job: no files, no Python workers."""
    t = time.perf_counter()
    spark.range(n).selectExpr("sum(hash(id)) AS h").collect()
    return time.perf_counter() - t


def process_age_s() -> float:
    """Seconds since this process started (its start time in /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK
