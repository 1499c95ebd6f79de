"""Spark event-log parser (stdlib only) for the traced run.

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes (a plain
file, or the ``eventlog_v2_*`` directory of rolled ``events_<n>_*`` files)
and attributes jobs, stages and task metrics to the job group each job ran
under. The benchmark sets one job group per op, so a group is an op.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    #: A parquet footer read outside any SQL execution: schema inference.
    infer: bool
    stage_ids: list[int]
    stages_done: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    peak_exec_mem: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: SQL execution id -> [start_ms, end_ms]
    sql: dict[int, list[int]] = field(default_factory=dict)
    _stage_job: dict[int, int] = field(default_factory=dict)

    def add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            in_sql = "spark.sql.execution.id" in props
            names = [s.get("Stage Name", "") for s in e.get("Stage Infos", [])]
            job = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=e["Submission Time"],
                infer=not in_sql and any(n.startswith("parquet at ") for n in names),
                stage_ids=list(e.get("Stage IDs", [])),
            )
            self.jobs[job.job_id] = job
            for sid in job.stage_ids:
                self._stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = self._job_of(info["Stage ID"])
            if job and "Failure Reason" not in info:
                job.stages_done += 1
        elif kind == "SparkListenerTaskEnd":
            job = self._job_of(e["Stage ID"])
            m = e.get("Task Metrics")
            if job is None or not m:
                return
            job.tasks += 1
            job.run_ms += m.get("Executor Run Time", 0)
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.gc_ms += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics", {})
            job.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job.spill += m.get("Disk Bytes Spilled", 0)
            job.peak_exec_mem = max(job.peak_exec_mem, m.get("Peak Execution Memory", 0))
        elif kind == _SQL_START:
            self.sql[e["executionId"]] = [e["time"], e["time"]]
        elif kind == _SQL_END and e["executionId"] in self.sql:
            self.sql[e["executionId"]][1] = e["time"]

    def _job_of(self, stage_id: int) -> Job | None:
        jid = self._stage_job.get(stage_id)
        return self.jobs.get(jid) if jid is not None else None

    def group_jobs(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def covered_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] (epoch s) covered by SQL executions that
        started inside it."""
        lo, hi = start * 1000, end * 1000
        spans = sorted(
            (max(s, lo), min(t, hi)) for s, t in self.sql.values() if lo <= s <= hi
        )
        covered, cur = 0.0, lo
        for s, t in spans:
            s = max(s, cur)
            if t > s:
                covered += t - s
                cur = t
        return covered / 1000


def totals(jobs: list[Job]) -> dict[str, float]:
    """Execute-layer metrics summed over ``jobs``."""
    run_s = sum(j.run_ms for j in jobs) / 1000
    cpu_s = sum(j.cpu_ns for j in jobs) / 1e9
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages_done for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": run_s,
        "executor_cpu_s": cpu_s,
        "executor_cpu_ratio": cpu_s / run_s if run_s else 0.0,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000,
        "shuffle_read_mb": sum(j.shuffle_read for j in jobs) / _MB,
        "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / _MB,
        "spill_mb": sum(j.spill for j in jobs) / _MB,
        "peak_exec_mem_mb": max((j.peak_exec_mem for j in jobs), default=0) / _MB,
    }


_EVENTS_FILE = re.compile(r"events_(\d+)_")


def log_files(path: str) -> list[str]:
    """The files of one application's log, in write order."""
    if not os.path.isdir(path):
        return [path]
    parts = [(int(m.group(1)), f) for f in os.listdir(path) if (m := _EVENTS_FILE.match(f))]
    return [os.path.join(path, f) for _, f in sorted(parts)]


def parse(path: str) -> EventLog:
    log = EventLog()
    for fname in log_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    log.add(json.loads(line))
    return log


def app_log(log_dir: str, app_id: str) -> str:
    """Path of the finished log of application ``app_id`` in ``log_dir``."""
    for name in (f"eventlog_v2_{app_id}", app_id):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
