"""Spark's own job/stage accounting for the benchmark's calls.

Every call is bracketed by a job group.  Job, stage and task counts come
from ``statusTracker`` and are exact.  The CPU the Python workers (the
JVM's child processes) use during a call is read from ``/proc``.  In the
traced phase the session also serves its status UI on loopback, and
stage times, executor CPU, shuffle-write and result bytes are read from
``/api/v1`` once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from harness import descendants_cpu_s
from tracing import covered


@dataclass
class Call:
    label: str
    job_ids: list[int]
    start: float  # epoch seconds
    end: float
    worker_cpu_s: float = 0.0
    stats: dict[str, float] = field(default_factory=dict)


def _epoch(stamp: str) -> float:
    # the status API writes e.g. "2026-10-17T08:49:40.048GMT"
    return datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkAccounting:
    def __init__(self, spark):
        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.calls: list[Call] = []
        self._groups = itertools.count(1)

    @contextmanager
    def call(self, label: str):
        """Run the body under a fresh job group and record its jobs."""
        group = f"perfbench-{next(self._groups)}"
        self.sc.setJobGroup(group, label, False)
        cpu0 = self.worker_cpu_s()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            cpu = self.worker_cpu_s() - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self.calls.append(Call(label, jobs, start, end, cpu))

    def worker_cpu_s(self) -> float:
        return descendants_cpu_s(self.jvm_pid)

    def record(self, label: str, job_ids: list[int], start: float, end: float, worker_cpu_s: float) -> None:
        """Record a call whose jobs ran under someone else's group
        (a streaming query's epochs run under its run id)."""
        self.calls.append(Call(label, sorted(job_ids), start, end, worker_cpu_s))

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def counts(self, call: Call) -> dict[str, int]:
        st = self.sc.statusTracker()
        stages = tasks = 0
        for jid in call.job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                s = st.getStageInfo(sid)
                ran = (s.numCompletedTasks + s.numFailedTasks) if s else 0
                if ran:
                    stages += 1
                    tasks += ran
        return {"spark.jobs": len(call.job_ids), "spark.stages": stages, "spark.tasks": tasks}

    def fill_from_status_api(self, timeout_s: float = 20.0) -> None:
        """Attach stage-level times and bytes to every recorded call."""
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        wanted = {j for c in self.calls for j in c.job_ids}
        deadline = time.time() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in _get(base + "/jobs")}
            stages = {s["stageId"]: s for s in _get(base + "/stages")}
            pending = [
                j for j in wanted
                if j not in jobs or jobs[j]["status"] == "RUNNING"
                or any(stages.get(s, {}).get("status") == "ACTIVE" for s in jobs[j]["stageIds"])
            ]
            if not pending or time.time() > deadline:
                break
            time.sleep(0.2)
        if pending:
            raise RuntimeError(f"status API never reported jobs {sorted(pending)[:5]}")
        for call in self.calls:
            spans, cpu, shuffle, result = [], 0, 0, 0
            for sid in {s for j in call.job_ids for s in jobs[j]["stageIds"]}:
                s = stages.get(sid)
                if not s or s["status"] != "COMPLETE":
                    continue  # skipped: its output was reused
                spans.append((_epoch(s["submissionTime"]), _epoch(s["completionTime"])))
                cpu += s["executorCpuTime"]
                shuffle += s["shuffleWriteBytes"]
                result += s["resultSize"]
            call.stats = {
                "spark.driver_gap_s": (call.end - call.start) - covered(spans, call.start, call.end),
                "spark.executor_cpu_s": cpu / 1e9,
                "spark.python_worker_cpu_s": call.worker_cpu_s,
                "spark.shuffle_write_bytes": float(shuffle),
                "spark.result_bytes": float(result),
            }

    def summary(self, label: str) -> dict[str, float]:
        """Median per call of ``label`` of every spark.* metric."""
        calls = [c for c in self.calls if c.label == label]
        if not calls:
            raise ValueError(f"no Spark calls recorded as {label!r}")
        rows = [{**self.counts(c), **c.stats} for c in calls]
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}

    def breakdown(self) -> dict[str, dict[str, float]]:
        """Per label, the median call's wall and how it splits: the
        driver gap (no stage running), and the CPU the JVM's task
        threads and the Python workers spent on rows.  ``busy_share`` is
        that CPU over the call's wall times the cores: the share of the
        slots doing per-row work; the rest is fixed per-call cost."""
        cores = self.sc.defaultParallelism
        out = {}
        for label in dict.fromkeys(c.label for c in self.calls):
            calls = [c for c in self.calls if c.label == label]
            wall = statistics.median(c.end - c.start for c in calls)
            m = self.summary(label)
            cpu = m["spark.executor_cpu_s"] + m["spark.python_worker_cpu_s"]
            out[label] = {
                "calls": len(calls),
                "wall_s": wall,
                "driver_gap_s": m["spark.driver_gap_s"],
                "executor_cpu_s": m["spark.executor_cpu_s"],
                "python_worker_cpu_s": m["spark.python_worker_cpu_s"],
                "busy_share": cpu / (wall * cores),
            }
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)
