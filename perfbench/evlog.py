"""Spark event-log reader: the Spark-side layers the driver cannot wrap.

The benchmark switches the event log on through session conf (uncompressed,
not rolling) and reads it after the session stops.  Jobs are attributed to a
benchmark phase by their submission time, because the build submits some of
its jobs from pool threads that carry no job group.  Stages are keyed by
call site (``Stage Name``); the postings encode stage is the one whose plan
both runs ``MapInArrow`` and writes files.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    sid: int
    call_site: str = ""
    scopes: set = field(default_factory=set)
    task_run_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0

    @property
    def is_encode(self) -> bool:
        return {"MapInArrow", "WriteFiles"} <= self.scopes


@dataclass
class Job:
    jid: int
    submitted: int          # epoch ms
    completed: int = 0
    stages: list = field(default_factory=list)


def read(evdir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    paths = sorted(p for p in glob.glob(os.path.join(evdir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and "appstatus" not in os.path.basename(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                _apply(json.loads(line), jobs, stages)
    return jobs, stages


def _apply(ev: dict, jobs: dict, stages: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"],
                                 stages=list(ev["Stage IDs"]))
    elif kind == "SparkListenerJobEnd":
        jobs[ev["Job ID"]].completed = ev["Completion Time"]
    elif kind in ("SparkListenerStageSubmitted",
                  "SparkListenerStageCompleted"):
        si = ev["Stage Info"]
        st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
        st.call_site = si.get("Stage Name", "")
        for rdd in si.get("RDD Info", []):
            scope = rdd.get("Scope")
            if scope:
                st.scopes.add(json.loads(scope).get("name", ""))
    elif kind == "SparkListenerTaskEnd":
        st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
        m = ev.get("Task Metrics") or {}
        st.task_run_ms.append(m.get("Executor Run Time", 0))
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.spill += (m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0))


def jobs_in(jobs: dict[int, Job], t0_ms: float, t1_ms: float) -> list[Job]:
    return [j for j in jobs.values() if t0_ms <= j.submitted <= t1_ms]


def _union_ms(jobs: list[Job]) -> float:
    """Wall time covered by at least one running job."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.submitted):
        lo, hi = max(j.submitted, end), j.completed
        if hi > lo:
            total += hi - lo
        end = max(end, hi)
    return total


def build_metrics(jobs, stages, window: tuple[float, float]) -> dict:
    sts = [stages[s] for j in jobs_in(jobs, *window) for s in j.stages
           if s in stages and stages[s].task_run_ms]
    enc = [s for s in sts if s.is_encode]
    skew = 1.0
    if enc:
        runs = [r for s in enc for r in s.task_run_ms]
        skew = max(runs) / max(1.0, statistics.median(runs))
    return {
        "spark.build.cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
        "spark.build.gc_s": sum(s.gc_ms for s in sts) / 1e3,
        "spark.build.shuffle_bytes": sum(s.shuffle_write for s in sts),
        "spark.build.spill_bytes": sum(s.spill for s in sts),
        "spark.build.task_skew": skew,
    }


def query_metrics(jobs, stages, windows: list[tuple[float, float]]) -> dict:
    """Per-batch means over the timed ``topk_batch`` windows."""
    n = len(windows)
    per = [jobs_in(jobs, *w) for w in windows]
    tasks = run_ms = driver_ms = 0.0
    for js, (t0, t1) in zip(per, windows):
        for j in js:
            for s in j.stages:
                if s in stages:
                    tasks += len(stages[s].task_run_ms)
                    run_ms += sum(stages[s].task_run_ms)
        driver_ms += (t1 - t0) - _union_ms(js)
    return {
        "spark.query.jobs_per_batch": sum(len(js) for js in per) / n,
        "spark.query.tasks_per_batch": tasks / n,
        "spark.query.executor_run_s": run_ms / n / 1e3,
        "spark.query.driver_s": driver_ms / n / 1e3,
    }


def by_call_site(jobs, stages, window: tuple[float, float]) -> dict:
    """Call site → [stages, tasks, executor run s], for the trace file."""
    out: dict[str, list] = {}
    for j in jobs_in(jobs, *window):
        for s in j.stages:
            st = stages.get(s)
            if st and st.task_run_ms:
                row = out.setdefault(st.call_site, [0, 0, 0.0])
                row[0] += 1
                row[1] += len(st.task_run_ms)
                row[2] += sum(st.task_run_ms) / 1e3
    return out
