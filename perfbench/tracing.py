"""Spans and Spark event-log counters for the benchmark's traced runs.

Spans are recorded by the benchmark around its own calls into the
engine (no engine code is instrumented). Spark counters come from the
event log the JVM writes when the benchmark starts it with
``spark.eventLog.enabled``: the same reader serves the in-process
session and the resident service, whose status store lives in another
process.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, one list per run. A span's id is its index."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, time.perf_counter(), parent=parent, attrs=attrs))
        return len(self.spans) - 1

    def close(self, sid: int) -> float:
        span = self.spans[sid]
        span.end = time.perf_counter()
        return span.duration

    def children(self, sid: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], [self.spans[i] for i in self.children(sid)])


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that the
    union of its children's intervals covers."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(c.start, span.start), min(c.end, span.end)) for c in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that make the JVM write an uncompressed
    event log, block updates included, under ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }
    return [arg for k, v in conf.items() for arg in ("--conf", f"{k}={v}")]


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    group: str | None
    stage_ids: list[int]
    ended_ms: int = 0
    rdd_mb_after: float = 0.0


@dataclass
class Counters:
    """Task-level counters summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    peak_mem_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_write_time_s: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0


MB = 1024.0 * 1024.0


class EventLog:
    """Jobs, stages and task metrics parsed from one application's
    Spark event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_run: dict[int, set[int]] = defaultdict(set)
        self.task_metrics: dict[int, list[tuple[bool, dict]]] = defaultdict(list)
        blocks: dict[str, int] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], ev["Submission Time"],
                              props.get("spark.jobGroup.id"), ev["Stage IDs"])
                    self.jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        self.stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs[ev["Job ID"]]
                    job.ended_ms = ev["Completion Time"]
                    job.rdd_mb_after = sum(blocks.values()) / MB
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in self.stage_job:
                        self.stages_run[self.stage_job[sid]].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid in self.stage_job:
                        ok = ev["Task End Reason"]["Reason"] == "Success"
                        self.task_metrics[self.stage_job[sid]].append(
                            (ok, ev.get("Task Metrics") or {}))
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    if info["Block ID"].startswith("rdd_"):
                        blocks[info["Block ID"]] = info["Memory Size"] + info["Disk Size"]

    def select(self, keep) -> list[Job]:
        """Jobs for which ``keep(job)`` holds, in job-id order."""
        return sorted((j for j in self.jobs.values() if keep(j)), key=lambda j: j.job_id)

    def counters(self, jobs: list[Job]) -> Counters:
        c = Counters(jobs=len(jobs))
        for job in jobs:
            c.stages += len(self.stages_run[job.job_id])
            for ok, m in self.task_metrics[job.job_id]:
                c.tasks += 1
                c.failed_tasks += not ok
                c.run_s += m.get("Executor Run Time", 0) / 1e3
                c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1e3
                c.peak_mem_mb = max(c.peak_mem_mb, m.get("Peak Execution Memory", 0) / MB)
                c.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
                w = m.get("Shuffle Write Metrics") or {}
                c.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / MB
                c.shuffle_write_time_s += w.get("Shuffle Write Time", 0) / 1e9
                r = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / MB
                c.fetch_wait_s += r.get("Fetch Wait Time", 0) / 1e3
                i = m.get("Input Metrics") or {}
                c.input_mb += i.get("Bytes Read", 0) / MB
                c.input_rows += i.get("Records Read", 0)
        return c

    def rdd_mb_at(self, t_ms: float) -> float:
        """RDD block storage (memory + disk) after the last job that
        ended at or before ``t_ms``."""
        ended = [j for j in self.jobs.values() if j.ended_ms and j.ended_ms <= t_ms]
        return max(ended, key=lambda j: j.ended_ms).rdd_mb_after if ended else 0.0


def read_event_log(log_dir: str) -> EventLog:
    """The one finished application log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    return EventLog(paths[0])
