"""Engine-layer metrics and job/stage spans from a Spark event log (JSON
lines), attributed to the benchmark's operations through job groups."""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from measure import Tracer, median

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Job:
    job_id: int
    group: str
    submit_s: float
    end_s: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: stage id -> list of (duration_ms, failed, task metrics)
    tasks: dict[int, list[tuple[float, bool, dict]]] = field(default_factory=dict)
    #: stage id -> {accumulable name: summed value}
    stage_accums: dict[int, dict[str, float]] = field(default_factory=dict)
    #: stage id -> (submission, completion) in epoch seconds
    stage_times: dict[int, tuple[float, float]] = field(default_factory=dict)


def find_log(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not p.endswith((".crc", ".inprogress"))
             and not os.path.basename(p).startswith(("appstatus", "."))]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id", ""),
                                            e["Submission Time"] / 1000.0, stages=e["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]].end_s = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                log.tasks.setdefault(e["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"], bool(info["Failed"]),
                     e.get("Task Metrics") or {}))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    log.stage_times[info["Stage ID"]] = (info["Submission Time"] / 1000.0,
                                                         info["Completion Time"] / 1000.0)
                acc = log.stage_accums.setdefault(info["Stage ID"], {})
                for a in info.get("Accumulables", []):
                    name, value = a.get("Name"), a.get("Value")
                    if name in (_PY_TIME, *_PY_BYTES):
                        acc[name] = acc.get(name, 0.0) + float(value)
    return log


def add_job_spans(tracer: Tracer, log: EventLog, in_scope: Callable[[Job], bool],
                  parents: set[str]) -> None:
    """The jobs `in_scope` selects as `engine.job` spans, each under the
    innermost span named in `parents` that contains its submission, with
    its completed stages as `engine.stage` spans under it."""
    candidates = sorted((s for s in tracer.spans if s.name in parents),
                        key=lambda s: s.end - s.start)
    for job in sorted(log.jobs.values(), key=lambda j: j.submit_s):
        if not in_scope(job):
            continue
        parent = next((s.sid for s in candidates if s.start <= job.submit_s <= s.end), None)
        jid = tracer.add("engine.job", job.submit_s, max(job.end_s, job.submit_s), parent)
        for sid in job.stages:
            if sid in log.stage_times:
                tracer.add("engine.stage", *log.stage_times[sid], jid)


def engine_metrics(log: EventLog, in_scope: Callable[[Job], bool]) -> dict[str, float]:
    """Task and stage totals over the jobs `in_scope` selects."""
    stages = sorted({s for j in log.jobs.values() if in_scope(j) for s in j.stages})
    m = dict.fromkeys(("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                       "executor_cpu_ms", "gc_ms", "tasks", "tasks_failed", "task_skew",
                       "python_eval_ms", "arrow_bytes"), 0.0)
    for sid in stages:
        tasks = log.tasks.get(sid, [])
        for _, failed, tm in tasks:
            m["tasks"] += 1
            m["tasks_failed"] += failed
            sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
        durations = [d for d, _, _ in tasks]
        if len(durations) >= 2 and median(durations) > 0:
            m["task_skew"] = max(m["task_skew"], max(durations) / median(durations))
        acc = log.stage_accums.get(sid, {})
        m["python_eval_ms"] += acc.get(_PY_TIME, 0.0)
        m["arrow_bytes"] += sum(acc.get(k, 0.0) for k in _PY_BYTES)
    return m
