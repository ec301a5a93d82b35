"""Spark event-log parser: job, stage and task totals per job group.

Reads an uncompressed JSON-lines event log (``spark.eventLog.compress
=false``) and keeps three event kinds:

* ``SparkListenerJobStart``: job id, submission time, stage ids and
  the job's properties (job group, streaming query id and batch id);
* ``SparkListenerJobEnd``: completion time;
* ``SparkListenerTaskEnd``: run, CPU and GC time plus shuffle, spill
  and input bytes.

A task is charged to the first job that lists its stage. A stage that
a later job lists again is skipped there and never runs twice.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TASK_FIELDS = (
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


def _task_totals(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
    }


def job_group(props: dict) -> str | None:
    """A job's group: ``stream:<query id>:<batch id>`` for a
    micro-batch job (Structured Streaming also sets the job group, to
    the run id), otherwise the job group, if any."""
    if props.get("sql.streaming.queryId"):
        return f"stream:{props['sql.streaming.queryId']}:{props.get('streaming.sql.batchId')}"
    return props.get("spark.jobGroup.id")


def parse(lines) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], job_group(ev.get("Properties") or {}), ev["Submission Time"])
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            job.tasks += 1
            job.stages.add(ev["Stage ID"])
            for k, v in _task_totals(ev).items():
                job.totals[k] += v
    return jobs


def parse_file(path: str) -> dict[int, Job]:
    with open(path) as f:
        return parse(f)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals, in their unit."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(jobs, span: tuple[float, float] | None = None) -> dict[str, float]:
    """Totals over ``jobs``. With ``span`` (start, end in epoch
    seconds), also ``driver_gap_s``: the span minus the part of it
    covered by at least one running job."""
    jobs = list(jobs)
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for j in jobs:
        for k, v in j.totals.items():
            out[k] += v
    out["jobs"] = len(jobs)
    out["stages"] = sum(len(j.stages) for j in jobs)
    out["tasks"] = sum(j.tasks for j in jobs)
    if span is not None:
        lo, hi = span
        iv = [
            (max(lo, j.start_ms / 1e3), min(hi, j.end_ms / 1e3))
            for j in jobs
            if j.end_ms is not None
        ]
        out["driver_gap_s"] = (hi - lo) - union_s([(s, e) for s, e in iv if e > s])
    return out
