"""Unit test of the event-log parser on a small captured log.

``testdata/small_eventlog.jsonl`` is a Spark 4.1 event log of a
local[2] session with AQE on, cut down to the job and task events.
Job group ``g1`` ran a ``range(0, 1000, 1, 4)`` count and then a
4-partition repartition and sum: 5 jobs (AQE runs each shuffle map
stage as its own job), 14 tasks. A 2-partition count with no group
followed: 2 jobs, 3 tasks. Run:

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "small_eventlog.jsonl")


def test_jobs_groups_and_task_counts():
    jobs = eventlog.parse_file(LOG)
    g1 = eventlog.summarize(j for j in jobs.values() if j.group == "g1")
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (5, 5, 14)
    assert g1["shuffle_write_bytes"] == 236 + 6905 + 236
    assert g1["shuffle_read_bytes"] == 236 + 6905 + 236
    assert g1["task_run_s"] >= g1["gc_s"] > 0
    assert g1["task_cpu_s"] > 0 and g1["spill_bytes"] == 0
    rest = eventlog.summarize(j for j in jobs.values() if j.group is None)
    assert (rest["jobs"], rest["tasks"]) == (2, 3)
    assert rest["shuffle_write_bytes"] == rest["shuffle_read_bytes"] == 118


def test_streaming_batch_group():
    props = {"sql.streaming.queryId": "q", "streaming.sql.batchId": "3"}
    assert eventlog.job_group(props) == "stream:q:3"
    assert eventlog.job_group({"spark.jobGroup.id": "run", **props}) == "stream:q:3"
    assert eventlog.job_group({"spark.jobGroup.id": "g"}) == "g"
    assert eventlog.job_group({}) is None


def test_every_task_charged_once():
    jobs = eventlog.parse_file(LOG)
    with open(LOG) as f:
        n_task_end = sum('"Event":"SparkListenerTaskEnd"' in line for line in f)
    assert sum(j.tasks for j in jobs.values()) == n_task_end


def test_driver_gap_is_span_minus_job_union():
    jobs = sorted(eventlog.parse_file(LOG).values(), key=lambda j: j.job_id)
    lo = jobs[0].start_ms / 1e3 - 1.0
    hi = jobs[-1].end_ms / 1e3 + 2.0
    s = eventlog.summarize(jobs, (lo, hi))
    busy = eventlog.union_s([(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs])
    assert abs(s["driver_gap_s"] - ((hi - lo) - busy)) < 1e-9
    assert s["driver_gap_s"] >= 3.0 - 1e-9


def test_union_of_overlapping_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([]) == 0
