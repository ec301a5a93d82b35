"""Per-layer metrics of a traced run.

Sources: the benchmark's spans (``spans.Tracer``), the Spark event
log (``eventlog``), the fixed-rate query's ``StreamingQueryProgress``
list, the timed sink's record files and the counting KV store. The
layer-to-end-to-end map is in ``LAYERS.md``.
"""

from __future__ import annotations

import statistics
import sys

import eventlog
from doubles import read_records

SB_PARTS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")

UNITS = {
    "construct_s": "s",
    "construct_jobs": "count",
    "query_exec_s": "s",
    "query_jobs": "count",
    "query_stages": "count",
    "query_tasks": "count",
    "driver_gap_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "sb.trigger_ms": "ms",
    **{f"sb.{p}_ms": "ms" for p in SB_PARTS},
    "sb.batches": "count",
    "sb.rows_p50": "count",
    "sb.jobs_p50": "count",
    "state.rows": "count",
    "state.memory_bytes": "bytes",
    "sink.write_ms": "ms",
    "sink.calls": "count",
    "sink.bytes": "bytes",
    "serving.read_ms": "ms",
    "serving.send_ms": "ms",
    "serving.history_us": "us",
    "serving.keys_examined_per_read": "count",
    "serving.kv_keys": "count",
    "serving.build_index_s": "s",
    "serving.max_qps": "1/s",
    "drain_rate_1core": "1/s",
    "gen.late_max_ms": "ms",
    "backlog_growth": "ratio",
    "rss_peak_mb": "MB",
    "mem_live_mb": "MB",
    "traced.setup_s": "s",
    "traced.pass_s": "s",
    "traced.fresh_p50_ms": "ms",
    "traced.drain_rate": "1/s",
    "traced.serve_p50_ms": "ms",
    "traced.serve_p90_ms": "ms",
}


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(res: dict, tracer, log_path: str | None, ctx) -> dict:
    m: dict[str, float] = {}
    jobs = eventlog.parse_file(log_path) if log_path else {}

    # queries / operators / plans: timed passes only; a query's span id
    # is its job group, "pass<n>:<query id>-<n>"
    timed = [s for s in tracer.spans if s.layer == "query" and s.op_id.startswith("pass")]
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)
    spans = {(s.layer, s.op_id): s for s in tracer.spans}
    n_pass = res["batch_passes"]
    cons_jobs, gap, per_query = 0, 0.0, {}
    q_jobs = []
    for s in timed:
        js = by_group.get(s.op_id, [])
        q_jobs.extend(js)
        c = spans[("queries.construct", s.op_id)]
        cons_jobs += sum(1 for j in js if j.start_ms / 1e3 < c.end)
        gap += eventlog.summarize(js, (s.start, s.end))["driver_gap_s"]
        qid = s.op_id.split(":")[1].split("-")[0]
        per_query.setdefault(qid, {"s": [], "jobs": []})
        per_query[qid]["s"].append(s.duration)
        per_query[qid]["jobs"].append(len(js))
    tot = eventlog.summarize(q_jobs)
    m["construct_s"] = sum(spans[("queries.construct", s.op_id)].duration for s in timed) / n_pass
    m["construct_jobs"] = cons_jobs / n_pass
    m["query_exec_s"] = sum(spans[("spark.collect", s.op_id)].duration for s in timed) / n_pass
    m["query_jobs"] = tot["jobs"] / n_pass
    m["query_stages"] = tot["stages"] / n_pass
    m["query_tasks"] = tot["tasks"] / n_pass
    m["driver_gap_s"] = gap / n_pass
    for k in eventlog.TASK_FIELDS:
        m[k] = tot[k] / n_pass
    # GC over every job of the run: the timed passes alone can see none
    m["gc_s"] = eventlog.summarize(jobs.values())["gc_s"]
    print(
        "per-query: "
        + " ".join(
            f"q.{q}.s={_p50(v['s']):.3f} q.{q}.jobs={_p50(v['jobs']):g}"
            for q, v in sorted(per_query.items())
        ),
        file=sys.stderr,
    )

    # streaming: fixed-rate query progress, batches with input rows
    prog = ctx.out["progress"]
    m["sb.trigger_ms"] = _p50([p["durationMs"].get("triggerExecution", 0) for p in prog])
    for part in SB_PARTS:
        m[f"sb.{part}_ms"] = _p50([p["durationMs"].get(part, 0) for p in prog])
    m["sb.batches"] = len(prog)
    m["sb.rows_p50"] = _p50([p["numInputRows"] for p in prog])
    prefix = f"stream:{ctx.out['rate_query_id']}:"
    m["sb.jobs_p50"] = _p50([len(js) for g, js in by_group.items() if g and g.startswith(prefix)])
    states = [op for p in prog for op in p.get("stateOperators", [])]
    m["state.rows"] = states[-1]["numRowsTotal"] if states else 0
    m["state.memory_bytes"] = max((op["memoryUsedBytes"] for op in states), default=0)

    recs = [r for d in ctx.out["sink_dirs"] for r in read_records(d + ".records")]
    m["sink.write_ms"] = _p50([1e3 * (r["t1"] - r["t0"]) for r in recs])
    m["sink.calls"] = len(recs)
    m["sink.bytes"] = sum(r["bytes"] for r in recs)

    m["serving.read_ms"] = 1e3 * _p50(tracer.durations("serving.read"))
    m["serving.send_ms"] = 1e3 * _p50(tracer.durations("serving.send"))
    m["serving.history_us"] = 1e6 * _p50(tracer.durations("serving.history"))
    m["serving.keys_examined_per_read"] = _p50(ctx.out["examined"])
    m["serving.kv_keys"] = ctx.out["kv_keys"]
    m["serving.build_index_s"] = res["build_index_s"]
    m["serving.max_qps"] = res["serve_max_qps"]
    m["drain_rate_1core"] = res["drain_rate_1core"]
    m["gen.late_max_ms"] = res["gen_late_max_ms"]
    m["backlog_growth"] = res["backlog_growth"]
    m["rss_peak_mb"] = res["rss_peak_mb"]
    m["mem_live_mb"] = res["mem_live_mb"]
    for k in ("setup_s", "pass_s", "fresh_p50_ms", "drain_rate", "serve_p50_ms", "serve_p90_ms"):
        m[f"traced.{k}"] = res[k]
    self_s = tracer.self_times()
    print("self time: " + " ".join(f"{k}={v:.3f}s" for k, v in sorted(self_s.items())),
          file=sys.stderr)
    return {k: {"value": float(m[k]), "unit": u} for k, u in UNITS.items()}
