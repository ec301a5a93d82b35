"""Stream and serving phases, and the seeded inputs they read.

Load generator. Every input file is rendered before timing starts:
the tables, the serving behaviour log and every stream file. During
the fixed-rate phase the generator only renames files into the
watched directory on schedule, one file per tick (open loop), and
records how late each rename ran. Event time runs at the nominal
rate: event ``seq`` is stamped ``BASE_TS + seq // rate`` seconds, as
producers stamping wall-clock time would, so the pipeline's 10-minute
watermark holds every event of a run and the dedup state grows with
it. Users follow a Zipf(1.1) law, redrawn when a user already has an
event in the same second: every event has a distinct
``(user_id, timestamp)`` key, the dedup key of ``profile_pipeline``.
A stated share of lines are duplicate redeliveries of one of the
previous 200 events, well inside the watermark.

Freshness of a key is the time from when its first delivery was due
at the generator to the modification time of the first sink file
holding it. The sink is the package's ``JsonlDirSink``; with tracing
on it is the timed subclass in ``doubles``.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from doubles import CountingDict, TimedJsonlDirSink, WriteLog
from spans import Tracer, log, pct

SF = 0.001
BASE_TS = 1_700_000_000
BEHAVIOR_BASE_TS = 1_600_000_000
DUP_WINDOW = 200
MAX_HISTORY = 50


@dataclass(frozen=True)
class Profile:
    """Per-workload stream shape. Rates are nominal profiles/s."""

    rate: float  # profiles/s at the generator
    tick_s: float  # one file per tick
    users: int
    hist_min: int
    hist_max: int
    dup_frac: float
    warmup: int  # profiles drained untimed before the fixed-rate window
    backlog: int  # profiles in each timed drain after it
    drains: int  # timed drains; drain_rate is their median
    rate_share: float  # fixed-rate window, as a share of --seconds
    trigger_s: float | None  # processing-time trigger; None: as fast as possible
    read_op: str  # serving read handler


PROFILES = {
    # parse + watermark dedup (state store) + sink; short histories.
    # A micro-batch takes ~1 s, so the default trigger gives 5-6
    # batches in the window.
    # One drain of 10 000 profiles spread 0.27 (IQR/median) over ten
    # seeds; the median of three shorter drains rides out a slow spell.
    "ingest": Profile(2000.0, 0.1, 20000, 1, 20, 0.1, 500, 4000, 3, 0.5, None, "recent_history"),
    # per-micro-batch cascade over the item embeddings (the paper's
    # end-to-end path: event -> versioned KV -> served recommendation).
    # On 4 cores the cascade drains only ~15-35 profiles/s, so the
    # reference's 50/s target is over capacity and its queue grows
    # without bound; the nominal rate is 10/s. A micro-batch takes
    # ~3.5-5 s. With the default trigger a run fits only 2-3 of them,
    # and how they fell against the generator's ticks made freshness
    # bimodal across runs. A 4 s trigger, with the generator started
    # just after one of its boundaries, puts the same files into the
    # same two micro-batches in every run: the first 4 s of files go
    # to the batch at the next boundary, the last 4 s to the one after;
    # when the first overruns 4 s, the second starts as it ends, with
    # all its files present, so a slower cascade raises freshness
    # smoothly. The batch-mode
    # correctness sample warms the cascade, so no warm-up drain.
    "recommend": Profile(10.0, 0.5, 2000, 2, 20, 0.1, 0, 100, 1, 0.8, 4.0, "get_recommendation"),
}
SERVE_QPS = 50.0
SERVE_REQUESTS = 195  # at SERVE_QPS, in 3 slots: 19 samples beyond the p90
SERVE_SWEEP = (25.0, 50.0, 100.0, 200.0)
SERVE_LIMIT_MS = 200.0
SPIN_S = 0.005
SERVE_WRITE_FRAC = 0.2


def dumps(items) -> str:
    return json.dumps(items, separators=(",", ":"))


@dataclass
class StreamInput:
    """Rendered stream files of one phase: (due offset s, name, text)
    plus the expected distinct events ``(user, ts) -> items``."""

    files: list[tuple[float, str, str]]
    events: dict[tuple[str, int], list[str]]
    due: dict[tuple[str, int], float]


def distinct_users(rng, prof: Profile, n: int, first_seq: int) -> list[int]:
    """Users of events ``first_seq .. first_seq + n - 1``, Zipf(1.1)
    over ``prof.users``. Event ``seq`` is stamped
    ``BASE_TS + seq // prof.rate`` (event time at the nominal rate), and
    a user drawn twice within one second is redrawn, so that every
    event has its own ``(user_id, timestamp)`` key."""
    ranks = np.arange(1, prof.users + 1, dtype=float)
    p = ranks**-1.1
    p /= p.sum()
    pool: list[int] = []
    users: list[int] = []
    second, used = None, set()
    for seq in range(first_seq, first_seq + n):
        if seq // prof.rate != second:
            second, used = seq // prof.rate, set()
        while True:
            if not pool:
                pool = rng.choice(prof.users, 4096, p=p).tolist()[::-1]
            u = pool.pop()
            if u not in used:
                break
        used.add(u)
        users.append(u)
    return users


def render(rng, prof: Profile, n: int, first_seq: int, rate: float | None) -> StreamInput:
    users = distinct_users(rng, prof, n, first_seq)
    lens = rng.integers(prof.hist_min, prof.hist_max + 1, n)
    sent: list[str] = []
    events: dict[tuple[str, int], list[str]] = {}
    for i in range(n):
        key = (f"u{users[i]}", BASE_TS + int((first_seq + i) // prof.rate))
        items = [str(x) for x in rng.integers(0, 500, lens[i])]
        events[key] = items
        sent.append(json.dumps({"user_id": key[0], "history_items": items, "timestamp": key[1]}))
    # file f holds events f * per_file .. (f + 1) * per_file - 1, each
    # followed by its redelivery if it has one, and is due at f ticks
    per_file = max(1, round((rate or prof.rate) * prof.tick_s))
    keys = list(events)
    n_files = -(-n // per_file)
    lines: list[list[str]] = [[] for _ in range(n_files)]
    files, due = [], {}
    for i, line in enumerate(sent):
        f = i // per_file
        at = f * prof.tick_s if rate else 0.0
        lines[f].append(line)
        due[keys[i]] = at
        if i > 0 and rng.random() < prof.dup_frac:
            j = int(rng.integers(max(0, i - DUP_WINDOW), i))
            lines[f].append(sent[j])
    for f, chunk in enumerate(lines):
        at = f * prof.tick_s if rate else 0.0
        files.append((at, f"part-{f:06d}.json", "\n".join(chunk) + "\n"))
    return StreamInput(files, events, due)


def write_files(d: str, si: StreamInput) -> None:
    os.makedirs(d, exist_ok=True)
    for _, name, text in si.files:
        with open(os.path.join(d, name), "w") as f:
            f.write(text)


@dataclass
class Inputs:
    workload: str
    work: str
    sf_dir: str
    prof: Profile
    rate: StreamInput
    warmup: StreamInput
    backlogs: list[StreamInput]
    behavior: dict[str, list[tuple[int, str]]]
    requests: list[tuple[str, str, int]]

    @classmethod
    def build(cls, work: str, workload: str, seed: int, seconds: float) -> "Inputs":
        rng = np.random.default_rng([seed, 7])
        prof = PROFILES[workload]
        sf_dir = datagen.write_tables(os.path.join(work, "data"), seed, SF)
        n_rate = int(prof.rate * prof.rate_share * seconds)
        warmup = render(rng, prof, prof.warmup, 0, None)
        backlogs = [
            render(rng, prof, prof.backlog, prof.warmup + i * prof.backlog, None)
            for i in range(prof.drains)
        ]
        n_before = prof.warmup + prof.drains * prof.backlog
        rate = render(rng, prof, n_rate, n_before, prof.rate)
        staged = [("warmup", warmup), ("rate", rate)]
        staged += [(f"backlog{i}", si) for i, si in enumerate(backlogs)]
        for name, si in staged:
            write_files(os.path.join(work, "staging", name), si)
        # serving behaviour log: 200 users, 10-40 events each, distinct
        # timestamps per user
        behavior: dict[str, list[tuple[int, str]]] = {}
        for u in range(200):
            n = int(rng.integers(10, 41))
            ts = np.sort(rng.choice(100_000, n, replace=False)) + BEHAVIOR_BASE_TS
            behavior[f"u{u}"] = [(int(t), str(i)) for t, i in zip(ts, rng.integers(0, 500, n))]
        pq.write_table(
            pa.table(
                {
                    "user_id": [u for u, evs in behavior.items() for _ in evs],
                    "timestamp": pa.array([t for evs in behavior.values() for t, _ in evs], pa.int64()),
                    "item_id": [i for evs in behavior.values() for _, i in evs],
                }
            ),
            os.path.join(work, "behavior.parquet"),
        )
        requests = []
        # warm-up, timed requests, and the traced run's rate sweep. One
        # request in each block of 5 is a send_profiles, at a seeded
        # place, so that every run has the same share of writes (the
        # serving tail percentiles fall among the writes)
        block = round(1 / SERVE_WRITE_FRAC)
        for i in range(10 + SERVE_REQUESTS + sum(int(2 * q) for q in SERVE_SWEEP)):
            if i % block == 0:
                send_at = i + int(rng.integers(0, block))
            u = f"u{int(rng.integers(0, 200))}"
            if i == send_at:
                t = BEHAVIOR_BASE_TS + int(rng.integers(0, 110_000))
                requests.append(("send_profiles", u, t))
            elif prof.read_op == "recent_history":
                t = BEHAVIOR_BASE_TS + int(rng.integers(0, 110_000))
                requests.append(("recent_history", u, t))
            else:
                k = list(rate.events)[int(rng.integers(0, len(rate.events)))]
                t = k[1] + int(rng.integers(-50, 50))
                requests.append(("get_recommendation", k[0], t))
        return cls(workload, work, sf_dir, prof, rate, warmup, backlogs, behavior, requests)


@dataclass
class Context:
    inputs: Inputs
    items: object  # item embeddings DataFrame
    index_kv: dict[str, str]
    build_index_s: float
    out: dict = field(default_factory=dict)


def make_sink(path: str, traced: bool):
    from streaming_recommendation_spark.streaming.sink import JsonlDirSink

    if traced:
        return TimedJsonlDirSink(path, path + ".records")
    return JsonlDirSink(path)


def load_items(spark, sf_dir: str):
    """The item embeddings, loaded through ``sources`` and cached."""
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.sources.testdata import load_table

    items = (
        load_table(spark, "embeddings", sf_dir)
        .select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
        .cache()
    )
    items.count()
    return items


def build_index(spark, inputs: Inputs, items) -> Context:
    """Build the serving history index from the behaviour log into a
    KV store, timed."""
    from streaming_recommendation_spark.serving.handlers import build_kv_history_index

    behavior = spark.read.parquet(os.path.join(inputs.work, "behavior.parquet"))
    sink = make_sink(os.path.join(inputs.work, "index"), False)
    t0 = time.perf_counter()
    build_kv_history_index(behavior, sink, max_history=MAX_HISTORY)
    build_s = time.perf_counter() - t0
    return Context(inputs, items, sink.read_all(), build_s)


def _sink_keys(path: str) -> dict[str, tuple[float, str]]:
    """key -> (first visible time, last value) over a JsonlDirSink dir."""
    out: dict[str, tuple[float, str]] = {}
    if not os.path.isdir(path):
        return out
    for fn in sorted(os.listdir(path)):
        full = os.path.join(path, fn)
        seen = os.stat(full).st_mtime_ns / 1e9
        with open(full) as f:
            for line in f:
                rec = json.loads(line)
                first = out.get(rec["key"], (seen, None))[0]
                out[rec["key"]] = (min(first, seen), rec["value"])
    return out


def _start(spark, ctx: Context, src: str, sink, ckpt: str, available_now: bool, tracer):
    from streaming_recommendation_spark.streaming.pipeline import profile_pipeline
    from streaming_recommendation_spark.streaming.scoring import recommendation_pipeline

    raw = spark.readStream.text(src)
    with tracer.span("stream.start"):
        if ctx.inputs.workload == "ingest":
            return profile_pipeline(raw, sink, ckpt, trigger_available_now=available_now)
        if available_now:
            return recommendation_pipeline(raw, ctx.items, sink, ckpt)
        return _recommend_continuous(raw, ctx.items, sink, ckpt, ctx.inputs.prof.trigger_s, tracer)


def _recommend_continuous(raw, items, sink, ckpt, trigger_s, tracer):
    """``recommendation_pipeline`` with a processing-time trigger in
    place of ``availableNow``: the same parse, ``score_batch`` and
    executor-side writer per micro-batch."""
    from streaming_recommendation_spark.streaming.pipeline import parse_profile_stream
    from streaming_recommendation_spark.streaming.scoring import score_batch
    from streaming_recommendation_spark.streaming.sink import foreach_batch_writer

    write = foreach_batch_writer(sink)

    def handle(batch_df, batch_id):
        op = tracer.new_id("batch")
        with tracer.span("stream.handler", op):
            with tracer.span("scoring.score_batch", op):
                records = score_batch(batch_df, items)
            with tracer.span("sink.write_batch", op):
                write(records, batch_id)

    return (
        parse_profile_stream(raw)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(processingTime=f"{trigger_s} seconds")
        .start()
    )


def _await_idle(q, polls: int = 3, timeout_s: float = 120.0) -> None:
    """Wait until the query has found no new data on ``polls``
    consecutive checks 0.1 s apart: every file renamed so far has been
    processed. A file it missed shows up as missing keys."""
    deadline = time.time() + timeout_s
    quiet = 0
    while quiet < polls and time.time() < deadline and q.isActive:
        time.sleep(0.1)
        quiet = 0 if q.status["isDataAvailable"] else quiet + 1


def _key(workload: str, k: tuple[str, int]) -> str:
    prefix = "user_profile" if workload == "ingest" else "recommendation_result"
    return f"{prefix}:{k[0]}:{k[1]}"


def _check_keys(inputs: Inputs, si: StreamInput, got: dict, tally, what: str) -> None:
    want = {_key(inputs.workload, k): v for k, v in si.events.items()}
    tally.check(set(got) == set(want), f"{what}: keys written != distinct keys sent "
                f"({len(set(want) - set(got))} missing, {len(set(got) - set(want))} extra)")
    if inputs.workload == "ingest":
        bad = sum(got[k][1] != dumps(v) for k, v in want.items() if k in got)
        tally.check(bad == 0, f"{what}: {bad} profile values differ from the events sent")


def _drain(spark, ctx: Context, name: str, si: StreamInput, tally, traced: bool, tracer) -> float:
    """Drain the staged backlog ``name`` with ``availableNow``, check
    its keys and return the profiles/s."""
    work = ctx.inputs.work
    sink_dir = os.path.join(work, f"kv_{name}")
    t0 = time.perf_counter()
    q = _start(spark, ctx, os.path.join(work, "staging", name),
               make_sink(sink_dir, traced), os.path.join(work, f"ckpt_{name}"), True, tracer)
    q.awaitTermination()
    rate = len(si.events) / (time.perf_counter() - t0)
    got = _sink_keys(sink_dir)
    _check_keys(ctx.inputs, si, got, tally, f"{name} drain")
    ctx.out.setdefault("sink_dirs", []).append(sink_dir)
    ctx.out.setdefault("stream_kv", {}).update({k: v for k, (_, v) in got.items()})
    return rate


def warm_up(spark, ctx: Context, tally, tracer) -> dict[str, str]:
    """Untimed: for ``ingest`` drain the warm-up backlog; for
    ``recommend`` score the correctness sample in batch mode, which
    also warms the cascade. Returns the sample's expected values."""
    if ctx.inputs.warmup.events:
        _drain(spark, ctx, "warmup", ctx.inputs.warmup, tally, tracer.enabled, tracer)
    return _backfill(spark, ctx) if ctx.inputs.workload == "recommend" else {}


def run(spark, ctx: Context, tally, tracer, expected: dict[str, str], fill) -> dict:
    """Run the generator at the workload's fixed rate, then drain the
    fixed backlog; ``expected`` is what ``warm_up`` returned. While
    the fixed-rate query waits for its first trigger boundary,
    ``fill(deadline)`` runs other timed work."""
    inputs, work = ctx.inputs, ctx.inputs.work
    traced = tracer.enabled

    watch = os.path.join(work, "watch")
    os.makedirs(watch)
    staged = os.path.join(work, "staging", "rate")
    rate_sink_dir = os.path.join(work, "kv_rate")
    q = _start(spark, ctx, watch, make_sink(rate_sink_dir, traced),
               os.path.join(work, "ckpt_rate"), False, tracer)
    if inputs.prof.trigger_s:
        # processing-time triggers fire at multiples of the interval in
        # epoch time: start the first tick a quarter second after one,
        # so every run's files fall into micro-batches the same way
        iv = inputs.prof.trigger_s
        start = time.time() + iv - time.time() % iv + 0.25
        fill(start - 0.25)  # the query idles until the boundary
        time.sleep(max(0.0, start - time.time()))
    late = []
    t0 = time.time()
    for at, name, _ in inputs.rate.files:
        wait = t0 + at - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staged, name), os.path.join(watch, name))
        late.append(time.time() - (t0 + at))
    _await_idle(q)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    log(f"fixed rate: {len(progress)} batches, "
        f"ms {[p['durationMs'].get('triggerExecution') for p in progress]}")
    rates = [
        _drain(spark, ctx, f"backlog{i}", si, tally, traced, tracer)
        for i, si in enumerate(inputs.backlogs)
    ]
    drain_rate = statistics.median(rates)
    log(f"drain: {[round(r, 1) for r in rates]} profiles/s")

    got = _sink_keys(rate_sink_dir)
    _check_keys(inputs, inputs.rate, got, tally, "fixed-rate stream")
    for k, v in expected.items():
        tally.check(got.get(k, (0, None))[1] == v,
                    f"{k}: streamed recommendation differs from batch score_batch")
    fresh = sorted(
        (due, 1e3 * (got[_key(inputs.workload, k)][0] - (t0 + due)))
        for k, due in inputs.rate.due.items()
        if _key(inputs.workload, k) in got
    )
    lat = [f for _, f in fresh]
    third = max(1, len(lat) // 3)
    ctx.out["sink_dirs"].append(rate_sink_dir)
    ctx.out["stream_kv"].update({k: v for k, (_, v) in got.items()})
    ctx.out.update(progress=progress, rate_query_id=q.id)
    return {
        "fresh_p50_ms": pct(lat, 0.5),
        "fresh_p90_ms": pct(lat, 0.9),
        "drain_rate": drain_rate,
        "gen_late_max_ms": 1e3 * max(late),
        "backlog_growth": statistics.median(lat[-third:]) / statistics.median(lat[:third]),
    }


def _backfill(spark, ctx: Context, sample: int = 24) -> dict[str, str]:
    """Batch-mode ``score_batch`` of a fixed sample of the fixed-rate
    phase's profiles: the values their streamed versions must have."""
    from streaming_recommendation_spark.streaming.scoring import score_batch

    events = ctx.inputs.rate.events
    keys = sorted(events)[:: max(1, len(events) // sample)][:sample]
    rows = [(u, events[(u, t)], t) for u, t in keys]
    schema = "user_id string, history_items array<string>, timestamp long"
    out = score_batch(spark.createDataFrame(rows, schema), ctx.items).collect()
    return {r.key: r.value for r in out}


def _history(evs: list[tuple[int, str]], t: int) -> list[str]:
    idx = bisect.bisect_right([e[0] for e in evs], t)
    return [i for _, i in evs[max(0, idx - MAX_HISTORY) : idx]]


class Serving:
    """Open-loop, single-threaded request stream against
    ``KvReplayService`` over the KV the stream wrote plus the history
    index. Each request is timed from when it was due, and every
    response is checked against the benchmark's own
    latest-at-or-before lookup. ``chunk`` calls are spread over the
    run, like the batch passes."""

    def __init__(self, ctx: Context, tally, tracer):
        from streaming_recommendation_spark.serving.handlers import KvReplayService

        self.ctx, self.tally, self.tracer = ctx, tally, tracer
        self.kv = (CountingDict if tracer.enabled else WriteLog)(
            {**ctx.index_kv, **ctx.out["stream_kv"]}
        )
        self.svc = KvReplayService(self.kv, max_history=MAX_HISTORY)
        if tracer.enabled:
            inner = self.svc.recent_history

            def timed_history(u, t):
                with tracer.span("serving.history"):
                    return inner(u, t)

            self.svc.recent_history = timed_history
        self.rec_versions: dict[str, list[int]] = {}
        for k in ctx.out["stream_kv"]:
            if k.startswith("recommendation_result:"):
                _, u, t = k.split(":")
                self.rec_versions.setdefault(u, []).append(int(t))
        for v in self.rec_versions.values():
            v.sort()
        self.reqs = iter(ctx.inputs.requests)
        self.latencies: list[float] = []
        self.examined: list[int] = []
        self.at_rate(SERVE_QPS, 10)  # warm-up

    def _one(self, op: str, u: str, t: int) -> None:
        kv, behavior = self.kv, self.ctx.inputs.behavior
        before = len(kv.writes)
        if self.tracer.enabled:
            kv.examined = 0
        with self.tracer.span("serving.send" if op == "send_profiles" else "serving.read"):
            resp = getattr(self.svc, op)(u, t)
        # before the check below reads the KV through the same dict
        examined = kv.examined if self.tracer.enabled else 0
        if op == "recent_history":
            ok = resp == _history(behavior.get(u, []), t)
        elif op == "get_recommendation":
            vs = self.rec_versions.get(u, [])
            i = bisect.bisect_right(vs, t)
            want = vs[i - 1] if i else None
            ok = resp["timestamp"] == want and (
                want is None
                or resp["recommendation"] == json.loads(kv[f"recommendation_result:{u}:{want}"])
            )
        else:
            writes = kv.writes[before:]
            ok = resp["message"] == f"Sent {len(writes)} user profiles to Kafka" and all(
                k.endswith(f":{t}") and json.loads(v) == _history(behavior.get(k.split(":")[1], []), t)
                for k, v in writes
            )
        if self.tracer.enabled and op != "send_profiles":
            self.examined.append(examined)
        self.tally.check(ok, f"{op}({u}, {t}): response differs from the lookup")

    def at_rate(self, qps: float, n: int) -> list[float]:
        lat = []
        t0 = time.perf_counter()
        for i in range(n):
            due = t0 + i / qps
            # sleep to just before the due time, then spin: how late the
            # OS wakes a sleeper is not the service's latency
            wait = due - time.perf_counter() - SPIN_S
            if wait > 0:
                time.sleep(wait)
            while time.perf_counter() < due:
                pass
            self._one(*next(self.reqs))
            lat.append(1e3 * (time.perf_counter() - due))
        return lat

    def chunk(self, n: int) -> None:
        self.latencies += self.at_rate(SERVE_QPS, n)

    def result(self) -> dict:
        out = {"serve_p50_ms": pct(self.latencies, 0.5), "serve_p90_ms": pct(self.latencies, 0.9)}
        if self.tracer.enabled:
            # rate sweep: the highest fixed rate whose p99 meets the limit
            p99 = {SERVE_QPS: pct(self.latencies, 0.99)}
            for qps in SERVE_SWEEP:
                if qps != SERVE_QPS:
                    p99[qps] = pct(self.at_rate(qps, int(2 * qps)), 0.99)
            ok = [q for q in SERVE_SWEEP if p99[q] <= SERVE_LIMIT_MS]
            out["serve_max_qps"] = max(ok) if ok else 0.0
        self.ctx.out.update(examined=self.examined, kv_keys=len(self.kv))
        return out


def one_core_drain(spark, ctx: Context) -> dict:
    """Single-thread baseline: the same fixed backlog drained on a
    local[1] session (traced run only)."""
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.sources.testdata import load_table

    work = ctx.inputs.work
    src = os.path.join(work, "staging", "backlog_1core")
    shutil.copytree(os.path.join(work, "staging", "backlog0"), src)
    ctx.items = (
        load_table(spark, "embeddings", ctx.inputs.sf_dir)
        .select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
        .cache()
    )
    t0 = time.perf_counter()
    q = _start(spark, ctx, src, make_sink(os.path.join(work, "kv_1core"), False),
               os.path.join(work, "ckpt_1core"), True, Tracer(False))
    q.awaitTermination()
    return {"drain_rate_1core": len(ctx.inputs.backlogs[0].events) / (time.perf_counter() - t0)}
