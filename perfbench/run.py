"""End-to-end and per-layer benchmark of the streaming recommender.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every run builds its own inputs from
``--seed`` under ``.bench_work/`` and removes them at the end. A run
has three phases, each timed from outside around the package's public
calls (see ``perfbench/LAYERS.md`` for the layer map):

1. batch: the workload's registry queries, checked against their
   DuckDB oracles on an untimed first pass, then timed passes;
2. stream: an open-loop file generator at a fixed rate into the
   workload's streaming pipeline, then a fixed backlog drained with
   ``availableNow``;
3. serving: an open-loop request stream against ``KvReplayService``
   over the key-value store the stream wrote.

Workloads:

* ``ingest``: iterative batch queries (driver-side round loops and
  checkpoints), ``profile_pipeline`` (parse, watermark dedup, sink)
  and as-of history reads. The cascade is not used.
* ``recommend``: one-shot batch queries (single lazy plans),
  per-micro-batch ``score_batch`` cascade scoring and
  ``get_recommendation`` reads. No state store, no round loops.

The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "recommend")
SETUP_REPEATS = 3
BATCH_SHARE = 0.25  # timed batch passes, as a share of --seconds
# the driver JVM, which runs the local executors too, gets a 2 GB heap
# in place of the program's 8 GB default, to keep a run small
DRIVER_MEM = "2g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def isolate(work: str) -> None:
    """Keep every file Spark and its workers write under ``work`` and
    let executor-side Python workers import the package and these
    modules."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_spark(work: str, event_log: bool, master: str | None = None):
    from streaming_recommendation_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=master, extra_conf=spark_conf(work, event_log)
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
    return spark


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def live_mb(spark) -> float:
    """Heap the driver JVM still holds after full collections, plus
    the driver Python process's peak resident set. Python objects in
    reference cycles pin the JVM objects they wrap until Python's
    collector frees them, and Spark's ContextCleaner frees the blocks
    of collected broadcasts and shuffles asynchronously: so collect in
    Python, then in the JVM, wait and collect again."""
    from spans import log

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    log(f"live heap after each collection: {[round(u) for u in used]} MB")
    return used[-1] + peak_rss_mb([os.getpid()])


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown(spark) -> None:
    """Stop Spark, the gateway JVM and the Python workers, and wait."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(30)


E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "fresh_p50_ms": "ms",
    "fresh_p90_ms": "ms",
    "drain_rate": "1/s",
    "serve_p50_ms": "ms",
}


class Tally:
    """Operations attempted and failed; each failure keeps a reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def check(self, ok: bool, what: str) -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failures.append(what)
        return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the benchmark measures this checkout's package: fail before any
    # work when it is missing
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]
    import streaming_recommendation_spark  # noqa: F401
    from spans import Tracer

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        result = measure(args, work, Tracer(enabled=bool(args.trace)), Tally())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's inputs are still there
    print(json.dumps(result))
    return 0


def measure(args, work: str, tracer, tally) -> dict:
    """One run: set-up, the three phases, then the result object."""
    import batch
    import stream
    from spans import log

    budget = args.seconds
    spark = None
    try:
        # set-up: session start, warm-up job and item load, repeated on
        # a fresh session each time; then the serving index build, once.
        # The first session, which also starts the JVM, comes up while
        # the inputs render.
        with ThreadPoolExecutor(1) as pool:
            t0 = time.perf_counter()
            first = pool.submit(start_spark, work, bool(args.trace))
            try:
                inputs = stream.Inputs.build(work, args.workload, args.seed, budget)
            finally:
                spark = first.result()
        log("inputs rendered")
        setup_times = []
        for i in range(SETUP_REPEATS):
            if i:
                spark.stop()
                t0 = time.perf_counter()
                spark = start_spark(work, bool(args.trace))
            items = stream.load_items(spark, inputs.sf_dir)
            setup_times.append(time.perf_counter() - t0)
        ctx = stream.build_index(spark, inputs, items)
        res = {
            "setup_s": statistics.median(setup_times) + ctx.build_index_s,
            "build_index_s": ctx.build_index_s,
        }
        log(f"set-up {[round(t, 2) for t in setup_times]} + index {ctx.build_index_s:.2f}")
        # batch passes and serving requests are split into slots spread
        # over the run, so one slow spell of the machine hits few of them
        queries = batch.Batch(spark, ctx, tally, tracer)
        # the two untimed steps, the oracle check and the stream
        # warm-up, run side by side
        with ThreadPoolExecutor(1) as pool:
            warm = pool.submit(stream.warm_up, spark, ctx, tally, tracer)
            queries.check()
            expected = warm.result()
        log("batch check and stream warm-up")
        queries.passes(BATCH_SHARE * budget / 3)
        res.update(stream.run(spark, ctx, tally, tracer, expected, queries.passes_until))
        log("stream phase")
        serving = stream.Serving(ctx, tally, tracer)
        for i in range(3):
            if i:
                queries.passes(BATCH_SHARE * budget / 3)
            serving.chunk(stream.SERVE_REQUESTS // 3)
        res.update(queries.result())
        res.update(serving.result())
        log("batch passes and serving")
        res["rss_peak_mb"] = peak_rss_mb([os.getpid(), getattr(jvm_process(), "pid", 0)])
        if args.trace:
            res["mem_live_mb"] = live_mb(spark)
            log_path = os.path.join(work, "eventlog", spark.sparkContext.applicationId)
            spark.stop()  # completes the event log
            spark = start_spark(work, event_log=False, master="local[1]")
            res.update(stream.one_core_drain(spark, ctx))
    finally:
        if spark is not None:
            shutdown(spark)
    for f in tally.failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    if args.trace:
        import layers

        metrics = layers.per_layer(res, tracer, log_path, ctx)
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": not tally.failures,
        "attempted": tally.attempted,
        "failed": len(tally.failures),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
