"""Batch phase: registry queries, oracle-checked, then timed passes.

Each query is timed from the call into the registry (plan
construction, which runs jobs for the iterative operators) to the
last row collected. The first pass is untimed: it warms the JVM and
checks every result against the query's DuckDB oracle in the
canonical row form of ``scripts/driver_sim.canon_rows`` (floats to 6
significant digits, rows sorted). Timed passes run in slots spread
over the run; each is checked against the first pass. ``pass_s`` is
the sum over queries of each query's median time.
"""

from __future__ import annotations

import os
import statistics
import time

from driver_sim import canon_rows

QUERIES = {
    # q145 BFS: a driver-side round loop with a checkpoint per hop
    # (operators.graph, plans.audit)
    "ingest": ("q145",),
    # single lazy plans: q01 a scan-aggregate, q31 an exact dedup
    "recommend": ("q01", "q31"),
}


def oracle_rows(sf_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    for fn in sorted(os.listdir(sf_dir)):
        con.execute(
            f"CREATE VIEW {fn.removesuffix('.parquet')} AS "
            f"SELECT * FROM read_parquet('{os.path.join(sf_dir, fn)}')"
        )
    res = con.execute(sql)
    cols = [d[0].lower() for d in res.description]
    return canon_rows(cols, res.fetchall())


def run_query(spark, name, fn, sf_dir, tracer, job_group):
    sc = spark.sparkContext
    op = tracer.new_id(f"{job_group}:{name.split('_')[0]}")
    if tracer.enabled:
        sc.setJobGroup(op, name)
    t0 = time.perf_counter()
    with tracer.span("query", op):
        with tracer.span("queries.construct", op):
            df = fn(spark, sf_dir)
        with tracer.span("spark.collect", op):
            rows = df.collect()
    dt = time.perf_counter() - t0
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, rows, dt


class Batch:
    """The workload's batch queries: ``check`` runs the untimed oracle
    pass; each ``passes`` call then runs timed passes until its time
    share is spent (at least one). Timed passes are spread over the
    run, so a slow spell of the machine hits few of them."""

    def __init__(self, spark, ctx, tally, tracer):
        from streaming_recommendation_spark import queries as Q

        self.spark, self.ctx, self.tally, self.tracer = spark, ctx, tally, tracer
        self.registry = Q.queries()
        by_id = {n.split("_")[0]: n for n in self.registry}
        self.names = [by_id[q] for q in QUERIES[ctx.inputs.workload]]
        self.expected: dict[str, list] = {}
        self.times: dict[str, list[float]] = {n: [] for n in self.names}
        self.n_passes = 0
        self.pass_times: list[float] = []

    def _run(self, name: str, group: str):
        df, rows, dt = run_query(
            self.spark, name, self.registry[name], self.ctx.inputs.sf_dir, self.tracer, group
        )
        return canon_rows([c.lower() for c in df.columns], [tuple(r) for r in rows]), dt

    def check(self) -> None:
        from streaming_recommendation_spark import queries as Q

        oracles = Q.oracle_sql()
        for name in self.names:
            self.expected[name], _ = self._run(name, "check")
            self.tally.check(
                self.expected[name] == oracle_rows(self.ctx.inputs.sf_dir, oracles[name]),
                f"{name}: result differs from its oracle",
            )

    def _pass(self) -> None:
        t0 = time.perf_counter()
        for name in self.names:
            got, dt = self._run(name, f"pass{self.n_passes}")
            self.tally.check(got == self.expected[name], f"{name}: a timed pass changed the result")
            self.times[name].append(dt)
        self.n_passes += 1
        self.pass_times.append(time.perf_counter() - t0)

    def passes(self, budget_s: float) -> None:
        t_end = time.perf_counter() + budget_s
        while True:
            self._pass()
            if time.perf_counter() >= t_end:
                return

    def passes_until(self, deadline: float) -> None:
        """Timed passes while one more, as slow as the slowest so far,
        ends before ``deadline`` (epoch seconds)."""
        while time.time() + max(self.pass_times) < deadline:
            self._pass()

    def result(self) -> dict:
        return {
            "pass_s": sum(statistics.median(v) for v in self.times.values()),
            "batch_passes": self.n_passes,
        }
