"""The ``registry`` workload: repeated passes over a fixed set of
registered query plans on the seed-42 synthetic sf0.01 tables the
registry's oracles are checked on (a copy ships under ``perfbench/data``).

Set-up runs one untimed pass that collects every result and checks it
against the query's ``oracle_sql()`` DuckDB twin with the order-
insensitive, float-tolerant comparison of ``tools/check_correctness.py``
and the column-type check of ``tools/check_types.py``.
That pass and one untimed ``noop`` pass warm the JVM, the substrate
store and the codegen cache. Each timed pass then builds every plan and
executes it into Spark's ``noop`` sink, one query after the other.
"""

from __future__ import annotations

import os
import statistics
import time

from . import procstat
from .harness import Context, quantile, result_mismatch

# Relational headline plans, the dedup and ANN kernels, and the
# ROADMAP's executor-side targets that fit a run: q17 (quantile
# renumber), d42 (count-carry) and d155 (PPJoin cost estimate). The
# unigram, NSW and adaptive-IVF plans (d202-d216) take 3-11 s each here
# and do not fit a run's time budget.
QUERIES = [
    "q01_pricing_summary",
    "q17_global_renumber",
    "q25_star_join",
    "q27_explode_tokens",
    "d01_dedup_exact",
    "d09_ann_topk",
    "d42_shingle_containment",
    "d155_ppjoin_cost_estimate",
]


class RegistryPass:
    name = "registry"
    # the first noop pass after the checking pass is ~30% slower than
    # the next ones and runs untimed; at least three timed passes run
    # whatever ``--seconds`` says, so that each run's median has the same
    # make-up
    min_steps = 3

    def __init__(self, ctx: Context):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.plans = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf_dir = os.path.join(ctx.checkout, "perfbench", "data", "sf0.01")
        self.pass_s: list[float] = []
        self.query_ms: list[float] = []
        self.cpu_s: list[float] = []
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}

    def setup(self) -> None:
        import duckdb

        from kaggle_data_pipeline_with_aws_spark.sources.readers import TABLES

        ctx = self.ctx
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            for name in QUERIES:
                try:
                    df = self.plans[name](ctx.spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    why = result_mismatch(df.dtypes, rows, con, self.oracles[name])
                except Exception as e:  # noqa: BLE001 -- count it, keep checking
                    why = f"{type(e).__name__}: {e}"
                ctx.record(not why, f"{name}: {why}")
        finally:
            con.close()
        self.step(timed=False)

    def step(self, timed: bool = True) -> None:
        ctx = self.ctx
        tracer = ctx.tracer
        cpu0 = procstat.tree_cpu_s()
        t_pass = time.perf_counter()
        with tracer.span("cycle" if timed else "warmup", "harness"):
            for name in QUERIES:
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"plans.registry.build:{name}", "plans.registry.build") as s:
                        df = self.plans[name](ctx.spark, self.sf_dir)
                        if s is not None:
                            phases = df._jdf.queryExecution().tracker().phases()
                            s.attrs["analysis_ms"] = phases.apply("analysis").durationMs()
                    with tracer.span(f"plans.registry.exec:{name}", "plans.registry.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as e:  # noqa: BLE001 -- count it, keep the pass going
                    ok = ctx.record(False, f"{name}: {type(e).__name__}: {e}")
                ms = (time.perf_counter() - t0) * 1e3
                if timed and ok:
                    ctx.record(True, name)
                    self.query_ms.append(ms)
                    self.per_query[name].append(ms)
        elapsed = time.perf_counter() - t_pass
        if timed:
            self.pass_s.append(elapsed)
            self.cpu_s.append(procstat.tree_cpu_s() - cpu0)

    def finish(self) -> None:
        pass

    def end_to_end(self) -> dict[str, float]:
        return {
            "cycle_s": statistics.median(self.pass_s),
            "query_p50_ms": quantile(self.query_ms, 0.5),
            "query_p90_ms": quantile(self.query_ms, 0.9),
            "cpu_s": statistics.median(self.cpu_s),
        }

    def extra(self) -> dict[str, float]:
        return {}

    def details(self) -> dict:
        return {
            "queries": QUERIES,
            "passes": len(self.pass_s),
            "cycle_s": self.pass_s,
            "per_query_ms": self.per_query,
        }
