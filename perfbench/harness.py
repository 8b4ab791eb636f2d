"""Run context shared by the workloads: one work root, one SparkSession,
operation accounting and clean shutdown.

Everything a run writes -- landing zone, pipeline state, published CSVs,
Spark local dirs, the JVM's and Python's temp files, the substrate
store, the warehouse and the event log -- lives under one work root that
is removed when the run ends, whether it succeeded or not.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from dataclasses import dataclass, field

from . import procstat

SUBDIRS = ("tmp", "local", "substrate", "warehouse", "eventlog", "data")
LEAK_DIRS = ("tmp", "local")


@dataclass
class Context:
    checkout: str
    work: str
    seed: int
    trace: bool
    cores: int
    spark: object = None
    tracer: object = None
    jvm_pid: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, "data", *parts)

    def record(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed one keeps its reason."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok


def make_work_root(bench_dir: str) -> str:
    work = tempfile.mkdtemp(prefix=".work-", dir=bench_dir)
    for sub in SUBDIRS:
        os.makedirs(os.path.join(work, sub))
    return work


def remove_work_root(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def configure_env(ctx: Context) -> None:
    """Point every temp and scratch location of the process tree at the
    work root, before the JVM or any temp file exists."""
    env = os.environ
    tmp = os.path.join(ctx.work, "tmp")
    env["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    # SPARK_LOCAL_DIRS wins over spark.local.dir inside the JVM
    env["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "local")
    env["SPARK_GRAFT_SUBSTRATE_ROOT"] = os.path.join(ctx.work, "substrate")
    env["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    # every JVM of the run (``java -version``, Spark's launcher, the
    # driver) keeps its temp and perf-data files out of /tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
    )
    # Python workers import the package from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.checkout, env.get("PYTHONPATH")) if p
    )


def start_spark(ctx: Context):
    from pyspark import SparkContext

    from kaggle_data_pipeline_with_aws_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(ctx.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    ctx.spark = get_spark("perfbench", extra_conf=conf)
    ctx.jvm_pid = SparkContext._gateway.proc.pid
    return ctx.spark


def peak_rss_mb(ctx: Context) -> float:
    return procstat.vm_hwm_mb(os.getpid()) + procstat.vm_hwm_mb(ctx.jvm_pid)


def stop_spark(ctx: Context) -> None:
    """Stop the session, end the JVM and wait for every process this run
    started (the JVM and the Python workers it forked)."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return
    started = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        ctx.spark.stop()
    except Exception as e:  # noqa: BLE001 -- the JVM is ended below either way
        print(f"# SparkSession.stop failed: {e}", file=sys.stderr)
    finally:
        ctx.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procstat.wait_gone(started, timeout_s=30)


def leaked_entries(ctx: Context) -> int:
    """Entries left in the run's temp and Spark local dirs after the
    session and every process it started have ended."""
    return sum(len(os.listdir(os.path.join(ctx.work, d))) for d in LEAK_DIRS)


def result_mismatch(s_dtypes, s_rows, con, sql: str) -> str:
    """Why a Spark result differs from the DuckDB query ``sql`` on
    ``con``, or "" when it does not: column names, column types
    (``tools/check_types.py``) and rows under the repository's order-
    insensitive, float-tolerant comparison (``tools/check_correctness.py``)."""
    from check_correctness import normalize, values_equal
    from check_types import canon_duck, canon_spark

    res = con.execute(sql)
    d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
    s_cols = [c for c, _ in s_dtypes]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={s_cols} duck={d_cols}"
    d_types = {r[0]: canon_duck(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    bad = [f"{c}: spark={canon_spark(t)} duck={d_types[c]}"
           for c, t in s_dtypes if canon_spark(t) != d_types[c]]
    if bad:
        return "types " + "; ".join(bad)
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} duck={len(d_rows)}"
    sn, _ = normalize(s_rows, s_cols)
    dn, _ = normalize(d_rows, d_cols)
    for sr, dr in zip(sn, dn):
        for a, b in zip(sr, dr):
            if not values_equal(a, b)[1]:
                return f"values spark={a!r} duck={b!r}"
    return ""


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
