"""The repository's benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload weekly_cycle --seed 1 --seconds 5 --trace 0

Workloads (see ``weekly.py`` and ``registry_pass.py``):

- ``weekly_cycle``: the paper's weekly cycle over a seeded history --
  land 10 new matches, extract, ledger, rebuild and publish the CSVs,
  then run the notebook queries over what was published.
- ``registry``: passes over a fixed set of registered query plans on the
  synthetic sf0.01 tables, each plan executed into the ``noop`` sink.

There is one client: the next operation starts when the previous one
ends. The session runs on ``local[N]`` with N the CPUs this process may
use (``SPARK_GRAFT_CPUS``). Set-up, warm-up and output checks are not
timed. The loop runs whole cycles until ``--seconds`` have passed, and at
least a workload's minimum number of cycles (two weekly cycles, three
registry passes) so that each run's median has the same make-up.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and the span wrappers and prints the per-layer metrics.
Either way the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` and a full record
(environment, samples, and with tracing every span) is written to
``perfbench/out/``. No result is printed when the run cannot start.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)

END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "cpu_s": "s",
}


def _environment(args, cores: int) -> dict:
    import pyspark

    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
        java = next(line for line in out.splitlines() if " version " in line)
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = "unknown"
    # a checkout without git history is identified by the sources of the
    # engine and of this benchmark
    h = hashlib.sha256()
    sources = [os.path.join(CHECKOUT, "__spark_entry__.py")]
    for top in (os.path.join(CHECKOUT, "kaggle_data_pipeline_with_aws_spark"), BENCH_DIR):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            sources += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in sources:
        with open(path, "rb") as fh:
            h.update(fh.read())
    commit = "unknown"
    try:
        # never search above the checkout for a repository
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(CHECKOUT)}
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
            text=True, timeout=30, env=env,
        )
        if res.returncode == 0:
            commit = res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cores,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "commit": commit,
        "source_digest": h.hexdigest(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [CHECKOUT, os.path.join(CHECKOUT, "tools")]
    sys.path.remove(BENCH_DIR)  # import this directory as the package
    from perfbench import harness
    from perfbench.registry_pass import RegistryPass
    from perfbench.weekly import WeeklyCycle

    workloads = {w.name: w for w in (WeeklyCycle, RegistryPass)}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    # fail before any set-up when the engine or its deps are missing
    import kaggle_data_pipeline_with_aws_spark  # noqa: F401
    import pyspark  # noqa: F401

    # a terminated run still stops its processes and removes its work root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    ctx = harness.Context(
        checkout=CHECKOUT,
        work=harness.make_work_root(BENCH_DIR),
        seed=args.seed,
        trace=bool(args.trace),
        cores=cores,
    )
    try:
        record = _run(args, ctx, workloads[args.workload])
    finally:
        try:
            harness.stop_spark(ctx)
        finally:
            harness.remove_work_root(ctx.work)

    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    for k, v in record["metrics"].items():
        print(f"# {k}: {v['value']:.6g} {v['unit']}", file=sys.stderr)
    for f in ctx.failures[:20]:
        print(f"# failure: {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": record["metrics"],
            }
        )
    )
    return 0


def _run(args, ctx, workload_cls) -> dict:
    from perfbench import harness
    from perfbench.tracing import Tracer

    harness.configure_env(ctx)
    env = _environment(args, ctx.cores)
    t_setup = time.perf_counter()
    harness.start_spark(ctx)
    session_start_s = time.perf_counter() - t_setup
    # the engine picks the heap (``session.get_spark``); record its choice
    env["spark.driver.memory"] = ctx.spark.sparkContext.getConf().get(
        "spark.driver.memory", "unset"
    )
    ctx.tracer = Tracer(ctx.spark, ctx.trace)
    wl = workload_cls(ctx)
    wl.setup()
    setup_s = time.perf_counter() - t_setup

    ctx.tracer.install_wrappers()
    steal0 = _steal_s()
    deadline = time.perf_counter() + args.seconds
    steps = 0
    while steps < wl.min_steps or time.perf_counter() < deadline:
        wl.step()
        steps += 1
    wl.finish()
    ctx.tracer.uninstall_wrappers()
    steal_s = _steal_s() - steal0
    e2e = {"setup_s": setup_s, **wl.end_to_end()}
    peak_rss_mb = harness.peak_rss_mb(ctx)
    cycle_s = e2e["cycle_s"]

    harness.stop_spark(ctx)
    leaked = harness.leaked_entries(ctx)
    record = {
        "env": env,
        "end_to_end": e2e,
        "peak_rss_mb": peak_rss_mb,
        # CPU time the hypervisor gave to others while this run measured
        "steal_s": steal_s,
        "details": wl.details(),
        "failures": ctx.failures,
    }
    if not ctx.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        record["metrics"] = metrics
        return record

    from perfbench.eventlog import read_event_log
    from perfbench.layers import PER_LAYER, attribution, layer_metrics, span_records

    log = read_event_log(os.path.join(ctx.work, "eventlog"))
    per_layer = layer_metrics(ctx.tracer, log, ctx.cores)
    per_layer.update(wl.extra())
    per_layer["harness.traced_cycle_s"] = cycle_s
    per_layer["harness.session_start_s"] = session_start_s
    per_layer["harness.peak_rss_mb"] = peak_rss_mb
    per_layer["harness.leaked_tmp_entries"] = leaked
    per_layer["harness.error_rate"] = ctx.failed / max(1, ctx.attempted)
    overhead = _tracing_overhead(env, cycle_s)
    if overhead is not None:
        record["tracing_overhead_s"] = overhead
        print(f"# tracing overhead: {overhead:+.3f} s per cycle", file=sys.stderr)
    record["attribution"] = attribution(ctx.tracer, record["details"]["cycle_s"])
    print(f"# attribution: {record['attribution']}", file=sys.stderr)
    record["spans"] = span_records(ctx.tracer, log)
    # a layer this workload does not reach reads 0
    record["metrics"] = {
        k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u, _ in PER_LAYER
    }
    return record


def _steal_s() -> float:
    """Steal time of all CPUs so far (/proc/stat), in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# an untraced record is comparable when it ran the same workload on the
# same sources, cores and run length
_SAME_SETUP = ("workload", "source_digest", "nproc", "SPARK_GRAFT_CPUS", "seconds")


def _tracing_overhead(env: dict, traced_cycle_s: float) -> float | None:
    """Traced minus untraced ``cycle_s``, against the median of the
    comparable untraced records already in ``perfbench/out``; None when
    there is none."""
    out_dir = os.path.join(BENCH_DIR, "out")
    untraced = []
    if os.path.isdir(out_dir):
        for f in os.listdir(out_dir):
            if f.startswith(f"{env['workload']}-seed") and f.endswith("-trace0.json"):
                with open(os.path.join(out_dir, f)) as fh:
                    rec = json.load(fh)
                if all(rec["env"].get(k) == env[k] for k in _SAME_SETUP):
                    untraced.append(rec["end_to_end"]["cycle_s"])
    return traced_cycle_s - statistics.median(untraced) if untraced else None


if __name__ == "__main__":
    sys.exit(main())
