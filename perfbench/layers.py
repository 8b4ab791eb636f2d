"""Per-layer metrics of a traced run, from its spans and its event log.

Every value is per timed cycle (a weekly cycle, or one registry pass):
a total over the spans under the timed ``cycle`` roots, divided by the
number of roots. Layers a workload does not reach read 0.
"""

from __future__ import annotations

from collections.abc import Iterable

from .eventlog import EventLog, SqlExecution, TaskTotals
from .tracing import GROUP_PREFIX, Span, Tracer

MB = 1024 * 1024

# (name, unit, better) of every per-layer metric a traced run prints
PER_LAYER = [
    ("ingest.wall_s", "s", "lower"),
    ("ingest.files", "count", "higher"),
    ("sources.readers.wall_s", "s", "lower"),
    ("operators.flatten.plan_s", "s", "lower"),
    ("operators.flatten.matches_out", "count", "higher"),
    ("operators.flatten.deliveries_out", "count", "higher"),
    ("operators.ledger.wall_s", "s", "lower"),
    ("operators.ledger.jobs", "count", "lower"),
    ("operators.ledger.bytes_written", "bytes", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("pipeline.silver_bytes_written", "bytes", "lower"),
    ("pipeline.silver_files_written", "count", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.noop_cycle_s", "s", "lower"),
    ("pipeline.write_amp", "ratio", "lower"),
    ("operators.renumber.wall_s", "s", "lower"),
    ("materialize.wall_s", "s", "lower"),
    ("materialize.csv_bytes_written", "bytes", "lower"),
    ("materialize.csv_files", "count", "lower"),
    ("materialize.shuffle_mb", "MB", "lower"),
    ("pipeline.version_notes.wall_s", "s", "lower"),
    ("plans.cricket_analytics.analysis_ms", "ms", "lower"),
    ("plans.cricket_analytics.optimization_ms", "ms", "lower"),
    ("plans.cricket_analytics.planning_ms", "ms", "lower"),
    ("plans.cricket_analytics.exec_ms", "ms", "lower"),
    ("plans.cricket_analytics.files_scanned", "count", "lower"),
    ("plans.registry.build_s", "s", "lower"),
    ("plans.registry.exec_s", "s", "lower"),
    ("plans.registry.analysis_ms", "ms", "lower"),
    ("plans.registry.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.sched_delay_s", "s", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("spark.codegen_compiles", "count", "lower"),
    ("spark.codegen_ms", "ms", "lower"),
    ("spark.python_worker_s", "s", "lower"),
    ("spark.python_data_mb", "MB", "lower"),
    ("harness.traced_cycle_s", "s", "lower"),
    ("harness.session_start_s", "s", "lower"),
    ("harness.peak_rss_mb", "MB", "lower"),
    ("harness.leaked_tmp_entries", "count", "lower"),
    ("harness.error_rate", "ratio", "lower"),
]
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"


def _top(spans: Iterable[Span], layer: str, by_id: dict[int, Span]) -> list[Span]:
    """Spans of ``layer`` not nested in another span of the same layer."""
    return [
        s
        for s in spans
        if s.layer == layer
        and (s.parent is None or by_id[s.parent].layer != layer)
    ]


def _group(spans: Iterable[Span]) -> set[str]:
    return {f"{GROUP_PREFIX}{s.id}" for s in spans}


def _flatten_rows(log: EventLog, ex: SqlExecution) -> int:
    """Rows the flatten operators produced into one silver write.

    The write's new-rows branch is the one reading the freshly parsed
    documents (an in-memory or JSON scan). Under a Union (append-dedup
    against the existing table) the branch's top-most row counter is the
    flatten output; a first write has no Union and counts its own rows.
    """
    def reads_docs(node) -> bool:
        return any(
            n.name.startswith(("InMemoryTableScan", "Scan json")) for n in node.walk()
        )

    write = next(n for n in ex.plan.walk() if n.name == _WRITE)
    union = next((n for n in write.walk() if n.name == "Union"), None)
    if union is None:
        return log.value(write, "number of output rows")
    branch = next((c for c in union.children if reads_docs(c)), None)
    if branch is None:
        return 0
    top = next((n for n in branch.walk() if "number of output rows" in n.metrics), None)
    return log.value(top, "number of output rows") if top else 0


def layer_metrics(tracer: Tracer, log: EventLog, cores: int) -> dict[str, float]:
    roots = [s for s in tracer.spans if s.name == "cycle"]
    n = max(1, len(roots))
    by_id = {s.id: s for s in tracer.spans}
    inside = [d for r in roots for d in tracer.subtree(r)]
    everything = roots + inside

    def wall(layer: str) -> float:
        return sum(s.duration for s in _top(inside, layer, by_id)) / n

    def totals(spans: Iterable[Span]) -> TaskTotals:
        t = TaskTotals()
        for g in _group(spans):
            if g in log.by_group:
                t.add(log.by_group[g])
        return t

    def execs(spans: Iterable[Span]) -> list[SqlExecution]:
        groups = _group(spans)
        return [e for e in log.executions if e.group in groups]

    def of(layer: str) -> list[Span]:
        return [s for s in inside if s.layer == layer]

    m: dict[str, float] = {}
    m["ingest.wall_s"] = wall("ingest")
    m["ingest.files"] = sum(s.attrs.get("n_out", 0) for s in of("ingest")) / n
    m["sources.readers.wall_s"] = wall("sources.readers")
    m["operators.flatten.plan_s"] = wall("operators.flatten")

    pipe = of("pipeline")
    silver = [
        e
        for e in execs(pipe)
        if any(w.name == _WRITE and "/silver_" in w.desc for w in e.plan.walk())
    ]
    flat_writes = [
        e
        for e in silver
        if any(n.name.startswith(("InMemoryTableScan", "Scan json")) for n in e.plan.walk())
    ]
    for table, key in (("silver_matchwise", "matches_out"), ("silver_deliverywise", "deliveries_out")):
        m[f"operators.flatten.{key}"] = sum(
            _flatten_rows(log, e)
            for e in flat_writes
            if any(w.name == _WRITE and f"/{table}" in w.desc for w in e.plan.walk())
        ) / n

    ledger = of("operators.ledger")
    m["operators.ledger.wall_s"] = wall("operators.ledger")
    m["operators.ledger.jobs"] = totals(ledger).jobs / n
    m["operators.ledger.bytes_written"] = totals(ledger).output_b / n

    m["pipeline.self_s"] = sum(tracer.self_time(s) for s in pipe) / n
    m["pipeline.silver_bytes_written"] = sum(
        log.sum_metric(e, "written output", _WRITE) for e in silver
    ) / n
    m["pipeline.silver_files_written"] = sum(
        log.sum_metric(e, "number of written files", _WRITE) for e in silver
    ) / n
    m["pipeline.jobs"] = totals(pipe).jobs / n

    m["operators.renumber.wall_s"] = wall("operators.renumber")
    mat = of("materialize")
    m["materialize.wall_s"] = wall("materialize")
    csv_execs = execs(s for s in mat if s.name.endswith("write_sorted_csv"))
    m["materialize.csv_bytes_written"] = sum(
        log.sum_metric(e, "written output", _WRITE) for e in csv_execs
    ) / n
    m["materialize.csv_files"] = sum(
        log.sum_metric(e, "number of written files", _WRITE) for e in csv_execs
    ) / n
    m["materialize.shuffle_mb"] = totals(mat).shuffle_write_b / MB / n
    m["pipeline.version_notes.wall_s"] = wall("pipeline.version_notes")

    queries = of("plans.cricket_analytics")
    nq = max(1, len(queries))
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.cricket_analytics.{phase}_ms"] = (
            sum(s.attrs.get(f"{phase}_ms", 0) for s in queries) / nq
        )
    m["plans.cricket_analytics.exec_ms"] = sum(
        s.duration * 1e3
        - sum(s.attrs.get(f"{p}_ms", 0) for p in ("analysis", "optimization", "planning"))
        for s in queries
    ) / nq
    m["plans.cricket_analytics.files_scanned"] = sum(
        log.sum_metric(e, "number of files read") for e in execs(queries)
    ) / nq

    builds = of("plans.registry.build")
    runs = of("plans.registry.exec")
    m["plans.registry.build_s"] = sum(s.duration for s in builds) / n
    m["plans.registry.exec_s"] = sum(s.duration for s in runs) / n
    m["plans.registry.analysis_ms"] = sum(s.attrs.get("analysis_ms", 0) for s in builds) / n
    # optimization + physical planning of the noop write happen between
    # the exec span's start and its first SQL execution's start event
    starts: dict[str, int] = {}
    for e in log.executions:
        starts.setdefault(e.group, e.start_ms)
    m["plans.registry.planning_ms"] = sum(
        max(0.0, starts[f"{GROUP_PREFIX}{s.id}"] - s.start * 1e3)
        for s in runs
        if f"{GROUP_PREFIX}{s.id}" in starts
    ) / n

    t = totals(everything)
    m["spark.jobs"] = t.jobs / n
    m["spark.stages"] = t.stages / n
    m["spark.tasks"] = t.tasks / n
    m["spark.failed_tasks"] = t.failed_tasks / n
    m["spark.task_s"] = t.task_s / n
    m["spark.task_cpu_s"] = t.task_cpu_s / n
    m["spark.gc_s"] = t.gc_s / n
    m["spark.sched_delay_s"] = t.sched_delay_s / n
    busy_wall = sum(r.duration for r in roots)
    m["spark.busy_ratio"] = t.task_s / (busy_wall * cores) if busy_wall else 0.0
    m["spark.shuffle_write_mb"] = t.shuffle_write_b / MB / n
    m["spark.shuffle_read_mb"] = t.shuffle_read_b / MB / n
    m["spark.spill_mb"] = t.spill_b / MB / n
    m["spark.input_mb"] = t.input_b / MB / n
    m["spark.output_mb"] = t.output_b / MB / n
    m["spark.codegen_compiles"] = sum(r.codegen_compiles for r in roots) / n
    m["spark.codegen_ms"] = sum(r.codegen_ms for r in roots) / n
    all_execs = execs(everything)
    m["spark.python_worker_s"] = sum(log.sum_metric(e, _PY_TIME) for e in all_execs) / 1e3 / n
    m["spark.python_data_mb"] = sum(log.sum_metric(e, _PY_SENT) for e in all_execs) / MB / n
    return m


def attribution(tracer: Tracer, cycle_samples: list[float]) -> dict[str, float]:
    """How much of the measured cycle the wrapped spans cover.

    Per timed cycle, the spans directly under the root that make up the
    measured operation (extract_zip, run_incremental and version_notes;
    or every plan build and execution of a registry pass) against the
    cycle time the workload measured. ``run_incremental`` is its children
    plus ``pipeline.self_s`` by construction, so the gap is the time no
    span covers."""
    roots = [s for s in tracer.spans if s.name == "cycle"]
    covered = [
        sum(
            c.duration
            for c in tracer.spans
            if c.parent == r.id and c.layer != "plans.cricket_analytics"
        )
        for r in roots
    ]
    if not roots or not cycle_samples:
        return {}
    mean_cycle = sum(cycle_samples) / len(cycle_samples)
    mean_covered = sum(covered) / len(covered)
    return {
        "cycle_s": mean_cycle,
        "wrapped_spans_s": mean_covered,
        "uncovered_s": mean_cycle - mean_covered,
    }


def span_records(tracer: Tracer, log: EventLog) -> list[dict]:
    """Every span with its own Spark totals, for the trace file."""
    out = []
    for s in tracer.spans:
        t = log.by_group.get(f"{GROUP_PREFIX}{s.id}", TaskTotals())
        out.append(
            {
                "id": s.id,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": tracer.self_time(s),
                "codegen_compiles": s.codegen_compiles,
                "codegen_ms": s.codegen_ms,
                **s.attrs,
                "spark": t.__dict__,
            }
        )
    return out
