"""Span recorder for the traced run.

A span is (id, name, layer, parent, start, end). Entering a span sets
the Spark job group to ``pbspan-<id>`` and leaving it restores the
parent's group, so every Spark job -- and through it every stage, task
and SQL execution in the event log -- belongs to the innermost span
that caused it. Spans also read the JVM's codegen counters on entry and
exit. Spans stay in memory until the run ends.

The layers are reached only through their public functions:
``install_wrappers`` swaps those functions, in the module namespaces the
pipeline looks them up in, for span-recording wrappers.

With tracing off, ``span`` is a no-op and nothing is wrapped, so the
untraced run executes exactly the program's own code.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pbspan-"

# (module, attribute, layer) for every wrapped public function. The
# module is the namespace the caller looks the name up in: pipeline.py
# imports most of them by name, so they are replaced there.
WRAPPED = [
    ("kaggle_data_pipeline_with_aws_spark.ingest", "extract_zip", "ingest"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "run_incremental", "pipeline"),
    (
        "kaggle_data_pipeline_with_aws_spark.pipeline",
        "version_notes",
        "pipeline.version_notes",
    ),
    (
        "kaggle_data_pipeline_with_aws_spark.pipeline",
        "read_json_documents",
        "sources.readers",
    ),
    ("kaggle_data_pipeline_with_aws_spark.operators.flatten", "matchwise", "operators.flatten"),
    (
        "kaggle_data_pipeline_with_aws_spark.operators.flatten",
        "deliverywise",
        "operators.flatten",
    ),
    (
        "kaggle_data_pipeline_with_aws_spark.operators.flatten",
        "composite_delivery_key",
        "operators.flatten",
    ),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "read_ledger", "operators.ledger"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "detect_new_files", "operators.ledger"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "upsert_status", "operators.ledger"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "matchwise_numbered", "materialize"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "deliverywise_published", "materialize"),
    ("kaggle_data_pipeline_with_aws_spark.pipeline", "write_sorted_csv", "materialize"),
    (
        "kaggle_data_pipeline_with_aws_spark.materialize",
        "contiguous_row_number",
        "operators.renumber",
    ),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    codegen_compiles: int = 0
    codegen_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; costs one ``if`` per span when not."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext
        if enabled:
            codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
            self._compile_ns = codegen.CodeGenerator.compileTime
            self._compiles = (
                spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME()
                .getCount
            )

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        self._sc.setLocalProperty("spark.job.description", name)
        compiles0, ns0 = self._compiles(), self._compile_ns()
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            s.codegen_compiles = self._compiles() - compiles0
            s.codegen_ms = (self._compile_ns() - ns0) / 1e6
            self._stack.pop()
            gid = f"{GROUP_PREFIX}{parent.id}" if parent else None
            self._sc.setLocalProperty("spark.jobGroup.id", gid)
            self._sc.setLocalProperty(
                "spark.job.description", parent.name if parent else None
            )

    def install_wrappers(self) -> None:
        import importlib

        if not self.enabled:
            return
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._restore.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, f"{layer}.{attr}", layer))

    def uninstall_wrappers(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as s:
                result = fn(*args, **kwargs)
                if isinstance(result, list):  # extract_zip: the landed files
                    s.attrs["n_out"] = len(result)
                return result

        return wrapper

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover
        (children of one span never overlap: one driver thread)."""
        return span.duration - sum(
            c.duration for c in self.spans if c.parent == span.id
        )

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            kids = [c for c in self.spans if c.parent == sid]
            out.extend(kids)
            todo.extend(c.id for c in kids)
        return out
