"""Parser for Spark's uncompressed JSON event log.

Every job carries the job group its span set (``spark.jobGroup.id``), so
jobs, stages, tasks and SQL executions are grouped by that id. SQL
metrics are summed per accumulator from task updates and driver-side
updates, and read back through the final (post-AQE) plan tree of each
SQL execution.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class TaskTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, int]  # metric name -> accumulator id
    children: list["PlanNode"]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class SqlExecution:
    id: int
    group: str | None
    start_ms: int
    plan: PlanNode  # the latest (post-AQE) version


@dataclass
class EventLog:
    by_group: dict[str, TaskTotals]
    executions: list[SqlExecution]
    accums: dict[int, int]  # SQL metric accumulator id -> summed value

    def value(self, node: PlanNode, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.accums.get(acc, 0) if acc is not None else 0

    def sum_metric(self, ex: SqlExecution, metric: str, node_prefix: str = "") -> int:
        return sum(
            self.value(n, metric)
            for n in ex.plan.walk()
            if n.name.startswith(node_prefix) and metric in n.metrics
        )


def _plan(info: dict) -> PlanNode:
    return PlanNode(
        info["nodeName"],
        info.get("simpleString", ""),
        {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        [_plan(c) for c in info.get("children", [])],
    )


def _task_totals(ev: dict) -> TaskTotals:
    t = TaskTotals(tasks=1)
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    if ev["Task End Reason"]["Reason"] != "Success":
        t.failed_tasks = 1
    run_ms = m.get("Executor Run Time", 0)
    t.task_s = run_ms / 1e3
    t.task_cpu_s = m.get("Executor CPU Time", 0) / 1e9
    t.gc_s = m.get("JVM GC Time", 0) / 1e3
    if info.get("Finish Time"):
        # the Spark UI's scheduler delay: task duration not spent
        # deserializing, running, serializing or fetching the result
        t.sched_delay_s = max(
            0,
            info["Finish Time"]
            - info["Launch Time"]
            - run_ms
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        ) / 1e3
    sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
    t.shuffle_write_b = sw.get("Shuffle Bytes Written", 0)
    t.shuffle_read_b = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t.spill_b = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t.input_b = m.get("Input Metrics", {}).get("Bytes Read", 0)
    t.output_b = m.get("Output Metrics", {}).get("Bytes Written", 0)
    return t


def read_event_log(log_dir: str) -> EventLog:
    """Parse every event file under ``log_dir`` (one application)."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    by_group: dict[str, TaskTotals] = defaultdict(TaskTotals)
    execs: dict[int, SqlExecution] = {}
    accums: dict[int, int] = defaultdict(int)

    def totals_for(stage_id: int) -> TaskTotals:
        return by_group[job_group.get(stage_job.get(stage_id)) or ""]

    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[job] = props.get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job
                    by_group[job_group[job] or ""].jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    totals_for(ev["Stage Info"]["Stage ID"]).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    totals_for(ev["Stage ID"]).add(_task_totals(ev))
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Metadata") == "sql":
                            accums[acc["ID"]] += int(acc["Update"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        accums[acc_id] += int(value)
                elif kind == _SQL + "SparkListenerSQLExecutionStart":
                    execs[ev["executionId"]] = SqlExecution(
                        ev["executionId"],
                        ev.get("jobGroupId"),
                        ev["time"],
                        _plan(ev["sparkPlanInfo"]),
                    )
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    if ev["executionId"] in execs:
                        execs[ev["executionId"]].plan = _plan(ev["sparkPlanInfo"])
    return EventLog(dict(by_group), sorted(execs.values(), key=lambda e: e.id), dict(accums))
