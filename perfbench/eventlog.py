"""Reader for Spark's JSON event log, mapped onto the pipeline's layers.

The benchmark labels every pass with ``SparkContext.setJobDescription``;
Spark copies that label into each SQL execution it starts. This module
groups executions by label and, for one label, sums

* SQL plan metrics (task accumulator updates plus driver updates), keyed
  by the plan node that owns the accumulator and that node's *role*
  (which layer it belongs to, decided from the plan tree), and
* task metrics (run time, CPU time, GC time) of every task whose job ran
  for one of the label's executions.

Only uncompressed logs are read; the benchmark's session turns
compression off.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# plan wrappers that say nothing about which layer a subtree belongs to
_WRAPPERS = (
    "WholeStageCodegen", "InputAdapter", "Project", "ColumnarToRow", "Filter",
    "AQEShuffleRead", "ShuffleQueryStage", "ResultQueryStage", "Sort",
)
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),")


def read_events(path: str) -> list[dict]:
    """Events of one application: a plain log file, or a rolling log
    directory (``eventlog_v2_*`` holding ``events_<n>_*`` files)."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def find_app_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def _base_name(node: dict) -> str:
    return node["nodeName"].split(" ")[0]


def _first_significant(node: dict) -> dict | None:
    """First descendant below ``node`` that is not a plan wrapper."""
    for child in node.get("children", []):
        if _base_name(child) in _WRAPPERS:
            found = _first_significant(child)
            if found is not None:
                return found
        else:
            return child
    return None


def _contains(node: dict, name: str) -> bool:
    return any(
        _base_name(c) == name or _contains(c, name) for c in node.get("children", [])
    )


def node_role(node: dict) -> str:
    """Layer a plan node belongs to.

    * ``Exchange`` above a ``HashAggregate``: the digest sink's gather;
      above an ``ObjectHashAggregate``: the reassembly shuffle; otherwise
      the salted repartition.
    * ``ObjectHashAggregate`` with another one below it: the final
      reassembly aggregate; else the partial one.
    * ``ArrowEvalPython`` running a classify UDF: classify; else OCR.
    """
    name = _base_name(node)
    if name == "Exchange":
        below = _first_significant(node)
        below_name = _base_name(below) if below is not None else ""
        if below_name == "HashAggregate":
            return "sink"
        if below_name == "ObjectHashAggregate":
            return "reassemble"
        return "salt"
    if name == "ObjectHashAggregate":
        return "reassemble_final" if _contains(node, "ObjectHashAggregate") else (
            "reassemble_partial"
        )
    if name == "ArrowEvalPython":
        return "classify" if "classify" in node.get("simpleString", "") else "ocr"
    if name == "Scan":
        return "scan"
    if name == "Generate":
        return "explode"
    if name == "Execute":
        m = _WRITE_RE.search(node.get("simpleString", "") + ",")
        if m:
            return "write:" + m.group(1).rstrip("/").rsplit("/", 1)[-1]
    return name


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int = 0
    scan_locations: set = field(default_factory=set)
    writes: set = field(default_factory=set)


@dataclass
class _Metric:
    execution: int
    role: str
    name: str
    mtype: str


class EventLog:
    """Per-label SQL and task metrics of one Spark application."""

    def __init__(self, events: list[dict]):
        self.executions: dict[int, Execution] = {}
        self._metrics: dict[int, _Metric] = {}
        self._values: dict[int, int] = defaultdict(int)
        self._stage_exec: dict[int, int] = {}
        self._stage_accums: dict[int, set] = defaultdict(set)
        self.tasks: list[dict] = []
        for ev in events:
            kind = ev["Event"]
            if kind == _SQL_START:
                ex = Execution(ev["executionId"], ev.get("description") or "", ev["time"])
                self.executions[ex.id] = ex
                self._walk(ev["sparkPlanInfo"], ex)
            elif kind == _SQL_UPDATE:
                ex = self.executions.get(ev["executionId"])
                if ex is not None:
                    self._walk(ev["sparkPlanInfo"], ex)
            elif kind == _SQL_END:
                ex = self.executions.get(ev["executionId"])
                if ex is not None:
                    ex.end_ms = ev["time"]
            elif kind == _DRIVER_ACCUM:
                for acc_id, value in ev["accumUpdates"]:
                    self._values[acc_id] += int(value)
            elif kind == "SparkListenerJobStart":
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    for stage in ev["Stage IDs"]:
                        self._stage_exec[stage] = int(exec_id)
            elif kind == "SparkListenerTaskEnd":
                self._task(ev)

    def _walk(self, node: dict, ex: Execution) -> None:
        role = node_role(node)
        if role == "scan":
            loc = (node.get("metadata") or {}).get("Location", "")
            ex.scan_locations.add(loc)
        elif role.startswith("write:"):
            ex.writes.add(role[len("write:"):])
        for m in node.get("metrics", []):
            self._metrics[m["accumulatorId"]] = _Metric(
                ex.id, role, m["name"], m["metricType"]
            )
        for child in node.get("children", []):
            self._walk(child, ex)

    def _task(self, ev: dict) -> None:
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        stage = ev["Stage ID"]
        for acc in info.get("Accumulables", []):
            acc_id, update = acc["ID"], acc.get("Update")
            self._stage_accums[stage].add(acc_id)
            if acc_id in self._metrics and update is not None:
                self._values[acc_id] += int(update)
        self.tasks.append(
            {
                "stage": stage,
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
            }
        )

    # -- queries ---------------------------------------------------------------

    def labels(self) -> list[str]:
        return sorted({ex.description for ex in self.executions.values()})

    def execution_ids(self, label: str) -> set[int]:
        return {i for i, ex in self.executions.items() if ex.description == label}

    def metric(self, label: str, role: str, name: str) -> int:
        """Sum of plan metric ``name`` over nodes of ``role`` in the
        label's executions (timings in ms, sizes in bytes)."""
        ids = self.execution_ids(label)
        return sum(
            self._values.get(acc_id, 0)
            for acc_id, m in self._metrics.items()
            if m.execution in ids and m.role == role and m.name == name
        )

    def has_role(self, label: str, role: str) -> bool:
        ids = self.execution_ids(label)
        return any(m.execution in ids and m.role == role for m in self._metrics.values())

    def _stages_of(self, label: str) -> set[int]:
        ids = self.execution_ids(label)
        return {s for s, e in self._stage_exec.items() if e in ids}

    def task_totals(self, label: str) -> dict:
        """Task count, summed CPU and GC seconds of the label's tasks."""
        stages = self._stages_of(label)
        ts = [t for t in self.tasks if t["stage"] in stages]
        return {
            "tasks": len(ts),
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        }

    def task_skew(self, label: str, role: str) -> float:
        """Max over median task run time in the stage(s) that update a
        plan metric of ``role``; 0 when no such stage ran."""
        ids = self.execution_ids(label)
        accs = {
            a for a, m in self._metrics.items() if m.execution in ids and m.role == role
        }
        stages = {s for s in self._stages_of(label) if self._stage_accums[s] & accs}
        runs = [t["run_ms"] for t in self.tasks if t["stage"] in stages]
        if not runs:
            return 0.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0

    def wall_s(self, label: str, write: str | None = None) -> float:
        """Summed wall time of the label's executions; with ``write``,
        only executions that write to a directory of that name."""
        return sum(
            (ex.end_ms - ex.start_ms) / 1e3
            for ex in self.executions.values()
            if ex.description == label and (write is None or write in ex.writes)
        )

    def scans_of(self, label: str, location: str) -> int:
        """Executions of the label that scan a path containing ``location``."""
        return sum(
            1
            for ex in self.executions.values()
            if ex.description == label
            and any(location in loc for loc in ex.scan_locations)
        )
