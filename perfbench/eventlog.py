"""Per-job-group totals from a Spark event log.

The benchmark tags every Spark job of a pass with a job group, enables
``spark.eventLog.enabled`` for the traced run, and after the session
stops reads the JSON-lines log back with ``read_event_log``. Tasks are
attributed to groups through stage → job → group; SQL metrics (Python
worker time and bytes, parquet files read) through the accumulator ids
named in each SQL execution's plan.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

# Python-side SQL metrics of the Arrow/pandas exec nodes, by metric name
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_sent",
    "number of output rows": "python_rows",
}
_PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")


@dataclass
class GroupTotals:
    """What the tasks and SQL executions of one job group did."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    python: dict = field(default_factory=lambda: {v: 0.0 for v in PYTHON_METRICS.values()})
    # scan nodes that ran, keyed by node identity: [location, files read]
    scans: dict = field(default_factory=dict)

    def source_scans(self, location_part: str) -> list[int]:
        """Files read by each distinct scan whose location contains
        ``location_part``."""
        return [files for loc, files in self.scans.values() if location_part in loc]


def _metric_value(metric_type: str, raw: float) -> float:
    if metric_type == "nsTiming":
        return raw / 1e9
    if metric_type == "timing":
        return raw / 1e3
    return raw


@dataclass
class _Node:
    name: str
    location: str
    metrics: dict  # accumulator id -> (metric name, metric type)


def _walk(info: dict, out: list) -> None:
    metrics = {m["accumulatorId"]: (m["name"], m["metricType"]) for m in info.get("metrics", ())}
    location = info.get("metadata", {}).get("Location", "")
    out.append(_Node(info.get("nodeName", ""), location, metrics))
    for child in info.get("children", ()):
        _walk(child, out)


def summarize_events(events) -> dict[str, GroupTotals]:
    """Fold parsed event-log records into totals per job group."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    nodes: list[_Node] = []
    task_updates: list[tuple[str, int, float]] = []  # group, accumulator id, update
    driver_updates: list[tuple[int, int, float]] = []  # execution id, accumulator id, value
    groups: dict[str, GroupTotals] = {}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            job = ev["Job ID"]
            job_group[job] = group
            groups.setdefault(group, GroupTotals()).jobs += 1
            for stage in ev.get("Stage IDs", ()):
                stage_job.setdefault(stage, job)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerTaskEnd":
            group = job_group.get(stage_job.get(ev.get("Stage ID"), -1))
            if group is None:
                continue
            g = groups[group]
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                try:
                    task_updates.append((group, acc["ID"], float(acc["Update"])))
                except (KeyError, TypeError, ValueError):
                    continue  # non-numeric accumulators carry nothing we sum
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk(ev["sparkPlanInfo"], nodes)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", ()):
                driver_updates.append((ev["executionId"], acc_id, float(value)))

    metric_of: dict[int, tuple[str, str]] = {}
    python_accs: set[int] = set()
    scan_of: dict[int, tuple[int, str]] = {}  # accumulator id -> (scan key, location)
    for node in nodes:
        metric_of.update(node.metrics)
        if node.metrics and node.name.startswith("Scan "):
            key = min(node.metrics)
            for acc_id in node.metrics:
                scan_of[acc_id] = (key, node.location)
        if any(mark in node.name for mark in _PYTHON_NODE_MARKERS):
            python_accs.update(node.metrics)

    def scan_touched(group: str, acc_id: int) -> None:
        key, location = scan_of[acc_id]
        groups[group].scans.setdefault(key, [location, 0])

    for group, acc_id, update in task_updates:
        if acc_id in scan_of:
            scan_touched(group, acc_id)
        if acc_id in python_accs:
            name, metric_type = metric_of[acc_id]
            if name in PYTHON_METRICS:
                groups[group].python[PYTHON_METRICS[name]] += _metric_value(metric_type, update)
    for exec_id, acc_id, value in driver_updates:
        group = exec_group.get(exec_id)
        if group is None or acc_id not in scan_of:
            continue
        scan_touched(group, acc_id)
        if metric_of[acc_id][0] == "number of files read":
            groups[group].scans[scan_of[acc_id][0]][1] += int(value)
    return groups


def read_event_log(log_dir: str) -> dict[str, GroupTotals]:
    """Totals per job group over the single-file event logs in
    ``log_dir``, written with ``spark.eventLog.rolling.enabled=false``."""

    def events():
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)

    return summarize_events(events())
