"""Fold a Spark event log into per-phase execution figures.

A phase is one ``q:<id>:mk`` or ``q:<id>:action`` window of the harness.
Jobs are attributed to a phase by their ``spark.jobGroup.id``; jobs from
threads that do not inherit the group (thread pools inside the engine) are
attributed by submission time to the phase window that contains it.
Streaming progress events are attributed the same way by trigger time.
"""

from __future__ import annotations

import json
from collections import defaultdict
from datetime import datetime

# Spark leaves "sent" at 0 for applyInPandasWithState, so Python traffic is
# sent plus returned, and a Python task is one that reports any worker metric.
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_SQL = "org.apache.spark.sql.execution.ui."
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

FIELDS = (
    "jobs", "tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "py_task_ms", "py_sent_bytes", "join_rows_max", "stream_batches",
    "stream_trigger_ms", "stream_commit_ms",
)


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _num(v) -> float:
    """Accumulable updates are numbers for task metrics and strings for SQL
    metrics."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _iso_ms(ts: str) -> int:
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def _walk(node, out):
    out.append(node)
    for child in node.get("children", []):
        _walk(child, out)
    return out


def _window_at(windows, t_ms: float) -> str | None:
    for label, start, end in windows:
        if start <= t_ms <= end:
            return label
    return None


def fold(events, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Per-phase totals of :data:`FIELDS`.

    ``windows`` is ``[(label, start_ms, end_ms), ...]`` in wall-clock
    milliseconds. Only labels that appear in ``windows`` are reported, so
    the untimed passes that share the log drop out.
    """
    labels = {w[0] for w in windows}
    stage_phase: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    accum: dict[int, float] = defaultdict(float)
    exec_phase: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {l: dict.fromkeys(FIELDS, 0) for l in labels}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            label = group if group in labels else _window_at(windows, e.get("Submission Time", 0))
            if label is None:
                continue
            out[label]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_phase[sid] = label
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_phase.setdefault(int(ex), label)
        elif kind == "SparkListenerTaskEnd":
            label = stage_phase.get(e.get("Stage ID"))
            if label is None:
                continue
            o = out[label]
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            o["tasks"] += 1
            o["failed_tasks"] += 1 if info.get("Failed") else 0
            run_ms = m.get("Executor Run Time", 0)
            o["task_ms"] += run_ms
            o["cpu_ns"] += m.get("Executor CPU Time", 0)
            o["gc_ms"] += m.get("JVM GC Time", 0)
            o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            o["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sql = [a for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"]
            if any("Python workers" in a.get("Name", "") for a in sql):
                o["py_task_ms"] += run_ms
                o["py_sent_bytes"] += sum(
                    _num(a.get("Update")) for a in sql if a.get("Name") in _PY_BYTES)
            for a in sql:
                accum[a["ID"]] += _num(a.get("Update"))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in e.get("accumUpdates", []):
                accum[aid] += _num(val)
        elif kind == _PROGRESS:
            p = e.get("progress") or {}
            label = _window_at(windows, _iso_ms(p["timestamp"])) if p.get("timestamp") else None
            if label is None:
                continue
            d = p.get("durationMs") or {}
            out[label]["stream_batches"] += 1
            out[label]["stream_trigger_ms"] += d.get("triggerExecution", 0)
            out[label]["stream_commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
    for ex, plan in exec_plan.items():
        label = exec_phase.get(ex)
        if label is None:
            continue
        for node in _walk(plan, []):
            name = node.get("nodeName", "")
            if "Join" not in name and "CartesianProduct" not in name:
                continue
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    rows = accum.get(m["accumulatorId"], 0)
                    out[label]["join_rows_max"] = max(out[label]["join_rows_max"], rows)
    return out


def fold_file(path: str, windows) -> dict[str, dict[str, float]]:
    return fold(read_events(path), windows)
