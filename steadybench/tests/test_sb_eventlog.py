import json
import os

import eventlog as el
import pytest

DATA = os.path.join(os.path.dirname(__file__), "data", "sessionize_eventlog.jsonl")
SQL = "org.apache.spark.sql.execution.ui."


def _task(stage, run_ms, failed=False, out_bytes=0, py_sent=None, acc=()):
    accs = [{"ID": i, "Name": "number of output rows", "Update": str(v), "Metadata": "sql",
             "Internal": True} for i, v in acc]
    if py_sent is not None:
        accs.append({"ID": 99, "Name": "data sent to Python workers", "Update": str(py_sent),
                     "Metadata": "sql", "Internal": True})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed, "Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 100},
                             "Output Metrics": {"Bytes Written": out_bytes},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}}


def _job(jid, t, stages, group=None, execution=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def test_fold_attributes_by_group_then_by_time():
    events = [
        _job(0, 1500, [0], group="q:a:mk#2"),
        _job(1, 1600, [1]),  # engine thread pool: no group, inside a's mk window
        _job(2, 2500, [2], group="q:a:action#2", execution=7),
        _job(3, 9000, [3], group="q:a:mk#0"),  # a warm-up pass: not in any window
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7, "sparkPlanInfo": {
            "nodeName": "HashAggregate", "metrics": [], "children": [
                {"nodeName": "SortMergeJoin", "children": [],
                 "metrics": [{"name": "number of output rows", "accumulatorId": 41}]},
                {"nodeName": "BroadcastHashJoin", "children": [],
                 "metrics": [{"name": "number of output rows", "accumulatorId": 42}]}]}},
        _task(0, 10),
        _task(1, 20, failed=True, out_bytes=1000),
        _task(2, 30, acc=[(41, 60), (42, 5)], py_sent=256),
        _task(2, 40, acc=[(41, 40)]),
        _task(3, 1000),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[42, 500]]},
        {"Event": el._PROGRESS, "progress": {"timestamp": "1970-01-01T00:00:01.700Z",
                                             "durationMs": {"triggerExecution": 90,
                                                            "commitOffsets": 4, "walCommit": 3}}},
    ]
    out = el.fold(events, [("q:a:mk#2", 1000, 2000), ("q:a:action#2", 2000, 3000)])
    mk, act = out["q:a:mk#2"], out["q:a:action#2"]
    assert (mk["jobs"], mk["tasks"], mk["failed_tasks"], mk["task_ms"]) == (2, 2, 1, 30)
    assert mk["output_bytes"] == 1000 and mk["input_bytes"] == 200
    assert (mk["stream_batches"], mk["stream_trigger_ms"], mk["stream_commit_ms"]) == (1, 90, 7)
    assert (act["jobs"], act["tasks"], act["task_ms"]) == (1, 2, 70)
    assert act["shuffle_read_bytes"] == 24 and act["shuffle_write_bytes"] == 22
    assert act["spill_bytes"] == 6 and act["cpu_ns"] == 70 * 10**6
    assert (act["py_task_ms"], act["py_sent_bytes"]) == (30, 256)
    # join rows: SMJ 60+40 from tasks, BHJ 5 from a task + 500 from the driver
    assert act["join_rows_max"] == 505
    assert set(out) == {"q:a:mk#2", "q:a:action#2"}


def test_fold_over_a_recorded_log():
    events = list(el.read_events(DATA))
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    t0 = min(e["Submission Time"] for e in starts)
    groups = {e["Properties"].get("spark.jobGroup.id") for e in starts} - {None}
    mk = next(g for g in groups if ":mk#" in g)
    action = next(g for g in groups if ":action#" in g)
    t_act = min(e["Submission Time"] for e in starts
                if e["Properties"].get("spark.jobGroup.id") == action)
    out = el.fold(events, [(mk, t0 - 1, t_act - 1), (action, t_act - 1, t_act + 10**6)])
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert out[mk]["jobs"] + out[action]["jobs"] == len(starts)
    assert out[mk]["tasks"] + out[action]["tasks"] == len(tasks)
    assert out[mk]["task_ms"] + out[action]["task_ms"] == sum(
        t["Task Metrics"]["Executor Run Time"] for t in tasks)
    assert out[mk]["failed_tasks"] == out[action]["failed_tasks"] == 0
    # the sessionize micro-batch runs inside mk: one availableNow batch
    # through applyInPandasWithState, so Python bytes are sent
    assert out[mk]["stream_batches"] == 1
    assert out[mk]["stream_trigger_ms"] > 0
    assert out[mk]["py_sent_bytes"] > 0 and out[mk]["py_task_ms"] > 0
    json.dumps(out)


def test_unparseable_updates_count_as_zero():
    assert el._num("12") == 12.0
    assert el._num(None) == 0.0
    assert el._num("n/a") == pytest.approx(0.0)
