"""The event-log parser on a tiny fabricated log."""

import json

import pytest

from eventlog import layer_metrics, parse_event_log

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def job_start(jid, group, stages, t_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


def stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def task_end(sid, accums=(), **metrics):
    tm = {
        "Executor Run Time": metrics.get("run", 0),
        "Executor CPU Time": metrics.get("cpu_ns", 0),
        "JVM GC Time": metrics.get("gc", 0),
        "Peak Execution Memory": metrics.get("peak", 0),
        "Input Metrics": {"Bytes Read": metrics.get("in_b", 0),
                          "Records Read": metrics.get("in_r", 0)},
        "Output Metrics": {"Bytes Written": metrics.get("out_b", 0),
                           "Records Written": metrics.get("out_r", 0)},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                 "Local Bytes Read": metrics.get("sh_r", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sh_w", 0)},
        "Memory Bytes Spilled": 0,
        "Disk Bytes Spilled": metrics.get("spill", 0),
    }
    acc = [{"ID": i, "Name": "x", "Update": str(u)} for i, u in accums]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Accumulables": acc}, "Task Metrics": tm}


def progress(run_id, trigger, planning, add, wal, commit, rows, state_rows, state_ms):
    return {"Event": PROGRESS, "progress": {
        "runId": run_id, "sources": [{"numInputRows": rows}],
        "durationMs": {"triggerExecution": trigger, "queryPlanning": planning,
                       "addBatch": add, "walCommit": wal, "commitOffsets": commit},
        "stateOperators": [{"numRowsTotal": state_rows, "commitTimeMs": state_ms}]}}


PY_NODE = {
    "nodeName": "WholeStageCodegen", "metrics": [
        {"name": "number of output rows", "accumulatorId": 99}],
    "children": [{
        "nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 7},
            {"name": "data returned from Python workers", "accumulatorId": 8},
            {"name": "time to run Python workers", "accumulatorId": 9},
            {"name": "number of output rows", "accumulatorId": 10}]}],
}

EVENTS = [
    # pass 1: q1 launches one eager job while building, one job to execute
    job_start(0, "w/1/q1/build", [0], 1000),
    task_end(0, run=10, cpu_ns=5_000_000, gc=1, in_b=100, in_r=10),
    task_end(0, run=10, cpu_ns=5_000_000, gc=1, in_b=100, in_r=10),
    stage_done(0),
    job_end(0, 1500),
    {"Event": SQL_START, "executionId": 1, "sparkPlanInfo": PY_NODE},
    job_start(1, "w/1/q1/exec", [1, 2], 2000),
    task_end(2, accums=[(7, 40), (8, 30), (9, 5), (10, 3), (99, 1000)],
             run=7, sh_r=11, sh_w=12, peak=64),
    task_end(2, run=3, peak=128),
    stage_done(2),
    job_end(1, 2600),
    # q2's stream runs on its own thread under its runId job group
    job_start(2, "run-a", [3], 3000),
    task_end(3, out_b=64, out_r=2),
    job_end(2, 3100),
    progress("run-a", 100, 20, 50, 5, 6, 7, 3, 4),
    progress("run-a", 80, 10, 40, 5, 5, 1, 5, 2),
    # pass 2: q1 again, no eager job this time
    job_start(3, "w/2/q1/exec", [4], 5000),
    task_end(4, run=9),
    stage_done(4),
    job_end(3, 5200),
    # not part of any span: warm-ups, canaries, unknown streams
    job_start(4, "warmup", [5], 6000),
    task_end(5, run=1000),
    job_start(5, "run-unknown", [6], 6100),
    task_end(6, run=1000),
    progress("run-unknown", 999, 0, 0, 0, 0, 0, 0, 0),
    job_start(6, None, [7], 6200),
    task_end(7, run=1000),
    # the host canary runs under a group of its own, after the last query
    job_start(7, "canary", [8], 6300),
    task_end(8, run=1000, sh_w=5000),
    stage_done(8),
    job_end(7, 6400),
]
RUN_SPANS = {"run-a": "w/1/q2"}


@pytest.fixture
def layers():
    return parse_event_log((json.dumps(e) for e in EVENTS), RUN_SPANS)


def test_jobs_are_attributed_by_job_group(layers):
    assert set(layers) == {"w/1/q1/build", "w/1/q1/exec", "w/1/q2/stream", "w/2/q1/exec"}
    build = layers["w/1/q1/build"]
    assert build["jobs"] == 1 and build["stages"] == 1 and build["tasks"] == 2
    assert build["run_ms"] == 20 and build["cpu_ms"] == 10 and build["gc_ms"] == 2
    assert build["input_bytes"] == 200 and build["input_records"] == 20
    assert build["job_wall_s"] == pytest.approx(0.5)
    ex = layers["w/1/q1/exec"]
    assert ex["jobs"] == 1 and ex["tasks"] == 2 and ex["run_ms"] == 10
    assert ex["shuffle_read_bytes"] == 11 and ex["shuffle_write_bytes"] == 12
    assert ex["peak_exec_mem_bytes"] == 128


def test_python_boundary_metrics_come_from_python_nodes_only(layers):
    ex = layers["w/1/q1/exec"]
    assert ex["python_sent"] == 40 and ex["python_received"] == 30
    assert ex["python_run_ms"] == 5
    assert ex["python_rows"] == 3  # not the codegen node's 1000 output rows


def test_stream_jobs_and_progress_follow_the_run_id(layers):
    st = layers["w/1/q2/stream"]
    assert st["jobs"] == 1 and st["tasks"] == 1
    assert st["output_bytes"] == 64 and st["output_records"] == 2
    assert st["batches"] == 2 and st["input_rows"] == 8
    assert st["trigger_ms"] == 180 and st["planning_ms"] == 30
    assert st["add_batch_ms"] == 90 and st["commit_ms"] == 21
    assert st["state_commit_ms"] == 6
    assert st["state_rows"] == 5  # the latest level, not a sum over batches


def test_layer_metrics_are_medians_of_per_pass_totals(layers):
    spans = [
        {"name": "w/1/q1/build", "start": 0.0, "end": 2.0},
        {"name": "w/1/q1/exec", "start": 2.0, "end": 2.6},
        {"name": "w/1/q2/build", "start": 3.0, "end": 3.5},
        {"name": "w/1/q2/exec", "start": 3.5, "end": 3.6},
        {"name": "w/2/q1/build", "start": 4.0, "end": 4.25},
        {"name": "w/2/q1/exec", "start": 5.0, "end": 5.25},
        {"name": "w/1/q1", "start": 0.0, "end": 2.6},
    ]
    m = layer_metrics(layers, spans, {1: 2, 2: 0}, [1, 2])
    assert m["plans.eager_jobs"] == (0.5, "count")  # median of 1 and 0
    assert m["operators.jobs"] == (1.0, "count")
    assert m["streaming.batches"] == (1.0, "count")
    # pass 1 build self time: 2.0 + 0.5 - 0.5 eager - 0.18 stream
    assert m["plans.build_s"][0] == pytest.approx((1.82 + 0.25) / 2)
    assert m["operators.exec_s"][0] == pytest.approx((0.7 + 0.25) / 2)
    assert m["caching.spines_released"] == (1.0, "count")
    assert m["python.exec_s"][0] == pytest.approx(0.0025)
