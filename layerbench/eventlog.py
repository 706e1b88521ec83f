"""Per-layer attribution of a traced benchmark run.

A traced run tags every Spark job with a job group named after the span
that launched it, ``<workload>/<pass>/<query>/<build|exec>``, and keeps
a :class:`RunIdListener` that maps each streaming query's ``runId`` to
the query span that started it: stream micro-batch jobs run on the
stream's own thread and carry the ``runId`` as their job group, not the
caller's. After the session stops, :func:`parse_event_log` reads Spark's
(uncompressed, non-rolling) event log and sums task metrics, the SQL
metrics of Python-boundary plan nodes and streaming progress per span.

The parser is pure Python over JSON lines, so it is unit-tested on a
fabricated log without Spark.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Iterable

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric names that every Python-evaluating plan node carries
# (ArrowEvalPython, FlatMapGroupsInPandas, MapInArrow, MapInPandas, ...)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_ROWS = "number of output rows"

KINDS = ("build", "exec", "stream")


class RunIdListener(StreamingQueryListener):
    """Map each streaming query's ``runId`` to the query span active
    when it started. ``current`` is set by the benchmark loop before
    each query's build; ``onQueryStarted`` fires while ``start()`` is
    still running on the caller, so the span is the starting query."""

    def __init__(self) -> None:
        self.current: str | None = None
        self.run_spans: dict[str, str] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API
        if self.current is not None:
            self.run_spans[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:  # noqa: N802 - Spark API
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802 - Spark API
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 - Spark API
        pass


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Collect accumulator ids of the Python-boundary metrics of every
    plan node that sends data to Python workers."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        for name, key in (
            (PY_SENT, "python_sent"),
            (PY_RECEIVED, "python_received"),
            (PY_RUN_MS, "python_run_ms"),
            (PY_ROWS, "python_rows"),
        ):
            if name in metrics:
                out[int(metrics[name])] = key
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def parse_event_log(lines: Iterable[str], run_spans: dict[str, str]) -> dict[str, dict]:
    """Sum per-span layer counters from Spark event-log JSON lines.

    Returns ``{span: counters}`` where ``span`` is a job group
    ``<workload>/<pass>/<query>/<kind>``; streaming jobs and progress
    are filed under ``<query span>/stream`` through ``run_spans``
    (``runId`` -> ``<workload>/<pass>/<query>``). Jobs whose group is
    neither a span nor a known ``runId`` are ignored (warm-ups,
    canaries). Counters: ``jobs stages tasks run_ms cpu_ms gc_ms
    shuffle_read_bytes shuffle_write_bytes spill_bytes
    peak_exec_mem_bytes input_bytes input_records output_bytes
    output_records python_sent python_received python_rows
    python_run_ms job_wall_s`` and, for streams, ``batches input_rows
    trigger_ms planning_ms add_batch_ms commit_ms state_rows
    state_commit_ms``.
    """
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_span: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    state_rows: dict[str, dict[str, float]] = defaultdict(dict)

    def span_of_group(group: str | None) -> str | None:
        if not group:
            return None
        if group in run_spans:
            return f"{run_spans[group]}/stream"
        if group.rsplit("/", 1)[-1] in KINDS and group.count("/") == 3:
            return group
        return None

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            span = span_of_group((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if span is None:
                continue
            jid = ev["Job ID"]
            job_span[jid] = span
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            layers[span]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                end = ev.get("Completion Time", 0) / 1000.0
                job_intervals[job_span[jid]].append((job_start[jid], end))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            span = job_span.get(stage_job.get(sid, -1))
            if span is not None:
                layers[span]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = job_span.get(stage_job.get(ev["Stage ID"], -1))
            if span is None:
                continue
            lay = layers[span]
            lay["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            lay["run_ms"] += tm.get("Executor Run Time", 0)
            lay["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            lay["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            lay["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            lay["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            lay["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            lay["peak_exec_mem_bytes"] = max(
                lay["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
            )
            inp = tm.get("Input Metrics") or {}
            lay["input_bytes"] += inp.get("Bytes Read", 0)
            lay["input_records"] += inp.get("Records Read", 0)
            out = tm.get("Output Metrics") or {}
            lay["output_bytes"] += out.get("Bytes Written", 0)
            lay["output_records"] += out.get("Records Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = py_acc.get(acc.get("ID"))
                if key is not None:
                    lay[key] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            prog = ev["progress"]
            qspan = run_spans.get(str(prog.get("runId")))
            if qspan is None:
                continue
            lay = layers[f"{qspan}/stream"]
            dur = prog.get("durationMs") or {}
            lay["batches"] += 1
            # the logged progress keeps rows per source, not the total
            lay["input_rows"] += sum(
                src.get("numInputRows", 0) for src in prog.get("sources") or []
            )
            lay["trigger_ms"] += dur.get("triggerExecution", 0)
            lay["planning_ms"] += dur.get("queryPlanning", 0)
            lay["add_batch_ms"] += dur.get("addBatch", 0)
            lay["commit_ms"] += dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
            ops = prog.get("stateOperators") or []
            lay["state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in ops)
            # state size is a level, not a flow: keep each run's latest
            state_rows[qspan][str(prog.get("runId"))] = sum(
                op.get("numRowsTotal", 0) for op in ops
            )
    for qspan, per_run in state_rows.items():
        layers[f"{qspan}/stream"]["state_rows"] = sum(per_run.values())
    for span, ivs in job_intervals.items():
        layers[span]["job_wall_s"] = _interval_union(ivs)
    return {k: dict(v) for k, v in layers.items()}


def read_event_log(path: str, run_spans: dict[str, str]) -> dict[str, dict]:
    with open(path) as fh:
        return parse_event_log(fh, run_spans)


# per-layer metrics: (name, unit, span kind, counter); each value is
# the median over timed passes of the per-pass sum
LAYER_COUNTERS = (
    ("sources.input_bytes", "bytes", None, "input_bytes"),
    ("sources.input_records", "count", None, "input_records"),
    ("plans.eager_jobs", "count", "build", "jobs"),
    ("plans.eager_tasks", "count", "build", "tasks"),
    ("plans.eager_s", "s", "build", "job_wall_s"),
    ("operators.jobs", "count", "exec", "jobs"),
    ("operators.stages", "count", "exec", "stages"),
    ("operators.tasks", "count", "exec", "tasks"),
    ("operators.run_ms", "ms", "exec", "run_ms"),
    ("operators.cpu_ms", "ms", "exec", "cpu_ms"),
    ("operators.gc_ms", "ms", "exec", "gc_ms"),
    ("operators.shuffle_read_bytes", "bytes", "exec", "shuffle_read_bytes"),
    ("operators.shuffle_write_bytes", "bytes", "exec", "shuffle_write_bytes"),
    ("operators.spill_bytes", "bytes", "exec", "spill_bytes"),
    ("python.bytes_sent", "bytes", None, "python_sent"),
    ("python.bytes_received", "bytes", None, "python_received"),
    ("python.rows_received", "count", None, "python_rows"),
    ("streaming.batches", "count", "stream", "batches"),
    ("streaming.input_rows", "count", "stream", "input_rows"),
    ("streaming.trigger_ms", "ms", "stream", "trigger_ms"),
    ("streaming.planning_ms", "ms", "stream", "planning_ms"),
    ("streaming.add_batch_ms", "ms", "stream", "add_batch_ms"),
    ("streaming.commit_ms", "ms", "stream", "commit_ms"),
    ("streaming.state_rows", "count", "stream", "state_rows"),
    ("streaming.state_commit_ms", "ms", "stream", "state_commit_ms"),
    ("upsert.bytes_written", "bytes", None, "output_bytes"),
    ("upsert.records_written", "count", None, "output_records"),
)


def per_pass(
    layers: dict[str, dict], kind: str | None, counter: str, how=sum
) -> dict[int, float]:
    """Combine one counter over every span of each pass (``kind`` None
    means build, exec and stream spans alike)."""
    vals: dict[int, list[float]] = defaultdict(list)
    for span, lay in layers.items():
        _, pass_no, _, span_kind = span.split("/")
        if kind is None or span_kind == kind:
            vals[int(pass_no)].append(lay.get(counter, 0.0))
    return {p: how(v) for p, v in vals.items()}


def layer_metrics(
    layers: dict[str, dict],
    spans: list[dict],
    released: dict[int, int],
    passes: list[int],
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the timed ``passes``: the median over
    passes of each pass's total."""
    def med(by_pass: dict[int, float]) -> float:
        return statistics.median(by_pass.get(p, 0.0) for p in passes)

    out: dict[str, tuple[float, str]] = {}
    for name, unit, kind, counter in LAYER_COUNTERS:
        out[name] = (med(per_pass(layers, kind, counter)), unit)
    out["operators.peak_exec_mem_bytes"] = (
        med(per_pass(layers, "exec", "peak_exec_mem_bytes", how=max)),
        "bytes",
    )
    out["python.exec_s"] = (med(per_pass(layers, None, "python_run_ms")) / 1000.0, "s")
    build_s: dict[int, float] = defaultdict(float)
    exec_s: dict[int, float] = defaultdict(float)
    for sp in spans:
        parts = sp["name"].split("/")
        if len(parts) != 4:
            continue
        target = build_s if parts[3] == "build" else exec_s
        target[int(parts[1])] += sp["end"] - sp["start"]
    # build self time: the build span minus the eager jobs it waited on
    # and the streams it ran to completion
    eager = per_pass(layers, "build", "job_wall_s")
    streams = per_pass(layers, "stream", "trigger_ms")
    out["plans.build_s"] = (
        med({
            p: build_s[p] - eager.get(p, 0.0) - streams.get(p, 0.0) / 1000.0
            for p in build_s
        }),
        "s",
    )
    out["operators.exec_s"] = (med(exec_s), "s")
    out["caching.spines_released"] = (med(released), "count")
    return out
