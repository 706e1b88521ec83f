"""Layered benchmark of the query engine.

    python3 layerbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process drives one Spark session on
``local[N]`` (N = min(4, cores)) as a closed loop with one client: one
query at a time, each built with ``Query.spark`` and executed with a
``noop`` write. A run is

1. set-up (``setup_s``): library import and session start, the
   workload's ``BENCH_FIXTURES``, and a warm-up pass that also checks
   every query's output against its DuckDB oracle (the oracle's own
   time is excluded);
2. timed passes over the workload's queries, each in an order drawn
   from ``--seed``, until ``--seconds`` is spent (at least enough
   passes for 11 latency samples).

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the run then restarts the Spark context in the same
JVM with Spark's event log on, runs one untimed and three traced
passes, and the last line carries the per-layer metrics of those traced
passes (see ``layerbench/README.md``). Inputs are the repository's
sf0.01 test tables, kept as byte copies in ``layerbench/data`` and
checked against ``SHA256SUMS`` before each run; everything a run writes
goes to ``layerbench/.work/run-<pid>`` and is removed when it ends, except
a traced run's spans and layer counters, kept in
``layerbench/.work/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

from workloads import WORKLOADS, Workload  # noqa: E402

MIN_SAMPLES = 11  # the tail percentile needs 10 samples beyond it
HEAP = "2g"  # the driver JVM's heap


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it.

    Returns ``(percentile, value)``: with ``n`` samples sorted
    ascending, the value at index ``n - 11`` has exactly ten samples
    after it, and ``100 * (n - 10) / n`` percent of the samples at or
    below it."""
    n = len(samples)
    if n < MIN_SAMPLES:
        raise ValueError(f"need at least {MIN_SAMPLES} samples, got {n}")
    return 100.0 * (n - 10) / n, sorted(samples)[n - MIN_SAMPLES]


def data_dir(sf: float) -> str:
    """The input tables at scale factor ``sf``, after checking each
    file against the directory's ``SHA256SUMS``."""
    out = os.path.join(BENCH_DIR, "data", f"sf{sf}")
    with open(os.path.join(out, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(out, name), "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    raise RuntimeError(f"{name} does not match SHA256SUMS")
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class MemorySampler:
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers), sampled every 0.2 s. Each process counts its
    proportional set size, so pages that forked Python workers share
    with their parent are counted once. ``peak_parts_kb`` splits the
    peak by process name (``java``, ``python3``, ...)."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.peak_parts_kb: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        parts: dict[str, int] = {}
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            parts[name] = parts.get(name, 0) + int(line.split()[1])
                            break
            except OSError:
                continue
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts_kb = total, parts

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants
    (including children they have reaped). Time the hypervisor gives
    to other guests (steal) is not charged to a process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: the share of time
    the hypervisor ran someone else while this VM wanted a CPU."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def canary_s(spark) -> float:
    """The fixed pure-JVM host canary of ``bench.py``: a range sum over
    a 1024-key hash shuffle, no Python workers, no disk. Its jobs get a
    group of their own, so that no query span is charged for them."""
    spark.sparkContext.setJobGroup("canary", "host canary")
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).selectExpr("id % 1024 AS k", "id AS v").groupBy(
        "k"
    ).agg({"v": "sum"}).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Runner:
    """Drives one workload in one Spark session."""

    def __init__(self, workload: Workload, data_dir: str) -> None:
        from steam_data_pipeline_spark.operators.caching import release_spines
        from steam_data_pipeline_spark.plans.registry import QUERIES
        from steam_data_pipeline_spark.session import get_spark

        self.w = workload
        self.data_dir = data_dir
        self.queries = QUERIES
        self.release_spines = release_spines
        self.get_spark = get_spark
        self.spark = get_spark(f"layerbench-{workload.name}")
        self.sc = self.spark.sparkContext
        self.listener = None
        self.spans: list[dict] = []
        self.released: dict[int, int] = {}

    def restart(self, confs: dict[str, str], listener) -> None:
        """Stop the session and start a new one in the same JVM with
        extra ``confs`` (read by the new SparkConf from JVM system
        properties); spans start afresh and ``listener`` sees its
        streams."""
        jvm = self.sc._jvm
        self.spark.stop()
        for k, v in confs.items():
            jvm.java.lang.System.setProperty(k, v)
        self.spark = self.get_spark(f"layerbench-{self.w.name}-traced")
        self.sc = self.spark.sparkContext
        self.spark.streams.addListener(listener)
        self.listener = listener
        self.spans = []
        self.released = {}

    def build_fixtures(self) -> float:
        from steam_data_pipeline_spark.plans.extensions import BENCH_FIXTURES

        by_name = {f.__name__: f for f in BENCH_FIXTURES}
        t0 = time.perf_counter()
        for name in self.w.fixtures:
            by_name[name](self.spark, self.data_dir)
        return time.perf_counter() - t0

    def _span(self, name: str, parent: str, t0: float, t1: float) -> None:
        self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})

    def build(self, pass_no: int, name: str):
        """``Query.spark`` under the build job group; returns the plan
        and the build span's start and end."""
        qspan = f"{self.w.name}/{pass_no}/{name}"
        if self.listener is not None:
            self.listener.current = qspan
        self.sc.setJobGroup(f"{qspan}/build", name)
        t0 = time.time()
        df = self.queries[name].spark(self.spark, self.data_dir)
        t1 = time.time()
        self._span(f"{qspan}/build", qspan, t0, t1)
        return df, t0, t1

    def cleanup(self, pass_no: int) -> None:
        self.released[pass_no] = self.released.get(pass_no, 0) + self.release_spines()
        self.spark.catalog.clearCache()

    def run_query(self, pass_no: int, name: str) -> tuple[float, float]:
        """Build and execute one query; returns its latency (build +
        exec) as wall seconds and as CPU seconds of the process tree."""
        qspan = f"{self.w.name}/{pass_no}/{name}"
        c0 = tree_cpu_s()
        df, b0, b1 = self.build(pass_no, name)
        self.sc.setJobGroup(f"{qspan}/exec", name)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        cpu = tree_cpu_s() - c0
        self._span(f"{qspan}/exec", qspan, t0, t1)
        self._span(qspan, f"{self.w.name}/{pass_no}", b0, t1)
        self.cleanup(pass_no)
        return (b1 - b0) + (t1 - t0), cpu

    def check_pass(self, order: list[str], con) -> tuple[float, float, list[str]]:
        """Warm-up pass that checks each query's output against its
        DuckDB oracle. Returns the wall and CPU seconds the oracle's run
        and the comparisons took (set-up excludes them) and the
        failures."""
        from steam_data_pipeline_spark.difftest import _epoch_str_spark

        oracle_s, oracle_cpu, failures = 0.0, 0.0, []
        for name in order:
            try:
                df, _, _ = self.build(0, name)
                self.sc.setJobGroup(f"{self.w.name}/0/{name}/exec", name)
                got = _epoch_str_spark(df).toPandas()
            except Exception as e:  # noqa: BLE001 - counted, reported
                failures.append(f"{name}: raised {type(e).__name__}: {e}"[:300])
                self.cleanup(0)
                continue
            self.cleanup(0)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            error = check_result(con, name, self.queries[name].oracle, got)
            oracle_s += time.perf_counter() - t0
            oracle_cpu += tree_cpu_s() - c0
            if error is not None:
                failures.append(error)
        return oracle_s, oracle_cpu, failures

    def warm_pass(self, order: list[str]) -> list[str]:
        """An untimed pass under pass number 0; returns the failures."""
        failures = []
        for name in order:
            try:
                self.run_query(0, name)
            except Exception as e:  # noqa: BLE001 - counted, reported
                failures.append(f"{name}: raised {type(e).__name__}: {e}"[:300])
                self.cleanup(0)
        return failures

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        Python worker it started have ended."""
        from pyspark import SparkContext

        pids = process_tree(os.getpid())[1:]
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
            wait_gone(pids)


def check_result(con, name: str, oracle_sql: str | None, got) -> str | None:
    """Compare one query's Spark output with its oracle; returns a
    failure message, or None when they match."""
    from steam_data_pipeline_spark.difftest import _epoch_str_oracle, compare_frames

    if oracle_sql is None:
        return f"{name}: no oracle"
    try:
        want = con.execute(_epoch_str_oracle(con, oracle_sql)).df()
    except Exception as e:  # noqa: BLE001 - counted, reported
        return f"{name}: oracle raised {type(e).__name__}: {e}"[:300]
    res = compare_frames(name, got, want)
    return None if res.ok else str(res)[:300]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended, reaping this
    process's own children; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if not killed and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


@dataclass
class Passes:
    """Timed passes of one session. ``stolen`` is the wall time each
    pass lost to host steal: the host's steal ticks over the pass,
    spread over its CPUs."""

    walls: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    stolen: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    cpu_latencies: list[float] = field(default_factory=list)
    per_query: dict[str, list[float]] = field(default_factory=dict)
    raised: list[str] = field(default_factory=list)


def stolen_s(steal0: tuple[int, int], steal1: tuple[int, int]) -> float:
    """Wall seconds lost to host steal between two ``cpu_steal_ticks``
    readings: the steal ticks over every CPU, divided by the CPUs."""
    return (steal1[0] - steal0[0]) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() or 1)


def timed_passes(
    runner: Runner, orders, seconds: float, min_samples: int = MIN_SAMPLES
) -> Passes:
    """Whole passes until ``seconds`` would be overrun, and at least
    three passes and ``min_samples`` latency samples. A query that
    raises gives no sample, so passes go on until the samples are
    there, but no further than twice the passes they would need
    without failures."""
    n = len(runner.w.queries)
    min_passes = max(3, math.ceil(min_samples / n))
    out = Passes(per_query={name: [] for name in runner.w.queries})
    t_window = time.perf_counter()
    while True:
        pass_no = len(out.walls) + 1
        c0, s0 = tree_cpu_s(), cpu_steal_ticks()
        t0 = time.perf_counter()
        for name in orders():
            try:
                wall, cpu = runner.run_query(pass_no, name)
                out.latencies.append(wall)
                out.cpu_latencies.append(cpu)
                out.per_query[name].append(wall)
            except Exception as e:  # noqa: BLE001 - counted, reported
                out.raised.append(f"{name}: raised {type(e).__name__}: {e}"[:300])
                runner.cleanup(pass_no)
        out.walls.append(time.perf_counter() - t0)
        out.cpu.append(tree_cpu_s() - c0)
        out.stolen.append(stolen_s(s0, cpu_steal_ticks()))
        spent = time.perf_counter() - t_window
        done = spent + statistics.median(out.walls) > seconds
        enough = len(out.walls) >= min_passes and len(out.latencies) >= min_samples
        if (enough and done) or len(out.walls) >= 2 * min_passes and not enough:
            return out


def end_to_end(
    passes: Passes, setup_cpu: float, attempted: int, failed: int, peak_kb: float
) -> dict[str, tuple[float, str]]:
    """The gated metrics of an untraced run. A latency metric that has
    too few samples to be defined (every query raised, or fewer than
    ``MIN_SAMPLES`` succeeded) is left out; ``ok_ratio`` shows why."""
    out = {
        "warm_pass_cpu_s": (statistics.median(passes.cpu), "s"),
        "setup_s": (setup_cpu, "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (peak_kb / 1024, "MB"),
    }
    if passes.cpu_latencies:
        out["query_p50_cpu_s"] = (statistics.median(passes.cpu_latencies), "s")
    if len(passes.cpu_latencies) >= MIN_SAMPLES:
        out["query_tail_cpu_s"] = (tail_percentile(passes.cpu_latencies)[1], "s")
    return out


def run(args, work: str) -> dict:
    w = WORKLOADS[args.workload]
    data = data_dir(w.sf)
    rng = random.Random(args.seed)
    orders = lambda: rng.sample(w.queries, len(w.queries))  # noqa: E731

    steal0 = cpu_steal_ticks()
    t_start, c_start = time.perf_counter(), tree_cpu_s()
    with MemorySampler() as rss:
        runner = Runner(w, data)
        try:
            session_s = time.perf_counter() - t_start
            fixtures_s = runner.build_fixtures()

            from steam_data_pipeline_spark.difftest import duckdb_connect

            t_check = time.perf_counter()
            con = duckdb_connect(data)
            oracle_s, oracle_cpu, failures = runner.check_pass(orders(), con)
            con.close()
            # the JIT is still compiling after one pass: warm up once more
            failures += runner.warm_pass(orders())
            check_s = time.perf_counter() - t_check - oracle_s
            setup_s = time.perf_counter() - t_start - oracle_s
            setup_cpu = tree_cpu_s() - c_start - oracle_cpu
            passes = timed_passes(runner, orders, args.seconds)
        except BaseException:
            runner.stop()
            raise
    try:
        if args.trace:
            traced, metrics, trace_detail = traced_session(
                runner, orders, work, args.seed
            )
    finally:
        runner.stop()
    steal1 = cpu_steal_ticks()

    attempted = 2 * len(w.queries) + len(passes.latencies) + len(passes.raised)
    failed = len(failures) + len(passes.raised)
    wall = {
        "setup_s": setup_s,
        "warm_pass_s": statistics.median(passes.walls),
        "warm_pass_net_s": statistics.median(
            x - y for x, y in zip(passes.walls, passes.stolen)
        ),
    }
    if passes.latencies:
        wall["query_p50_s"] = statistics.median(passes.latencies)
    pct = None
    if len(passes.latencies) >= MIN_SAMPLES:
        pct, wall["query_tail_s"] = tail_percentile(passes.latencies)
    detail = {
        "workload": w.name,
        "sf": w.sf,
        "seed": args.seed,
        "passes": len(passes.walls),
        "pass_walls_s": [round(x, 4) for x in passes.walls],
        "pass_stolen_s": [round(x, 4) for x in passes.stolen],
        "pass_cpu_s": [round(x, 3) for x in passes.cpu],
        "latency_samples": len(passes.latencies),
        "tail_percentile": pct and round(pct, 2),
        "wall": {k: round(v, 4) for k, v in wall.items()},
        "query_median_s": {
            k: round(statistics.median(v), 4) for k, v in passes.per_query.items() if v
        },
        "setup_parts_s": {
            "session": round(session_s, 3),
            "fixtures": round(fixtures_s, 3),
            "warmup_check_pass": round(check_s, 3),
            "oracle_excluded": round(oracle_s, 3),
        },
        "host_steal_pct": round(
            100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2
        ),
        "peak_rss_parts_mb": {
            k: round(v / 1024, 1) for k, v in rss.peak_parts_kb.items()
        },
        "failures": failures + passes.raised,
    }
    if not args.trace:
        metrics = end_to_end(passes, setup_cpu, attempted, failed, rss.peak_kb)
    else:
        attempted += len(w.queries) + len(traced.latencies) + len(traced.raised)
        failed += len(traced.raised)
        detail["failures"] += traced.raised
        metrics.update({f"wall.{k}": (v, "s") for k, v in wall.items()})
        metrics.update(
            {
                "session.start_s": (session_s, "s"),
                "fixtures.build_s": (fixtures_s, "s"),
                "trace.overhead_ratio": (
                    statistics.median(traced.walls) / wall["warm_pass_s"],
                    "ratio",
                ),
            }
        )
        detail["traced"] = trace_detail
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "detail": detail,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_session(runner: Runner, orders, work: str, seed: int):
    """Restart the Spark context in the same JVM with the event log on,
    warm it with one untimed pass, run the traced passes and attribute
    the event log to them. The JVM keeps its JIT state across the
    restart, so the traced passes are compared with the untraced passes
    that ran just before them in the same process."""
    from eventlog import RunIdListener, layer_metrics, read_event_log

    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    listener = RunIdListener()
    runner.restart(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
        listener,
    )
    runner.build_fixtures()
    warm_failures = runner.warm_pass(orders())
    canary = [canary_s(runner.spark)]
    # the layer counters repeat pass to pass: three passes give their median
    traced = timed_passes(runner, orders, 0, min_samples=0)
    traced.raised += warm_failures
    canary.append(canary_s(runner.spark))
    runner.spark.stop()  # flushes and closes the event log
    (log,) = os.listdir(events)
    layers = read_event_log(os.path.join(events, log), listener.run_spans)
    metrics = layer_metrics(
        layers, runner.spans, runner.released, list(range(1, len(traced.walls) + 1))
    )
    metrics["host.canary_s"] = (statistics.mean(canary), "s")
    detail = {
        "pass_walls_s": [round(x, 4) for x in traced.walls],
        "canary_s": [round(x, 4) for x in canary],
    }
    out = os.path.join(BENCH_DIR, ".work", f"trace-{runner.w.name}-seed{seed}.json")
    with open(out, "w") as fh:
        json.dump({"detail": detail, "layers": layers, "spans": runner.spans}, fh)
    return traced, metrics, detail


def configure_env(work: str) -> None:
    """Keep every file Spark and the library write inside ``work``, and
    size the session: ``local[N]`` with N = min(4, cores), a fixed heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # the heap is reserved at full size: left to grow, G1 sizes it by
    # how long its pauses take, so peak memory followed host steal
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "steam_data_pipeline_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    configure_env(work)
    try:
        result = run(args, work)
    finally:
        wait_gone(process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
        # the library ships itself to Python workers from a fixed /tmp path
        zpath = f"/tmp/steam_data_pipeline_spark-{os.getpid()}.zip"
        if os.path.exists(zpath):
            os.remove(zpath)
    detail = result.pop("detail")
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
