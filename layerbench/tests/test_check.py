"""Output checking: a wrong result or a raised error is a failure."""

import duckdb
import pandas as pd
import pytest

from run import MIN_SAMPLES, Runner, check_result, end_to_end, timed_passes
from workloads import Workload

ORACLE = "SELECT k, SUM(v) AS total FROM t GROUP BY k"


class FakeFrame:
    """Stands in for a Spark DataFrame with no timestamp columns."""

    class schema:  # noqa: N801 - mimics DataFrame.schema
        fields = []

    def __init__(self, pdf):
        self.pdf = pdf
        self.write = Chain()

    def toPandas(self):  # noqa: N802 - Spark API
        return self.pdf


class FakeQuery:
    def __init__(self, result, oracle=ORACLE):
        self.result = result
        self.oracle = oracle

    def spark(self, spark, sf_dir):
        if isinstance(self.result, Exception):
            raise self.result
        return FakeFrame(self.result)


class Stub:
    def __getattr__(self, name):
        return lambda *a, **k: None


class Chain:
    """Stands in for ``DataFrame.write``: every call returns itself."""

    def __getattr__(self, name):
        return lambda *a, **k: self


def fake_runner(queries):
    runner = Runner.__new__(Runner)
    runner.w = Workload("w", 0.01, "test", tuple(queries))
    runner.data_dir = "unused"
    runner.queries = queries
    runner.release_spines = lambda: 0
    runner.spark = Stub()
    runner.spark.catalog = Stub()
    runner.sc = Stub()
    runner.listener = None
    runner.spans = []
    runner.released = {}
    return runner


@pytest.fixture
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 2), (1, 3), (2, 5)) v(k, v)")
    yield c
    c.close()


RIGHT = pd.DataFrame({"k": [2, 1], "total": [5, 5]})
WRONG = pd.DataFrame({"k": [1, 2], "total": [5, 6]})


def test_matching_result_passes(con):
    assert check_result(con, "q", ORACLE, RIGHT) is None


def test_wrong_result_is_a_failure(con):
    assert "q" in check_result(con, "q", ORACLE, WRONG)
    assert check_result(con, "q", ORACLE, RIGHT.iloc[:1]) is not None


def test_check_pass_counts_wrong_and_raising_queries(con):
    runner = fake_runner({
        "good": FakeQuery(RIGHT),
        "wrong": FakeQuery(WRONG),
        "raises": FakeQuery(RuntimeError("boom")),
        "no_oracle": FakeQuery(RIGHT, oracle=None),
    })
    _, _, failures = runner.check_pass(["good", "wrong", "raises", "no_oracle"], con)
    assert len(failures) == 3
    assert [f.split(":")[0] for f in failures] == ["[FAIL] wrong", "raises", "no_oracle"]


def test_a_query_raising_in_timed_passes_is_counted_not_fatal():
    runner = fake_runner({
        "good": FakeQuery(RIGHT),
        "raises": FakeQuery(RuntimeError("boom")),
    })
    passes = timed_passes(runner, lambda: ["good", "raises"], seconds=0)
    # passes go on until the successful queries give enough samples
    assert len(passes.latencies) == MIN_SAMPLES
    assert len(passes.raised) == len(passes.walls) == MIN_SAMPLES
    attempted = len(passes.latencies) + len(passes.raised)
    m = end_to_end(passes, 1.0, attempted, len(passes.raised), 1024)
    assert m["ok_ratio"] == (0.5, "ratio")
    assert "query_tail_cpu_s" in m


def test_latency_metrics_are_left_out_when_every_query_raises():
    runner = fake_runner({"raises": FakeQuery(RuntimeError("boom"))})
    passes = timed_passes(runner, lambda: ["raises"], seconds=0)
    assert passes.latencies == [] and len(passes.walls) == 2 * MIN_SAMPLES
    n = len(passes.raised)
    m = end_to_end(passes, 1.0, n, n, 1024)
    assert m["ok_ratio"] == (0.0, "ratio")
    assert "query_p50_cpu_s" not in m and "query_tail_cpu_s" not in m
