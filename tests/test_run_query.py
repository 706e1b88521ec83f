"""``plans.registry.run_query`` — the one registry runner: job groups
per phase, separate build/exec timing, unconditional cleanup, and
errors returned instead of raised."""

from __future__ import annotations

from steam_data_pipeline_spark.operators import caching
from steam_data_pipeline_spark.plans.base import Query
from steam_data_pipeline_spark.plans.registry import QUERIES, run_query
from tests.conftest import SF_SMOKE


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_spine_caching_query_is_released(spark):
    def consume(df):
        _noop(df)
        return len(caching._LIVE)

    run = run_query(spark, "qa_chisq_categorical", SF_SMOKE, consume)
    assert run.error is None
    assert run.result > 0, "the query should register a spine while it runs"
    assert not caching._LIVE


def test_phases_are_timed_and_tagged(spark):
    name = "llm_graph_bfs_hops"
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    run = run_query(spark, name, SF_SMOKE, _noop)
    assert run.error is None and run.name == name
    assert run.build_s > 0 and run.exec_s > 0
    # an eager query launches jobs while it is still building its plan
    assert tracker.getJobIdsForGroup(f"{name}/build")
    assert tracker.getJobIdsForGroup(f"{name}/exec")
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_failing_query_returns_error_and_cleans_up(spark, monkeypatch):
    def boom(spark_, sf_dir):
        caching.spine_cache(spark_.range(3)).count()
        raise RuntimeError("query failed")

    monkeypatch.setitem(QUERIES, "boom", Query("boom", boom, None))
    run = run_query(spark, "boom", SF_SMOKE, _noop)
    assert isinstance(run.error, RuntimeError)
    assert run.result is None and run.build_s > 0 and run.exec_s == 0
    assert not caching._LIVE
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_failing_consumer_returns_error_and_cleans_up(spark):
    def consume(df):
        _noop(df)
        raise ValueError("consumer failed")

    run = run_query(spark, "qa_chisq_categorical", SF_SMOKE, consume)
    assert isinstance(run.error, ValueError)
    assert run.build_s > 0 and run.exec_s > 0
    assert not caching._LIVE
