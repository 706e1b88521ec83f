"""Workload membership is fixed by name and every member is checkable."""

import itertools

from workloads import WORKLOADS


def test_every_member_is_registered_with_an_oracle():
    from steam_data_pipeline_spark.plans.registry import QUERIES

    for w in WORKLOADS.values():
        assert w.queries, w.name
        for name in w.queries:
            assert name in QUERIES, f"{w.name}: {name} is not registered"
            assert QUERIES[name].oracle, f"{w.name}: {name} has no oracle"


def test_workloads_are_disjoint_and_without_repeats():
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries), w.name
    for a, b in itertools.combinations(WORKLOADS.values(), 2):
        assert not set(a.queries) & set(b.queries), (a.name, b.name)


def test_fixtures_are_bench_fixtures():
    from steam_data_pipeline_spark.plans.extensions import BENCH_FIXTURES

    known = {f.__name__ for f in BENCH_FIXTURES}
    for w in WORKLOADS.values():
        assert set(w.fixtures) <= known, w.name


def test_every_workload_has_a_reason():
    for w in WORKLOADS.values():
        assert w.reason and "\n" not in w.reason
