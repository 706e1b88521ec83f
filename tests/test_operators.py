"""Unit + property tests for the operator library (SURVEY.md §5)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row, functions as F

from steam_data_pipeline_spark.operators.relational import (
    dedup_last_writer,
    union_distinct_sort,
)
from steam_data_pipeline_spark.operators.windows import (
    island_intervals,
    islands,
    latest_per_key,
    trailing_avg,
)


def _ts(i: int) -> datetime:
    return datetime(2024, 1, 1) + timedelta(hours=i)


class TestUnionDistinctSort:
    def test_string_sort_order(self, spark):
        """The reference sorts *string* keys: '10' < '9' (main.py:421,254)."""
        a = spark.createDataFrame([("9",), ("10",)], "app_id string")
        b = spark.createDataFrame([("2",), ("10",)], "app_id string")
        got = [r.app_id for r in union_distinct_sort(a, b).collect()]
        assert got == ["10", "2", "9"]

    def test_idempotent_and_commutative(self, spark):
        a = spark.createDataFrame([(str(i),) for i in range(20)], "app_id string")
        b = spark.createDataFrame([(str(i),) for i in range(10, 30)], "app_id string")
        ab = union_distinct_sort(a, b).collect()
        ba = union_distinct_sort(b, a).collect()
        aa = union_distinct_sort(
            spark.createDataFrame(ab), spark.createDataFrame(ba)
        ).collect()
        assert ab == ba == aa


class TestDedupLastWriter:
    def test_keeps_max_version(self, spark):
        df = spark.createDataFrame(
            [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "only")],
            "k string, v int, payload string",
        )
        got = {r.k: r.payload for r in dedup_last_writer(df, "k", ["v"]).collect()}
        assert got == {"a": "new", "b": "only"}


class TestIslands:
    def _run(self, spark, flags: list[int]):
        rows = [Row(k="x", ts=_ts(i), flag=v) for i, v in enumerate(flags)]
        df = spark.createDataFrame(rows)
        return island_intervals(df, "k", "ts", F.col("flag") == 1).orderBy("start_ts")

    @pytest.mark.parametrize(
        "flags,expected_islands",
        [
            ([1, 1, 0, 1], 2),        # island at start
            ([0, 1, 1, 0], 1),        # interior island
            ([0, 0, 1], 1),           # island at end
            ([1], 1),                 # single-point island
            ([0, 0, 0], 0),           # no islands
            ([1, 0, 1, 0, 1], 3),     # alternating single points
            ([1, 1, 1, 1], 1),        # all flagged
        ],
    )
    def test_island_counts(self, spark, flags, expected_islands):
        got = self._run(spark, flags).collect()
        assert len(got) == expected_islands

    def test_islands_partition_flagged_rows_without_overlap(self, spark):
        import random

        rng = random.Random(42)
        flags = [rng.randint(0, 1) for _ in range(200)]
        got = self._run(spark, flags).collect()
        # islands cover exactly the flagged rows
        assert sum(r.n_obs for r in got) == sum(flags)
        # non-overlapping, ordered intervals
        for prev, cur in zip(got, got[1:]):
            assert prev.end_ts < cur.start_ts

    def test_multi_key_isolation(self, spark):
        rows = [Row(k=k, ts=_ts(i), flag=1) for k in ("a", "b") for i in range(3)]
        df = spark.createDataFrame(rows)
        got = island_intervals(df, "k", "ts", F.col("flag") == 1).collect()
        assert len(got) == 2  # one island per key, never merged across keys


class TestLatestPerKey:
    def test_tiebreak_deterministic(self, spark):
        ts = _ts(0)
        df = spark.createDataFrame(
            [("a", ts, 1, "first"), ("a", ts, 2, "second")],
            "k string, ts timestamp, seq int, payload string",
        )
        got = latest_per_key(df, "k", "ts", tiebreak=["seq"]).collect()
        assert len(got) == 1 and got[0].payload == "second"


class TestAsofJoins:
    @pytest.fixture()
    def sides(self, spark):
        left = spark.createDataFrame(
            [("a", _ts(1), 10), ("a", _ts(5), 50), ("b", _ts(3), 30)],
            "k string, ts timestamp, lv int",
        )
        right = spark.createDataFrame(
            [("a", _ts(1), 100), ("a", _ts(4), 400)],
            "k string, ts timestamp, rv int",
        )
        return left, right

    def test_backward_inclusive_and_null_before_first(self, sides):
        from steam_data_pipeline_spark.operators.asof import asof_backward

        left, right = sides
        got = {
            (r.k, r.ts): (r.asof_rv, r.asof_ts)
            for r in asof_backward(left, right, "k", "ts", ["rv"]).collect()
        }
        assert got[("a", _ts(1))] == (100, _ts(1))  # tie: <= is inclusive
        assert got[("a", _ts(5))] == (400, _ts(4))  # latest at-or-before
        assert got[("b", _ts(3))] == (None, None)   # no right rows for key

    def test_forward_inclusive_and_null_after_last(self, sides):
        from steam_data_pipeline_spark.operators.asof import asof_forward

        left, right = sides
        got = {
            (r.k, r.ts): (r.asof_rv, r.asof_ts)
            for r in asof_forward(left, right, "k", "ts", ["rv"]).collect()
        }
        assert got[("a", _ts(1))] == (100, _ts(1))  # tie: >= is inclusive
        assert got[("a", _ts(5))] == (None, None)   # nothing follows
        assert got[("b", _ts(3))] == (None, None)

    def test_forward_null_tiebreak_loses_equal_ts_tie(self, spark):
        """r13 combined-axis finding: Spark's plain desc() is
        nulls-LAST, which let a NULL-tiebreak right row WIN an equal-ts
        tie where the oracle's MIN(tiebreak) collapse skips NULLs. A
        NULL tiebreak must lose the tie — unless every tied row is
        NULL, in which case the match still happens (MIN over an
        all-NULL group is NULL, the row set is non-empty)."""
        from steam_data_pipeline_spark.operators.asof import asof_forward

        left = spark.createDataFrame(
            [("a", _ts(1), 1), ("b", _ts(1), 1)],
            "k string, ts timestamp, lv int",
        )
        right = spark.createDataFrame(
            [
                ("a", _ts(2), None),  # NULL tiebreak: must lose
                ("a", _ts(2), 7),
                ("b", _ts(2), None),  # all-NULL tie: still a match
            ],
            "k string, ts timestamp, rv int",
        )
        got = {
            r.k: (r.asof_rv, r.asof_ts)
            for r in asof_forward(
                left, right, "k", "ts", ["rv"], tiebreak="rv"
            ).collect()
        }
        assert got["a"] == (7, _ts(2))
        assert got["b"] == (None, _ts(2))


class TestTrailingAvg:
    def test_excludes_current_row(self, spark):
        df = spark.createDataFrame(
            [("a", _ts(i), float(i)) for i in range(4)],
            "k string, ts timestamp, v double",
        )
        got = trailing_avg(df, "k", "ts", "v", k=2).orderBy("ts").collect()
        assert got[0].trailing_avg is None            # empty frame
        assert got[1].trailing_avg == 0.0             # avg(0)
        assert got[2].trailing_avg == 0.5             # avg(0,1)
        assert got[3].trailing_avg == 1.5             # avg(1,2)


class TestPaginatedStreamReader:
    def test_offsets_and_replay(self):
        """The streaming source's exactly-once contract, unit-level:
        read() advances one page per batch and stops at the end;
        readBetweenOffsets replays exactly the committed range."""
        from steam_data_pipeline_spark.sources.paginated import (
            PaginatedApiStreamReader,
        )

        r = PaginatedApiStreamReader({"total": "250", "page_size": "100"})
        off = r.initialOffset()
        seen = []
        for _ in range(5):  # 3 data batches then drained no-ops
            rows, off2 = r.read(off)
            seen.append((len(list(rows)), off2))
            off = off2
        assert [n for n, _ in seen] == [100, 100, 50, 0, 0]
        assert off == {"next": 3}
        # crash-recovery replay between committed offsets is identical
        replay = list(r.readBetweenOffsets({"next": 0}, {"next": 3}))
        assert len(replay) == 250
        assert replay[0] == (0, "app-000000", 0)
        assert replay[-1] == (249, "app-000249", 2)
        # partial range replays only its pages
        assert len(list(r.readBetweenOffsets({"next": 1}, {"next": 2}))) == 100


class TestPagerank:
    def _run(self, spark, nodes, edges, **kw):
        from steam_data_pipeline_spark.operators.graph import pagerank

        ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
        edf = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
        if not edges:
            edf = edf.limit(0)
        return {
            r["node"]: r["rank_micro"]
            for r in pagerank(ndf, edf, **kw).collect()
        }

    def test_uniform_cycle_stays_uniform(self, spark):
        from steam_data_pipeline_spark.operators.graph import SCALE

        n = 5
        got = self._run(
            spark, range(n), [(i, (i + 1) % n) for i in range(n)], n_iter=3
        )
        assert len(set(got.values())) == 1
        assert abs(sum(got.values()) - SCALE) <= 5 * 3  # floor leakage bound

    def test_hub_outranks_leaves(self, spark):
        # every node links to 0; 0 links back to 1 only
        edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
        got = self._run(spark, range(6), edges, n_iter=6)
        # 0 holds the hub mass but forwards it all to 1 each round, so
        # the pair oscillates — both must dominate the leaves, which
        # stay at the undamped base rank and are exactly tied.
        leaves = {got[i] for i in range(2, 6)}
        assert len(leaves) == 1
        assert min(got[0], got[1]) > leaves.pop()

    def test_all_dangling_redistributes(self, spark):
        from steam_data_pipeline_spark.operators.graph import SCALE

        got = self._run(spark, range(4), [], n_iter=2)
        assert len(set(got.values())) == 1
        assert abs(sum(got.values()) - SCALE) <= 4 * 2

    def test_matches_unrolled_oracle_on_random_graph(self, spark):
        import random

        import duckdb

        from steam_data_pipeline_spark.operators.graph import (
            pagerank_oracle_sql,
        )

        rng = random.Random(13)
        nodes = list(range(30))
        edges = list(
            {(rng.randrange(30), rng.randrange(30)) for _ in range(70)}
        )
        # a NULL src has no source node; a NULL dst still counts toward
        # its source's out-degree, but its share reaches no node and
        # must not land in the dangling mass
        edges += [(None, 3), (4, None), (None, None)]
        got = self._run(spark, nodes, edges, n_iter=5)
        con = duckdb.connect()
        con.execute("CREATE TABLE t_n(node BIGINT)")
        con.executemany("INSERT INTO t_n VALUES (?)", [(n,) for n in nodes])
        con.execute("CREATE TABLE t_e(src BIGINT, dst BIGINT)")
        con.executemany("INSERT INTO t_e VALUES (?,?)", edges)
        want = dict(
            con.execute(
                pagerank_oracle_sql(
                    "SELECT node FROM t_n", "SELECT src, dst FROM t_e", n_iter=5
                )
            ).fetchall()
        )
        assert got == want


class TestTriangleStats:
    def _stats(self, spark, edges):
        from steam_data_pipeline_spark.operators.graph import triangle_stats

        edf = spark.createDataFrame(edges, "src long, dst long")
        return triangle_stats(edf).collect()[0]

    def test_known_graph(self, spark):
        # K4 minus one edge: 2 triangles, 5 edges, wedges = sum d(d-1)/2
        # degrees: 2,3,3,2 → wedges 1+3+3+1 = 8
        edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
        r = self._stats(spark, edges)
        assert r["n_nodes"] == 4 and r["n_edges"] == 5
        assert r["n_wedges"] == 8
        assert r["n_triangles"] == 2
        assert r["clustering"] == 3.0 * 2 / 8

    def test_dedup_selfloops_direction(self, spark):
        # multi-edges, reversed duplicates and self-loops must collapse
        edges = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
        r = self._stats(spark, edges)
        assert r["n_edges"] == 3
        assert r["n_triangles"] == 1

    def test_triangle_free(self, spark):
        edges = [(i, i + 1) for i in range(10)]  # path graph
        r = self._stats(spark, edges)
        assert r["n_triangles"] == 0 and r["clustering"] == 0.0

    def test_hub_star_plus_rim(self, spark):
        # star center 0 to 1..6 plus rim edge (1,2): exactly 1 triangle;
        # exercises the degree-ordered orientation around a hub
        edges = [(0, i) for i in range(1, 7)] + [(1, 2)]
        r = self._stats(spark, edges)
        assert r["n_triangles"] == 1

    def test_matches_bruteforce_random(self, spark):
        import itertools
        import random

        rng = random.Random(21)
        edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        want = sum(
            1
            for a, b, c in itertools.combinations(sorted({v for e in und for v in e}), 3)
            if (a, b) in und and (b, c) in und and (a, c) in und
        )
        r = self._stats(spark, edges)
        assert r["n_triangles"] == want


class TestKcore:
    def _run(self, spark, edges, k=3, **kw):
        from steam_data_pipeline_spark.operators.graph import kcore

        edf = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["core_deg"] for r in kcore(edf, k=k, **kw).collect()
        }

    def test_clique_plus_tail(self, spark):
        import itertools

        # K4 clique (each deg 3) with a pendant chain hanging off it:
        # the chain peels away over multiple rounds, the clique stays
        clique = list(itertools.combinations(range(4), 2))
        tail = [(3, 10), (10, 11), (11, 12)]
        got = self._run(spark, clique + tail, k=3)
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_cascading_peel(self, spark):
        # path graph: 2-core is empty, and peeling cascades end-inward
        got = self._run(spark, [(i, i + 1) for i in range(6)], k=2)
        assert got == {}

    def test_cycle_is_its_own_2core(self, spark):
        n = 5
        got = self._run(spark, [(i, (i + 1) % n) for i in range(n)], k=2)
        assert got == {i: 2 for i in range(n)}

    def test_matches_python_peeling_random(self, spark):
        import random

        rng = random.Random(31)
        edges = list({(rng.randrange(15), rng.randrange(15)) for _ in range(45)})
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nodes = {v for e in und for v in e}
        while True:
            deg = {}
            for a, b in und:
                if a in nodes and b in nodes:
                    deg[a] = deg.get(a, 0) + 1
                    deg[b] = deg.get(b, 0) + 1
            drop = {v for v in nodes if deg.get(v, 0) < 3}
            if not drop:
                break
            nodes -= drop
        want = {v: deg[v] for v in nodes}
        assert self._run(spark, edges, k=3) == want


class TestAsofCogrouped:
    def test_semantics_ties_and_nulls(self, spark):
        from steam_data_pipeline_spark.operators.asof import (
            asof_backward_cogrouped,
        )

        left = spark.createDataFrame(
            [(1, "u", _ts(5)), (2, "u", _ts(1)), (3, "v", _ts(2)), (4, "w", _ts(9))],
            "pid long, k string, lts timestamp",
        )
        right = spark.createDataFrame(
            [
                ("u", _ts(5), 10, 100.0),  # tie with pid 1's ts — inclusive
                ("u", _ts(5), 11, 200.0),  # same ts, higher tiebreak wins
                ("u", _ts(0), 9, 50.0),
                ("v", _ts(3), 12, 70.0),   # after pid 3 → no match
            ],
            "k string, rts timestamp, eid long, val double",
        )
        got = {
            r["pid"]: (r["asof_rts"], r["asof_val"])
            for r in asof_backward_cogrouped(
                left, right, key="k", left_ts="lts", right_ts="rts",
                right_cols=["rts", "val"], tiebreak="eid",
            ).collect()
        }
        assert got[1] == (_ts(5), 200.0)  # inclusive tie, max-eid pick
        assert got[2] == (_ts(0), 50.0)
        assert got[3] == (None, None)     # only later clicks
        assert got[4] == (None, None)     # key with empty right cogroup


class TestAsofToleranceAndValidation:
    def test_backward_tolerance_nulls_stale_matches(self, spark):
        from steam_data_pipeline_spark.operators.asof import asof_backward

        left = spark.createDataFrame(
            [("a", _ts(1), 10), ("a", _ts(10), 20), ("b", _ts(2), 30)],
            "k string, ts timestamp, lv int",
        )
        right = spark.createDataFrame(
            [("a", _ts(0), 100), ("a", _ts(9), 900)],
            "k string, ts timestamp, rv int",
        )
        got = {
            (r.k, r.ts): (r.asof_rv, r.asof_ts)
            for r in asof_backward(
                left, right, key="k", ts="ts", value_cols=["rv"],
                tolerance="2 hours",
            ).collect()
        }
        # within tolerance: 1h-old and exactly-1h-old matches survive
        assert got[("a", _ts(1))] == (100, _ts(0))
        assert got[("a", _ts(10))] == (900, _ts(9))
        # no prior right row at all -> null either way
        assert got[("b", _ts(2))] == (None, None)
        tight = {
            (r.k, r.ts): r.asof_rv
            for r in asof_backward(
                left, right, key="k", ts="ts", value_cols=["rv"],
                tolerance="30 minutes",
            ).collect()
        }
        # nearest prior exists but is stale -> nulled, not dropped
        assert tight[("a", _ts(1))] is None
        assert tight[("a", _ts(10))] is None
        assert len(tight) == 3

    def test_nearest_rejects_non_integral_id(self, spark):
        from steam_data_pipeline_spark.operators.asof import asof_nearest

        left = spark.createDataFrame(
            [("a", _ts(1), 1.0)], "k string, ts timestamp, lv double"
        )
        right = spark.createDataFrame(
            [("a", _ts(1), 2.0, "r1")],
            "k string, ts timestamp, rv double, rid string",
        )
        with pytest.raises(TypeError, match="integral right_id"):
            asof_nearest(
                left, right, key="k", ts="ts", value_col="rv", right_id="rid"
            )


class TestOperatorHardeningRound8:
    """Regression tests for the round-8 operator review findings."""

    def test_asof_backward_tiebreak_deterministic(self, spark):
        """Equal-timestamp right rows must resolve by the RIGHT
        tiebreak column (max wins, merge_asof last-sorted semantics) —
        not partition order."""
        from steam_data_pipeline_spark.operators.asof import (
            asof_backward,
            asof_forward,
        )

        left = spark.createDataFrame(
            [(1, 100)], "k int, ts int"
        ).select("k", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [(1, 50, 1, 10.0), (1, 50, 2, 20.0), (1, 50, 3, 30.0)],
            "k int, ts int, seq int, v double",
        ).select("k", F.col("ts").cast("timestamp"), "seq", "v")
        # repartition adversarially so arrival order varies
        for n in (1, 7):
            got = asof_backward(
                left, right.repartition(n), "k", "ts",
                value_cols=["v"], tiebreak="seq",
            ).collect()
            assert [r.asof_v for r in got] == [30.0], n  # max seq wins
        left_f = spark.createDataFrame(
            [(1, 10)], "k int, ts int"
        ).select("k", F.col("ts").cast("timestamp"))
        for n in (1, 7):
            got = asof_forward(
                left_f, right.repartition(n), "k", "ts",
                value_cols=["v"], tiebreak="seq",
            ).collect()
            assert [r.asof_v for r in got] == [10.0], n  # min seq wins

    def test_merge_upsert_idempotent_with_dup_key_batch(self, spark):
        """A batch carrying the same key twice must keep a
        DETERMINISTIC row, so merge(merge(T,B),B) == merge(T,B)."""
        from steam_data_pipeline_spark.operators.upsert import merge_upsert

        old = spark.createDataFrame([(1, "old")], "k int, v string")
        batch = spark.createDataFrame(
            [(1, "a"), (1, "z"), (2, "b")], "k int, v string"
        )
        once = merge_upsert(old, batch.repartition(5), "k")
        twice = merge_upsert(once, batch.repartition(3), "k")
        a = sorted(map(tuple, once.collect()))
        b = sorted(map(tuple, twice.collect()))
        assert a == b == [(1, "z"), (2, "b")]  # max-tuple pick, stable

    def test_scd2_null_state_transitions(self, spark):
        """non-NULL -> NULL must open a version; a NULL run must not
        mint one version per row."""
        from steam_data_pipeline_spark.operators.windows import scd2_history

        df = spark.createDataFrame(
            [(1, 1, "A"), (1, 2, None), (1, 3, None), (1, 4, "A"),
             (2, 1, None), (2, 2, None)],
            "k int, t int, state string",
        )
        got = sorted(
            (r.k, r.valid_from, r.state)
            for r in scd2_history(df, "k", "state", ["t"]).collect()
        )
        assert got == [
            (1, 1, "A"), (1, 2, None), (1, 4, "A"), (2, 1, None)
        ]

    def test_cogrouped_asof_tolerates_null_left_ts(self, spark):
        """A NULL left timestamp must yield NULL asof values (the
        expression twin's behavior), not a task-killing
        merge_asof ValueError."""
        from steam_data_pipeline_spark.operators.asof import (
            asof_backward_cogrouped,
        )

        left = spark.createDataFrame(
            [(1, 100, 10), (1, None, 11)], "k int, lt int, lid int"
        ).select("k", F.col("lt").cast("timestamp"), "lid")
        right = spark.createDataFrame(
            [(1, 50, 1, 5.0)], "k int, rt int, seq int, v double"
        ).select("k", F.col("rt").cast("timestamp"), "seq", "v")
        got = {
            r.lid: r.asof_v
            for r in asof_backward_cogrouped(
                left, right, key="k", left_ts="lt", right_ts="rt",
                right_cols=["v"], tiebreak="seq", n_buckets=4,
            ).collect()
        }
        assert got == {10: 5.0, 11: None}

    def test_triangle_wedges_integer_exact(self, spark):
        """n_wedges must come from integer division (the float path
        loses exactness past 2^53); small-graph value unchanged."""
        from steam_data_pipeline_spark.operators.graph import triangle_stats

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
        )
        row = triangle_stats(edges).collect()[0]
        # degrees: 1->2, 2->2, 3->3, 4->1; sum d(d-1) = 2+2+6+0 = 10
        assert row.n_wedges == 5 and row.n_triangles == 1

    def test_grid_scale_null_routes_to_cell_zero(self, spark):
        """NULL values must land in cell 0 explicitly — least(NULL, k)
        would silently park them in the TOP cell."""
        from steam_data_pipeline_spark.operators.layout import grid_scale

        df = spark.createDataFrame(
            [(0.0,), (100.0,), (None,)], "x double"
        )
        got = [
            r.c
            for r in df.select(
                grid_scale(
                    F.col("x"), F.lit(0.0), F.lit(100.0), bits=4
                ).alias("c")
            ).collect()
        ]
        assert got == [0, 15, 0]

    def test_check_empty_expectations_raises(self, spark):
        from steam_data_pipeline_spark.operators.profile import check

        df = spark.createDataFrame([(1,)], "x int")
        with pytest.raises(ValueError, match="at least one expectation"):
            check(df, [])

    def test_range_join_binned_drops_reversed_intervals(self, spark):
        """A reversed interval (end < start) must match nothing and
        must NOT explode into a descending bin sequence."""
        from steam_data_pipeline_spark.operators.joins import (
            range_join_binned,
        )

        points = spark.createDataFrame(
            [(1, 100)], "k int, ts int"
        ).select("k", F.col("ts").cast("timestamp"))
        intervals = spark.createDataFrame(
            [(1, 90, 110, "good"), (1, 500, 50, "reversed")],
            "k int, s int, e int, tag string",
        ).select(
            "k", F.col("s").cast("timestamp"), F.col("e").cast("timestamp"),
            "tag",
        )
        got = [
            r.tag
            for r in range_join_binned(
                points, intervals, "k", "ts", "s", "e", bin_seconds=60
            ).collect()
        ]
        assert got == ["good"]

    def test_asof_forward_tolerance_nulls_far_matches(self, spark):
        """Forward tolerance mirrors backward staleness: a following
        match beyond the bound nulls out, within it survives."""
        from steam_data_pipeline_spark.operators.asof import asof_forward

        left = spark.createDataFrame(
            [(1, 0, 10), (2, 0, 11)], "k int, ts int, lid int"
        ).select("k", F.col("ts").cast("timestamp"), "lid")
        right = spark.createDataFrame(
            [(1, 1800, 1.0), (2, 7200, 2.0)], "k int, ts int, v double"
        ).select("k", F.col("ts").cast("timestamp"), "v")
        got = {
            r.lid: (r.asof_v, r.asof_ts is not None)
            for r in asof_forward(
                left, right, "k", "ts", value_cols=["v"],
                tolerance="1 hour",
            ).collect()
        }
        assert got == {10: (1.0, True), 11: (None, False)}
