"""MERGE upsert, table store, and lock/journal tests (SURVEY.md §5:
golden pipeline properties — upsert idempotence, append monotonicity,
lock staleness)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from steam_data_pipeline_spark.operators.state import FileRunJournal, kv_upsert
from steam_data_pipeline_spark.operators.upsert import ParquetTableStore, merge_upsert


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetTableStore(spark, str(tmp_path / "tables"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "app_id string, name string, v int")


class TestMergeUpsert:
    def test_update_and_insert_halves(self, spark):
        old = _df(spark, [("1", "one", 1), ("2", "two", 1)])
        new = _df(spark, [("2", "TWO", 2), ("3", "three", 2)])
        got = {r.app_id: (r.name, r.v) for r in merge_upsert(old, new, "app_id").collect()}
        assert got == {"1": ("one", 1), "2": ("TWO", 2), "3": ("three", 2)}

    def test_idempotence(self, spark):
        old = _df(spark, [("1", "one", 1)])
        new = _df(spark, [("1", "ONE", 2), ("2", "two", 2)])
        once = merge_upsert(old, new, "app_id")
        twice = merge_upsert(once, new, "app_id")
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))

    def test_in_batch_last_writer_wins(self, spark):
        new = _df(spark, [("1", "v1", 1), ("1", "v2", 2)])
        got = merge_upsert(None, new, "app_id", version_cols=["v"]).collect()
        assert len(got) == 1 and got[0].name == "v2"


class TestApplyCdc:
    def _feed(self, spark, rows):
        return spark.createDataFrame(rows, "k string, seq long, op string, v int")

    def test_tombstone_deletes_and_latest_wins(self, spark):
        from steam_data_pipeline_spark.operators.upsert import apply_cdc

        old = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        feed = self._feed(
            spark,
            [
                ("a", 10, "U", 11),   # update a
                ("a", 11, "D", 0),    # ...then delete it (latest wins)
                ("b", 12, "U", 22),
                ("c", 13, "I", 33),
                ("c", 14, "U", 34),
            ],
        )
        got = sorted(map(tuple, apply_cdc(old, feed, "k", "seq").collect()))
        assert got == [("b", 22), ("c", 34)]

    def test_batch_fold_equals_single_shot(self, spark):
        """apply(apply(T, B1), B2) == apply(T, B1 ∪ B2) when B1's seqs
        all precede B2's — the replay-from-checkpoint guarantee."""
        from steam_data_pipeline_spark.operators.upsert import apply_cdc

        old = spark.createDataFrame([("a", 1)], "k string, v int")
        b1 = self._feed(spark, [("a", 10, "D", 0), ("b", 11, "I", 5)])
        b2 = self._feed(spark, [("a", 20, "I", 9), ("b", 21, "U", 6)])
        folded = apply_cdc(apply_cdc(old, b1, "k", "seq"), b2, "k", "seq")
        single = apply_cdc(old, b1.unionByName(b2), "k", "seq")
        assert sorted(map(tuple, folded.collect())) == sorted(
            map(tuple, single.collect())
        )

    def test_empty_snapshot_and_reapply_idempotent(self, spark):
        from steam_data_pipeline_spark.operators.upsert import apply_cdc

        feed = self._feed(spark, [("a", 1, "I", 1), ("a", 2, "D", 0)])
        once = apply_cdc(None, feed, "k", "seq")
        assert once.count() == 0
        twice = apply_cdc(once, feed, "k", "seq")
        assert sorted(map(tuple, twice.collect())) == sorted(
            map(tuple, once.collect())
        )


class TestParquetTableStore:
    def test_upsert_roundtrip_and_atomic_swap(self, spark, store):
        store.upsert("t", _df(spark, [("1", "a", 1)]), key="app_id")
        store.upsert("t", _df(spark, [("1", "b", 2), ("2", "c", 1)]), key="app_id")
        got = {r.app_id: r.name for r in store.read("t").collect()}
        assert got == {"1": "b", "2": "c"}

    def test_upsert_rerun_identical(self, spark, store):
        """Re-running the same batch must not change the table
        (re-scrape ⇒ update not duplicate, main.py:451-457)."""
        batch = _df(spark, [("1", "a", 1), ("2", "b", 1)])
        store.upsert("t", batch, key="app_id")
        first = sorted(map(tuple, store.read("t").collect()))
        store.upsert("t", batch, key="app_id")
        assert sorted(map(tuple, store.read("t").collect())) == first

    def test_append_monotone_growth(self, spark, store):
        """GUIDE:181-182's monotone row-count check, automated."""
        batch = _df(spark, [("1", "a", 1)])
        counts = []
        for _ in range(3):
            store.append("facts", batch)
            counts.append(store.read("facts").count())
        assert counts == [1, 2, 3]

    def test_missing_table_reads_none(self, store):
        assert store.read("nope") is None


class TestKvState:
    def test_kv_upsert_semantics(self, spark):
        state = spark.createDataFrame(
            [("lock", "false"), ("journal", "t0")], "key string, value string"
        )
        writes = spark.createDataFrame([("lock", "true")], "key string, value string")
        got = {r.key: r.value for r in kv_upsert(state, writes).collect()}
        assert got == {"lock": "true", "journal": "t0"}


class TestFileRunJournal:
    def test_acquire_release_cycle(self, tmp_path):
        j = FileRunJournal(str(tmp_path / "journal.json"))
        assert j.acquire()
        assert not j.acquire()  # held and fresh → refused (main.py:395)
        j.release()
        assert j.acquire()

    def test_stale_lock_takeover(self, tmp_path):
        """Lock older than 2 h is stolen (main.py:392-394)."""
        j = FileRunJournal(str(tmp_path / "journal.json"))
        old = datetime.now(timezone.utc) - timedelta(hours=3)
        assert j.acquire(now=old)
        assert j.acquire()  # stale → takeover succeeds


class TestTtlCache:
    def test_refresh_before_expiry(self):
        """Value reused until 0.9×TTL, then refreshed (main.py:206-210)."""
        from steam_data_pipeline_spark.operators.state import TtlCache

        clock = {"t": 0.0}
        calls = []

        def fetch():
            calls.append(1)
            return f"token-{len(calls)}", 100.0

        cache = TtlCache(fetch, now=lambda: clock["t"])
        assert cache.get() == "token-1"
        clock["t"] = 89.0
        assert cache.get() == "token-1" and len(calls) == 1  # still fresh
        clock["t"] = 90.0
        assert cache.get() == "token-2" and len(calls) == 2  # 0.9×100 reached


class TestTimeTravel:
    def test_previous_generation_readable(self, spark, store):
        store.overwrite("t", _df(spark, [("1", "a", 1)]))
        store.upsert("t", _df(spark, [("1", "b", 2)]), key="app_id")
        gens = store.generations("t")
        assert len(gens) == 2  # KEEP_GENERATIONS=2 retains the old snapshot
        old = {r.app_id: r.name for r in store.read_at("t", gens[0]).collect()}
        new = {r.app_id: r.name for r in store.read_at("t", gens[1]).collect()}
        assert old == {"1": "a"} and new == {"1": "b"}
        assert {r.app_id: r.name for r in store.read("t").collect()} == new

    def test_unknown_generation_rejected(self, spark, store):
        store.overwrite("t", _df(spark, [("1", "a", 1)]))
        with pytest.raises(ValueError, match="unknown generation"):
            store.read_at("t", "gen=99999999-nope")


class TestCdcDiff:
    def test_classifies_and_drops_unchanged(self, spark):
        from steam_data_pipeline_spark.operators.upsert import cdc_diff

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
            "k long, name string, v double",
        )
        new = spark.createDataFrame(
            [(2, "b", 2.5), (3, "c", None), (4, "D", 4.0), (5, "e", 5.0)],
            "k long, name string, v double",
        )
        got = {r["k"]: r for r in cdc_diff(old, new, key="k").collect()}
        assert set(got) == {1, 2, 4, 5}  # 3 unchanged (null-safe) drops
        assert got[1]["change_type"] == "delete" and got[1]["new_name"] is None
        assert got[2]["change_type"] == "update" and got[2]["new_v"] == 2.5
        assert got[4]["change_type"] == "update"  # name-only change
        assert got[5]["change_type"] == "insert" and got[5]["old_name"] is None

    def test_compare_cols_subset(self, spark):
        from steam_data_pipeline_spark.operators.upsert import cdc_diff

        old = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double")
        new = spark.createDataFrame([(1, "a", 9.0)], "k long, name string, v double")
        # comparing only `name`, the v change is invisible
        assert cdc_diff(old, new, key="k", compare_cols=["name"]).count() == 0

    def test_store_generations_roundtrip(self, spark, tmp_path):
        from steam_data_pipeline_spark.operators.upsert import (
            ParquetTableStore,
            cdc_diff,
        )

        store = ParquetTableStore(spark, str(tmp_path))
        store.overwrite("s", spark.createDataFrame([(1, 10)], "k long, v long"))
        store.overwrite(
            "s", spark.createDataFrame([(1, 11), (2, 20)], "k long, v long")
        )
        g1, g2 = store.generations("s")[-2:]
        got = {
            r["k"]: r["change_type"]
            for r in cdc_diff(
                store.read_at("s", g1), store.read_at("s", g2), key="k"
            ).collect()
        }
        assert got == {1: "update", 2: "insert"}
