"""Round-2 store/state hardening tests: version-aware MERGE across
batches, deferred generation GC, idempotent micro-batch append,
rejection of the retired bucket-manifest layout, and the atomic journal
lock."""

from __future__ import annotations

import json
import os
import threading

import pytest

from steam_data_pipeline_spark.operators.state import FileRunJournal
from steam_data_pipeline_spark.operators.upsert import ParquetTableStore, merge_upsert


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetTableStore(spark, str(tmp_path / "tables"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "app_id string, name string, v int")


class TestVersionedMergeAcrossBatches:
    def test_out_of_order_batch_cannot_regress(self, spark):
        """A later micro-batch carrying an OLDER row for a key must not
        overwrite newer stored state (ADVICE upsert.py:49)."""
        old = _df(spark, [("1", "newest", 5)])
        late = _df(spark, [("1", "stale", 2)])
        got = merge_upsert(old, late, "app_id", version_cols=["v"]).collect()
        assert len(got) == 1 and got[0].name == "newest" and got[0].v == 5

    def test_batch_order_irrelevant(self, spark):
        """Any decomposition of the same rows into batches converges to
        latest-per-key (the stream_microbatch_upsert claim)."""
        rows = [("1", "a", 1), ("1", "b", 3), ("1", "c", 2), ("2", "x", 1)]
        import itertools

        expected = {("1", "b", 3), ("2", "x", 1)}
        for perm in itertools.permutations(rows):
            acc = None
            for r in perm:
                acc = merge_upsert(acc, _df(spark, [r]), "app_id", version_cols=["v"])
            assert {tuple(t) for t in acc.collect()} == expected

    def test_version_tie_prefers_new(self, spark):
        old = _df(spark, [("1", "old-val", 3)])
        new = _df(spark, [("1", "new-val", 3)])
        got = merge_upsert(old, new, "app_id", version_cols=["v"]).collect()
        assert got[0].name == "new-val"


class TestDeferredGenerationGc:
    def test_previous_generation_survives_one_commit(self, spark, store):
        """A reader holding the prior generation's path must finish its
        scan (ADVICE upsert.py:112): the newest 2 gens are kept."""
        store.upsert("t", _df(spark, [("1", "a", 1)]), key="app_id")
        reader = store.read("t")  # lazy — resolves gen 1 now
        gen1 = store.current_path("t")
        store.upsert("t", _df(spark, [("1", "b", 2)]), key="app_id")
        assert os.path.exists(gen1)  # not deleted by the next commit
        assert reader.count() == 1  # in-flight reader completes
        store.upsert("t", _df(spark, [("1", "c", 3)]), key="app_id")
        assert not os.path.exists(gen1)  # GC'd once 2 newer gens exist

    def test_gc_keeps_exactly_two_generations(self, spark, store):
        for i in range(5):
            store.upsert("t", _df(spark, [("1", f"v{i}", i)]), key="app_id")
        gens = [d for d in os.listdir(store._tdir("t")) if d.startswith("gen=")]
        assert len(gens) == 2


class TestIdempotentBatchAppend:
    def test_replayed_batch_skipped(self, spark, store):
        batch = _df(spark, [("1", "a", 1), ("2", "b", 1)])
        assert store.append_batch("facts", batch, batch_id=0) is True
        assert store.append_batch("facts", batch, batch_id=0) is False  # replay
        assert store.read("facts").count() == 2

    def test_distinct_batches_accumulate(self, spark, store):
        b0 = _df(spark, [("1", "a", 1)])
        b1 = _df(spark, [("2", "b", 1)])
        store.append_batch("facts", b0, batch_id=0)
        store.append_batch("facts", b1, batch_id=1)
        store.append_batch("facts", b0, batch_id=0)  # late replay of b0
        assert store.read("facts").count() == 2

    def test_partial_write_cleaned_on_replay(self, spark, store):
        """Crash-between-files simulation: stray prefix files without a
        commit marker are removed before the rewrite."""
        batch = _df(spark, [("1", "a", 1)])
        store.append_batch("facts", batch, batch_id=0)
        gen = store.current_path("facts")
        # fake a partial write of batch 7 (no marker)
        stray = os.path.join(gen, "batch-7-99999.parquet")
        real = max(  # the data-bearing part file, not an empty-partition one
            (n for n in os.listdir(gen) if n.startswith("batch-0-")),
            key=lambda n: os.path.getsize(os.path.join(gen, n)),
        )
        import shutil

        shutil.copy(os.path.join(gen, real), stray)
        spark.catalog.refreshByPath(gen)  # copy happened behind Spark's cache
        assert store.read("facts").count() == 2  # duplicate visible pre-replay
        store.append_batch("facts", batch, batch_id=7)  # replay of batch 7
        spark.catalog.refreshByPath(gen)
        assert store.read("facts").count() == 2  # stray replaced, not added


class TestAtomicJournalLock:
    def test_concurrent_acquire_single_winner(self, tmp_path):
        """N threads race acquire(); exactly one may win (ADVICE
        state.py:84 — the overlap protection trigger_ingest relies on)."""
        j = FileRunJournal(str(tmp_path / "journal.json"))
        barrier = threading.Barrier(8)
        wins = []

        def worker():
            barrier.wait()
            if j.acquire():
                wins.append(1)

        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1


class TestManifestLayoutRejected:
    def test_every_method_rejects_manifest_table(self, spark, store):
        """A table left by the retired bucket-manifest layout keeps its
        rows behind ``_MANIFEST.json``; every method that opens it must
        refuse it instead of serving or overwriting those rows."""
        gen = "gen=00000001-0000abcd"
        rel = os.path.join(gen, "__bucket=0")
        tdir = store._tdir("dim")
        _df(spark, [("1", "a", 1)]).write.parquet(os.path.join(tdir, rel))
        with open(os.path.join(tdir, "_MANIFEST.json"), "w") as f:
            json.dump({"__n_buckets": "4", "0": rel}, f)
        batch = _df(spark, [("2", "b", 1)])
        for call in (
            lambda: store.read("dim"),
            lambda: store.read_at("dim", gen),
            lambda: store.upsert("dim", batch, key="app_id"),
            lambda: store.overwrite("dim", batch),
            lambda: store.append("dim", batch),
            lambda: store.append_batch("dim", batch, batch_id=0),
        ):
            with pytest.raises(ValueError, match="'dim'.*bucket-manifest.*rebuild"):
                call()
        assert not os.path.exists(store._pointer("dim"))
        assert store._gens("dim") == [gen]


class TestBatchMarkersSurviveRotation:
    def test_replay_after_generation_rotation_skipped(self, spark, store):
        """Commit markers are table-lifetime facts: a generation
        rotation between commit and replay must not re-admit the
        batch (code-review r2 finding)."""
        batch = _df(spark, [("1", "a", 1)])
        assert store.append_batch("facts", batch, batch_id=0) is True
        # force generation rotations (overwrite with the current data)
        current = store.read("facts")
        store.overwrite("facts", current)
        assert store.append_batch("facts", batch, batch_id=0) is False  # replay
        assert store.read("facts").count() == 1


class TestKillMidForeachBatchSoak:
    """VERDICT r4 task 5: prove exactly-once across a REAL process
    boundary. A child process runs a file-source stream whose
    foreachBatch appends via append_batch; the fault hook os._exit(137)s
    it in the worst-case window (batch files fully moved into the
    generation, commit marker NOT yet written, streaming checkpoint NOT
    yet committed). A second process restarts the same stream on the
    same checkpoint + store; Structured Streaming replays the killed
    batch, append_batch scrubs the orphaned files and rewrites. Result
    must be no duplicate and no lost row."""

    SCRIPT = r"""
import os, sys
repo = sys.argv[5]
sys.path.insert(0, repo)
from steam_data_pipeline_spark.session import get_spark
from steam_data_pipeline_spark.operators.upsert import ParquetTableStore

mode, src, root, ckpt = sys.argv[1:5]
spark = get_spark("soak-" + mode)
store = ParquetTableStore(spark, root)
if mode == "crash":
    def _kill(batch_id):
        if batch_id == 1:
            os._exit(137)
    ParquetTableStore.fault_hook = _kill

def apply_batch(df, bid):
    store.append_batch("facts", df, bid)

q = (
    spark.readStream.schema("k long, v long")
    .option("maxFilesPerTrigger", "1")
    .parquet(src)
    .writeStream.foreachBatch(apply_batch)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
spark.stop()
print("SOAK_DONE")
"""

    def test_kill_between_move_and_marker_then_restart(self, spark, tmp_path):
        import subprocess
        import sys

        src = str(tmp_path / "src")
        root = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

        # 3 single-file batches, 10 distinct rows each
        for i in range(3):
            spark.createDataFrame(
                [(i, i * 10 + j) for j in range(10)], "k long, v long"
            ).coalesce(1).write.mode("append").parquet(src)

        def run(mode):
            return subprocess.run(
                [sys.executable, "-c", self.SCRIPT, mode, src, root, ckpt, repo],
                capture_output=True,
                text=True,
                timeout=300,
                cwd=str(tmp_path),
            )

        p1 = run("crash")
        assert p1.returncode == 137, (
            f"expected SIGKILL-style exit 137, got {p1.returncode}\n"
            f"stdout={p1.stdout[-2000:]}\nstderr={p1.stderr[-2000:]}"
        )

        # the crash must have landed INSIDE the window: batch-1 files
        # present in the generation, batch-1 marker absent
        tdir = os.path.join(root, "facts")
        gens = sorted(d for d in os.listdir(tdir) if d.startswith("gen="))
        orphan_files = [
            n
            for g in gens
            for n in os.listdir(os.path.join(tdir, g))
            if n.startswith("batch-1-")
        ]
        markers = set(os.listdir(os.path.join(tdir, "_batches")))
        assert orphan_files, "fault hook fired outside the move/marker window"
        assert "batch-1.COMMITTED" not in markers
        assert "batch-0.COMMITTED" in markers

        p2 = run("resume")
        assert p2.returncode == 0 and "SOAK_DONE" in p2.stdout, (
            f"restart failed: rc={p2.returncode}\n"
            f"stdout={p2.stdout[-2000:]}\nstderr={p2.stderr[-2000:]}"
        )

        store = ParquetTableStore(spark, root)
        got = sorted((r.k, r.v) for r in store.read("facts").collect())
        want = sorted((i, i * 10 + j) for i in range(3) for j in range(10))
        assert got == want, "duplicate or lost rows across the kill/replay"
        markers = set(os.listdir(os.path.join(tdir, "_batches")))
        assert {"batch-0.COMMITTED", "batch-1.COMMITTED", "batch-2.COMMITTED"} <= markers
