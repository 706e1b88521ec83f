"""Upsert (MERGE) and append sinks (SURVEY.md §2.1 sinks; main.py:451-475).

The reference's write path is:

* ``sink_upsert_metadata`` — ``INSERT … ON CONFLICT (app_id) DO UPDATE``
  (main.py:451-457): last-writer-wins per key, idempotent re-runs.
* ``sink_append_timeseries`` — bulk append (main.py:475).

Spark has no in-place update on plain parquet, so MERGE is expressed as
a *logical* transformation plus an atomic table swap:

    merged = dedup(new) ∪ (old ⟂anti new)        # logical MERGE
    write merged → staging dir; atomic rename     # physical commit

On a real deployment this is exactly Delta/Iceberg ``MERGE INTO``; the
logical half is identical and is what the correctness oracle checks.
The physical half (``ParquetTableStore``) gives crash-safe,
generation-versioned swaps good enough for a single writer — the same
guarantee the reference gets from its DB lock (main.py:387-404).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from steam_data_pipeline_spark.operators.relational import dedup_last_writer

#: generations every commit leaves on disk: the current one plus the
#: previous, so a reader that resolved the old pointer finishes its scan
KEEP_GENERATIONS = 2


def merge_upsert(
    old: DataFrame | None,
    new: DataFrame,
    key: str,
    version_cols: list | None = None,
) -> DataFrame:
    """Logical MERGE: one surviving row per key.

    * no ``version_cols`` — last-writer-wins per *call*: rows of ``new``
      replace matching old keys, old keys absent from ``new`` survive
      (anti-join shape, main.py:452-455).
    * with ``version_cols`` — max-version-wins across ``old ∪ new``, so
      an out-of-order micro-batch carrying an older row for a key can
      never regress stored state: the final table equals
      latest-per-version regardless of how rows were batched. Ties
      prefer ``new`` (deterministic re-run).
    * idempotence ≡ merge(merge(T, B), B) == merge(T, B) in both modes.

    The anti join broadcasts the *keys* of ``new`` when small; the
    versioned union shuffles once on the key (the same cost profile as
    a table-format MERGE INTO). At scale AQE picks the strategy.
    """
    if version_cols:
        if old is None:
            return dedup_last_writer(new, key, version_cols)
        tagged = old.withColumn("__src", F.lit(0)).unionByName(
            new.withColumn("__src", F.lit(1))
        )
        return dedup_last_writer(tagged, key, [*version_cols, "__src"]).drop("__src")
    # Deterministic within-batch dedup: dropDuplicates keeps an
    # ARBITRARY row when one batch carries a key twice, so a re-run
    # could keep a different one and break the idempotence invariant
    # above. Pick the max over the remaining columns instead (same
    # single shuffle; relational.py documents the same rule for
    # dedup_last_writer).
    other = [c for c in new.columns if c != key]
    if other:
        w = W.partitionBy(key).orderBy(
            *[F.col(c).desc_nulls_last() for c in other]
        )
        new = (
            new.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        new = new.dropDuplicates([key])
    if old is None:
        return new
    keep_old = old.join(new.select(key), on=key, how="left_anti")
    return new.unionByName(keep_old)


class ParquetTableStore:
    """Generation-versioned parquet tables with atomic swap.

    Layout:  <root>/<table>/gen=<n>-<uuid>/part-*.parquet plus a tiny
    ``_CURRENT`` pointer file. Readers resolve the pointer then read one
    immutable generation; the writer stages the next generation fully
    before flipping the pointer (single ``os.replace`` — atomic on
    POSIX). This mirrors a table-format commit protocol in miniature
    and gives upsert idempotence across crashes: a died-before-flip
    writer leaves the old generation intact.

    Old generations are garbage-collected *lazily* (the newest
    ``KEEP_GENERATIONS`` survive every commit), so a lazy DataFrame that
    resolved the previous pointer finishes its scan instead of hitting
    FileNotFoundException mid-flight — snapshot isolation for one
    writer + concurrent readers.
    """

    #: test-only fault-injection point: called with the batch_id after
    #: a batch's files are moved into the generation but BEFORE its
    #: commit marker is written (the crash window exactly-once must
    #: survive). Production leaves this None.
    fault_hook = None

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CURRENT")

    def _reject_manifest(self, table: str) -> None:
        """Fail loudly on a table written by the retired bucket-manifest
        layout: its rows live behind ``_MANIFEST.json``, which this store
        no longer reads, so serving it would silently drop them."""
        if os.path.exists(os.path.join(self._tdir(table), "_MANIFEST.json")):
            raise ValueError(
                f"table {table!r} uses the bucket-manifest layout "
                "(_MANIFEST.json), which is no longer supported; rebuild "
                "it as a pointer table"
            )

    def _gens(self, table: str) -> list[str]:
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        return sorted(d for d in os.listdir(tdir) if d.startswith("gen="))

    def _next_gen(self, table: str) -> str:
        gens = self._gens(table)
        last = 0
        for g in gens:
            try:
                last = max(last, int(g[len("gen="):].split("-", 1)[0]))
            except ValueError:
                continue
        return f"gen={last + 1:08d}-{uuid.uuid4().hex[:8]}"

    def current_path(self, table: str) -> str | None:
        ptr = self._pointer(table)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            gen = f.read().strip()
        path = os.path.join(self._tdir(table), gen)
        return path if os.path.exists(path) else None

    def read(self, table: str) -> DataFrame | None:
        self._reject_manifest(table)
        path = self.current_path(table)
        if path is None:
            return None
        return self.spark.read.parquet(path)

    def generations(self, table: str) -> list[str]:
        """Retained generation names, oldest first — the time-travel
        surface. The newest ``KEEP_GENERATIONS`` survive every commit
        (plus the one the pointer names), so the previous table state
        stays readable until GC'd."""
        return self._gens(table)

    def read_at(self, table: str, generation: str) -> DataFrame:
        """Time-travel read of one retained generation (the miniature
        of Delta/Iceberg ``VERSION AS OF``). Generations produced by
        ``overwrite``/``upsert`` are immutable once the pointer flips,
        so those reads are consistent snapshots; the CURRENT generation
        of a table receiving ``append``/``append_batch`` gains files in
        place, so only superseded generations of append tables are
        stable."""
        self._reject_manifest(table)
        if generation not in self._gens(table):
            raise ValueError(
                f"unknown generation {generation!r} for table {table!r}; "
                f"retained: {self._gens(table)}"
            )
        return self.spark.read.parquet(os.path.join(self._tdir(table), generation))

    def _gc(self, table: str) -> None:
        """Delete generations that are neither the current pointer nor
        among the newest ``KEEP_GENERATIONS`` — deferred deletion so
        in-flight readers of the previous generation complete."""
        gens = self._gens(table)
        live: set[str] = set(gens[-KEEP_GENERATIONS:])
        cur = self.current_path(table)
        if cur is not None:
            live.add(os.path.basename(cur))
        for g in gens:
            if g not in live:
                shutil.rmtree(os.path.join(self._tdir(table), g), ignore_errors=True)

    def overwrite(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Write a full new generation and atomically flip the pointer."""
        self._reject_manifest(table)
        os.makedirs(self._tdir(table), exist_ok=True)
        gen = self._next_gen(table)
        out = os.path.join(self._tdir(table), gen)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(gen)
        os.replace(tmp, self._pointer(table))
        self._gc(table)

    def upsert(
        self,
        table: str,
        new: DataFrame,
        key: str,
        version_cols: list | None = None,
    ) -> None:
        """MERGE ``new`` into the stored table (sink_upsert_metadata)."""
        merged = merge_upsert(self.read(table), new, key, version_cols)
        self.overwrite(table, merged)

    def append(self, table: str, df: DataFrame) -> None:
        """Append-only fact sink (sink_append_timeseries, main.py:475).

        Parquet append is file-level atomic; each micro-batch adds files
        without touching existing ones.
        """
        self._reject_manifest(table)
        cur = self.current_path(table)
        if cur is None:
            self.overwrite(table, df)
        else:
            df.write.mode("append").parquet(cur)

    def append_batch(self, table: str, df: DataFrame, batch_id: int) -> bool:
        """Idempotent per-micro-batch append — the foreachBatch
        exactly-once pattern.

        ``foreachBatch`` gives at-least-once delivery: a crash after the
        write but before the checkpoint commit replays the batch. Every
        batch's files carry a deterministic ``batch-<id>-`` prefix and a
        commit marker: a replay whose marker exists is skipped; a replay
        over a partial (marker-less) write first deletes the prefix's
        files, so duplicates cannot survive any crash point (the
        worst-case window — all files moved, marker not yet written —
        is exercised across a REAL process kill by
        tests/test_store_hardening.py via ``fault_hook``). Markers
        live at the TABLE level (``_batches/``), not inside a
        generation, so they survive generation rotation — "batch N was
        applied to this table" is a table-lifetime fact. Returns True
        if the batch was written, False if it was a skipped replay.
        """
        self._reject_manifest(table)
        if self.current_path(table) is None:
            self.overwrite(table, df.limit(0))  # schema-bearing empty gen
        gen = self.current_path(table)
        marker_dir = os.path.join(self._tdir(table), "_batches")
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, f"batch-{batch_id}.COMMITTED")
        if os.path.exists(marker):
            return False
        prefix = f"batch-{batch_id}-"
        for name in os.listdir(gen):  # partial write from a crashed attempt
            if name.startswith(prefix):
                os.remove(os.path.join(gen, name))
        stage = os.path.join(self._tdir(table), f"_stage-{uuid.uuid4().hex[:8]}")
        try:
            df.write.mode("overwrite").parquet(stage)
            part = 0
            for name in sorted(os.listdir(stage)):
                if name.endswith(".parquet"):
                    os.replace(
                        os.path.join(stage, name),
                        os.path.join(gen, f"{prefix}{part:05d}.parquet"),
                    )
                    part += 1
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        if ParquetTableStore.fault_hook is not None:
            # fault-injection point (tests only): fires in the
            # worst-case crash window — batch files fully moved into
            # the generation, commit marker not yet written
            ParquetTableStore.fault_hook(batch_id)
        with open(marker, "w") as f:
            f.write("committed")
        # The moves happened behind Spark's file-status cache (which has
        # no TTL by default) — invalidate so same-session readers see
        # the committed batch, not a stale listing.
        self.spark.catalog.refreshByPath(gen)
        return True

    def append_timeseries(self, table: str, df: DataFrame, key: str = "app_id", ts: str = "timestamp") -> None:
        """Append with the reference's access-path layout: the composite
        index (app_id, timestamp) (main.py:102-105) becomes
        repartition-by-key + sort-within-partitions — per-key history
        scans and window functions then run shuffle-free."""
        laid_out = df.repartition(F.col(key)).sortWithinPartitions(key, ts)
        self.append(table, laid_out)


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_by: str | None = None,
) -> None:
    """Persist a table hash-bucketed by its join key (Hive-style
    bucketing via ``saveAsTable``).

    Two tables bucketed the same way join with ZERO exchange on either
    side — the physical co-location the reference approximates with its
    composite index (main.py:102-105), and the standard answer to the
    repeated dim⋈fact join at 100 TB: pay the shuffle once at write
    time, never at read time. Verified by the plan-contract test
    (no Exchange in the bucketed join plan).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.format("parquet").saveAsTable(table_name)


def apply_cdc(
    old: DataFrame | None,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered change feed — inserts/updates ('I'/'U') plus
    DELETE tombstones ('D') — to a keyed snapshot; the consumer half of
    :func:`cdc_diff` and the delete-aware superset of
    :func:`merge_upsert` (reference upsert: main.py:451-457, which has
    no delete path because the source API never retracts).

    Semantics: for each key, only the LATEST change by ``seq_col``
    matters (row_number desc, ties impossible for a well-formed feed);
    if it is a tombstone the key disappears, otherwise its image
    replaces the stored row; untouched keys survive. Applying batches
    one-at-a-time in feed order or applying the concatenated feed once
    yields the same table (fold associativity — pinned by the
    ``sink_cdc_apply`` oracle and ``tests/test_upsert_state.py``).

    Scale: one shuffle of the (small) change batch on the key for the
    latest-change window + one key-partitioned anti join against the
    snapshot — the same cost class as merge_upsert.
    """
    latest = dedup_last_writer(changes, key, [seq_col])
    data_cols = [c for c in latest.columns if c not in (op_col, seq_col)]
    survivors = latest.filter(F.col(op_col) != "D").select(*data_cols)
    if old is None:
        return survivors
    keep_old = old.join(latest.select(key), on=key, how="left_anti")
    return keep_old.unionByName(survivors)


def cdc_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two snapshots of a keyed table —
    the miniature of Delta's CHANGE DATA FEED computed *post hoc* from
    time travel (``read_at(g1)`` vs ``read_at(g2)``): downstream
    consumers (index maintenance, cache invalidation, incremental
    dedup) re-process only what changed between generations instead of
    the full table.

    One full-outer join hash-partitioned on the key classifies every
    key as ``insert`` (absent before), ``delete`` (absent after) or
    ``update`` (present in both, any compared column differing under
    null-safe equality); unchanged keys are dropped. Output carries
    ``old_``/``new_`` images of the compared columns. At 100 TB both
    sides shuffle once on the key — same cost class as the upsert that
    produced the generation.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c != key and c in old.columns
    ]
    o = old.select(
        F.col(key), *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("__in_old", F.lit(True))
    n = new.select(
        F.col(key), *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("__in_new", F.lit(True))
    j = o.join(n, on=key, how="full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(changed, F.lit("update")),
        )
        .filter(F.col("change_type").isNotNull())
        .drop("__in_old", "__in_new")
    )
