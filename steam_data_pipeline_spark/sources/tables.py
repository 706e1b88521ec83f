"""Parquet table readers for the driver testdata.

Design notes (100 TB posture):

* Explicit schemas — never schema inference on the pipeline path
  (SURVEY.md §1.3). Inference costs a footer-read fan-out per query and
  can drift; a declared ``StructType`` makes column pruning and filter
  pushdown reliable.
* ``events.ts`` precision is sniffed from one parquet footer (cached
  per path — a driver-side metadata read, not a data scan). Testdata
  generations have shipped it both as TIMESTAMP(NANOS) — which Spark 4
  reads only as a raw int64 via ``spark.sql.legacy.parquet.nanosAsLong``
  — and as plain TIMESTAMP(MICROS). For nanos we convert ns→µs with
  integer ``div`` (NOT ``/`` — double division loses precision above
  2^53, and epoch-nanos are ~1.7e18); the floor semantics match what
  DuckDB/pyarrow produce when they truncate the same nanos to
  microseconds, so differential tests stay value-exact.
* Readers return plain DataFrames; every downstream operator composes
  on lineage so Catalyst sees one end-to-end plan (pushdown + pruning
  reach the scan).
"""

from __future__ import annotations

import functools
import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from steam_data_pipeline_spark import schemas
from steam_data_pipeline_spark.session import apply_runtime_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _events_micros_schema() -> T.StructType:
    """The events schema with ``ts`` as TimestampType (for
    TIMESTAMP(MICROS) files), preserving every other field's type,
    nullability and metadata."""
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampType() if f.name == "ts" else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schemas.TESTDATA_SCHEMAS["events"].fields
        ]
    )


def _events_ts_unit(path: str) -> str:
    """Sniff the on-disk precision of ``events.ts`` from one parquet
    footer ('ns' | 'us'). Cached per (file, mtime, size) — one driver-
    side metadata read per dataset VERSION, never a data scan. The
    freshness token matters: testdata is regenerated in place between
    rounds and has already flipped precision once (NANOS→MICROS); a
    path-only cache in a long-lived process would silently misread the
    regenerated file as 1970-era timestamps."""
    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if parts:
            target = parts[0]
    st = os.stat(target)
    return _events_ts_unit_cached(target, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=64)
def _events_ts_unit_cached(target: str, mtime_ns: int, size: int) -> str:
    import pyarrow.parquet as pq

    field = pq.read_schema(target).field("ts")
    unit = getattr(field.type, "unit", None)
    return "ns" if unit == "ns" else "us"


def _freshness_token(path: str) -> tuple:
    """A cheap change-detection token for a parquet file or directory:
    (mtime_ns, size) of the path plus, for directories, of every
    direct child. In-place regeneration between rounds (the testdata
    has flipped ts precision once) always moves at least one mtime."""
    st = os.stat(path)
    tok: list = [st.st_mtime_ns, st.st_size]
    if os.path.isdir(path):
        with os.scandir(path) as it:
            for e in sorted(it, key=lambda e: e.name):
                s = e.stat()
                tok.append((e.name, s.st_mtime_ns, s.st_size))
    return tuple(tok)


# Analyzed-plan memo: per-SESSION-OBJECT dict attribute mapping
# (sf_dir, table, freshness) -> the LAZY DataFrame returned by
# read_table. Resolving a parquet relation is driver-side metadata
# work (DataSource resolution + file listing + schema conversion,
# measured ~28-40 ms per call) repeated for every query in a registry
# run — ~hundreds of identical resolutions per bench invocation, all
# producing the same immutable lazy plan. The memo holds NO DATA and
# skips NO COMPUTE: every action still scans parquet; only the
# repeated driver-side relation resolution is shared, the same way
# Spark's own catalog shares a resolved relation across
# ``spark.table`` references (and its session file-listing cache
# shares listings). The memo lives ON the Python session object (not
# a module-level dict keyed by applicationId): ``spark.newSession()``
# clones share one applicationId but MUST NOT share DataFrames —
# qa_observe_metrics isolates its Observation on a cloned session
# precisely so the registration cannot poison the parent session's
# closure serialization (see plans/qa.py qa_observe_metrics),
# and an appId-keyed memo was observed to defeat that isolation
# (llm_quality_model's localCheckpoint failing with
# NotSerializableException: ObservationManager). Attribute lifetime ==
# session-object lifetime, so a stopped/rebuilt session never serves
# stale JVM plan handles; the freshness token invalidates on in-place
# testdata regeneration.
_MEMO_ATTR = "_sdp_table_memo"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its pinned schema.

    ``events`` comes back with ``ts`` already converted to
    TimestampType (µs, UTC session) regardless of the file's physical
    precision — callers never see raw nanos.
    """
    if name not in schemas.TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {schemas.TABLE_NAMES}")
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _MEMO_ATTR, memo)
    key = (os.path.abspath(sf_dir), name, _freshness_token(path))
    hit = memo.get(key)
    if hit is not None:
        return hit
    if name == "events":
        if _events_ts_unit(path) == "ns":
            df = spark.read.schema(schemas.TESTDATA_SCHEMAS[name]).parquet(path)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = spark.read.schema(_events_micros_schema()).parquet(path)
    else:
        df = spark.read.schema(schemas.TESTDATA_SCHEMAS[name]).parquet(path)
    if len(memo) > 256:  # bound growth across many sf_dirs
        memo.clear()
    memo[key] = df
    return df


def read_events_stream(spark: SparkSession, sf_dir: str, **options: str) -> DataFrame:
    """The events table as a Structured Streaming file source, with the
    same footer-sniffed ts-precision handling as the batch reader.
    FileStreamSource needs a directory, so the shared sf_dir is scoped
    to the events table via ``pathGlobFilter``; extra reader options
    (e.g. ``maxFilesPerTrigger``) pass through."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_unit(path) == "ns":
        reader = spark.readStream.schema(schemas.TESTDATA_SCHEMAS["events"])
    else:
        reader = spark.readStream.schema(_events_micros_schema())
    reader = reader.option("pathGlobFilter", "events.parquet")
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.parquet(sf_dir)
    if _events_ts_unit(path) == "ns":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in schemas.TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (for spark.sql access)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(prefix + name)
