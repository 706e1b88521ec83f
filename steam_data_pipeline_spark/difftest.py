"""Differential tester: Spark query vs DuckDB oracle on the same parquet.

Local replica of the driver's correctness gate (row-count + column
names + order-insensitive value comparison), deliberately *stricter*
on values: floats must match bit-exactly (our whole numeric discipline
— exact decimal sums, sequential folds — exists to make that true), so
any sane driver-side hash normalization also passes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _epoch_str_spark(sdf):
    """Rewrite every TOP-LEVEL timestamp/date column to its exact epoch
    integer AS A STRING (micros for timestamps, days for dates).

    Why: both engines' to-dataframe paths land on pandas
    ``datetime64[ns]``, which caps at year 2262 — so the r12
    timestamp-extremes axis could only probe inside the HARNESS window,
    never at the engine contract edge (r12 verdict item 7). Why string
    and not int64: a NULL-bearing int64 column degrades to float64 in
    pandas, and float64 spacing passes 1 µs already at year ~2255
    (2^53 µs) — adjacent-microsecond divergences would compare equal.
    Strings are exact at any magnitude (±292k-year int64 micros range).
    Nested (struct/array) timestamps keep the pandas path — no corpus
    mutates those."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        DateType,
        TimestampNTZType,
        TimestampType,
    )

    exprs, changed = [], False
    for fld in sdf.schema.fields:
        c = fld.name
        if isinstance(fld.dataType, (TimestampType, TimestampNTZType)):
            # NTZ → LTZ cast is identity under the UTC session zone
            exprs.append(
                F.unix_micros(F.col(c).cast("timestamp"))
                .cast("string")
                .alias(c)
            )
            changed = True
        elif isinstance(fld.dataType, DateType):
            # dates also map to MICROS (midnight) — Spark date_trunc
            # returns TIMESTAMP where DuckDB returns DATE, and the old
            # datetime64 normalization treated those as equal
            exprs.append(
                (
                    F.datediff(F.col(c), F.lit("1970-01-01")).cast("long")
                    * F.lit(86_400_000_000).cast("long")
                )
                .cast("string")
                .alias(c)
            )
            changed = True
        else:
            exprs.append(F.col(c))
    return sdf.select(*exprs) if changed else sdf


def _epoch_str_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    """DuckDB twin of :func:`_epoch_str_spark`: wrap the oracle so its
    timestamp/date result columns come back as epoch-integer strings.
    ``DESCRIBE`` binds without executing, so the oracle still runs
    once."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) _q").fetchall()
    reps = []
    for row in desc:
        colname, coltype = row[0], (row[1] or "").upper()
        qn = '"' + colname.replace('"', '""') + '"'
        if coltype.startswith("TIMESTAMP"):
            reps.append(f"CAST(epoch_us({qn}) AS VARCHAR) AS {qn}")
        elif coltype == "DATE":
            reps.append(
                f"CAST(datediff('day', DATE '1970-01-01', {qn}) "
                f"* 86400000000 AS VARCHAR) AS {qn}"
            )
    if not reps:
        return sql
    return f"SELECT * REPLACE ({', '.join(reps)}) FROM ({sql}) _q"


def _canonical_repr(v, _top: bool = True) -> str:
    """repr with engine-independent canonicalization of sequence values
    (numpy array vs Python list) and numpy scalars (np.int64(3) vs 3).

    Null canonicalization: a nullable BOOLEAN (or other object-dtype)
    column arrives as ``None`` from Spark's toPandas but ``nan`` from
    DuckDB's .df() — same engine NULL, different Python scalar (found
    by the round-11 adversarial NULL sweep: value-identical outputs
    flagged on 'None' vs 'nan'). All NA-ish scalars map to one token.
    Float COLUMNS are unaffected (they take the float64 dtype path,
    where Spark already surfaces NULL as NaN — the engines were never
    distinguishable there).

    The NaN→NULL mapping applies ONLY to bare top-level scalars (the
    None-vs-nan object-dtype case above). Inside arrays/structs both
    engines deliver a genuine float NaN for a NaN and None for a NULL,
    so a real NaN-vs-NULL divergence between the engines must stay
    visible — mapping nested NaN to NULL would pass it silently
    (round-12 advice fix)."""
    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if _top and isinstance(v, float) and v != v:
        return "NULL"
    if isinstance(v, float) and v != v:
        return "NaN"  # canonical nested-NaN token (np.float64 reprs vary)
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return repr(bytes(v))  # Spark bytearray vs DuckDB bytes
    if isinstance(v, dict):
        return repr(
            sorted((repr(k), _canonical_repr(x, _top=False)) for k, x in v.items())
        )
    item = getattr(v, "item", None)
    if item is not None and getattr(v, "ndim", 1) == 0:
        return repr(item())  # numpy scalar → Python scalar
    try:
        return repr([_canonical_repr(x, _top=False) for x in v])
    except TypeError:
        return repr(v)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            # decimals / lists → canonical string. Sequence values must
            # be canonicalized BEFORE repr: Spark's toPandas yields
            # Python lists for array columns while DuckDB's .df() yields
            # numpy arrays, and repr(np.array([1])) != repr([1]) — a
            # value-identical array column would spuriously mismatch.
            df[c] = s.map(_canonical_repr)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@dataclass
class DiffResult:
    name: str
    ok: bool
    n_spark: int
    n_oracle: int | None
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = "" if not self.issues else " | " + "; ".join(self.issues[:4])
        return f"[{status}] {self.name}: spark={self.n_spark} oracle={self.n_oracle}{extra}"


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> DiffResult:
    issues: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        issues.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return DiffResult(name, False, len(spark_pdf), len(oracle_pdf), issues)
    if len(spark_pdf) != len(oracle_pdf):
        issues.append("row count mismatch")
        return DiffResult(name, False, len(spark_pdf), len(oracle_pdf), issues)
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        sa, sb = a[c], b[c]
        if pd.api.types.is_float_dtype(sa) and pd.api.types.is_float_dtype(sb):
            exact = (
                (sa.isna() & sb.isna())
                | (sa == sb)
                | (sa.isin([math.inf, -math.inf]) & (sa == sb))
            )
            if not exact.all():
                bad = (~exact).sum()
                i = (~exact).idxmax()
                issues.append(
                    f"col {c}: {bad} float mismatches, first at row {i}: {sa[i]!r} vs {sb[i]!r}"
                )
        else:
            eq = (sa.isna() & sb.isna()) | (sa == sb)
            if not eq.all():
                bad = (~eq).sum()
                i = (~eq).idxmax()
                issues.append(
                    f"col {c}: {bad} mismatches, first at row {i}: {sa[i]!r} vs {sb[i]!r}"
                )
    return DiffResult(name, not issues, len(spark_pdf), len(oracle_pdf), issues)


def run_one(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    sf_dir: str,
    name: str,
) -> DiffResult:
    """Run one registered query and diff it against its oracle; an
    exception becomes a failed result instead of aborting a sweep."""
    from steam_data_pipeline_spark.plans.registry import QUERIES, run_query

    def diff(sdf) -> DiffResult:
        spark_pdf = _epoch_str_spark(sdf).toPandas()
        oracle = QUERIES[name].oracle
        if oracle is None:
            return DiffResult(name, True, len(spark_pdf), None, ["rows-only (no oracle)"])
        oracle_pdf = con.execute(_epoch_str_oracle(con, oracle)).df()
        return compare_frames(name, spark_pdf, oracle_pdf)

    run = run_query(spark, name, sf_dir, diff)
    if run.error is not None:
        e = run.error
        return DiffResult(name, False, -1, None, [f"EXCEPTION: {type(e).__name__}: {e}"])
    return run.result


def run_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[DiffResult]:
    from steam_data_pipeline_spark.plans.registry import QUERIES

    con = duckdb_connect(sf_dir)
    return [run_one(spark, con, sf_dir, name) for name in names or QUERIES]
