"""Query-registry plumbing.

A ``Query`` pairs a Spark DataFrame program with (optionally) an ANSI
SQL oracle string that DuckDB runs on the same parquet tables. The
driver's correctness gate compares row-count + schema + an
order-insensitive value hash — so every registered query must be
**deterministic as a set of rows**: any LIMIT/top-k carries a total
order with explicit tie-breaks, all floating aggregates go through the
exact-decimal-sum discipline (operators.aggregates), and ranks are cast
to BIGINT on the Spark side to match DuckDB's window-function type.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from steam_data_pipeline_spark.sources.tables import read_table

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


class Registry(dict):
    def add(
        self,
        name: str,
        oracle: str | None,
        doc: str = "",
        tags: tuple[str, ...] = (),
    ):
        def deco(fn: SparkQuery) -> SparkQuery:
            if name in self:
                raise ValueError(f"duplicate query name {name}")
            self[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags)
            return fn

        return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table reader used by every registered query."""
    return read_table(spark, sf_dir, name)


# Operational time domain — the r12 ts-extremes contract, extended in
# r13 from the streaming ingest paths to every PANDAS-path operator:
# PySpark's Arrow->pandas conversion is datetime64[ns], so ONE row with
# a far-enough timestamp (> year 2262) kills the whole grouped-map /
# cogroup / UDTF task with ArrowInvalid — at 100 TB that is one corrupt
# sentinel row failing a 6-hour job. Rows outside [1970, 2100) are
# excluded from time-ordered pandas operators on BOTH legs (the exact
# streaming-watermark ingest bound, applied batch-side); one garbage
# row costs one dropped observation.
OPS_TS_MIN = "1970-01-01"
OPS_TS_MAX = "2100-01-01"


def ops_time_domain(df: DataFrame, col: str = "ts") -> DataFrame:
    """Keep rows whose ``col`` lies in the operational time domain
    (NULL ``col`` drops too — these are ordering spines)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    c = F.col(col)
    return df.filter(
        (c >= F.lit(OPS_TS_MIN).cast("timestamp"))
        & (c < F.lit(OPS_TS_MAX).cast("timestamp"))
    )
