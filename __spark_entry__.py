"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``steam_data_pipeline_spark``; this module is
a thin adapter over its query registry (plans/registry.py).
``queries()`` returns the registry in check-window order (see
``plans/registry.py::query_map``); that order (correctness files, stored hashes, one fingerprint pass) is
computed only there, never when the registry is imported.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-schema
    dim⋈fact revenue rollup (SURVEY §2.3 join_dim_fact)."""
    from steam_data_pipeline_spark.plans.registry import QUERIES
    from steam_data_pipeline_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    return QUERIES["join_dim_fact"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    check-window order."""
    from steam_data_pipeline_spark.plans.registry import query_map

    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    from steam_data_pipeline_spark.plans.registry import oracle_sql_map

    return oracle_sql_map()
