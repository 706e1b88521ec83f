"""Aggregation operators (SURVEY.md §2.5).

Numeric policy: monetary/measure doubles in the testdata are exact
2-decimal values, so aggregates cast to DECIMAL first —
``sum(cast(x as decimal(18,2)))`` is exact and **order-independent**,
which both matches the reference's Numeric(10,2) money semantics
(main.py:96) and makes differential tests against the DuckDB oracle
value-exact regardless of partitioning. The final result is cast to
double (one deterministic rounding) for a stable interchange type.

Catalyst provides partial (map-side) + final hash aggregation for all
of these automatically — at 100 TB the shuffle carries only per-group
partial states, not rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dec_sum(col: str | Column, scale: int = 2) -> Column:
    """Exact, order-independent sum of a 2-dp double column.

    ``try_cast``: a measure outside the decimal(18,scale) range (the
    money domain — e.g. an ingested ±1e308 garbage double) contributes
    NULL, i.e. is excluded, instead of killing the job with an ANSI
    CAST_OVERFLOW; DuckDB TRY_CAST agrees value-exactly (round-12
    numeric-extremes contract). Oracles mirror with
    ``SUM(TRY_CAST(x AS DECIMAL(18,s)))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.try_cast(f"decimal(18,{scale})"))


def dec_avg(col: str | Column, scale: int = 2) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count.

    One double division at the end — deterministic on any engine and
    any partitioning (a plain avg(double) is summation-order-dependent).
    """
    c = F.col(col) if isinstance(col, str) else col
    # count the IN-DOMAIN values (the summed population), so the mean
    # stays a true mean under the try_cast domain contract
    return dec_sum(c, scale).cast("double") / F.count(
        c.try_cast(f"decimal(18,{scale})")
    )


def count_rows(df: DataFrame, label: str) -> DataFrame:
    """Validation row count (GUIDE:181-182)."""
    return df.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit(label).alias("table_name"), "n_rows"
    )


def capped_count_per_key(
    df: DataFrame, key: str, cap: int, out_col: str = "n_capped"
) -> DataFrame:
    """Per-key count with a page-size cap: ``least(count(*), cap)`` —
    the Twitch streamer count, capped at 100 by pagination
    (main.py:347,352)."""
    return df.groupBy(key).agg(
        F.least(F.count(F.lit(1)), F.lit(cap).cast("long")).alias(out_col)
    )


def conditional_roi(
    df: DataFrame,
    key: str,
    value: str,
    in_flag: Column,
    out_prefix: str = "",
) -> DataFrame:
    """Discount-ROI conditional aggregate (PLAN:50-53): per key, mean of
    ``value`` where the flag holds vs where it doesn't; ROI = ratio - 1.

    Single pass, two conditional exact-sum aggregates — no self-join.
    """
    in_sum = F.sum(F.when(in_flag, F.col(value).try_cast("decimal(18,2)")))
    in_cnt = F.count(F.when(in_flag, F.col(value).try_cast("decimal(18,2)")))
    out_sum = F.sum(F.when(~in_flag, F.col(value).try_cast("decimal(18,2)")))
    out_cnt = F.count(F.when(~in_flag, F.col(value).try_cast("decimal(18,2)")))
    # try_divide, not /: Spark 4 is ANSI by default, and a key whose
    # out-side average is exactly 0.0 (all non-flagged values zero)
    # would make the ROI ratio a non-NULL/0 division -> DIVIDE_BY_ZERO
    # crash; try_divide gives NULL, matching DuckDB's x/0. The avg
    # legs' sums are NULL exactly when their counts are 0, so those
    # divisions never see a non-NULL/0 — but try_divide costs nothing
    # and keeps the whole expression total (round-11 module review).
    avg_in = F.try_divide(in_sum.cast("double"), in_cnt)
    avg_out = F.try_divide(out_sum.cast("double"), out_cnt)
    return df.groupBy(key).agg(
        avg_in.alias(f"{out_prefix}avg_in"),
        avg_out.alias(f"{out_prefix}avg_out"),
        (F.try_divide(avg_in, avg_out) - F.lit(1.0)).alias(
            f"{out_prefix}roi"
        ),
    )


def profile_column(df: DataFrame, col: str, label: str | None = None) -> DataFrame:
    """Min/max/avg/null-rate validation profile (PLAN:26 sampling grid,
    automated as an aggregate)."""
    return df.agg(
        F.lit(label or col).alias("column_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count(col).alias("n_nonnull"),
        F.min(col).alias("min_value"),
        F.max(col).alias("max_value"),
        dec_avg(col).alias("avg_value"),
    )


def rollup_daily_by_type(df: DataFrame, ts: str, type_col: str) -> DataFrame:
    """ROLLUP (day, type) extension of the daily heartbeat — PLAN phase-1
    dashboards slice by both time and category (SURVEY §2.5 note)."""
    return (
        df.rollup(F.date_trunc("day", F.col(ts)).alias("day"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").cast("double").alias("sum_value"))
    )


def try_cents(col: str | Column) -> Column:
    """Exact integer cents of a measure double, NULL outside the
    signed-64 cents domain (|x| ≳ 9.2e16) — and NULL for NULL input,
    so out-of-domain measures flow through every operator exactly like
    the NULL-measure contract the round-11 adversarial sweep pinned.

    ``try_cast`` (not ``cast``) because Spark 4 is ANSI by default: a
    single ±1e308 row would otherwise kill a whole job with
    CAST_OVERFLOW — at 100 TB, one garbage row must cost one NULL, not
    six hours (round-12 numeric-extremes sweep). DuckDB twin:
    ``TRY_CAST(ROUND(x * 100) AS BIGINT)`` — verified value-equal
    across the full double range including ±1e308/Inf (NULL), the
    2^63 boundary (NULL both), and denormals (0 both).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).try_cast("long")
