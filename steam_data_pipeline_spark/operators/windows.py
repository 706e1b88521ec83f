"""Window-function operators (SURVEY.md §2.6).

All windows partition by the entity key — on a cluster each key's
history lands in one task via hash partitioning, and if the fact table
is written bucketed/partitioned by key (see ``operators.upsert``),
the shuffle disappears entirely. No global (unpartitioned) windows on
unbounded data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_per_key(df: DataFrame, key: str, ts: str, tiebreak: list | None = None) -> DataFrame:
    """Most recent observation per key (GUIDE:185-189 generalized;
    powers the as-of join ``join_asof_latest``).

    ``row_number`` desc over (key, ts [, tiebreak]) == 1. Deterministic
    even with ts ties when a tiebreak column list is given.
    """
    order = [F.col(ts).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rank_by(df: DataFrame, order_cols: list, rank_col: str = "rank") -> DataFrame:
    """Global ranked listing (§2.6 ``win_rank_listing``): rank position
    is meaningful output (top-sellers page order, main.py:261-272)."""
    return df.withColumn(rank_col, F.row_number().over(Window.orderBy(*order_cols)))


def islands(
    df: DataFrame,
    key: str,
    ts: str | list,
    flag: Column,
    island_col: str = "island_id",
) -> DataFrame:
    """Gaps-and-islands sessionization (PLAN:52 — "identify all
    historical discount intervals").

    Classic two-window construction, all JVM-side:

      1. ``lag(flag)`` per key ordered by ts → change-point indicator
      2. running ``sum`` of change-points → contiguous-run id
      3. caller groups by (key, island) and keeps flagged runs

    Returns the input plus ``__flag`` and ``island_col``. Two windows
    over the *same* (key, ts) ordering ⇒ one shuffle, one sort —
    Catalyst reuses the exchange. ``ts`` may be a list of order
    columns (pass a unique tiebreaker for deterministic islands when
    timestamps can collide).
    """
    order_cols = ts if isinstance(ts, list) else [ts]
    w = Window.partitionBy(key).orderBy(*order_cols)
    # when(flag, 1).otherwise(0), NOT flag.cast("int"): a NULL flag
    # (e.g. value > 100 with value NULL) must count as NOT-flagged —
    # CASE WHEN semantics, like the SQL oracles. cast("int") keeps the
    # NULL, and a NULL-flag row between two flagged runs then produces
    # NULL != comparisons on BOTH sides (chg=0 twice), silently MERGING
    # the two islands into one (round-11 module review of analytics.py)
    flagged = df.withColumn(
        "__flag", F.when(flag, F.lit(1)).otherwise(F.lit(0))
    )
    changed = flagged.withColumn(
        "__chg",
        F.when(
            F.lag("__flag").over(w).isNull()
            | (F.lag("__flag").over(w) != F.col("__flag")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return changed.withColumn(
        island_col, F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__chg")


def island_intervals(
    df: DataFrame,
    key: str,
    ts: str | list,
    flag: Column,
) -> DataFrame:
    """Collapse flagged islands into (key, island_id, start, end, n_obs)
    interval rows — the reference's "discount intervals" table feeding
    the ROI analysis (PLAN:50-53) and the interval-overlap join."""
    ts_col = ts[0] if isinstance(ts, list) else ts
    tagged = islands(df, key, ts, flag)
    return (
        tagged.filter(F.col("__flag") == 1)
        .groupBy(key, "island_id")
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def gap_sessions(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str,
    tiebreak: list | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Time-gap sessionization: a new session starts when the time since
    the previous observation exceeds ``gap`` (a SQL interval literal,
    e.g. ``"30 MINUTES"``).

    The data-driven-gap sibling of :func:`islands` (flag-driven runs) —
    together they cover both sessionization styles behind PLAN:52's
    "identify all historical discount intervals" and the streaming
    ``session_window`` (§2.8 ``stream_session_window``), batch-exact.

    Same two-window construction over one (key, ts) ordering ⇒ one
    shuffle, one sort; session ids are 1-based per key.
    """
    order_cols = [ts] + list(tiebreak or [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    prev = F.lag(ts).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts) > prev + F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        df.withColumn("__new", new_session)
        .withColumn(
            session_col,
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("__new")
    )


def topn_per_key(
    df: DataFrame,
    key: str,
    order_cols: list,
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-N rows per key (the grouped generalization of the global
    ranked listings, §2.6 ``win_rank_listing`` / GUIDE:188's per-game
    recency samples).

    ``row_number`` per key, keep rank ≤ n. Catalyst inserts a per-key
    rank limit (WindowGroupLimit) before the full sort at scale, so
    each task only keeps n rows per key; pass a unique tiebreaker in
    ``order_cols`` for deterministic output.
    """
    w = Window.partitionBy(key).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= n
    )


def trailing_avg(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    k: int,
    out_col: str = "trailing_avg",
) -> DataFrame:
    """Trailing-k baseline (§2.6 ``win_growth_rate``): average of the
    previous k observations, excluding the current row
    (``rowsBetween(-k, -1)``) — the ROI denominator (PLAN:52)."""
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(-k, -1)
    return df.withColumn(out_col, F.avg(value).over(w))


def scd2_history(
    df: DataFrame,
    key: str,
    state: str,
    order: list,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: collapse an event
    stream into per-key state *versions* — one row per state change,
    carrying ``valid_from`` / ``valid_to`` (null = current) and an
    ``is_current`` flag. The warehouse-standard versioned-dimension
    shape the upsert sink's last-writer-wins view discards.

    Two window passes over one (key, order) sort — Catalyst reuses the
    exchange, so it costs one shuffle like every other keyed window
    here. ``order`` must be a deterministic total order (ts + tiebreak).
    """
    order_cols = [F.col(c) for c in order]
    w = Window.partitionBy(key).orderBy(*order_cols)
    # Null-safe change test: `__prev != state` is NULL (dropped) for a
    # non-NULL -> NULL transition, and `__prev IS NULL` cannot tell the
    # first row from a predecessor whose STATE is NULL — so NULL states
    # would both lose transitions and mint spurious versions. Row 1 is
    # detected explicitly; every other row compares null-safely.
    changes = (
        df.withColumn("__prev", F.lag(state).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1)
            | ~F.col("__prev").eqNullSafe(F.col(state))
        )
        .drop("__prev", "__rn")
    )
    w2 = Window.partitionBy(key).orderBy(*order_cols)
    ts0 = order[0]
    return changes.select(
        key,
        F.col(state).alias("state"),
        F.col(ts0).alias("valid_from"),
        F.lead(ts0).over(w2).alias("valid_to"),
        F.lead(ts0).over(w2).isNull().alias("is_current"),
    )
