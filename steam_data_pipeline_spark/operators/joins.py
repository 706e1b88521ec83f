"""Join operators (SURVEY.md §2.3).

Strategy notes for the 100 TB posture:

* Dimensions (region/nation/customer-sized, or the candidate key pool)
  are **broadcast** — an explicit ``F.broadcast`` hint where the small
  side is known small by construction, otherwise AQE's runtime
  size-based switch handles it.
* Fact⋈fact joins shuffle on the join key; the point-in-interval join
  (:func:`range_join_binned`) adds a time bin to the equi key so only
  co-binned pairs reach the range condition.
* The as-of join reduces the right side to latest-per-key *first*
  (aggregate-before-join), so the join input is |keys|, not |facts|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def enrich_details(candidates: DataFrame, details: DataFrame, key: str) -> DataFrame:
    """Equi inner join: candidate key set ⋈ details (main.py:443-445).

    Missing details drop the row — the reference filters rows whose
    detail fetch failed (``filt_valid_meta``, main.py:445). The
    candidate pool is small by construction (≈600 keys) → broadcast it.
    """
    return details.join(F.broadcast(candidates), on=key, how="inner")


def enrich_facts(
    dim: DataFrame,
    enrichments: list[tuple[DataFrame, list | Column]],
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Multi-way LEFT OUTER enrichment (main.py:322-374): the dimension
    row survives even when an enrichment source has no match, with
    per-column defaults (``coalesce``) applied afterwards.

    ``enrichments`` is a list of (df, on) pairs joined in order; ``on``
    may be a column list or a join Column (derived-key joins — the
    reference joins Twitch streams on a *normalized name*,
    main.py:340-352).
    """
    out = dim
    for right, on in enrichments:
        out = out.join(right, on=on, how="left")
    for col, default in (defaults or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    ts: str,
    start: str,
    end: str,
    bin_seconds: int,
) -> DataFrame:
    """Point-in-interval join via time binning — the 100 TB path for
    range joins when keys carry many points AND many intervals.

    The plain strategy (equi join on ``key``, range as residual filter)
    materializes |points_k| x |intervals_k| candidate pairs per key
    before filtering. Here each interval row is exploded to the
    fixed-width time bins it spans and each point maps to exactly one
    bin, so the equi key becomes ``(key, bin)`` and only co-binned
    pairs are ever joined; the exact BETWEEN predicate remains
    as the residual filter, so results are identical (the oracle for
    the registered query IS the plain range join). Pick ``bin_seconds``
    near the typical interval span: wider bins → fewer duplicate
    interval rows, narrower bins → more selective join key.

    A point matches each interval at most once (it lives in exactly one
    bin), so no post-join dedup is needed. Bin ids derive from epoch
    seconds with floor — monotone, so an interval's bin range
    [bin(start), bin(end)] can never miss a contained point's bin.
    """
    bin_of = lambda c: F.floor(F.unix_timestamp(F.col(c)) / bin_seconds)  # noqa: E731
    # Drop malformed intervals (end < start) BEFORE exploding: sequence
    # with start > stop yields a DESCENDING sequence, so one reversed
    # interval spanning years would explode into millions of junk bins
    # whose pairs all fail the residual BETWEEN anyway — the plain
    # range join (the oracle) matches nothing for them either, so
    # filtering keeps semantics identical while failing cheap.
    exploded = (
        intervals.filter(F.col(start) <= F.col(end))
        .withColumn(
            "__bin", F.explode(F.sequence(bin_of(start), bin_of(end)))
        )
        .withColumnRenamed(key, "__ikey")
    )
    binned_points = points.withColumn("__bin", bin_of(ts))
    cond = (
        (F.col("__ikey") == F.col(key))
        & (binned_points["__bin"] == exploded["__bin"])
        & F.col(ts).between(F.col(start), F.col(end))
    )
    return (
        binned_points.join(exploded, on=cond, how="inner")
        .drop("__bin")
        .drop("__ikey")
    )


def anti_missing(source: DataFrame, present: DataFrame, key: str) -> DataFrame:
    """Anti join: rows with NO match — the insert half of the upsert
    split (main.py:452-455) and the §2.2 ``filt_anti_type`` shape."""
    return source.join(present, on=key, how="left_anti")
