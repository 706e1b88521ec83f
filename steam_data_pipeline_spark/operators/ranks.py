"""Exact global rank / ntile without a single-partition sort.

``ntile(q) OVER (ORDER BY metric DESC, key)`` is the textbook
quantile-scoring idiom, but Spark executes an unpartitioned window as
``Exchange SinglePartition`` + one-task sort of the ENTIRE input —
fine on a dim, a scale-killer on a million-to-billion-row entity
spine (measured: the RFM customer-spine sort was the 0.38 10×
exponent in SCALE.md round 9).

:func:`scalable_ntile_desc_multi` computes the identical ntile with
bounded shuffles only — the two-level histogram decomposition:

1. one scalar-spine aggregate gives ``(min, max, n)`` of each metric
   (broadcast back — the sanctioned 1-row crossJoin);
2. each row lands in one of ``n_bins`` fixed-width integer bins; a
   map-side-combined ``groupBy(bin)`` histogram (≤ n_bins rows) plus a
   BOUNDED single-partition running sum gives, per bin, the count of
   rows in strictly-higher bins;
3. a ``partitionBy(bin)`` window (hash-partitioned, ~n/n_bins rows per
   partition) ranks rows *within* their bin by (metric desc, key asc).

rank = higher-bin count + within-bin row_number — exact, because bins
partition the metric's order: every row in a higher bin has a strictly
higher metric, every row ranked earlier within the bin precedes in the
(metric desc, key asc) total order. The tile follows from the rank and
``n``. :func:`exact_cume_counts_multi` applies the same decomposition to
the tie-aware cumulative counts an empirical CDF needs.

Contracts: ``metric`` and ``key`` are non-null integral columns, the
(metric, key) pair is unique (key is a tie-break id), and
``(max - min + 1) * n_bins`` must fit in int64. Skew note: fixed-width
bins inherit the metric's value distribution — a production variant
would sample quantile edges first; at n_bins=4096 a pathological
all-one-value metric degrades to one hash partition per tie group,
which is exactly the granularity ntile's tie-break needs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Below this Catalyst-estimated input size the histogram-rank machinery
# is pure fixed cost: the whole spine sorts comfortably inside ONE task
# (4 MiB sorts in milliseconds), so the plain window ntile/cume is both
# faster and plan-simpler. 4 MiB is deliberately conservative — two
# orders of magnitude under an executor's sort budget — so the gate can
# only ever divert genuinely tiny spines; anything near real scale takes
# the scalable path. Catalyst over-estimates aggregate outputs (it
# propagates the child's size), which errs the same safe direction.
# Callers pass small_bytes=0 to force the scalable path (the scale
# rehearsals do, so the 10x exponents keep measuring the at-scale plan).
SMALL_SPINE_BYTES = 4 << 20


def _plan_estimated_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate; 'unknown' counts as huge so
    the scalable path is the fallback, never the single-partition sort."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 - api drift -> assume big
        return 1 << 62


def scalable_ntile_desc_multi(
    df: DataFrame,
    n_tiles: int,
    metrics: list[tuple[str, str]],
    key: str,
    n_bins: int = 4096,
    small_bytes: int = SMALL_SPINE_BYTES,
) -> DataFrame:
    """Add, for each ``(metric, out_col)`` pair, ``out_col`` =
    ``ntile(n_tiles) OVER (ORDER BY metric DESC, key)`` — the exact
    equal-fill-first-buckets ntile (the first ``n % n_tiles`` buckets
    get ``ceil(n / n_tiles)`` rows) — with no unbounded one-partition
    sort anywhere.

    All metrics share ONE scalar-spine aggregate (min/max per metric +
    the total count) and one broadcast crossJoin; each metric then
    adds one ≤ n_bins-row histogram broadcast join and one
    hash-partitioned per-bin ranking window. Windows CHAIN on the same
    frame (no input duplication), so the plan grows linearly in the
    metric count — a naive per-metric composition re-derives the
    upstream spine 4^k times (measured: a 226 KB plan for k=3).

    Size gate (round-10 verdict item 5): when Catalyst estimates the
    input under ``small_bytes`` the plain window ntile runs instead —
    bit-identical output (the property test drives both sides of the
    gate), no histogram fixed cost at toy/interactive scale. Pass
    ``small_bytes=0`` to force the scalable path."""
    if small_bytes and _plan_estimated_bytes(df) <= small_bytes:
        out = df
        for m, out_col in metrics:
            w = Window.orderBy(F.col(m).desc(), F.col(key).asc())
            out = out.withColumn(
                out_col, F.ntile(n_tiles).over(w).cast("long")
            )
        return out
    spine_aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for m, _ in metrics:
        spine_aggs += [
            F.min(m).cast("long").alias(f"__mn_{m}"),
            F.max(m).cast("long").alias(f"__mx_{m}"),
        ]
    out = df.crossJoin(F.broadcast(df.agg(*spine_aggs)))
    for m, _ in metrics:
        out = out.withColumn(
            f"__bin_{m}",
            F.expr(
                f"(({m} - __mn_{m}) * {n_bins}) div (__mx_{m} - __mn_{m} + 1)"
            ).cast("long"),
        )
    # UNCACHED by measurement: round 10 cached this frame (each
    # histogram branch re-derives it otherwise — 8 scans for the
    # 3-metric RFM) after a 1x/10x A/B win (3.04 -> 2.21 s at 10x/6M
    # rows), but the 30x tier REVERSED it decisively (35.1 s cached vs
    # 11.7 s uncached at 18M rows in round 11; 33.6 vs 15.4 s and 34.2
    # vs 13.2 s unbiased in round 12, SCALE.md): the columnar
    # materialization of an n-ROW, extra-column-laden binned frame
    # grows with the fact while the re-scans it saves are narrow
    # pruned projections. Unlike the contingency cells (<=12 rows,
    # genuinely bounded), this spine is O(n) — the 100 TB design point
    # says re-scan. Toy inputs bypass via the small_bytes gate anyway.
    binned = out
    for m, _ in metrics:
        hist = (
            binned.groupBy(f"__bin_{m}")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn(
                f"__hi_{m}",
                F.coalesce(
                    F.sum("__cnt").over(
                        Window.orderBy(F.col(f"__bin_{m}").desc()).rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .drop("__cnt")
        )
        out = out.join(F.broadcast(hist), on=f"__bin_{m}")
    for m, out_col in metrics:
        w = Window.partitionBy(f"__bin_{m}").orderBy(
            F.col(m).desc(), F.col(key).asc()
        )
        rank = F.col(f"__hi_{m}") + F.row_number().over(w)
        # cumulative size of tiles 1..i: i*(n div q) + least(i, n mod q)
        # — the tile of rank r is 1 + #{i < q : r > boundary_i}
        boundary_hits = sum(
            (
                rank
                > (
                    F.lit(i) * F.expr(f"__n div {n_tiles}")
                    + F.least(
                        F.lit(i).cast("long"), F.expr(f"__n % {n_tiles}")
                    )
                )
            ).cast("long")
            for i in range(1, n_tiles)
        )
        out = out.withColumn(out_col, (F.lit(1) + boundary_hits).cast("long"))
    drops = ["__n"]
    for m, _ in metrics:
        drops += [f"__mn_{m}", f"__mx_{m}", f"__bin_{m}", f"__hi_{m}"]
    return out.drop(*drops)


def exact_cume_counts_multi(
    df: DataFrame,
    metrics: list[tuple[str, str, str]],
    n_bins: int = 4096,
    small_bytes: int = SMALL_SPINE_BYTES,
) -> DataFrame:
    """For each ``(metric, le_col, ge_col)`` triple, add ``le_col`` =
    count of rows with ``metric`` <= this row's and ``ge_col`` = the
    >= mirror — the tie-AWARE cumulative counts (``COUNT(*) OVER
    (ORDER BY metric RANGE UNBOUNDED PRECEDING)`` and its descending
    twin) — with no unbounded single-partition sort for ANY metric.

    Same two-level histogram decomposition as
    :func:`scalable_ntile_desc_multi`: the <=bin / >=bin prefix counts
    come from the bounded n_bins running sums; within a bin, two RANGE-framed windows (asc / desc
    over the SAME hash partitioning) count ties inclusively. The ECOD
    outlier score and any empirical-CDF consumer need exactly these
    counts; row_number-style ranks are tie-broken and therefore wrong
    for a CDF. Metrics must be non-null integral columns.

    All metrics share ONE scalar-spine aggregate and one broadcast
    crossJoin, and the per-metric histogram/window passes chain on the
    same frame — the same linear-plan-growth discipline as
    :func:`scalable_ntile_desc_multi` (a naive per-metric composition
    re-derives the upstream spine exponentially: chaining a
    single-metric pass 3x measured 42 BroadcastNestedLoopJoin
    nodes in one plan).

    Same size gate as :func:`scalable_ntile_desc_multi`: under
    ``small_bytes`` (Catalyst estimate) the two plain RANGE-framed
    global windows per metric run instead — identical output, no
    histogram fixed cost; ``small_bytes=0`` forces the scalable path."""
    if small_bytes and _plan_estimated_bytes(df) <= small_bytes:
        out = df
        for m, le_col, ge_col in metrics:
            w_le = Window.orderBy(F.col(m).asc()).rangeBetween(
                Window.unboundedPreceding, 0
            )
            w_ge = Window.orderBy(F.col(m).desc()).rangeBetween(
                Window.unboundedPreceding, 0
            )
            out = out.withColumn(
                le_col, F.count(F.lit(1)).over(w_le)
            ).withColumn(ge_col, F.count(F.lit(1)).over(w_ge))
        return out
    spine_aggs = []
    for m, _, _ in metrics:
        spine_aggs += [
            F.min(m).cast("long").alias(f"__mn_{m}"),
            F.max(m).cast("long").alias(f"__mx_{m}"),
        ]
    binned = df.crossJoin(F.broadcast(df.agg(*spine_aggs)))
    for m, _, _ in metrics:
        binned = binned.withColumn(
            f"__bin_{m}",
            F.expr(
                f"(({m} - __mn_{m}) * {n_bins}) div (__mx_{m} - __mn_{m} + 1)"
            ).cast("long"),
        )
    # uncached — same 30x reversal as scalable_ntile_desc_multi (35.4 s
    # cached vs 15.5 s uncached at 18M rows): the O(n) binned frame's
    # materialization cost grows with the fact; re-scanning the narrow
    # projection does not.
    out = binned
    for m, _, _ in metrics:
        hist = (
            binned.groupBy(f"__bin_{m}")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .select(
                f"__bin_{m}",
                F.coalesce(
                    F.sum("__cnt").over(
                        Window.orderBy(F.col(f"__bin_{m}").asc()).rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).alias(f"__below_{m}"),
                F.coalesce(
                    F.sum("__cnt").over(
                        Window.orderBy(F.col(f"__bin_{m}").desc()).rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).alias(f"__above_{m}"),
            )
        )
        out = out.join(F.broadcast(hist), on=f"__bin_{m}")
    for m, le_col, ge_col in metrics:
        w_le = (
            Window.partitionBy(f"__bin_{m}")
            .orderBy(F.col(m).asc())
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        w_ge = (
            Window.partitionBy(f"__bin_{m}")
            .orderBy(F.col(m).desc())
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        out = out.withColumn(
            le_col, F.col(f"__below_{m}") + F.count(F.lit(1)).over(w_le)
        ).withColumn(
            ge_col, F.col(f"__above_{m}") + F.count(F.lit(1)).over(w_ge)
        )
    drops = []
    for m, _, _ in metrics:
        drops += [
            f"__mn_{m}",
            f"__mx_{m}",
            f"__bin_{m}",
            f"__below_{m}",
            f"__above_{m}",
        ]
    return out.drop(*drops)
