"""Data-quality layer: table profiling, declarative expectations, and
distribution-drift scoring (PSI).

The reference pipeline validates ingested rows ad hoc (steam-data-pipeline
main.py:254-note — success-flag checks and null guards inline in the ETL
loop); at 100 TB that becomes a first-class concern, so this module gives
the engine a deequ-style quality surface built Spark-first:

* ``profile`` — per-column stats in a MELT-then-aggregate shape: one
  projection explodes each row into (col, value) pairs, then two hash
  aggregations (groupBy(col, value) count → groupBy(col)) produce
  row/null/distinct/min/max per column. This deliberately avoids the
  ``Expand``-based plan Spark generates for multiple COUNT(DISTINCT x)
  aggregates in one agg (k distinct aggs multiply the scan k-fold) and
  avoids one-job-per-column driver loops: cost is one scan + two
  map-side-combined shuffles regardless of column count, and the
  distinct counts are EXACT (the scale swap to approx_count_distinct is
  a one-line change per column spec).
* ``check`` — declarative constraints (completeness, uniqueness, range,
  set membership, referential integrity) compiled into the minimum
  number of jobs: all row-local predicates fold into ONE conditional
  aggregate pass; uniqueness is a two-stage hash aggregate; referential
  integrity is a broadcast left-anti join against the (small) dimension.
* ``psi_drift`` — Population Stability Index between two populations of
  one numeric column over fixed-width bins derived from the GLOBAL
  min/max (deterministic, unlike ntile-style quantile bins whose edges
  depend on partition order). Counts are exact BIGINTs; the single
  float expression per bin is rounded to 9 decimals because ln() is not
  IEEE-correctly-rounded across engines (unlike sqrt).

All outputs are value-exact against a DuckDB oracle; see the qa_*
queries in plans/qa.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


@dataclass(frozen=True)
class ColSpec:
    """How one column enters the profile melt.

    kind: 'num' → distinctness/min/max on the double value;
          'str' → on the raw string;
          'ts'  → timestamp cast to its canonical string form
                  (verified identical between Spark and DuckDB for
                  micro-precision timestamps; lexicographic order ==
                  chronological order for the fixed-width format).
    """

    name: str
    kind: str  # 'num' | 'str' | 'ts'

    def melt_struct(self) -> Column:
        c = F.col(self.name)
        if self.kind == "num":
            sval = F.lit(None).cast("string")
            dval = c.cast("double")
        elif self.kind == "ts":
            sval = c.cast("string")
            dval = F.lit(None).cast("double")
        else:
            sval = c.cast("string")
            dval = F.lit(None).cast("double")
        return F.struct(
            F.lit(self.name).alias("col"),
            sval.alias("sval"),
            dval.alias("dval"),
        )


def profile(df: DataFrame, specs: Sequence[ColSpec]) -> DataFrame:
    """One row per column: (col, n_rows, n_nonnull, n_distinct,
    min_num, max_num, min_str, max_str).

    Plan shape: Project(explode) → HashAggregate(col, sval, dval)
    → HashAggregate(col). Both aggregates partial+final (map-side
    combine), so the shuffled volume after stage 1 is bounded by the
    number of DISTINCT values, not rows.
    """
    melted = df.select(
        F.explode(F.array(*[s.melt_struct() for s in specs])).alias("m")
    ).select("m.col", "m.sval", "m.dval")
    per_value = melted.groupBy("col", "sval", "dval").agg(
        F.count(F.lit(1)).alias("cnt"),
    ).withColumn(
        "is_null_group", F.col("sval").isNull() & F.col("dval").isNull()
    )
    nonnull = ~F.col("is_null_group")
    return per_value.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(nonnull, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_nonnull"),
        F.sum(F.when(nonnull, 1).otherwise(0)).cast("long").alias("n_distinct"),
        F.min("dval").alias("min_num"),
        F.max("dval").alias("max_num"),
        F.min("sval").alias("min_str"),
        F.max("sval").alias("max_str"),
    )


# --------------------------------------------------------------------------
# expectations
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Expect:
    """One declarative constraint. kind ∈ {'complete', 'predicate',
    'unique', 'ref'}; violations = rows that break it."""

    name: str
    kind: str
    col: str = ""
    predicate: Column | None = None
    ref_df: DataFrame | None = None
    ref_col: str = ""


def check(df: DataFrame, expects: Sequence[Expect]) -> DataFrame:
    """(constraint, violations, passed) per expectation.

    Row-local constraints ('complete', 'predicate') share ONE
    aggregate pass over df. 'unique' runs a two-stage hash aggregate
    (violations = duplicate rows beyond the first per key, NULL keys
    grouped like GROUP BY). 'ref' is a broadcast left-anti join; the
    referenced side must be dimension-sized.
    """
    if not expects:
        # fail loudly: rows[0] below would raise a bare IndexError, and
        # an empty report reading as "all checks passed" is worse
        raise ValueError("check() requires at least one expectation")
    local = [e for e in expects if e.kind in ("complete", "predicate")]
    rows: list[DataFrame] = []
    if local:
        aggs = []
        for e in local:
            if e.kind == "complete":
                bad = F.col(e.col).isNull()
            else:
                bad = ~e.predicate | e.predicate.isNull()
            aggs.append(
                F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias(e.name)
            )
        one = df.agg(*aggs)
        melt = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(e.name).alias("constraint"),
                        F.col(e.name).alias("violations"),
                    )
                    for e in local
                ]
            )
        ).alias("m")
        rows.append(one.select(melt).select("m.constraint", "m.violations"))
    for e in expects:
        if e.kind == "unique":
            dup = (
                df.groupBy(e.col)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(
                    F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
                    .cast("long")
                    .alias("violations")
                )
                .select(
                    F.lit(e.name).alias("constraint"), F.col("violations")
                )
            )
            rows.append(dup)
        elif e.kind == "ref":
            orphans = (
                df.join(
                    F.broadcast(
                        e.ref_df.select(
                            F.col(e.ref_col).alias(e.col)
                        ).distinct()
                    ),
                    on=e.col,
                    how="left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("violations"))
                .select(
                    F.lit(e.name).alias("constraint"), F.col("violations")
                )
            )
            rows.append(orphans)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.withColumn("passed", F.col("violations") == 0)


# --------------------------------------------------------------------------
# drift
# --------------------------------------------------------------------------


def psi_drift(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int = 10
) -> DataFrame:
    """Per-bin PSI contributions between two populations of `col`.

    Bin edges are fixed-width over the GLOBAL min/max of both
    populations — deterministic under any partitioning, unlike
    quantile binning. Returns one row per bin:
    (bin, cnt_ref, cnt_cur, contrib) with contrib rounded to 9
    decimals (ln() is not correctly-rounded IEEE, so the last bits
    are engine-specific; 1e-9 rounding removes them). Laplace
    smoothing (+1 per bin) keeps empty bins finite.

    Scale shape (scan-amplification study, round 10): ONE tagged
    union (the two populations' disjoint pushed-filter scans ≈ one
    full pass) feeds both the min/max bounds and a single
    conditional-count groupBy; totals ride the bounded bin spine as
    full-frame windows. The previous per-population binned() legs
    re-derived each input 3x and the joined spine twice — 12
    leg-scans per call, measured. No collect of data rows.
    """
    tagged = (
        ref.select(F.col(col).alias("x"), F.lit(True).alias("is_ref"))
        .unionByName(
            cur.select(F.col(col).alias("x"), F.lit(False).alias("is_ref"))
        )
        # NULLs must be dropped BEFORE the least(): least(NULL, k)
        # skips NULL args and returns k, which would silently route
        # every NULL row into the last bin. Finite-domain bound (r12
        # numeric-extremes contract): a +-1e308 outlier makes the bin
        # width overflow to inf and the bin expression NaN — drift
        # monitors operate on |x| < 1e150 (half the double exponent
        # range, so vmax-vmin can never overflow); wilder values are a
        # data-quality finding for qa_check, not a drift observation.
        .filter(F.col("x").isNotNull() & (F.abs(F.col("x")) < F.lit(1e150)))
    )
    bounds = tagged.agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )
    # Constant column ⇒ vmax == vmin ⇒ zero width: clamp like
    # layout.grid_scale so every row lands in bin 0 instead of a
    # divide-by-zero (ANSI) / all-null bins (legacy).
    w = F.greatest(
        (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins)),
        F.lit(1e-12),
    )
    b = F.floor((F.col("x") - F.col("vmin")) / w)
    counts = (
        tagged.crossJoin(F.broadcast(bounds))
        .select(
            F.least(b, F.lit(n_bins - 1)).cast("long").alias("bin"),
            "is_ref",
        )
        .groupBy("bin")
        .agg(
            F.count_if(F.col("is_ref")).cast("long").alias("cnt_ref"),
            F.count_if(~F.col("is_ref")).cast("long").alias("cnt_cur"),
        )
    )
    spine = ref.sparkSession.range(n_bins).select(F.col("id").alias("bin"))
    joined = spine.join(counts, "bin", "left").fillna(
        0, subset=["cnt_ref", "cnt_cur"]
    )
    w_full = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (F.col("cnt_ref") + 1).cast("double") / (
        (F.sum("cnt_ref").over(w_full) + n_bins).cast("double")
    )
    q = (F.col("cnt_cur") + 1).cast("double") / (
        (F.sum("cnt_cur").over(w_full) + n_bins).cast("double")
    )
    return joined.select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.round((p - q) * F.log(p / q), 9).alias("contrib"),
    )


def mad_outliers(
    df: DataFrame,
    ts_col: str,
    thr: float = 4.4478,
) -> DataFrame:
    """Robust daily-volume anomaly detection: flag days whose row
    count deviates from the median by more than ``thr`` × MAD
    (default 4.4478 = 3 × 1.4826, the 3σ-equivalent under the normal
    consistency constant).

    Median/MAD, not mean/stddev: a single ingest spike inflates the
    stddev enough to mask itself (masking/breakdown problem); the
    median absolute deviation has a 50% breakdown point, so the
    detector still fires when half the days are bad — exactly the
    regime a pipeline monitor exists for.

    Determinism: counts are exact BIGINTs; the exact median of
    integers is x.0 or x.5 (interpolated midpoint), exact in double;
    ``thr`` must be passed as the SAME decimal literal on any
    comparing engine (both parse to the identical double). Days is a
    bounded dimension, so everything after the map-side-combined
    day-count aggregate is dimension-sized.
    """
    daily = (
        df.select(F.date_trunc("day", F.col(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    med = daily.agg(F.median("cnt").alias("med"))
    mad = (
        daily.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("cnt") - F.col("med")).alias("dev"))
        .agg(F.median("dev").alias("mad"))
    )
    return (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "cnt",
            "med",
            "mad",
            (
                F.abs(F.col("cnt") - F.col("med"))
                > F.lit(thr) * F.col("mad")
            ).alias("is_outlier"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    content_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff between two versions of a table: one row per key
    with status ∈ {added, removed, changed, unchanged}.

    Content equality is decided on ``md5(concat_ws(chr(31), cols))`` —
    a digest both Spark and DuckDB compute identically (so the diff is
    value-exact cross-engine) and, at scale, the reason this shape
    works: the full-outer join shuffles (key, 32-byte digest) instead
    of the row payload. The unit separator keeps ("ab","c") ≠ ("a","bc");
    NULL columns hash as empty (concat_ws skips NULLs) — callers who
    need NULL ≠ '' add an explicit sentinel projection first.
    """
    def digest(df: DataFrame, label: str) -> DataFrame:
        return df.select(
            F.col(key),
            F.md5(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in content_cols]
                )
            ).alias(f"h_{label}"),
        )

    o, n = digest(old, "old"), digest(new, "new")
    joined = o.join(n, on=key, how="full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col(key), status.alias("status"))


def psi_drift_multi(
    ref: DataFrame,
    cur: DataFrame,
    cols: Sequence[str],
    n_bins: int = 8,
) -> DataFrame:
    """Per-column PSI drift for MANY numeric columns in ONE scan per
    population — the wide-table drift monitor. Same semantics per
    column as :func:`psi_drift` (fixed-width bins over the global
    min/max of both populations, Laplace smoothing, contrib rounded
    to 9 decimals); the multi-column shape is the melt trick from
    :func:`profile`: one projection explodes each row into (col, x)
    pairs, so k columns cost one scan + one groupBy, not k jobs.
    Returns (col, bin, cnt_ref, cnt_cur, contrib) — per-bin rows, not
    a per-column float sum (summing doubles across bins would be
    partition-order-dependent; callers sum the 9-decimal contribs,
    which is deterministic at fixed row set).
    """
    def melt(df: DataFrame, side: str) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col(c).cast("double").alias("x"),
                )
                for c in cols
            ]
        )
        return (
            df.select(F.explode(pairs).alias("m"))
            .select("m.col", "m.x")
            # same finite-domain bound as psi_drift (r12 contract)
            .filter(F.col("x").isNotNull() & (F.abs(F.col("x")) < F.lit(1e150)))
            .withColumn("side", F.lit(side))
        )

    both = melt(ref, "ref").unionByName(melt(cur, "cur"))
    bounds = both.groupBy("col").agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )
    # same zero-width clamp as psi_drift: a constant column must not
    # divide by zero under ANSI mode.
    w = F.greatest(
        (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins)),
        F.lit(1e-12),
    )
    binned = (
        both.join(F.broadcast(bounds), on="col")
        .select(
            "col",
            "side",
            F.least(
                F.floor((F.col("x") - F.col("vmin")) / w),
                F.lit(n_bins - 1),
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("col", "bin")
        .agg(
            F.sum(F.when(F.col("side") == "ref", 1).otherwise(0))
            .cast("long")
            .alias("cnt_ref"),
            F.sum(F.when(F.col("side") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("cnt_cur"),
        )
    )
    spark = ref.sparkSession
    spine = (
        spark.createDataFrame([(c,) for c in cols], "col string")
        .crossJoin(
            spark.range(n_bins).select(F.col("id").alias("bin"))
        )
    )
    j = spine.join(binned, on=["col", "bin"], how="left").fillna(
        0, subset=["cnt_ref", "cnt_cur"]
    )
    # per-column totals as whole-partition windows over the bounded
    # (col, bin) spine — a separate groupBy branch would re-derive the
    # melt+bin pipeline a second time (scan-amplification study)
    w_col = Window.partitionBy("col")
    p = (F.col("cnt_ref") + 1).cast("double") / (
        (F.sum("cnt_ref").over(w_col) + n_bins).cast("double")
    )
    q = (F.col("cnt_cur") + 1).cast("double") / (
        (F.sum("cnt_cur").over(w_col) + n_bins).cast("double")
    )
    return j.select(
        "col",
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.round((p - q) * F.log(p / q), 9).alias("contrib"),
    )
