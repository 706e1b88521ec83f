"""Aggregation queries (``agg_*``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from steam_data_pipeline_spark.plans.base import Registry, t

EXT = Registry()


@EXT.add(
    "agg_rolling_distinct",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS u7
    FROM days d
    JOIN events e
      ON CAST(date_trunc('day', e.ts) AS DATE)
         BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
    doc=(
        "Trailing 7-day DISTINCT users per day (the rolling-uniques "
        "dashboard ask) via contribution expansion: each event row "
        "explodes to the <= 7 window-end days it contributes to, then "
        "one groupBy(day) count-distinct — a map-side x7 expand plus "
        "ONE shuffle, instead of a per-row range window holding a "
        "distinct-set state (which Spark windows cannot express "
        "anyway). At 100 TB the swap is approx_count_distinct per "
        "day-bucket or an HLL-sketch union; the expansion shape is "
        "unchanged. Only days that exist in the data are emitted, "
        "matching the oracle's days table."
    ),
    tags=("agg", "window", "distinct"),
)
def agg_rolling_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).alias("eday"), "user_id"
    )
    days = ev.select(F.col("eday").alias("day")).distinct()
    contrib = ev.select(
        F.explode(
            F.sequence(F.col("eday"), F.date_add(F.col("eday"), 6))
        ).alias("day"),
        "user_id",
    )
    out = (
        contrib.join(days, on="day", how="left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("u7"))
    )
    return out.select(F.col("day").cast("timestamp").alias("day"), "u7")


@EXT.add(
    "agg_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(CAST(date_trunc('day', e.ts) AS DATE) - f.cohort_day AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN firsts f USING (user_id)
    WHERE CAST(date_trunc('day', e.ts) AS DATE) - f.cohort_day <= 7
    GROUP BY f.cohort_day, day_offset
    """,
    doc=(
        "Cohort retention matrix: users grouped by first-seen day, "
        "distinct-active counts per (cohort, day offset <= 7) - the "
        "standard retention triangle. Two shuffles (first-seen "
        "aggregate, cohort-offset aggregate) joined on user_id; the "
        "firsts table is |users| rows, broadcast-eligible when users "
        "are dim-sized and hash-joined otherwise - never a scan of "
        "events x events."
    ),
    tags=("agg", "analytics", "cohort"),
)
def agg_retention_cohort(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = ev.join(firsts, on="user_id").withColumn(
        "day_offset", F.datediff(F.col("day"), F.col("cohort_day")).cast("long")
    )
    return (
        joined.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "day_offset",
            "n_active",
        )
    )


@EXT.add(
    "agg_hll_mergeable",
    oracle="""
    SELECT (SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) FROM events) AS n_days,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users_exact,
           TRUE AS union_within_5pct
    """,
    doc=(
        "MERGEABLE distinct-count sketches (Datasketches HLL, Spark "
        "4 hll_sketch_agg/hll_union_agg): per-day user sketches are "
        "built once, then UNIONED into the global estimate without "
        "touching raw data again - the pre-aggregation pattern that "
        "makes 100 TB dashboards answer 'distinct users any date "
        "range' from day-grain sketch tables instead of re-scanning "
        "facts. Invariant oracle: exact day and user counts anchor "
        "the row; the sketch-union estimate must land within 5% of "
        "the exact distinct (the agg_distinct_pool_approx pattern "
        "for mergeable sketches)."
    ),
    tags=("agg", "approx", "sketch"),
)
def agg_hll_mergeable(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("n_users_exact"))
    return merged.crossJoin(exact).select(
        "n_days",
        "n_users_exact",
        (
            F.abs(F.col("__est") - F.col("n_users_exact"))
            <= 0.05 * F.col("n_users_exact")
        ).alias("union_within_5pct"),
    )


# ---------------------------------------------------------------------------
# frequency sketches: heavy hitters / count-min / bloom decontamination
# (round 6 — llm/sketches.py)
# ---------------------------------------------------------------------------


@EXT.add(
    "agg_heavy_hitters",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token ASC
    LIMIT 20
    """,
    doc=(
        "Two-pass heavy hitters (top-20 tokens): bounded-memory "
        "per-partition space-saving summaries (mapInPandas, O(capacity) "
        "state) produce <= partitions x capacity candidates, then ONE "
        "exact recount restricted to the candidate set. The full token "
        "frequency table is never shuffled - the Misra-Gries union "
        "guarantee makes candidates a provable superset of every token "
        "with count >= N/capacity, so with margin the result IS the "
        "exact top-k, which the DuckDB oracle checks outright."
    ),
    tags=("agg", "sketch", "llm"),
)
def agg_heavy_hitters(spark, sf_dir):
    from steam_data_pipeline_spark.llm import sketches as SK

    return SK.heavy_hitters_sketched(
        t(spark, sf_dir, "documents"), k=20, capacity=128
    )


@EXT.add(
    "agg_countmin_tokens",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
      FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok
      WHERE token <> '' GROUP BY token
    )
    SELECT token, exact_cnt,
           TRUE AS est_ge_exact, TRUE AS est_within_bound
    FROM exact
    ORDER BY exact_cnt DESC, token ASC
    LIMIT 10
    """,
    doc=(
        "MERGEABLE count-min sketch in its distributed-native sparse "
        "form (d, bucket, cnt): one map-side-combined aggregation "
        "builds it, union+re-sum merges shards, and point estimates "
        "broadcast the <= depth x width sketch. Invariant oracle (the "
        "agg_hll_mergeable pattern): exact counts for the top-10 "
        "probe tokens anchor the row; the CMS estimate must satisfy "
        "est >= exact (always, by construction) and est <= exact + "
        "4N/width (w.p. >= 1-2^-depth per probe; deterministic for "
        "the fixed seed, verified at sf0.001/0.01/0.1)."
    ),
    tags=("agg", "approx", "sketch"),
)
def agg_countmin_tokens(spark, sf_dir):
    from steam_data_pipeline_spark.llm import sketches as SK

    WIDTH, DEPTH = 4096, 4
    toks = SK.tokens(t(spark, sf_dir, "documents"))
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    probes = exact.orderBy(F.col("exact_cnt").desc(), F.col("token").asc()).limit(10)
    sketch = SK.countmin_build(toks, "token", width=WIDTH, depth=DEPTH)
    est = SK.countmin_estimate(sketch, probes, "token", width=WIDTH, depth=DEPTH)
    n_total = toks.count()  # one scalar: the error-bound scale 4N/width
    return (
        probes.join(est.withColumnRenamed("item", "token"), "token")
        .select(
            "token",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact"),
            (
                F.col("est") <= F.col("exact_cnt") + F.lit(4.0 * n_total / WIDTH)
            ).alias("est_within_bound"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
    )


@EXT.add(
    "agg_pivot_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
    doc=(
        "Wide daily matrix via groupBy().pivot() with DECLARED pivot "
        "values - the dashboard-table shape. Declaring the value list "
        "is the scale-correct form: without it Spark runs an extra "
        "distinct-collect job over the pivot column before planning, "
        "and an unbounded value set would mint unbounded columns. "
        "Compiles to one pass of conditional aggregates (the same "
        "plan as the oracle's CASE columns), map-side combined, one "
        "shuffle on day."
    ),
    tags=("agg", "pivot"),
)
def agg_pivot_daily(spark, sf_dir):
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=types)
        .select(
            "day", *[F.col(c).cast("long").alias(c) for c in types]
        )
    )


@EXT.add(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
            FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.row_total AS BIGINT) AS prob
    FROM c JOIN tot t USING (from_type)
    """,
    doc=(
        "User-journey Markov transition matrix: per-user event "
        "sequences (ordered by (ts, event_id) — the event_id tie-break "
        "makes same-timestamp ordering deterministic, without which "
        "LEAD would be partition-order-dependent), lead-paired into "
        "(from, to) transitions, normalized per source state. prob is "
        "one integer-over-integer IEEE division — exact cross-engine. "
        "Plan: one shuffle on user_id for the sequence window, then "
        "type-pair aggregation over a bounded state space; row totals "
        "re-join broadcast (states are a dimension)."
    ),
    tags=("agg", "analytics"),
)
def agg_markov_transitions(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return c.join(F.broadcast(tot), on="from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("row_total")).alias("prob"),
    )


@EXT.add(
    "agg_decay_halflife",
    oracle="""
    WITH mx AS (SELECT max(date_trunc('day', ts)) AS ref FROM events),
    ev AS (
      SELECT event_type,
             date_diff('day', date_trunc('day', ts), ref) AS age,
             TRY_CAST(ROUND(value, 6) AS DECIMAL(16,6)) AS val
      FROM events, mx
    ),
    w AS (
      SELECT event_type, val,
             CAST(ROUND(EXP(-age * LN(2) / 7.0), 9) AS DECIMAL(10,9)) AS wt
      FROM ev
    )
    SELECT event_type,
           ROUND(CAST(SUM(wt * val) AS DOUBLE), 6) AS decay_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY event_type
    """,
    doc=(
        "Half-life time-decay scoring (7-day half-life): the trending "
        "metric behind every 'hot right now' ranking — recent activity "
        "dominates, old activity fades exponentially, and the score is "
        "a plain one-pass aggregate (no per-day recursion). Numeric "
        "discipline for cross-engine exactness: the transcendental is "
        "rounded to 9 decimals and pinned to DECIMAL(10,9) BEFORE any "
        "arithmetic, values quantized to DECIMAL(16,6), the sum runs "
        "in exact decimal and only the FINAL result is cast to double "
        "and rounded — partitioning-invariant (no float summation "
        "order dependence), so the same number comes out at any "
        "shuffle width. Scale: map-side partial aggregation into 5 "
        "groups; the 1-row global max broadcasts; ref-day join is a "
        "BroadcastNestedLoopJoin over a single row."
    ),
    tags=("agg", "decay"),
)
def agg_decay_halflife(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.date_trunc("day", "ts")).alias("ref"))
    e = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.datediff(F.to_date("ref"), F.to_date("ts")).alias("age"),
        F.round("value", 6).try_cast("decimal(16,6)").alias("val"),
    )
    w = e.select(
        "event_type",
        "val",
        F.round(
            F.exp(-F.col("age") * F.log(F.lit(2.0)) / F.lit(7.0)),
            9,
        ).cast("decimal(10,9)").alias("wt"),
    )
    return w.groupBy("event_type").agg(
        F.round(F.sum(F.col("wt") * F.col("val")).cast("double"), 6).alias(
            "decay_score"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


@EXT.add(
    "agg_quantile_histogram",
    oracle="""
    WITH b AS (
      -- finite sketch domain (r12 extremes contract): a bin index is
      -- a BIGINT, so |value| must stay under 4.5e18*5; wilder values
      -- are a data-quality finding, not a quantile observation
      SELECT CAST(FLOOR(value / 5.0) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND ABS(value) < 4.5e18
      GROUP BY 1
    ),
    cum AS (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
      FROM b
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
            WHERE value IS NOT NULL AND ABS(value) < 4.5e18),
    pcts AS (SELECT CAST(g AS BIGINT) AS pct
             FROM (VALUES (50), (90), (99)) v(g))
    SELECT p.pct, t.n,
           (t.n * p.pct + 99) // 100 AS k,
           MIN(cum.bin) AS est_bin,
           CAST((MIN(cum.bin) + 1) * 5 AS DOUBLE) AS est
    FROM pcts p
    CROSS JOIN tot t
    JOIN cum ON cum.cm >= (t.n * p.pct + 99) // 100
    GROUP BY p.pct, t.n
    """,
    doc=(
        "Mergeable quantile sketch as a fixed-width histogram (w=5 "
        "over the value domain): per-partition bin counts are the "
        "partials (map-side combined — the shuffle carries ≤100 tiny "
        "rows per partition, never data), merge = SUM per bin, "
        "estimate(p) = upper edge of the first bin whose cumulative "
        "count reaches ⌈p·n⌉ — deterministic with a PROVEN error "
        "bound (±w), unlike percentile_approx's opaque GK sketch "
        "(agg_percentiles_approx), and mergeable across days/shards "
        "like the HLL/count-min family. All arithmetic integer "
        "(⌈p·n/100⌉ as (n·pct+99) div 100); the cumulative window "
        "runs over ≤100 bins — a deliberate SinglePartition on sketch "
        "cells, not data."
    ),
    tags=("agg", "sketch"),
)
def agg_quantile_histogram(spark, sf_dir):
    from pyspark.sql import Window

    # NULL values must be excluded BEFORE binning (round-10 module
    # review): a NULL bin's position in the cumulative window differs
    # between engines (Spark sorts NULLS FIRST ascending, DuckDB NULLS
    # LAST), so on real data with NULLs the quantile estimate would
    # silently diverge — the fixture has none, which is exactly why
    # the differential harness could never catch it.
    ev = t(spark, sf_dir, "events").filter(
        # finite sketch domain, mirrored in the oracle (r12 contract)
        F.col("value").isNotNull() & (F.abs("value") < F.lit(4.5e18))
    )
    hist = (
        ev.select(F.floor(F.col("value") / 5.0).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cum = hist.withColumn(
        "cm",
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pcts = spark.createDataFrame([(50,), (90,), (99,)], "pct long")
    k = F.expr("(n * pct + 99) div 100")
    return (
        pcts.crossJoin(F.broadcast(tot))
        .crossJoin(cum)
        .filter(F.col("cm") >= k)
        .groupBy("pct", "n")
        .agg(F.min("bin").alias("est_bin"))
        .select(
            "pct",
            "n",
            k.alias("k"),
            "est_bin",
            ((F.col("est_bin") + 1) * 5).cast("double").alias("est"),
        )
    )


@EXT.add(
    "agg_gini_segment",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal IS NOT NULL  -- no rank position for NULL (round-11 NULL sweep)
    ),
    mn AS (SELECT seg, CAST(MIN(cents) AS BIGINT) AS vmin
           FROM c GROUP BY 1),
    s AS (
      SELECT c.seg, c.cents - mn.vmin AS v
      FROM c JOIN mn ON c.seg = mn.seg
    ),
    g AS (SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM s GROUP BY 1, 2),
    cum AS (
      SELECT seg, v, cnt,
             SUM(cnt) OVER (PARTITION BY seg ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cm
      FROM g
    ),
    agg AS (
      SELECT seg,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(v * cnt) AS BIGINT) AS s1,
             CAST(SUM(v * (2 * (cm - cnt) * cnt + cnt * (cnt + 1)))
                  AS BIGINT) AS s2x2
      FROM cum GROUP BY 1
    )
    SELECT seg, n, s1,
           ROUND(CAST(s2x2 - (n + 1) * s1 AS DOUBLE)
                 / CAST(NULLIF(n * s1, 0) AS DOUBLE), 9) AS gini
    FROM agg
    """,
    doc=(
        "Per-segment Gini concentration coefficient of (min-shifted) "
        "account balances, EXACT via the value-histogram rank "
        "identity: for sorted values with duplicates, "
        "sum(i*x_i) collapses to sum over distinct v of "
        "v*(c*C_prev + c(c+1)/2) — every term a BIGINT, so "
        "G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) is one exact "
        "integer ratio, rounded 9 at the single final division. The "
        "shift to min makes the support non-negative (Gini's domain) "
        "deterministically. Scale: same histogram-cumsum shape as "
        "feat_discretize_quantile — the rank window sorts DISTINCT "
        "values per segment, never customer rows; a naive "
        "sort-and-rank Gini is a per-segment full data sort. "
        "Degenerate all-equal segments surface NULL via "
        "NULLIF(n*s1), not a divide error."
    ),
    tags=("agg", "stats"),
)
def agg_gini_segment(spark, sf_dir):
    from pyspark.sql import Window

    c = t(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).try_cast("long").alias("cents"),
    )
    mn = c.groupBy("seg").agg(F.min("cents").cast("long").alias("vmin"))
    s = c.join(F.broadcast(mn), "seg").select(
        "seg", (F.col("cents") - F.col("vmin")).alias("v")
    )
    g = s.groupBy("seg", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = (
        Window.partitionBy("seg")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select("seg", "v", "cnt", F.sum("cnt").over(wc).alias("cm"))
    agg = cum.groupBy("seg").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("cnt")).cast("long").alias("s1"),
        F.sum(
            F.col("v")
            * (
                2 * (F.col("cm") - F.col("cnt")) * F.col("cnt")
                + F.col("cnt") * (F.col("cnt") + 1)
            )
        )
        .cast("long")
        .alias("s2x2"),
    )
    return agg.select(
        "seg",
        "n",
        "s1",
        F.round(
            (F.col("s2x2") - (F.col("n") + 1) * F.col("s1")).cast("double")
            / F.nullif(F.col("n") * F.col("s1"), F.lit(0)).cast("double"),
            9,
        ).alias("gini"),
    )


@EXT.add(
    "agg_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT user_id, day, value,
             first_value(value) OVER (PARTITION BY user_id, day
                                      ORDER BY ts, event_id) AS o,
             first_value(value) OVER (PARTITION BY user_id, day
                                      ORDER BY ts DESC, event_id DESC) AS c
      FROM e
    )
    SELECT user_id, day,
           MAX(o) AS open, MAX(value) AS high, MIN(value) AS low,
           MAX(c) AS close, CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM w GROUP BY 1, 2
    """,
    doc=(
        "Daily OHLC (open/high/low/close) bars per user over purchase "
        "values — the canonical time-series downsampling primitive "
        "(market bars, metric rollups). Open/close are argmin/argmax "
        "by (ts, event_id) expressed as ONE struct min/max per group — "
        "no window, no sort: the whole query is a single "
        "map-side-combined groupBy, because struct ordering makes "
        "first/last-by-time an ordinary commutative aggregate (the "
        "tie-break on event_id makes it deterministic where "
        "first_value over a partial order is not). Values pass "
        "through untouched (no float arithmetic), so doubles match "
        "bit-exactly. Scale: one shuffle on (user, day) with near-"
        "total map-side combine; the oracle's window formulation is "
        "the shape this op deliberately avoids."
    ),
    tags=("agg", "timeseries"),
)
def agg_ohlc_bars(spark, sf_dir):
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "ts",
            "event_id",
            "value",
        )
    )
    ost = F.min(F.struct("ts", "event_id", "value")).alias("o")
    cst = F.max(F.struct("ts", "event_id", "value")).alias("c")
    return (
        e.groupBy("user_id", "day")
        .agg(
            ost,
            cst,
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .select(
            "user_id",
            "day",
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "n_trades",
        )
    )


@EXT.add(
    "agg_entropy_source",
    oracle="""
    WITH d AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM d GROUP BY 1),
    term AS (
      SELECT d.source, d.c, n.n,
             CAST(ROUND(LN(CAST(d.c AS DOUBLE) / CAST(n.n AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS lnp
      FROM d JOIN n USING (source)
    )
    SELECT source, CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(-CAST(SUM(CAST(c AS DECIMAL(12,0)) * lnp) AS DOUBLE)
                 / CAST(MAX(n) AS DOUBLE), 9)
             AS entropy
    FROM term GROUP BY 1
    """,
    doc=(
        "Shannon entropy of the language mix per document source — "
        "the diversity metric a corpus-mixing pipeline monitors per "
        "domain (a source collapsing to one language is a crawl "
        "regression). Numeric discipline: H = -(1/n) * sum(c*ln(c/n)) "
        "with each ln (of an exact count ratio) rounded to 9 decimals "
        "and fixed into DECIMAL(18,9); the weighted product uses "
        "DECIMAL(12,0) counts so the result precision (31,9) stays "
        "under the 38-digit cap — wider operands would make Spark "
        "silently SHED SCALE to fit, a 1e-8-scale error this query's "
        "first draft actually hit — and the sum is then an EXACT "
        "decimal aggregate, order-independent under any partitioning, "
        "same contract as win_survival_km's log-sum, "
        "with one division + round at the end. Scale: two map-side-"
        "combined aggs on the (source, lang) domain; the fact table "
        "is scanned once."
    ),
    tags=("agg", "stats", "llm"),
)
def agg_entropy_source(spark, sf_dir):
    d = t(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = d.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    term = d.join(F.broadcast(n), "source").select(
        "source",
        "c",
        "n",
        F.round(
            F.log(F.col("c").cast("double") / F.col("n").cast("double")), 9
        )
        .cast("decimal(18,9)")
        .alias("lnp"),
    )
    return term.groupBy("source").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.round(
            -F.sum(F.col("c").cast("decimal(12,0)") * F.col("lnp"))
            .cast("double")
            / F.max("n").cast("double"),
            9,
        ).alias("entropy"),
    )


@EXT.add(
    "agg_mwu_auc",
    oracle="""
    -- finite-domain bound (r12 extremes contract): keep the r11 NULL
    -- convention (NULL routes to the last bin on BOTH engines via
    -- LEAST's null-skip) but exclude |v| >= 1e150, where the bin
    -- width overflows and the bin expression turns NaN
    WITH x AS (SELECT value AS v FROM events WHERE event_type = 'purchase'
               AND (value IS NULL OR ABS(value) < 1e150)),
    y AS (SELECT value AS v FROM events WHERE event_type = 'view'
          AND (value IS NULL OR ABS(value) < 1e150)),
    bounds AS (
      SELECT MIN(v) AS vmin, MAX(v) AS vmax
      FROM (SELECT v FROM x UNION ALL SELECT v FROM y)
    ),
    bx AS (
      SELECT LEAST(CAST(FLOOR((v - vmin)
                         / GREATEST((vmax - vmin) / 256.0, 1e-12))
                        AS BIGINT), 255) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM x, bounds GROUP BY 1
    ),
    by_ AS (
      SELECT LEAST(CAST(FLOOR((v - vmin)
                         / GREATEST((vmax - vmin) / 256.0, 1e-12))
                        AS BIGINT), 255) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM y, bounds GROUP BY 1
    ),
    spine AS (SELECT CAST(g AS BIGINT) AS bin
              FROM generate_series(0, 255) s(g)),
    j AS (
      SELECT spine.bin,
             CAST(COALESCE(bx.c, 0) AS BIGINT) AS c1,
             CAST(COALESCE(by_.c, 0) AS BIGINT) AS c2
      FROM spine LEFT JOIN bx USING (bin) LEFT JOIN by_ USING (bin)
    ),
    cum AS (
      SELECT bin, c1, c2,
             SUM(c1 + c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
               - (c1 + c2) AS cprev
      FROM j
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * (2 * cprev + (c1 + c2) + 1)) AS BIGINT) AS r1x2
      FROM cum
    )
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1x2,
           ROUND(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(2 * n1 * n2 AS DOUBLE), 9) AS auc
    FROM agg
    """,
    doc=(
        "Mann-Whitney rank-sum statistic between two event populations "
        "(purchase vs view values) over the same 256-bin ecdf grid as "
        "qa_ks_drift, with midrank tie handling — U/(n1*n2) is exactly "
        "the AUC (the probability a random purchase value exceeds a "
        "random view value), making this both the standard "
        "nonparametric drift test AND the label-free model-score "
        "separability metric. All-integer: ranks arrive through the "
        "doubled-midrank identity (2*rank_avg = 2*C_prev + c + 1), so "
        "R1, U1 are exact BIGINTs and only the final AUC division is "
        "IEEE, rounded 9. Completes the drift battery: PSI "
        "(expectation), KS (sup-norm), MWU (rank shift). Scale: two "
        "map-side-combined bin aggs + a cumsum over the fixed 256-row "
        "spine; the fact table is never shuffled."
    ),
    tags=("agg", "stats", "drift"),
)
def agg_mwu_auc(spark, sf_dir):
    from pyspark.sql import Window

    # single-pass tagged binning (scan-amplification study): one
    # pushed-filter scan feeds bounds, a second the conditional-count
    # groupBy — the old per-sample binned() legs re-derived the events
    # scan 6x across branches
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        # finite-domain bound; NULL v keeps its r11 last-bin convention
        .filter(F.col("value").isNull() | (F.abs("value") < F.lit(1e150)))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == "purchase").alias("is_x"),
        )
    )
    bounds = ev.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    n_bins = 256
    w = F.greatest(
        (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins)),
        F.lit(1e-12),
    )
    b = F.least(
        F.floor((F.col("v") - F.col("vmin")) / w), F.lit(n_bins - 1)
    ).cast("long")
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .select(b.alias("bin"), "is_x")
        .groupBy("bin")
        .agg(
            F.count_if(F.col("is_x")).cast("long").alias("c1"),
            F.count_if(~F.col("is_x")).cast("long").alias("c2"),
        )
    )
    spine = spark.range(n_bins).select(F.col("id").alias("bin"))
    j = spine.join(counts, "bin", "left").fillna(0, subset=["c1", "c2"])
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.select(
        "bin",
        "c1",
        "c2",
        (F.sum(F.col("c1") + F.col("c2")).over(wc) - (F.col("c1") + F.col("c2")))
        .alias("cprev"),
    )
    agg = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("cprev") + F.col("c1") + F.col("c2") + 1)
        )
        .cast("long")
        .alias("r1x2"),
    )
    u1x2 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("long")
    return agg.select(
        "n1",
        "n2",
        u1x2.alias("u1x2"),
        F.round(
            u1x2.cast("double")
            / (2 * F.col("n1") * F.col("n2")).cast("double"),
            9,
        ).alias("auc"),
    )


@EXT.add(
    "agg_autocorr_daily",
    oracle="""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    lagd AS (
      SELECT event_type, x,
             lead(x) OVER (PARTITION BY event_type ORDER BY day) AS xn
      FROM d
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM d GROUP BY 1
    )
    SELECT l.event_type, m.n,
           ROUND(CAST(SUM((m.n * l.x - m.s) * (m.n * l.xn - m.s))
                      FILTER (WHERE l.xn IS NOT NULL) AS DOUBLE)
                 / CAST(NULLIF(SUM((m.n * l.x - m.s) * (m.n * l.x - m.s)),
                               0) AS DOUBLE), 9) AS r1
    FROM lagd l JOIN m USING (event_type)
    GROUP BY 1, 2
    """,
    doc=(
        "Lag-1 autocorrelation of the daily event-count series per "
        "event type — the ingest-health signal that distinguishes "
        "steady load (r1 near 0 for Poisson arrivals) from trending "
        "or oscillating volume, feeding the same monitoring layer as "
        "qa_anomaly_days. EXACT integer moments: every deviation is "
        "n-scaled ((n*x - S) instead of x - S/n), so numerator and "
        "denominator are exact BIGINT sums and only the final ratio "
        "is IEEE, rounded 9 — the float-mean formulation would be "
        "partition-order-dependent. Scale: the fact collapses to the "
        "(type, day) domain in one map-side-combined agg; the lead "
        "window and moment sums run over the BOUNDED daily series "
        "(days x types), never data rows."
    ),
    tags=("agg", "timeseries", "qa"),
)
def agg_autocorr_daily(spark, sf_dir):
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = d.select(
        "event_type", "x", F.lead("x").over(w).alias("xn")
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    devn = F.col("n") * F.col("xn") - F.col("s")
    return (
        lagd.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.round(
                F.sum(F.when(F.col("xn").isNotNull(), dev * devn))
                .cast("double")
                / F.nullif(F.sum(dev * dev), F.lit(0)).cast("double"),
                9,
            ).alias("r1")
        )
        .select("event_type", "n", "r1")
    )


@EXT.add(
    "agg_bootstrap_ci",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS i,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    b AS (SELECT CAST(g AS BIGINT) AS b FROM generate_series(0, 39) s(g)),
    w AS (
      SELECT b.b, o.x,
             (o.i * 2654435761 + b.b * 40503 + 11) % 1000003 AS u
      FROM o CROSS JOIN b
    ),
    pw AS (
      SELECT b, x,
             CASE WHEN u < 367880 THEN 0
                  WHEN u < 735760 THEN 1
                  WHEN u < 919701 THEN 2
                  WHEN u < 981014 THEN 3
                  WHEN u < 996342 THEN 4
                  WHEN u < 999408 THEN 5
                  ELSE 6 END AS wt
      FROM w
    ),
    means AS (
      -- HUGEINT micro means; a replicate whose micro mean overflows
      -- BIGINT leaves the rank spine (r12 extremes contract) — the CI
      -- is then over the finite replicates, deterministically
      SELECT b,
             TRY_CAST((SUM(CAST(wt AS HUGEINT) * x) // SUM(wt)) * 1000000
                  + ((SUM(CAST(wt AS HUGEINT) * x) % SUM(wt)) * 1000000)
                    // SUM(wt)
                  AS BIGINT) AS mean_micro
      FROM pw GROUP BY b HAVING SUM(wt) > 0
    ),
    ranked AS (
      SELECT b, mean_micro,
             row_number() OVER (ORDER BY mean_micro, b) AS rk,
             COUNT(*) OVER () AS nb
      FROM means WHERE mean_micro IS NOT NULL
    )
    SELECT CAST(MAX(nb) AS BIGINT) AS n_boot,
           CAST(MAX(CASE WHEN rk = 2 THEN mean_micro END) AS BIGINT)
             AS lo_micro,
           CAST(MAX(CASE WHEN rk = nb - 1 THEN mean_micro END) AS BIGINT)
             AS hi_micro
    FROM ranked
    """,
    doc=(
        "Deterministic Poisson-bootstrap confidence interval for the "
        "mean order value: 40 bootstrap replicates where each row's "
        "multiplicity in replicate b is Poisson(1)-distributed via an "
        "integer inverse-CDF over a portable hash of (row, replicate) "
        "— THE distributed bootstrap (no resample materialization, "
        "one pass, map-side combinable), made reproducible across "
        "engines/runs/partitionings where rand()-based bootstrap "
        "never is. All-integer: weights from fixed hash thresholds, "
        "replicate means as micro-scaled floor divisions, CI bounds = "
        "rank-picked order statistics (drop one low/one high of 40 "
        "= central ~95%), ties broken on replicate id. Scale: the "
        "40x weight expansion collapses immediately into the per-"
        "replicate agg (partial rows per partition = 40), so shuffle "
        "volume is O(replicates), not O(rows); the rank window runs "
        "over 40 rows."
    ),
    tags=("agg", "stats", "udaf"),
)
def agg_bootstrap_ci(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("i"),
        F.round(F.col("o_totalprice") * 100).try_cast("long").alias("x"),
    )
    b = spark.range(0, 40).select(F.col("id").alias("b"))
    w = o.crossJoin(F.broadcast(b)).select(
        "b",
        "x",
        (
            (F.col("i") * F.lit(2654435761) + F.col("b") * F.lit(40503) + 11)
            % F.lit(1000003)
        ).alias("u"),
    )
    wt = (
        F.when(F.col("u") < 367880, 0)
        .when(F.col("u") < 735760, 1)
        .when(F.col("u") < 919701, 2)
        .when(F.col("u") < 981014, 3)
        .when(F.col("u") < 996342, 4)
        .when(F.col("u") < 999408, 5)
        .otherwise(6)
    )
    means = (
        w.select("b", "x", wt.alias("wt"))
        .groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("x")).alias("sx"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "b",
            # DECIMAL(38,0) micro means (the long-division identity's
            # documented escalation, triggered by the r12 extremes
            # corpus): exact wide math, TRY_CAST back to BIGINT; a
            # replicate whose micro mean overflows BIGINT leaves the
            # rank spine below, deterministically on both engines
            # Spark's `div` yields BIGINT even on decimal operands, so
            # the quotient goes back through DECIMAL before the x1e6
            F.expr(
                "try_cast("
                "CAST(CAST(sx AS DECIMAL(38,0)) div sw AS DECIMAL(38,0))"
                " * 1000000"
                " + ((CAST(sx AS DECIMAL(38,0)) % sw) * 1000000) div sw"
                " AS BIGINT)"
            ).alias("mean_micro"),
        )
        .filter(F.col("mean_micro").isNotNull())
    )
    wr = Window.orderBy("mean_micro", "b")
    ranked = means.select(
        "b",
        "mean_micro",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    return ranked.agg(
        F.max("nb").cast("long").alias("n_boot"),
        F.max(F.when(F.col("rk") == 2, F.col("mean_micro")))
        .cast("long")
        .alias("lo_micro"),
        F.max(F.when(F.col("rk") == F.col("nb") - 1, F.col("mean_micro")))
        .cast("long")
        .alias("hi_micro"),
    )


@EXT.add(
    "agg_hll_intersection",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id * 100 + day(ts) AS k
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT DISTINCT user_id * 100 + day(ts) AS k
      FROM events WHERE event_type = 'view'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (k))
             AS n_inter,
           TRUE AS inter_ok
    """,
    doc=(
        "Audience-overlap estimation from MERGEABLE sketches: "
        "|A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion–exclusion "
        "over Datasketches HLL (hll_union composes the stored "
        "sketches; the raw keys are never rescanned) — the two-"
        "segment overlap question every audience dashboard answers "
        "from a sketch table because the exact distinct-join is a "
        "full shuffle of both segments at 100 TB. Segments are "
        "user-DAYS (purchase-days vs view-days), a genuine partial "
        "overlap (557 of ~1610/side at sf0.01). Invariant oracle "
        "(agg_hll_mergeable pattern): exact n_a/n_b/n_inter anchor "
        "the row; inter_ok asserts the sketch estimate lands within "
        "0.05·(n_a+n_b) — measured residual ≤ 0.39× that bound at "
        "sf0.001/0.01/0.1 (inclusion–exclusion compounds three "
        "sketch errors, hence the union-sized tolerance). The exact "
        "legs exist only to anchor the oracle; the estimate path "
        "touches sketches alone."
    ),
    tags=("agg", "approx", "sketch", "invariant"),
)
def agg_hll_intersection(spark, sf_dir):
    # single-pass shape (scan-amplification study): the old per-side
    # distincts were each re-derived by their count, the intersection
    # join and their sketch — 6 events scans and 6 shuffles. One
    # tagged groupBy(k) gives per-key membership flags; ONE global
    # aggregate computes both exact counts, the exact intersection
    # AND both HLL sketches (hll_sketch_agg skips the NULLs the
    # when() leaves for the other side's keys) — 1 scan, 2 shuffles.
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("user_id") * 100 + F.dayofmonth("ts")).alias("k"),
            (F.col("event_type") == "purchase").alias("is_a"),
        )
    )
    g = ev.groupBy("k").agg(
        F.bool_or("is_a").alias("has_a"),
        F.bool_or(~F.col("is_a")).alias("has_b"),
    )
    agg = g.agg(
        F.count_if("has_a").cast("long").alias("n_a"),
        F.count_if("has_b").cast("long").alias("n_b"),
        F.count_if(F.col("has_a") & F.col("has_b"))
        .cast("long")
        .alias("n_inter"),
        F.hll_sketch_agg(F.when(F.col("has_a"), F.col("k"))).alias("sa"),
        F.hll_sketch_agg(F.when(F.col("has_b"), F.col("k"))).alias("sb"),
    )
    est = (
        F.hll_sketch_estimate("sa")
        + F.hll_sketch_estimate("sb")
        - F.hll_sketch_estimate(F.hll_union("sa", "sb"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_inter",
        (
            F.abs(est - F.col("n_inter"))
            <= 0.05 * (F.col("n_a") + F.col("n_b"))
        ).alias("inter_ok"),
    )


@EXT.add(
    "agg_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM documents GROUP BY 1
    )
    SELECT source, n, k,
           ROUND(((CAST(k AS DOUBLE) / n) + (1.96 * 1.96) / (2 * n)
                  - 1.96 * SQRT(((CAST(k AS DOUBLE) / n)
                                 * (1 - CAST(k AS DOUBLE) / n)) / n
                                + (1.96 * 1.96) / (4.0 * n * n)))
                 / (1 + (1.96 * 1.96) / n), 9) AS wilson_lo,
           ROUND(((CAST(k AS DOUBLE) / n) + (1.96 * 1.96) / (2 * n)
                  + 1.96 * SQRT(((CAST(k AS DOUBLE) / n)
                                 * (1 - CAST(k AS DOUBLE) / n)) / n
                                + (1.96 * 1.96) / (4.0 * n * n)))
                 / (1 + (1.96 * 1.96) / n), 9) AS wilson_hi
    FROM s
    """,
    doc=(
        "Wilson score interval per source for the long-document rate "
        "(n_chars ≥ 200) — the CI that stays valid at small n and "
        "extreme p where the naive normal interval fails, and whose "
        "LOWER bound is the standard ranking key for rate-sorted "
        "lists (quality league tables, review scores): a source with "
        "3/3 must not outrank one with 95/100. Inputs are two exact "
        "BIGINT counts per source (one map-side-combined agg); the "
        "interval is ONE pinned-order float expression over them — "
        "every subterm written identically in both engines (z² as "
        "the literal product 1.96*1.96, the same parenthesization), "
        "so the correctly-rounded IEEE ops reproduce bit-exactly, "
        "rounded 9 (the feat_ols_normal_eq discipline). Scale: the "
        "fact scan is the whole cost; the interval math runs on the "
        "5-row source domain."
    ),
    tags=("agg", "stats", "ci"),
)
def agg_wilson_ci(spark, sf_dir):
    s = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("n_chars") >= 200, 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    z2 = F.lit(1.96) * F.lit(1.96)
    n = F.col("n")
    p = F.col("k").cast("double") / n
    half = F.lit(1.96) * F.sqrt(
        (p * (1 - p)) / n + z2 / (F.lit(4.0) * n * n)
    )
    center = p + z2 / (2 * n)
    denom = 1 + z2 / n
    return s.select(
        "source",
        "n",
        "k",
        F.round((center - half) / denom, 9).alias("wilson_lo"),
        F.round((center + half) / denom, 9).alias("wilson_hi"),
    )


@EXT.add(
    "agg_delta_method_ci",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n_ev
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(n_ev) AS HUGEINT) AS sn,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(n_ev AS HUGEINT) * n_ev) AS HUGEINT) AS snn,
             CAST(SUM(CAST(x AS HUGEINT) * n_ev) AS HUGEINT) AS sxn
      FROM u GROUP BY 1
    ),
    s AS (
      SELECT variant, n,
             CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE) AS r,
             CAST(sn AS DOUBLE) / n AS mean_n,
             CAST(n * sxx - sx * sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_x,
             CAST(n * snn - sn * sn AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_n,
             CAST(n * sxn - sx * sn AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cov_xn
      FROM m
    )
    SELECT variant, n AS n_users, ROUND(r, 9) AS ratio_cents_per_event,
           ROUND(SQRT((var_x - 2 * r * cov_xn + r * r * var_n)
                      / (CAST(n AS DOUBLE) * mean_n * mean_n)), 9) AS se,
           ROUND(r - 1.96 * SQRT((var_x - 2 * r * cov_xn + r * r * var_n)
                      / (CAST(n AS DOUBLE) * mean_n * mean_n)), 9) AS lo,
           ROUND(r + 1.96 * SQRT((var_x - 2 * r * cov_xn + r * r * var_n)
                      / (CAST(n AS DOUBLE) * mean_n * mean_n)), 9) AS hi
    FROM s
    """,
    doc=(
        "Delta-method CI for the RATIO metric revenue-per-event by "
        "variant — the correct interval for ratio-of-sums metrics "
        "where the naive per-user-mean variance is simply wrong "
        "(users contribute unequal denominators): Var(X̄/N̄) ≈ "
        "(var_x - 2R·cov + R²·var_n)/(n·mean_n²), every moment an "
        "EXACT integer sum (BIGINT per user, HUGEINT/DECIMAL(38) "
        "cross products — x² ~ 2.5e17 at sf0.1, 20 digits of "
        "headroom at 10x), cleared-denominator variance identities, "
        "then one pinned-order float expression per bound, rounded 9 "
        "(the agg_wilson_ci discipline applied to the two-moment "
        "case). Scale: one per-user agg, one 2-row variant agg; "
        "interval math on the variant domain."
    ),
    tags=("agg", "experiment", "stats", "ci"),
)
def agg_delta_method_ci(spark, sf_dir):
    cents = F.round(F.col("value") * 100).try_cast("long")
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.count(F.lit(1)).cast("long").alias("n_ev"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "x", "n_ev")
    )
    d38 = "decimal(38,0)"
    m = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("n_ev").cast(d38).alias("sn"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("n_ev").cast(d38) * F.col("n_ev")).cast(d38).alias("snn"),
        F.sum(F.col("x").cast(d38) * F.col("n_ev")).cast(d38).alias("sxn"),
    )
    nD = F.col("n").cast("double")
    r = F.col("sx").cast("double") / F.col("sn").cast("double")
    mean_n = F.col("sn").cast("double") / F.col("n")
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / (nD * (F.col("n") - 1))
    var_n = (F.col("n") * F.col("snn") - F.col("sn") * F.col("sn")).cast(
        "double"
    ) / (nD * (F.col("n") - 1))
    cov_xn = (F.col("n") * F.col("sxn") - F.col("sx") * F.col("sn")).cast(
        "double"
    ) / (nD * (F.col("n") - 1))
    s = m.select(
        "variant",
        "n",
        r.alias("r"),
        mean_n.alias("mean_n"),
        var_x.alias("var_x"),
        var_n.alias("var_n"),
        cov_xn.alias("cov_xn"),
    )
    var_r = (
        F.col("var_x")
        - 2 * F.col("r") * F.col("cov_xn")
        + F.col("r") * F.col("r") * F.col("var_n")
    ) / (F.col("n").cast("double") * F.col("mean_n") * F.col("mean_n"))
    return s.select(
        "variant",
        F.col("n").alias("n_users"),
        F.round("r", 9).alias("ratio_cents_per_event"),
        F.round(F.sqrt(var_r), 9).alias("se"),
        F.round(F.col("r") - 1.96 * F.sqrt(var_r), 9).alias("lo"),
        F.round(F.col("r") + 1.96 * F.sqrt(var_r), 9).alias("hi"),
    )


@EXT.add(
    "agg_winsorized_mean",
    oracle="""
    WITH h AS (
      -- NULL value has no rank position (engine-opposite NULL order)
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS f
      FROM (
        SELECT event_type, TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
      ) WHERE cents IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, cents, f,
             SUM(f) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(f) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    edges AS (
      SELECT event_type,
             MIN(CASE WHEN 20 * cum >= n THEN cents END) AS lo,
             MIN(CASE WHEN 20 * cum >= 19 * n THEN cents END) AS hi,
             ANY_VALUE(n) AS n
      FROM c GROUP BY 1
    )
    SELECT h.event_type, CAST(e.n AS BIGINT) AS n,
           e.lo AS lo_cents, e.hi AS hi_cents,
           ROUND(CAST(SUM(LEAST(GREATEST(h.cents, e.lo), e.hi) * h.f)
                      AS DOUBLE) / e.n, 9) AS winsorized_mean_cents
    FROM h JOIN edges e USING (event_type)
    GROUP BY 1, 2, 3, 4, e.n
    """,
    doc=(
        "Winsorized mean (5%/95%) of event value per event type — the "
        "robust center that caps rather than drops tails (the "
        "complement of qa_outlier_mad's flag-and-audit): percentile "
        "edges are percentile_disc on the VALUE HISTOGRAM with pure "
        "INTEGER threshold tests (20*cum >= n, 20*cum >= 19*n — no "
        "float quantile math at all), clipping and the clipped sum "
        "run ON the histogram too, so the only float op is the final "
        "mean division (rounded 9). Scale: one map-side-combined "
        "(type, cents) histogram agg — the cents domain is bounded "
        "(~49k values) regardless of row count — then cumsum/edges/"
        "clipped-mean all on the histogram; the fact table is "
        "scanned exactly once and never sorted "
        "(feat_discretize_quantile's argument, extended to the "
        "estimator itself)."
    ),
    tags=("agg", "stats", "robust"),
)
def agg_winsorized_mean(spark, sf_dir):
    from pyspark.sql import Window

    h = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).try_cast("long").alias("cents"),
        )
        # out-of-domain cents leave the histogram spine (r12 contract)
        .filter(F.col("cents").isNotNull())
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    c = h.select(
        "event_type",
        "cents",
        "f",
        F.sum("f").over(wc).alias("cum"),
        F.sum("f").over(wt).alias("n"),
    )
    edges = c.groupBy("event_type").agg(
        F.min(F.when(20 * F.col("cum") >= F.col("n"), F.col("cents"))).alias(
            "lo"
        ),
        F.min(
            F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("cents"))
        ).alias("hi"),
        F.any_value("n").alias("n"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        h.join(F.broadcast(edges), "event_type")
        .groupBy(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
        )
        .agg(
            F.round(
                F.sum(clipped * F.col("f")).cast("double") / F.any_value("n"),
                9,
            ).alias("winsorized_mean_cents")
        )
    )


@EXT.add(
    "agg_ttest_welch",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM u GROUP BY 1
    ),
    s AS (
      SELECT variant, n,
             CAST(sx AS DOUBLE) / n AS mean,
             CAST(n * sxx - sx * sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) / n AS vm
      FROM m
    ),
    w AS (
      SELECT a.n AS n0, b.n AS n1, a.mean AS mean0, b.mean AS mean1,
             a.vm AS vm0, b.vm AS vm1
      FROM s a JOIN s b ON a.variant = 0 AND b.variant = 1
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND(mean0, 9) AS mean0_cents, ROUND(mean1, 9) AS mean1_cents,
           ROUND((mean1 - mean0) / SQRT(vm0 + vm1), 9) AS t_stat,
           ROUND((vm0 + vm1) * (vm0 + vm1)
                 / (vm0 * vm0 / (n0 - 1) + vm1 * vm1 / (n1 - 1)), 9)
             AS df_welch
    FROM w
    """,
    doc=(
        "Welch two-sample t-test of per-user purchase revenue between "
        "the parity variants — the unequal-variance test every "
        "experiment readout starts from (the z/t gap in the battery "
        "next to Wilson / bootstrap / chi-square / MWU / delta-method). "
        "Per-variant mean and variance-of-mean come from EXACT integer "
        "moments (BIGINT per-user cents, HUGEINT/DECIMAL(38) squares, "
        "cleared-denominator sample variance); the t statistic and the "
        "Welch-Satterthwaite df are one pinned-order float expression "
        "each, rounded 9 — df is emitted rather than a p-value because "
        "the t CDF is engine-specific math (the caller thresholds "
        "|t| >= 1.96 at these df). Scale: one per-user agg, one 2-row "
        "variant agg, final math on a self-joined 1-row spine."
    ),
    tags=("agg", "experiment", "stats"),
)
def agg_ttest_welch(spark, sf_dir):
    cents = F.round(F.col("value") * 100).try_cast("long")
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)),
                F.lit(0),
            )
            .cast("long")
            .alias("x")
        )
        .select((F.col("user_id") % 2).alias("variant"), "x")
    )
    d38 = "decimal(38,0)"
    m = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
    )
    s = m.select(
        "variant",
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mean"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
            / F.col("n")
        ).alias("vm"),
    )
    a = s.filter(F.col("variant") == 0).select(
        F.col("n").alias("n0"), F.col("mean").alias("mean0"),
        F.col("vm").alias("vm0"),
    )
    b = s.filter(F.col("variant") == 1).select(
        F.col("n").alias("n1"), F.col("mean").alias("mean1"),
        F.col("vm").alias("vm1"),
    )
    w = a.crossJoin(F.broadcast(b))
    pooled = F.col("vm0") + F.col("vm1")
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round("mean0", 9).alias("mean0_cents"),
        F.round("mean1", 9).alias("mean1_cents"),
        F.round((F.col("mean1") - F.col("mean0")) / F.sqrt(pooled), 9).alias(
            "t_stat"
        ),
        F.round(
            pooled
            * pooled
            / (
                F.col("vm0") * F.col("vm0") / (F.col("n0") - 1)
                + F.col("vm1") * F.col("vm1") / (F.col("n1") - 1)
            ),
            9,
        ).alias("df_welch"),
    )


@EXT.add(
    "agg_mann_kendall",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM d a JOIN d b ON a.day < b.day
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    ties AS (
      SELECT CAST(COALESCE(SUM(tf * (tf - 1) * (2 * tf + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tf FROM d GROUP BY c)
      WHERE tf > 1
    )
    SELECT n.n AS n_days, s.s AS s_stat, s.n_pairs,
           -- degenerate-shape contract (r13 skew axis): a single-day
           -- or all-tied series has zero MK variance — z is NULL,
           -- not a crash (Spark) or NaN (DuckDB IEEE division)
           CASE WHEN (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                      - ties.tie_term) > 0 THEN
             ROUND((CASE WHEN s.s > 0 THEN s.s - 1
                         WHEN s.s < 0 THEN s.s + 1
                         ELSE 0 END)
                   / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                           - ties.tie_term) / 18.0), 9)
           END AS z_mk
    FROM s, n, ties
    """,
    doc=(
        "Mann-Kendall trend test on the daily purchase-revenue series "
        "— the nonparametric is-there-a-monotone-trend gate that pairs "
        "with win_theil_sen (MK decides IF a trend exists, Theil-Sen "
        "says how steep): S = sum of pairwise sign comparisons (pure "
        "INTEGER arithmetic over the bounded day spine), variance with "
        "the standard tie correction sum tf(tf-1)(2tf+5) (also exact "
        "integers), and the continuity-corrected z statistic is the "
        "single float expression, rounded 9. Scale: the fact collapses "
        "to the daily grain map-side first; the sign join is "
        "spine x spine (~435 pairs / 30 days), tie counts come from "
        "one groupBy on the spine's value domain — the fact table is "
        "scanned once and never self-joined."
    ),
    tags=("agg", "timeseries", "stats", "robust"),
)
def agg_mann_kendall(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("c")
        )
        .localCheckpoint(eager=True)
    )
    a = d.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = d.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    s = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c1"), 1)
                .when(F.col("c2") < F.col("c1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        d.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .filter(F.col("tf") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tf") * (F.col("tf") - 1) * (2 * F.col("tf") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    corrected = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            "n_pairs",
            # degenerate-shape contract (r13 skew axis): zero variance
            # (single day / all tied) -> NULL, never DIVIDE_BY_ZERO
            F.when(var > 0, F.round(corrected / F.sqrt(var), 9)).alias(
                "z_mk"
            ),
        )
    )


@EXT.add(
    "agg_power_mde",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM u
    )
    SELECT n AS n_users, CAST(FLOOR(n / 2) AS BIGINT) AS n_per_arm,
           ROUND(CAST(sx AS DOUBLE) / n, 9) AS mean_cents,
           ROUND(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1))), 9) AS sd_cents,
           ROUND((1.96 + 0.8416) * SQRT(2 * (CAST(n * sxx - sx * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1)))
                      / CAST(FLOOR(n / 2) AS BIGINT)), 9)
             AS mde_cents,
           ROUND((1.96 + 0.8416) * SQRT(2 * (CAST(n * sxx - sx * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1)))
                      / CAST(FLOOR(n / 2) AS BIGINT))
                 / (CAST(sx AS DOUBLE) / n), 9) AS mde_rel
    FROM m
    """,
    doc=(
        "A/B power analysis: the minimum detectable effect at 80% "
        "power / 5% two-sided alpha for a 50/50 split of the current "
        "user base on per-user purchase revenue — the experiment-"
        "DESIGN readout that precedes every agg_ttest_welch readout "
        "(an experiment whose expected lift is below its MDE is not "
        "worth launching). MDE = (z_{0.975} + z_{0.8})·sqrt(2s²/n_arm) "
        "with the z constants as pinned literals (1.96, 0.8416) and "
        "s² the cleared-denominator sample variance over EXACT integer "
        "moments (BIGINT per-user cents, HUGEINT/DECIMAL(38) squares); "
        "n_arm = n/2 in integer division, both engines. Scale: one "
        "per-user agg (map-side combined), one 1-row moment agg, all "
        "design math post-agg."
    ),
    tags=("agg", "experiment", "stats"),
)
def agg_power_mde(spark, sf_dir):
    cents = F.round(F.col("value") * 100).try_cast("long")
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)),
                F.lit(0),
            )
            .cast("long")
            .alias("x")
        )
    )
    d38 = "decimal(38,0)"
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
    )
    var = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    n_arm = F.floor(F.col("n") / 2).cast("long")
    mde = (F.lit(1.96) + F.lit(0.8416)) * F.sqrt(2 * var / n_arm)
    mean = F.col("sx").cast("double") / F.col("n")
    return m.select(
        F.col("n").alias("n_users"),
        n_arm.alias("n_per_arm"),
        F.round(mean, 9).alias("mean_cents"),
        F.round(F.sqrt(var), 9).alias("sd_cents"),
        F.round(mde, 9).alias("mde_cents"),
        F.round(mde / mean, 9).alias("mde_rel"),
    )


@EXT.add(
    "agg_hill_tail_index",
    oracle="""
    WITH h AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT cents, f,
             SUM(f) OVER (ORDER BY cents DESC ROWS UNBOUNDED PRECEDING)
               AS cum,
             SUM(f) OVER () AS n
      FROM h
    ),
    topk AS (
      SELECT cents, LEAST(f, 200 - (cum - f)) AS m, cum, n
      FROM c WHERE cum - f < 200
    ),
    xk AS (SELECT MIN(cents) AS x_k FROM topk),
    lns AS (
      SELECT t.cents, t.m, t.n, xk.x_k,
             CAST(ROUND(LN(CAST(t.cents AS DOUBLE)), 9)
                  AS DECIMAL(20,9)) AS ln_x,
             CAST(ROUND(LN(CAST(xk.x_k AS DOUBLE)), 9)
                  AS DECIMAL(20,9)) AS ln_xk
      FROM topk t CROSS JOIN xk
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_orders,
           CAST(200 AS BIGINT) AS k,
           CAST(ANY_VALUE(x_k) AS BIGINT) AS x_k_cents,
           ROUND(CAST(SUM(CAST(m AS DECIMAL(10,0))
                          * (ln_x - ln_xk)) AS DOUBLE) / 200, 9) AS hill,
           ROUND(200 / CAST(SUM(CAST(m AS DECIMAL(10,0))
                          * (ln_x - ln_xk)) AS DOUBLE), 9) AS alpha
    FROM lns
    """,
    doc=(
        "Hill tail-index estimator over the top-200 order totals — "
        "the heavy-tail diagnosis behind whale-spend risk models "
        "(alpha < 2 means infinite variance: means/CIs from "
        "agg_ttest_welch become untrustworthy and the winsorized/"
        "trimmed battery takes over; this query is the gate that "
        "decides). Hill = (1/k) Σ ln(x_(i)/x_(k)) over the k largest "
        "values, computed from the VALUE HISTOGRAM with multiplicity "
        "m at the boundary value (cum-from-top window, integer "
        "threshold tests), ln per DISTINCT value rounded 9 and pinned "
        "to DECIMAL(20,9) — the lm_score discipline for the one "
        "engine-sensitive libm call — then exact decimal sums and two "
        "final float divisions, rounded 9. Scale: one map-side-"
        "combined histogram agg; the desc cumsum runs over the "
        "bounded value domain, and only rows with cum < k survive to "
        "the ln stage (top-k values, not top-k rows)."
    ),
    tags=("agg", "stats", "tail", "sketch"),
)
def agg_hill_tail_index(spark, sf_dir):
    from pyspark.sql import Window

    h = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.round(F.col("o_totalprice") * 100).try_cast("long").alias("cents")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    k = 200
    wdesc = Window.orderBy(F.col("cents").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = h.select(
        "cents",
        "f",
        F.sum("f").over(wdesc).alias("cum"),
        F.sum("f").over(wall).alias("n"),
    )
    topk = c.filter(F.col("cum") - F.col("f") < k).select(
        "cents",
        F.least(F.col("f"), k - (F.col("cum") - F.col("f"))).alias("m"),
        "n",
    )
    xk = topk.agg(F.min("cents").alias("x_k"))
    ln9 = lambda col: F.round(F.log(col.cast("double")), 9).cast(
        "decimal(20,9)"
    )
    lns = topk.crossJoin(F.broadcast(xk)).select(
        "n",
        "x_k",
        (
            F.col("m").cast("decimal(10,0)")
            * (ln9(F.col("cents")) - ln9(F.col("x_k")))
        ).alias("term"),
    )
    ssum = F.sum("term").cast("double")
    return lns.agg(
        F.any_value("n").cast("long").alias("n_orders"),
        F.lit(k).cast("long").alias("k"),
        F.any_value("x_k").cast("long").alias("x_k_cents"),
        F.round(ssum / k, 9).alias("hill"),
        F.round(k / ssum, 9).alias("alpha"),
    )


@EXT.add(
    "agg_assoc_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_baskets FROM b),
    ic AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1
    ),
    bf AS (
      SELECT b.* FROM b
      WHERE item IN (SELECT item FROM ic WHERE cnt >= 25)
    ),
    p AS (
      SELECT x.item AS ia, y.item AS ib, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bf x JOIN bf y ON x.bid = y.bid AND x.item < y.item
      GROUP BY 1, 2
    )
    SELECT p.ia AS item_a, p.ib AS item_b, p.cnt AS pair_count,
           a.cnt AS count_a, c.cnt AS count_b,
           ROUND(CAST(p.cnt AS DOUBLE) / n.n_baskets, 9) AS support,
           ROUND(CAST(p.cnt AS DOUBLE) / a.cnt, 9) AS conf_a_to_b,
           ROUND(CAST(p.cnt AS DOUBLE) / c.cnt, 9) AS conf_b_to_a,
           ROUND(CAST(n.n_baskets * p.cnt AS DOUBLE)
                 / CAST(a.cnt * c.cnt AS DOUBLE), 9) AS lift
    FROM p
    JOIN ic a ON a.item = p.ia
    JOIN ic c ON c.item = p.ib
    CROSS JOIN n
    WHERE p.cnt >= 2
    """,
    doc=(
        "Market-basket association rules over order baskets "
        "(lineitem as the basket-item fact): frequent item PAIRS with "
        "support, both-direction confidence, and lift — the "
        "bought-together engine behind bundle suggestions and the "
        "co-play/co-purchase surfaces the reference's catalog "
        "enrichment feeds (main.py:252-254 appid catalog as the item "
        "dimension). The scale story is apriori antimonotonicity made "
        "physical: a pair can only be frequent if BOTH items are, so "
        "baskets are pruned to frequent singletons with a BROADCAST "
        "semi-join BEFORE any pair is generated — at 100 TB the "
        "quadratic step runs on the pruned per-basket arrays "
        "(sort_array(collect_set) then a codegen'd slice/transform "
        "pair expansion, never a basket self-join shuffle), and the "
        "singleton counts re-attach by broadcast. All counts are "
        "exact BIGINTs; support/confidence/lift are single divisions "
        "of exact integers rounded 9 — bit-identical cross-engine. "
        "min_item_support=25 baskets, min_pair_count=2."
    ),
    tags=("agg", "recommender", "stats"),
)
def agg_assoc_rules(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # materialize the two reused spines ONCE: b feeds ic + the semi-join
    # + the basket-count leg (3 re-derivations of the scan+dropDuplicates
    # shuffle without the barrier) and ic feeds freq + both broadcast
    # count legs. Round 13 A/B'd an item-bounded variant of this and
    # declined it (3.11 vs 3.83 s); the round-14 re-measure of THIS
    # simpler shape (checkpoint the spines verbatim, nothing else
    # changes) wins at BOTH tiers — sf0.1 interleaved med 2.23 → 1.96 s
    # (6 rounds, faster every round), 30× rehearsal med 71 → 53 s —
    # so it is unconditional, not size-gated. Outputs identical
    # (collected-set equality at sf0.1).
    b = li.select(
        F.col("l_orderkey").alias("bid"), F.col("l_partkey").alias("item")
    ).dropDuplicates(["bid", "item"]).localCheckpoint(eager=True)
    ic = b.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    freq = ic.filter(F.col("cnt") >= 25).select("item")
    bf = b.join(F.broadcast(freq), "item", "left_semi")
    arr = (
        bf.groupBy("bid")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
        .filter(F.size("items") >= 2)
    )
    pairs = arr.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i + 2, size(items)), "
                "y -> struct(x AS ia, y AS ib))))"
            )
        ).alias("pr")
    ).select("pr.ia", "pr.ib")
    pc = (
        pairs.groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )
    n = b.select(
        F.countDistinct("bid").cast("long").alias("n_baskets")
    )
    a_cnt = ic.select(
        F.col("item").alias("ia"), F.col("cnt").alias("count_a")
    )
    b_cnt = ic.select(
        F.col("item").alias("ib"), F.col("cnt").alias("count_b")
    )
    out = (
        pc.join(F.broadcast(a_cnt), "ia")
        .join(F.broadcast(b_cnt), "ib")
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        F.col("cnt").alias("pair_count"),
        "count_a",
        "count_b",
        F.round(F.col("cnt").cast("double") / F.col("n_baskets"), 9).alias(
            "support"
        ),
        F.round(F.col("cnt").cast("double") / F.col("count_a"), 9).alias(
            "conf_a_to_b"
        ),
        F.round(F.col("cnt").cast("double") / F.col("count_b"), 9).alias(
            "conf_b_to_a"
        ),
        F.round(
            (F.col("n_baskets") * F.col("cnt")).cast("double")
            / (F.col("count_a") * F.col("count_b")).cast("double"),
            9,
        ).alias("lift"),
    )


@EXT.add(
    "agg_fdr_bh",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             date_diff('day', TIMESTAMP '2024-01-01',
                       date_trunc('day', ts)) % 7 AS dow,
             user_id % 2 AS variant,
             TRY_CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events
    ),
    m AS (
      SELECT event_type, dow,
             CAST(COUNT(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             CAST(COUNT(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS sx0,
             CAST(SUM(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS sx1,
             CAST(SUM(CASE WHEN variant = 0
                       THEN CAST(x AS HUGEINT) * x END) AS HUGEINT) AS sxx0,
             CAST(SUM(CASE WHEN variant = 1
                       THEN CAST(x AS HUGEINT) * x END) AS HUGEINT) AS sxx1
      FROM cells GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, dow, n0, n1,
             CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0 AS diff,
             CAST(n0 * sxx0 - CAST(sx0 AS HUGEINT) * sx0 AS DOUBLE)
               / (CAST(n0 AS DOUBLE) * (n0 - 1)) / n0
             + CAST(n1 * sxx1 - CAST(sx1 AS HUGEINT) * sx1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS vsum
      FROM m WHERE n0 >= 2 AND n1 >= 2
    ),
    z AS (
      SELECT event_type, dow, n0, n1,
             ROUND(diff / SQRT(vsum), 9) AS z_stat
      FROM s WHERE vsum > 0
    ),
    p AS (
      SELECT *,
             ROUND((1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / 1.4142135623730951)))
                   * (0.254829592
                      + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / 1.4142135623730951)))
                      * (-0.284496736
                         + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / 1.4142135623730951)))
                         * (1.421413741
                            + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / 1.4142135623730951)))
                            * (-1.453152027
                               + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / 1.4142135623730951)))
                               * 1.061405429))))
                   * EXP(-(ABS(z_stat) / 1.4142135623730951)
                         * (ABS(z_stat) / 1.4142135623730951)), 9) AS p_value
      FROM z
    ),
    r AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER
               (ORDER BY p_value, event_type, dow) AS BIGINT) AS p_rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS m_tests
      FROM p
    ),
    k AS (
      SELECT *,
             MAX(CASE WHEN p_value <= CAST(p_rank AS DOUBLE) * 0.10 / m_tests
                      THEN p_rank END) OVER () AS kstar
      FROM r
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow, n0, n1, z_stat, p_value,
           p_rank, m_tests,
           CAST(CASE WHEN p_rank <= COALESCE(kstar, 0)
                     THEN 1 ELSE 0 END AS INT) AS rejected
    FROM k
    """,
    doc=(
        "Benjamini-Hochberg FDR control over a 35-cell multiple-testing "
        "battery: per (event_type, day-of-week) cell, a two-sample z "
        "test of per-event cents between the parity variants, then the "
        "BH step-up at q=0.10 — the guardrail that keeps a 35-metric "
        "experiment dashboard from 'discovering' 2 fake wins by chance "
        "(the missing piece next to agg_ttest_welch / agg_wilson_ci / "
        "qa_chisq_categorical, which each test ONE hypothesis). "
        "Numeric discipline: per-cell moments are exact ints (BIGINT "
        "cents, DECIMAL(38) squares, cleared-denominator variance); z "
        "is one pinned float expression rounded 9; the normal tail is "
        "the Abramowitz-Stegun 7.1.26 rational erfc (|err| < 1.5e-7, "
        "SAME closed form both engines, fed the quantized z, rounded 9 "
        "— the agg_decay_halflife transcendental discipline; like "
        "agg_hill_tail_index's ln, the single exp carries a 1-ULP "
        "cross-libm caveat absorbed by the rounding). The step-up "
        "(rank p ascending, reject through the largest rank with "
        "p <= rank*q/m) runs as windows over the 35-row spine with a "
        "deterministic (p, key) tie-break. Scale: ONE map-side-"
        "combined conditional agg collapses the fact to 35 cells; "
        "everything after is spine math (the qa_ks_drift argument)."
    ),
    tags=("agg", "experiment", "stats"),
)
def agg_fdr_bh(spark, sf_dir):
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).try_cast("long")
    d38 = "decimal(38,0)"
    cells = t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.datediff(
                F.date_trunc("day", "ts"),
                F.lit("2024-01-01").cast("timestamp"),
            )
            % 7
        ).alias("dow"),
        (F.col("user_id") % 2).alias("variant"),
        cents.alias("x"),
    )
    v0 = F.col("variant") == 0
    v1 = F.col("variant") == 1
    m = cells.groupBy("event_type", "dow").agg(
        F.count(F.when(v0, 1)).cast("long").alias("n0"),
        F.count(F.when(v1, 1)).cast("long").alias("n1"),
        F.sum(F.when(v0, F.col("x"))).cast("long").alias("sx0"),
        F.sum(F.when(v1, F.col("x"))).cast("long").alias("sx1"),
        F.sum(F.when(v0, F.col("x").cast(d38) * F.col("x")))
        .cast(d38)
        .alias("sxx0"),
        F.sum(F.when(v1, F.col("x").cast(d38) * F.col("x")))
        .cast(d38)
        .alias("sxx1"),
    )

    def _vm(n, sx, sxx):
        # sx**2 can pass 2^63 long before sxx's DECIMAL(38) does —
        # square in decimal too (exact, same doubles where both fit)
        return (
            (F.col(n) * F.col(sxx) - F.col(sx).cast(d38) * F.col(sx)).cast(
                "double"
            )
            / (F.col(n).cast("double") * (F.col(n) - 1))
            / F.col(n)
        )

    s = m.filter((F.col("n0") >= 2) & (F.col("n1") >= 2)).select(
        "event_type",
        "dow",
        "n0",
        "n1",
        (
            F.col("sx1").cast("double") / F.col("n1")
            - F.col("sx0").cast("double") / F.col("n0")
        ).alias("diff"),
        (_vm("n0", "sx0", "sxx0") + _vm("n1", "sx1", "sxx1")).alias("vsum"),
    )
    z = s.filter(F.col("vsum") > 0).select(
        "event_type",
        "dow",
        "n0",
        "n1",
        F.round(F.col("diff") / F.sqrt("vsum"), 9).alias("z_stat"),
    )
    # Abramowitz-Stegun 7.1.26 erfc at |z|/sqrt(2) == two-sided normal p
    x = F.abs(F.col("z_stat")) / F.lit(1.4142135623730951)
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = tt * (
        F.lit(0.254829592)
        + tt
        * (
            F.lit(-0.284496736)
            + tt
            * (
                F.lit(1.421413741)
                + tt * (F.lit(-1.453152027) + tt * F.lit(1.061405429))
            )
        )
    )
    p = z.withColumn("p_value", F.round(poly * F.exp(-x * x), 9))
    w_rank = Window.orderBy("p_value", "event_type", "dow")
    w_all = Window.partitionBy()
    r = p.select(
        "*",
        F.row_number().over(w_rank).cast("long").alias("p_rank"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("m_tests"),
    )
    k = r.withColumn(
        "kstar",
        F.max(
            F.when(
                F.col("p_value")
                <= F.col("p_rank").cast("double")
                * F.lit(0.10)
                / F.col("m_tests"),
                F.col("p_rank"),
            )
        ).over(w_all),
    )
    return k.select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        "n0",
        "n1",
        "z_stat",
        "p_value",
        "p_rank",
        "m_tests",
        F.when(F.col("p_rank") <= F.coalesce(F.col("kstar"), F.lit(0)), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


@EXT.add(
    "agg_lorenz_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ranked AS (
      -- NULL cents (user with no in-domain purchase) leave the rank
      -- spine: engines order NULLs oppositely (r12 extremes contract)
      SELECT cents,
             row_number() OVER (ORDER BY cents, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM per_user WHERE cents IS NOT NULL
    ),
    dec AS (
      SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM ranked GROUP BY 1
    )
    SELECT decile, n_users, cents,
           ROUND(CAST(SUM(cents) OVER (ORDER BY decile) AS DOUBLE)
                 / SUM(cents) OVER (), 9) AS cum_share
    FROM dec
    """,
    doc=(
        "Lorenz-curve DECILES of per-user purchase revenue — the "
        "concentration table behind agg_gini_segment's scalar: users "
        "ranked by exact lifetime cents (ties broken by user_id, fully "
        "deterministic), integer-partitioned into 10 equal-population "
        "deciles, each reporting population, exact cents, and the "
        "cumulative revenue share (one division of exact BIGINTs, "
        "ROUND 9). Scale: the fact collapses to the user spine first "
        "(map-side combined); the global rank is a range-partitioned "
        "sort of the SPINE (users, not events), and everything after "
        "runs on the 10-row decile spine. The whale-concentration "
        "accounting every monetization dashboard ships."
    ),
    tags=("agg", "stats", "distribution"),
)
def agg_lorenz_deciles(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    per_user = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(try_cents("value")).alias("cents"))
        .filter(F.col("cents").isNotNull())
    )
    ranked = per_user.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "user_id"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    dec = ranked.groupBy(
        F.expr("((rk - 1) * 10) div n").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return dec.select(
        "decile",
        "n_users",
        "cents",
        F.round(
            F.sum("cents").over(wcum).cast("double")
            / F.sum("cents").over(wall),
            9,
        ).alias("cum_share"),
    )


@EXT.add(
    "agg_cohort_ltv",
    oracle="""
    WITH purch AS (
      SELECT user_id, date_trunc('week', ts) AS wk,
             TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM purch GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM cohort GROUP BY cohort_wk
    ),
    cells AS (
      SELECT c.cohort_wk,
             CAST((date_part('epoch', p.wk)
                   - date_part('epoch', c.cohort_wk)) // 604800
                  AS BIGINT) AS age_wk,
             CAST(SUM(p.cents) AS BIGINT) AS cents
      FROM purch p JOIN cohort c ON p.user_id = c.user_id
      GROUP BY 1, 2
    )
    SELECT cells.cohort_wk, age_wk, cohort_users, cents,
           CAST(SUM(cents) OVER (PARTITION BY cells.cohort_wk
                                 ORDER BY age_wk
                                 ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_cents,
           ROUND(CAST(SUM(cents) OVER (PARTITION BY cells.cohort_wk
                                       ORDER BY age_wk
                                       ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE) / cohort_users, 9) AS ltv_per_user
    FROM cells JOIN sizes ON cells.cohort_wk = sizes.cohort_wk
    """,
    doc=(
        "Cohort LTV CURVE — the revenue companion of "
        "agg_retention_cohort: users are cohorted by first-purchase "
        "week, every purchase lands in a (cohort, age-in-weeks) cell "
        "with exact cents, and a running sum over each cohort's age "
        "axis yields the cumulative lifetime value, per cohort and "
        "per user (one division of exact BIGINTs, ROUND 9; the week "
        "age is exact integer epoch-seconds arithmetic on "
        "week-truncated timestamps, never float date math). Scale: "
        "purchases collapse to the (user, week) grain map-side, the "
        "cohort join shuffles on user_id, and the window plus final "
        "join run on the weeks x weeks cell spine — bounded by the "
        "calendar, not the data."
    ),
    tags=("agg", "cohort", "analytics"),
)
def agg_cohort_ltv(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    purch = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).alias("wk"),
            try_cents("value").alias("cents"),
        )
    )
    cohort = purch.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    cells = (
        purch.join(cohort, on="user_id")
        .groupBy(
            "cohort_wk",
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk"))
                / F.lit(604800)
            )
            .cast("long")
            .alias("age_wk"),
        )
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("cents").over(wcum).cast("long")
    return (
        cells.join(F.broadcast(sizes), on="cohort_wk")
        .select(
            "cohort_wk",
            "age_wk",
            "cohort_users",
            "cents",
            cum.alias("cum_cents"),
            F.round(
                cum.cast("double") / F.col("cohort_users"), 9
            ).alias("ltv_per_user"),
        )
    )


@EXT.add(
    "agg_conversion_lag",
    oracle="""
    WITH first_purchase AS (
      SELECT user_id, MIN(ts) AS pts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    lags AS (
      SELECT p.user_id,
             epoch_us(MIN(e.ts)) - epoch_us(p.pts) AS lag_us
      FROM first_purchase p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type = 'play'
       AND e.ts > p.pts
      GROUP BY p.user_id, p.pts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
           CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
           CAST(MEDIAN(lag_us) AS DOUBLE) AS median_lag_us
    FROM lags
    """,
    doc=(
        "Conversion-LAG distribution — win_funnel_steps tells how MANY "
        "purchasers go on to play; this tells how FAST: per user, the "
        "time from first purchase to the first play after it, "
        "summarized as count / min / max / exact median in integer "
        "microseconds (median of BIGINTs interpolates to x.0 or x.5 — "
        "exact in double on both engines; no float time math "
        "anywhere). Shape: purchases collapse to the user spine "
        "map-side; plays join that spine on user_id (shuffle join — "
        "the spine is user-sized, not broadcastable at 100 TB) with "
        "the ts > pts predicate applied as the join residual, then a "
        "per-user MIN and one global 4-scalar agg. No window over raw "
        "events, no self-join of the full fact table."
    ),
    tags=("agg", "funnel", "analytics"),
)
def agg_conversion_lag(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    plays = ev.filter(F.col("event_type") == "play").select(
        "user_id", F.col("ts").alias("play_ts")
    )
    lags = (
        plays.join(first_purchase, on="user_id")
        .filter(F.col("play_ts") > F.col("pts"))
        .groupBy("user_id", "pts")
        .agg(F.min("play_ts").alias("fts"))
        .select(
            (F.unix_micros("fts") - F.unix_micros("pts")).alias("lag_us")
        )
    )
    return lags.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.min("lag_us").cast("long").alias("min_lag_us"),
        F.max("lag_us").cast("long").alias("max_lag_us"),
        F.median("lag_us").cast("double").alias("median_lag_us"),
    )


@EXT.add(
    "agg_skyline_pareto",
    oracle="""
    WITH p AS (
      -- a NULL dimension cannot be dominance-compared: skyline rows
      -- need both axes (the operator contract; round-11 NULL sweep)
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ),
    w AS (
      SELECT p_partkey, price_cents, size,
             MAX(size) OVER (ORDER BY price_cents
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS smax_lower,
             MAX(size) OVER (PARTITION BY price_cents) AS smax_equal
      FROM p
    )
    SELECT p_partkey, price_cents, size
    FROM w
    WHERE (smax_lower IS NULL OR smax_lower < size)
      AND smax_equal = size
    """,
    doc=(
        "Pareto SKYLINE (minimize price, maximize size) — the "
        "dominance query behind every 'best value' product surface: a "
        "part survives iff no other part is at-most-as-expensive AND "
        "at-least-as-big with one strict inequality. Expressed as two "
        "windows over ONE price-ordered sort: a RANGE frame to "
        "1 PRECEDING gives the max size among STRICTLY cheaper rows "
        "(range, not rows — price ties must not leak into the frame), "
        "and a same-price partition max handles the equal-price "
        "strict-size case; ties on BOTH axes are mutually "
        "non-dominating and all survive, exactly the dominance "
        "definition. All-integer comparisons (exact cents/size). "
        "Scale: no self-join (the naive skyline is O(n^2) pairs), and "
        "the global single-partition sort never sees the raw input — "
        "a per-partition LOCAL skyline pre-prune runs first "
        "(operators/skyline.py: partition-local sort + one vectorized "
        "mapInPandas running-max scan, zero exchanges, the classic "
        "block-nested-loop refinement), so only each partition's "
        "Pareto frontier reaches the global pass. Sound by dominator-"
        "chaining; the exact two-window filter over the survivors is "
        "provably the same skyline (plan-contracted: the single-"
        "partition exchange sits ABOVE the pre-prune)."
    ),
    tags=("agg", "window", "analytics"),
)
def agg_skyline_pareto(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.skyline import (
        local_skyline_preprune,
    )

    p = local_skyline_preprune(
        t(spark, sf_dir, "part")
        .filter(
            # both axes non-null: the pre-prune contract (a NULL
            # dimension cannot be dominance-compared)
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("price_cents"),
            F.col("p_size").cast("long").alias("size"),
        ),
        minimize="price_cents",
        maximize="size",
    )
    w_lower = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("price_cents")
    tagged = p.select(
        "p_partkey",
        "price_cents",
        "size",
        F.max("size").over(w_lower).alias("smax_lower"),
        F.max("size").over(w_eq).alias("smax_equal"),
    )
    return tagged.filter(
        (F.col("smax_lower").isNull() | (F.col("smax_lower") < F.col("size")))
        & (F.col("smax_equal") == F.col("size"))
    ).select("p_partkey", "price_cents", "size")


@EXT.add(
    "agg_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT event_type,
             (CAST(FLOOR(date_part('epoch', ts) / 86400) AS BIGINT) + 3) % 7
               + 1 AS dow_iso,
             TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    per AS (
      SELECT event_type, dow_iso,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM d GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(cents) AS BIGINT) AS total
      FROM per GROUP BY 1
    )
    SELECT per.event_type, dow_iso, n_events, per.cents,
           ROUND(7.0 * per.cents / total, 9) AS seasonal_index
    FROM per JOIN tot ON per.event_type = tot.event_type
    """,
    doc=(
        "Day-of-week SEASONALITY index per event type — the weekly "
        "profile behind qa_seasonal_residual_anomaly's de-seasonalizer "
        "and the HW forecasts' period-7 assumption, surfaced directly: "
        "index = revenue share of the weekday x 7 (1.0 = flat week). "
        "The weekday derives from PURE INTEGER epoch-day arithmetic "
        "((epoch_day + 3) % 7 + 1, ISO Monday=1) rather than each "
        "engine's dayofweek() — Spark and DuckDB disagree on weekday "
        "numbering conventions, integer math cannot. Exact cents "
        "everywhere; one division per (type, dow) cell, rounded 9. "
        "Scale: map-side-combined agg to a <=|types|x7 spine, spine "
        "arithmetic after."
    ),
    tags=("agg", "timeseries", "seasonality"),
)
def agg_dow_seasonality(spark, sf_dir):
    from steam_data_pipeline_spark.operators.aggregates import try_cents

    d = t(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.floor(F.unix_timestamp("ts") / 86400).cast("long") + 3) % 7 + 1
        ).alias("dow_iso"),
        try_cents("value").alias("cents"),
    )
    per = d.groupBy("event_type", "dow_iso").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = per.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("total")
    )
    return per.join(F.broadcast(tot), on="event_type").select(
        "event_type",
        "dow_iso",
        "n_events",
        "cents",
        F.round(F.lit(7.0) * F.col("cents") / F.col("total"), 9).alias(
            "seasonal_index"
        ),
    )


# ---------------------------------------------------------------------------
# round 10: fact-scale skyline (the new pre-prune operator, driver-checked
# at fact grain), engagement/robust-timeseries/effect-size/funnel/survival
# additions
# ---------------------------------------------------------------------------


@EXT.add(
    "agg_skyline_pareto_fact",
    oracle="""
    WITH p AS (
      -- both axes non-null (dominance contract; round-11 NULL sweep)
      SELECT l_orderkey * 10 + l_linenumber AS li_id,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    w AS (
      SELECT li_id, price_cents, qty,
             MAX(qty) OVER (ORDER BY price_cents
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS qmax_lower,
             MAX(qty) OVER (PARTITION BY price_cents) AS qmax_equal
      FROM p
    )
    SELECT li_id, price_cents, qty
    FROM w
    WHERE (qmax_lower IS NULL OR qmax_lower < qty)
      AND qmax_equal = qty
    """,
    doc=(
        "The Pareto skyline at FACT grain — agg_skyline_pareto's "
        "dominance semantics (minimize price, maximize quantity) run "
        "over LINEITEM, the table where the bare two-window plan's "
        "Exchange SinglePartition actually hurts: this entry exists "
        "so the round-10 local pre-prune operator "
        "(operators/skyline.py, Börzsönyi block-nested-loop "
        "refinement) is driver-checked on a fact-sized input, not "
        "just the dim-sized part table. Partition-local sort + one "
        "vectorized MapInPandas running-max scan prunes each "
        "partition to its Pareto frontier (measured 2.0% survivors "
        "on these axes, SCALE.md round 10: bare 4.12 s vs pruned "
        "0.11 s at 10x); only the survivors reach the exact global "
        "two-window pass, which is unchanged and provably yields the "
        "same skyline (dominator-chaining). All-integer comparisons; "
        "plan-contracted: MapInPandas BELOW the single-partition "
        "exchange."
    ),
    tags=("agg", "window", "analytics", "pandas_gm"),
)
def agg_skyline_pareto_fact(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.skyline import (
        local_skyline_preprune,
    )

    p = local_skyline_preprune(
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("li_id"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_cents"),
            F.round(F.col("l_quantity")).cast("long").alias("qty"),
        ),
        minimize="price_cents",
        maximize="qty",
    )
    w_lower = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("price_cents")
    tagged = p.select(
        "li_id",
        "price_cents",
        "qty",
        F.max("qty").over(w_lower).alias("qmax_lower"),
        F.max("qty").over(w_eq).alias("qmax_equal"),
    )
    return tagged.filter(
        (F.col("qmax_lower").isNull() | (F.col("qmax_lower") < F.col("qty")))
        & (F.col("qmax_equal") == F.col("qty"))
    ).select("li_id", "price_cents", "qty")


@EXT.add(
    "agg_stickiness_dau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    mau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 27 DAY AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, mau.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 9) AS stickiness
    FROM dau JOIN mau USING (day)
    """,
    doc=(
        "DAU/MAU STICKINESS per day — the engagement headline metric "
        "(what fraction of the trailing-28-day audience shows up "
        "today). MAU is a trailing-window DISTINCT, which no window "
        "frame expresses; the scale shape is agg_rolling_distinct's "
        "contribution expansion: each (user, day) activity row "
        "explodes to the <= 28 window-END days it contributes to "
        "(map-side x28 on the already-deduped user-day grain, not raw "
        "events), then ONE groupBy(day) count-distinct. Only days "
        "that exist in the data are emitted (left-semi against the "
        "day spine), matching the oracle. Stickiness is one division "
        "of exact counts, rounded 9. At 100 TB the swap is per-day "
        "HLL sketch union (agg_hll_mergeable), same expansion shape."
    ),
    tags=("agg", "engagement", "distinct", "analytics"),
)
def agg_stickiness_dau_mau(spark, sf_dir):
    ud = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    contrib = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 27))
        ).alias("day"),
        "user_id",
    )
    mau = (
        contrib.join(days, on="day", how="left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return dau.join(mau, on="day").select(
        F.col("day").cast("timestamp").alias("day"),
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 9).alias(
            "stickiness"
        ),
    )


@EXT.add(
    "agg_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT lang, doc_id % 2 AS half, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT half, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    spine AS (SELECT rt.lang, ct.half, rt.rt, ct.ct, n.n FROM rt, ct, n),
    term AS (
      SELECT s.n,
             CAST(ROUND(
               CAST((COALESCE(c.o, 0) * s.n - s.rt * s.ct)
                    * (COALESCE(c.o, 0) * s.n - s.rt * s.ct) AS DOUBLE)
               / (CAST(s.n AS DOUBLE) * s.rt * s.ct), 9)
             AS DECIMAL(18,9)) AS contrib
      FROM spine s LEFT JOIN cells c USING (lang, half)
    ),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS r_levels,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS c_levels
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n,
           ANY_VALUE(r_levels) AS r_levels,
           ANY_VALUE(c_levels) AS c_levels,
           CAST(SUM(contrib) AS DOUBLE) AS chi2,
           -- degenerate-shape contract (r13 skew axis): a one-level
           -- contingency axis (single-language collapse) has no
           -- association to measure — V is NULL, never a zero divide
           CASE WHEN LEAST(ANY_VALUE(r_levels), ANY_VALUE(c_levels)) > 1
                THEN ROUND(SQRT(CAST(SUM(contrib) AS DOUBLE)
                           / (ANY_VALUE(n)
                              * (LEAST(ANY_VALUE(r_levels),
                                       ANY_VALUE(c_levels)) - 1))), 9)
           END AS v
    FROM term, dims
    """,
    doc=(
        "Cramér's V EFFECT SIZE for the lang x half contingency — the "
        "companion qa_chisq_categorical needs to be actionable: chi2 "
        "grows with n, so at 100 TB everything is 'significant'; V = "
        "sqrt(chi2 / (n * (min(r,c) - 1))) is the scale-free [0,1] "
        "association strength a drift gate can threshold. Same "
        "numeric contract as the chi-square: per-cell contributions "
        "from the cleared-denominator identity, rounded 9, pinned to "
        "decimal, summed exactly (order-independent); V adds one "
        "sqrt over a double/integer ratio, rounded 9. Scale: one "
        "map-side-combined cell agg; everything after runs on the "
        "bounded contingency spine."
    ),
    tags=("agg", "stats", "drift"),
)
def agg_cramers_v(spark, sf_dir):
    from steam_data_pipeline_spark.operators.caching import spine_cache

    cells = spine_cache(
        t(spark, sf_dir, "documents")
        .groupBy("lang", (F.col("doc_id") % 2).alias("half"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # bounded contingency frame (|langs| x 2 rows) referenced by
        # every marginal/total/spine branch — uncached, each branch
        # re-derives the full documents scan (scan-amplification
        # study); caching a bounded spine is the study's always-wins
        # case; registered so release_spines() frees it
    )
    rt = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("half").agg(F.sum("o").cast("long").alias("ct"))
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("r_levels")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("long").alias("c_levels"))
    )
    spine = rt.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(nn))
    o = F.coalesce(F.col("o"), F.lit(0)).cast("long")
    diff = o * F.col("n") - F.col("rt") * F.col("ct")
    term = spine.join(cells, ["lang", "half"], "left").select(
        "n",
        F.round(
            (diff * diff).cast("double")
            / (
                F.col("n").cast("double")
                * F.col("rt").cast("double")
                * F.col("ct").cast("double")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("contrib"),
    )
    agg = term.agg(
        F.any_value("n").cast("long").alias("n"),
        F.sum("contrib").cast("double").alias("chi2"),
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "n",
        "r_levels",
        "c_levels",
        "chi2",
        # degenerate-shape contract (r13 skew axis): one-level axis
        # (single-language collapse) -> NULL V, never DIVIDE_BY_ZERO
        F.when(
            F.least(F.col("r_levels"), F.col("c_levels")) > 1,
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * (
                            F.least(F.col("r_levels"), F.col("c_levels"))
                            - 1
                        )
                    )
                ),
                9,
            ),
        ).alias("v"),
    )


@EXT.add(
    "agg_churn_hazard",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST((date_part('epoch', MAX(date_trunc('week', ts)))
                   - date_part('epoch', MIN(date_trunc('week', ts))))
                  // 604800 AS BIGINT) AS last_age
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT last_age, CAST(COUNT(*) AS BIGINT) AS churned
      FROM spans GROUP BY last_age
    )
    SELECT last_age AS age_wk, churned,
           CAST(SUM(churned) OVER (ORDER BY last_age DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS at_risk,
           ROUND(CAST(churned AS DOUBLE)
                 / SUM(churned) OVER (ORDER BY last_age DESC
                                      ROWS UNBOUNDED PRECEDING), 9)
             AS hazard
    FROM d
    """,
    doc=(
        "Discrete-time churn HAZARD curve on the user grain — the "
        "companion of win_survival_km (which works order-fulfillment "
        "durations): each user's observed lifetime is the whole weeks "
        "between first and last activity week; hazard(a) = users "
        "whose lifetime ENDED at age a / users still at risk at age a "
        "(the reverse-cumulative count — the same histogram-cumsum "
        "trick as the KM risk set, here on the bounded age spine). "
        "Week ages are exact integer epoch arithmetic on "
        "week-truncated timestamps; hazard is one division of exact "
        "BIGINTs, rounded 9. Scale: one map-side-combined per-user "
        "agg, then everything runs on the <= calendar-weeks age "
        "spine; no window ever touches user rows."
    ),
    tags=("agg", "survival", "cohort", "analytics"),
)
def agg_churn_hazard(spark, sf_dir):
    from pyspark.sql import Window

    spans = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                (
                    F.unix_timestamp(F.max(F.date_trunc("week", "ts")))
                    - F.unix_timestamp(F.min(F.date_trunc("week", "ts")))
                )
                / F.lit(604800)
            )
            .cast("long")
            .alias("last_age")
        )
    )
    d = spans.groupBy("last_age").agg(
        F.count(F.lit(1)).cast("long").alias("churned")
    )
    w = Window.orderBy(F.col("last_age").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = F.sum("churned").over(w)
    return d.select(
        F.col("last_age").alias("age_wk"),
        "churned",
        at_risk.cast("long").alias("at_risk"),
        F.round(F.col("churned").cast("double") / at_risk, 9).alias("hazard"),
    )


@EXT.add(
    "agg_runs_test",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT list_sort(LIST(cnt))[CAST((COUNT(*) + 1) // 2 AS INT)] AS m
      FROM daily
    ),
    s AS (
      SELECT day, CASE WHEN cnt > m THEN 1 ELSE 0 END AS sign
      FROM daily, med WHERE cnt <> m
    ),
    r AS (
      SELECT sign, LAG(sign) OVER (ORDER BY day) AS prev FROM s
    ),
    c AS (
      SELECT CAST(1 + COALESCE(SUM(CASE WHEN prev IS NOT NULL
                   AND sign <> prev THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS runs,
             CAST(SUM(sign) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(sign) AS BIGINT) AS n2
      FROM r
    )
    SELECT n1 AS n_above, n2 AS n_below, runs,
           ROUND(1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE), 9) AS mu_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                AND 2 * n1 * n2 > n1 + n2 THEN
             ROUND((CAST(runs AS DOUBLE)
                    - (1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE)
                       / CAST(n1 + n2 AS DOUBLE)))
                   / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                          AS DOUBLE)
                          / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
                            AS DOUBLE)), 9)
           END AS z
    FROM c
    """,
    doc=(
        "Wald-Wolfowitz runs test on the daily event-count series: is "
        "the sequence of above/below-median days random, or does it "
        "cluster (trend / regime persistence)? The QA companion to "
        "agg_mann_kendall: MK detects monotone trend, the runs test "
        "detects ANY serial dependence symmetric around the median. "
        "Days equal to the median are excluded (standard). Numeric "
        "contract: R, n1, n2 are exact integers; mu and sigma^2 are "
        "rational with numerators/denominators exact below 2^53 at "
        "any plausible day count, so z is the same pinned IEEE "
        "expression both engines round at 9. The median is the exact "
        "lower median via one bounded sorted array (the house "
        "rolling-median trick); guards NULL the z-score when either "
        "side is empty or the variance is zero. Scale: one map-side "
        "daily collapse; everything else is bounded day-spine math."
    ),
    tags=("agg", "stats", "qa"),
)
def agg_runs_test(spark, sf_dir):
    from pyspark.sql import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    med = daily.agg(
        F.element_at(
            F.array_sort(F.collect_list("cnt")),
            F.floor((F.count(F.lit(1)) + 1) / 2).cast("int"),
        ).alias("m")
    )
    s = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cnt") != F.col("m"))
        .select(
            "day", F.when(F.col("cnt") > F.col("m"), 1).otherwise(0).alias("sign")
        )
    )
    r = s.select(
        "sign", F.lag("sign").over(Window.orderBy("day")).alias("prev")
    )
    c = r.agg(
        (
            F.lit(1)
            + F.coalesce(
                F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (F.col("sign") != F.col("prev")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("runs"),
        F.sum("sign").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sign")).cast("long").alias("n2"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu = F.lit(1.0) + F.lit(2.0) * (n1 * n2).cast("double") / (n1 + n2).cast(
        "double"
    )
    var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)).cast("double") / (
        (n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
    ).cast("double")
    return c.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        "runs",
        F.round(mu, 9).alias("mu_runs"),
        F.when(
            (n1 > 0) & (n2 > 0) & (n1 + n2 > 1) & (2 * n1 * n2 > n1 + n2),
            F.round((runs.cast("double") - mu) / F.sqrt(var), 9),
        ).alias("z"),
    )
