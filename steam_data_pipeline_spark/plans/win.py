"""Window-function queries (``win_*``)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from steam_data_pipeline_spark.plans.base import Registry, ops_time_domain, t

EXT = Registry()


@EXT.add(
    "win_funnel_steps",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    converted AS (
      SELECT DISTINCT p.user_id
      FROM purchases p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type = 'play'
       AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 DAY
    )
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM purchases) AS n_purchasers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM converted) AS n_converted
    """,
    doc=(
        "Two-step funnel: users who 'purchase' and then 'play' within "
        "24 h - the conversion-rate primitive. Spark side sessionizes "
        "per user with one window over (user, ts): for each purchase, "
        "the MIN following play timestamp within the horizon via a "
        "range-frame window, then two distinct-count aggregates - one "
        "shuffle on user_id, no self-join blowup (the oracle's "
        "time-range self-join is the semantics spec; the window plan "
        "is the scale shape)."
    ),
    tags=("window", "analytics", "funnel"),
)
def win_funnel_steps(spark, sf_dir):
    from pyspark.sql import Window

    # microsecond-precision epoch for the range frame: a seconds cast
    # would truncate sub-second gaps and disagree with the oracle's
    # exact ts comparison at the boundary
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tsu")
    ).filter(F.col("event_type").isin("purchase", "play"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(1, 24 * 3600 * 1_000_000)
    )
    flagged = ev.withColumn(
        "play_follows",
        F.max(F.when(F.col("event_type") == "play", F.lit(1)).otherwise(F.lit(0))).over(w),
    ).filter(F.col("event_type") == "purchase")
    n_purch = flagged.agg(
        F.countDistinct("user_id").cast("long").alias("n_purchasers")
    )
    n_conv = flagged.filter(F.col("play_follows") == 1).agg(
        F.countDistinct("user_id").cast("long").alias("n_converted")
    )
    return n_purch.crossJoin(n_conv)


@EXT.add(
    "win_ntile_bands",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority,
             NTILE(10) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS decile,
             PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS pr,
             o_totalprice
      -- NULL price has no engine-stable rank position (Spark sorts
      -- NULLs first, DuckDB last) — excluded from the deciles
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           ROUND(MIN(pr), 9) AS min_pr, ROUND(MAX(pr), 9) AS max_pr
    FROM r GROUP BY 1, 2
    """,
    doc=(
        "Price decile bands per priority class: NTILE(10) + "
        "PERCENT_RANK with an (o_totalprice, o_orderkey) total order - "
        "the tie-break makes both rank functions deterministic; "
        "without it NTILE's bucket boundaries inside a tie run would "
        "be partition-order-dependent and could never value-hash. "
        "PARTITION BY keeps the sort distributed (one hash shuffle on "
        "the class key, never a global single-partition sort); "
        "percent_rank is (rank-1)/(n-1), an integer-over-integer IEEE "
        "division, rounded to 9 only for display symmetry. The "
        "equi-depth band edges (lo/hi per decile) are the "
        "histogram-calibration shape dashboards consume."
    ),
    tags=("window", "analytics"),
)
def win_ntile_bands(spark, sf_dir):
    from pyspark.sql.window import Window as W

    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderpriority",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        "o_totalprice",
    )
    return r.groupBy(
        "o_orderpriority", F.col("decile").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.round(F.min("pr"), 9).alias("min_pr"),
        F.round(F.max("pr"), 9).alias("max_pr"),
    )


@EXT.add(
    "win_ewma_recursive",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      -- operational time domain (r13 pandas-path Arrow-ns contract)
      WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    r AS (
      SELECT event_type, day, n, i, CAST(n AS DECIMAL(20,9)) AS ewma
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.event_type, idx.day, idx.n, idx.i,
             CAST(ROUND(CAST(0.25 AS DECIMAL(3,2)) * idx.n
                        + CAST(0.75 AS DECIMAL(3,2)) * r.ewma, 9)
                  AS DECIMAL(20,9))
      FROM idx JOIN r
        ON idx.event_type IS NOT DISTINCT FROM r.event_type
       AND idx.i = r.i + 1
    )
    SELECT event_type, day, n, CAST(ewma AS DOUBLE) AS ewma FROM r
    """,
    doc=(
        "Per-key exponential smoothing (EWMA, alpha=0.25) — the "
        "RECURSIVE window family no built-in window frame expresses "
        "(each output depends on the previous OUTPUT, not a previous "
        "input range). Spark form: hash-partitioned daily pre-agg, "
        "then applyInPandas per key walking days in order with O(1) "
        "state — same shape as the stateful islands op, keys scale "
        "out, days per key stay bounded. Numeric contract: the whole "
        "recursion runs in EXACT decimal (alpha as DECIMAL(3,2), "
        "per-step ROUND half-up to 9 frac digits bounds scale growth "
        "exactly where the oracle's DECIMAL(20,9) does), and only the "
        "final value is converted to double — a single correctly-"
        "rounded conversion both engines share, so 30 chained steps "
        "hash-match bit-exactly. Oracle is a true WITH RECURSIVE "
        "rebuild of the same recurrence."
    ),
    tags=("win", "stateful", "udf"),
)
def win_ewma_recursive(spark, sf_dir):
    import pandas as pd

    daily = (
        # operational time domain: this day series feeds a pandas fold
        # (r13 ts-extremes contract, plans/base.py)
        ops_time_domain(t(spark, sf_dir, "events"))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        pdf = pdf.sort_values("day").reset_index(drop=True)
        alpha, beta = Decimal("0.25"), Decimal("0.75")
        quantum = Decimal("0.000000001")
        out, prev = [], None
        for nval in pdf["n"]:
            x = Decimal(int(nval))
            prev = (
                x
                if prev is None
                else (alpha * x + beta * prev).quantize(
                    quantum, rounding=ROUND_HALF_UP
                )
            )
            out.append(float(prev))
        pdf["ewma"] = out
        return pdf[["event_type", "day", "n", "ewma"]]

    return daily.groupBy("event_type").applyInPandas(
        smooth, "event_type string, day timestamp, n long, ewma double"
    )


@EXT.add(
    "win_resample_ffill",
    oracle="""
    WITH daily AS (
      -- operational time domain (r12 ts-extremes contract): a dense
      -- per-key daily fill across one corrupt 1905/2260 timestamp is
      -- a 130k-row-per-key spine — out-of-window rows are a
      -- data-quality finding, not a resample observation
      SELECT user_id, date_trunc('day', ts) AS day,
             SUM(TRY_CAST(value AS DECIMAL(18,2))) AS v
      FROM events
      WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.day, d.v
      FROM spine s LEFT JOIN daily d
        ON d.user_id = s.user_id AND d.day = s.day
    )
    SELECT user_id, day,
           CAST(v AS DOUBLE) AS v,
           CAST(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS v_filled,
           v IS NULL AS was_gap
    FROM j
    """,
    doc=(
        "Time-series resampling: per-key daily spine (min..max day, "
        "sequence+explode) with forward fill over gaps — the gap-"
        "filling every downstream window/forecast op assumes away. "
        "Spark shape: exact-decimal daily agg, then ONE groupBy(key) "
        "collecting the (day, v) map + bounds, spine exploded from "
        "sequence(), per-day lookup via map access, forward fill via "
        "last(ignorenulls) over rows-unbounded — the window runs on "
        "the groupBy's own hash partitioning (no extra exchange; "
        "per-key spine length is bounded by the calendar, not rows). "
        "v is summed as DECIMAL so the fill is partitioning-"
        "independent; one final CAST to double per column."
    ),
    tags=("win", "timeseries"),
)
def win_resample_ffill(spark, sf_dir):
    from pyspark.sql import Window

    daily = (
        t(spark, sf_dir, "events")
        # operational time domain (r12 ts-extremes contract): dense
        # fill across a corrupt far-out timestamp is an unbounded
        # spine; out-of-window rows are excluded on both legs
        .filter(
            (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
        )
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.col("value").try_cast("decimal(18,2)")).alias("v"))
    )
    # map_from_entries over structs, NOT map_from_arrays over two
    # collect_lists: collect_list SKIPS NULLs, so an all-NULL day (v
    # NULL) shortens the value array and MapData crashes on the length
    # mismatch (round-11 adversarial NULL sweep); a struct entry is
    # non-null even when its v field is NULL, and a NULL map value is
    # exactly the gap the ffill must skip
    per_user = daily.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("day"), F.col("v")))
        ).alias("vm"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    spine = per_user.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
        "vm",
    ).select("user_id", "day", F.col("vm")[F.col("day")].alias("vdec"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.select(
        "user_id",
        "day",
        F.col("vdec").cast("double").alias("v"),
        F.last("vdec", ignorenulls=True).over(w).cast("double").alias("v_filled"),
        F.col("vdec").isNull().alias("was_gap"),
    )


@EXT.add(
    "win_cusum_drift",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      -- operational time domain (r13 pandas-path Arrow-ns contract)
      WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             FIRST_VALUE(n) OVER (PARTITION BY event_type ORDER BY day) AS n1
      FROM daily
    ),
    r AS (
      SELECT event_type, day, n, i, n1, CAST(0 AS BIGINT) AS cusum
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.event_type, idx.day, idx.n, idx.i, idx.n1,
             GREATEST(CAST(0 AS BIGINT), r.cusum + idx.n - idx.n1 - 2)
      FROM idx JOIN r
        ON idx.event_type IS NOT DISTINCT FROM r.event_type
       AND idx.i = r.i + 1
    )
    SELECT event_type, day, n, cusum, cusum > 10 AS alarm FROM r
    """,
    doc=(
        "One-sided CUSUM change detection on per-key daily counts "
        "(Page 1954): s_i = max(0, s_{i-1} + n_i - baseline - k) with "
        "the key's first-day count as baseline, slack k=2, alarm at "
        "h=10 — the sequential drift detector qa_anomaly_days' "
        "pointwise MAD rule can't express (a slow upward drift never "
        "trips a pointwise threshold but accumulates here). Recursive "
        "window family (output depends on previous OUTPUT): same "
        "applyInPandas-per-key shape as win_ewma_recursive, but the "
        "entire recursion is INTEGER arithmetic, so no rounding "
        "contract is needed at all. Oracle is a WITH RECURSIVE rebuild."
    ),
    tags=("win", "stateful", "qa"),
)
def win_cusum_drift(spark, sf_dir):
    import pandas as pd

    daily = (
        # operational time domain: this day series feeds a pandas fold
        # (r13 ts-extremes contract, plans/base.py)
        ops_time_domain(t(spark, sf_dir, "events"))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ns = [int(x) for x in pdf["n"]]
        base = ns[0]
        s, out = 0, []
        for i, n in enumerate(ns):
            if i > 0:
                s = max(0, s + n - base - 2)
            out.append(s)
        pdf["cusum"] = out
        pdf["alarm"] = [x > 10 for x in out]
        return pdf[["event_type", "day", "n", "cusum", "alarm"]]

    return daily.groupBy("event_type").applyInPandas(
        cusum, "event_type string, day timestamp, n long, cusum long, alarm boolean"
    )


@EXT.add(
    "win_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      -- operational time domain (r13 pandas-path Arrow-ns contract)
      WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    r AS (
      SELECT event_type, day, n, i,
             CAST(n AS DECIMAL(20,9)) AS lvl,
             CAST(0 AS DECIMAL(20,9)) AS trd
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.event_type, idx.day, idx.n, idx.i,
             CAST(ROUND(CAST(0.5 AS DECIMAL(3,2)) * idx.n
                        + CAST(0.5 AS DECIMAL(3,2)) * (r.lvl + r.trd), 9)
                  AS DECIMAL(20,9)),
             CAST(ROUND(CAST(0.25 AS DECIMAL(3,2))
                          * (CAST(ROUND(CAST(0.5 AS DECIMAL(3,2)) * idx.n
                                 + CAST(0.5 AS DECIMAL(3,2)) * (r.lvl + r.trd), 9)
                             AS DECIMAL(20,9)) - r.lvl)
                        + CAST(0.75 AS DECIMAL(3,2)) * r.trd, 9)
                  AS DECIMAL(20,9))
      FROM idx JOIN r
        ON idx.event_type IS NOT DISTINCT FROM r.event_type
       AND idx.i = r.i + 1
    )
    SELECT event_type, day, n,
           CAST(lvl AS DOUBLE) AS level,
           CAST(trd AS DOUBLE) AS trend,
           CAST(lvl + trd AS DOUBLE) AS fc1
    FROM r
    """,
    doc=(
        "Holt's linear (double) exponential smoothing per key — the "
        "TWO-state recursive window (level + trend, each step depends "
        "on both previous OUTPUTS): l_t = α·x_t + (1−α)(l_{t−1} + "
        "b_{t−1}), b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, α=0.5 "
        "β=0.25, 1-step forecast l+b. Extends win_ewma_recursive's "
        "numeric contract to a state VECTOR: both components quantize "
        "half-up to 9 frac digits each step in exact decimal, so the "
        "30-step chained recursion hash-matches the WITH RECURSIVE "
        "oracle bit-exactly; the only doubles are the three final "
        "casts. Same applyInPandas shape: keys scale out, per-key "
        "days bounded by the calendar."
    ),
    tags=("win", "stateful", "forecast"),
)
def win_holt_linear(spark, sf_dir):
    import pandas as pd

    daily = (
        # operational time domain: this day series feeds a pandas fold
        # (r13 ts-extremes contract, plans/base.py)
        ops_time_domain(t(spark, sf_dir, "events"))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        pdf = pdf.sort_values("day").reset_index(drop=True)
        a, one_a = Decimal("0.5"), Decimal("0.5")
        b, one_b = Decimal("0.25"), Decimal("0.75")
        quantum = Decimal("0.000000001")
        lvls, trds, fc1s = [], [], []
        lvl = trd = None
        for nval in pdf["n"]:
            x = Decimal(int(nval))
            if lvl is None:
                lvl, trd = x, Decimal(0)
            else:
                new_lvl = (a * x + one_a * (lvl + trd)).quantize(
                    quantum, rounding=ROUND_HALF_UP
                )
                trd = (b * (new_lvl - lvl) + one_b * trd).quantize(
                    quantum, rounding=ROUND_HALF_UP
                )
                lvl = new_lvl
            lvls.append(float(lvl))
            trds.append(float(trd))
            fc1s.append(float(lvl + trd))
        pdf["level"], pdf["trend"], pdf["fc1"] = lvls, trds, fc1s
        return pdf[["event_type", "day", "n", "level", "trend", "fc1"]]

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, day timestamp, n long, "
        "level double, trend double, fc1 double",
    )


@EXT.add(
    "win_attribution_last_touch",
    oracle="""
    WITH conv AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
    )
    SELECT c.event_id, c.user_id, c.ts, c.value,
           a.event_type AS touch_type, a.ts AS touch_ts
    FROM conv c
    LEFT JOIN LATERAL (
      SELECT t.event_type, t.ts FROM touch t
      WHERE t.user_id = c.user_id
        AND t.ts <= c.ts
        AND t.ts >= c.ts - INTERVAL 7 DAY
      ORDER BY t.ts DESC, t.event_id DESC LIMIT 1
    ) a ON TRUE
    """,
    doc=(
        "Last-touch marketing attribution: every conversion (purchase) "
        "is attributed to the most recent view/click by the same user "
        "within a 7-day lookback window — the standard attribution "
        "primitive, which is a BOUNDED backward as-of join (plain "
        "asof_backward has no lookback cutoff). Plan: one union-tag "
        "pass, one RANGE-framed window ([-7 days, 0] on integer "
        "microseconds) over a single (user, ts) exchange — never a "
        "range join; the attributed touch is a struct max so "
        "equal-timestamp ties resolve deterministically on the touch "
        "event id. Conversions with no in-window touch surface as "
        "NULL-attributed rows (the unattributed-spend line every "
        "attribution report needs). At 100 TB the 7-day bound is the "
        "scale feature: window state per key is capped by the lookback "
        "horizon, so the operator streams (it is the batch twin of a "
        "watermarked stream-stream interval join)."
    ),
    tags=("win", "asof", "attribution"),
)
def win_attribution_last_touch(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    tagged_conv = conv.select(
        "event_id", "user_id", "ts", "value",
        F.lit(1).alias("__is_conv"),
        F.lit(None).cast("string").alias("__t_type"),
        F.lit(None).cast("long").alias("__t_id"),
    )
    tagged_touch = touch.select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("__is_conv"),
        F.col("event_type").alias("__t_type"),
        F.col("event_id").alias("__t_id"),
    )
    u = tagged_conv.unionByName(tagged_touch).withColumn(
        "__ts_us", F.unix_micros("ts")
    )
    lookback_us = 7 * 86400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("__ts_us")
        .rangeBetween(-lookback_us, 0)
    )
    pick = F.when(
        F.col("__is_conv") == 0,
        F.struct(
            F.col("__ts_us").alias("t"),
            F.col("__t_id").alias("i"),
            F.col("__t_type").alias("y"),
        ),
    )
    return (
        u.select(
            "event_id", "user_id", "ts", "value", "__is_conv",
            F.max(pick).over(w).alias("__a"),
        )
        .filter(F.col("__is_conv") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.col("__a.y").alias("touch_type"),
            F.timestamp_micros(F.col("__a.t")).alias("touch_ts"),
        )
    )


@EXT.add(
    "win_survival_km",
    oracle="""
    WITH mx AS (SELECT MAX(l_shipdate) AS mts FROM lineitem),
    u AS (
      SELECT l_orderkey, MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY 1
    ),
    lif AS (
      SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(u.last_ship AS DATE)) AS BIGINT) AS t,
             CASE WHEN date_diff('day', CAST(u.last_ship AS DATE),
                                 CAST(mts AS DATE)) < 30
                  THEN 0 ELSE 1 END AS churned
      FROM u JOIN orders o ON u.l_orderkey = o.o_orderkey, mx
    ),
    byt AS (
      SELECT t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS total
      FROM lif WHERE t >= 0 GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             CAST(SUM(total) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_risk
      FROM byt
    ),
    ev AS (
      SELECT t, d, n_risk,
             CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE)
                           / CAST(n_risk AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS lnf
      FROM risk WHERE d > 0
    )
    SELECT t, d, n_risk,
           ROUND(EXP(CAST(SUM(lnf) OVER (ORDER BY t
                                         ROWS UNBOUNDED PRECEDING)
                          AS DOUBLE)), 9) AS surv
    FROM ev
    """,
    doc=(
        "Kaplan-Meier survival curve over order-fulfillment durations "
        "(orderdate to last shipment, in days), with orders still "
        "shipping in the final 30 days of the observation window "
        "treated as CENSORED — the standard time-to-event estimator "
        "(churn, fulfillment, failure), which no plain SQL aggregate "
        "expresses. Numeric discipline: S(t) is a running PRODUCT of "
        "exact rationals (1 - d/n); float cumprod is association-"
        "order-dependent, so each factor's ln (one ln of an exact "
        "rational) is rounded to 9 decimals, fixed into DECIMAL(28,9), "
        "and the running sum is an EXACT decimal window sum — "
        "order-independent by construction — with one exp + round at "
        "the end. Negative synthetic durations (this fixture's ship "
        "dates are independent of order dates) are excluded as "
        "ill-formed subjects. Scale: one per-order shipment agg "
        "(co-partitioned with the orders join on the order key), then "
        "every window runs over the DISTINCT-duration table (bounded "
        "by the observation span in DAYS — ~1.8k rows here, invariant "
        "in the fact count), never over orders; the reverse-cumulative "
        "n_risk is the same histogram-cumsum trick as "
        "feat_discretize_quantile."
    ),
    tags=("win", "survival", "ml"),
)
def win_survival_km(spark, sf_dir):
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    mx = li.agg(F.max("l_shipdate").alias("mts"))
    u = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    lif = (
        u.join(orders, u.l_orderkey == orders.o_orderkey)
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("t"),
            F.when(
                F.datediff(F.to_date("mts"), F.to_date("last_ship")) < 30, 0
            )
            .otherwise(1)
            .alias("churned"),
        )
    )
    byt = lif.filter(F.col("t") >= 0).groupBy("t").agg(
        F.sum("churned").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = byt.select(
        "t", "d", F.sum("total").over(w_desc).cast("long").alias("n_risk")
    )
    evr = risk.filter(F.col("d") > 0).withColumn(
        "lnf",
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            ),
            9,
        ).cast("decimal(28,9)"),
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return evr.select(
        "t",
        "d",
        "n_risk",
        F.round(F.exp(F.sum("lnf").over(w_asc).cast("double")), 9).alias(
            "surv"
        ),
    )


@EXT.add(
    "win_rolling_corr",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN event_type = 'view'
                           THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1
    ),
    w AS (
      SELECT day, p, v,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(p) OVER fr AS BIGINT) AS sx,
             CAST(SUM(v) OVER fr AS BIGINT) AS sy,
             CAST(SUM(p * p) OVER fr AS BIGINT) AS sxx,
             CAST(SUM(v * v) OVER fr AS BIGINT) AS syy,
             CAST(SUM(p * v) OVER fr AS BIGINT) AS sxy
      FROM d
      WINDOW fr AS (ORDER BY day
                    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    )
    SELECT day, n AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                          * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0),
                 9) AS corr7
    FROM w
    """,
    doc=(
        "Trailing 7-day rolling Pearson correlation between the daily "
        "purchase and view revenue series — the co-movement monitor "
        "behind 'are views still converting' dashboards (a correlation "
        "collapse flags a funnel break faster than either series "
        "alone). EXACT moment discipline: both series are cent-scaled "
        "BIGINTs, all six windowed moments (n, Sx, Sy, Sxx, Syy, Sxy) "
        "are exact integer sums over the RANGE frame. At the FIXTURE "
        "SFs the cross-multiplied numerator/variance terms stay < "
        "2^53 so the double casts are exact; at larger SFs sx*sy ~ "
        "(7d of daily cents)^2 exceeds 2^53 first (and eventually "
        "BIGINT for sxy) — cross-engine equality still holds because "
        "both engines run the identical exact-BIGINT-then-IEEE-cast "
        "sequence, and the documented escape hatch is the DECIMAL(38) "
        "moment swap agg_bootstrap_ci records. The final "
        "num/(sqrt*sqrt) is the ONLY float arithmetic (rounded 9) — "
        "the same correctly-rounded-op sequence in both engines, "
        "bit-exact (a running float corr would be frame-order-"
        "dependent). Zero-variance frames surface NULL via NULLIF. "
        "Scale: the fact table collapses to the BOUNDED daily grain "
        "in one map-side-combined agg; the unpartitioned RANGE window "
        "runs over days-not-rows (the qa_ks_drift spine argument — at "
        "100 TB it is still ~365 rows/yr; partition by year if ever "
        "needed)."
    ),
    tags=("window", "timeseries", "stats"),
)
def win_rolling_corr(spark, sf_dir):
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).try_cast("long")
    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("p"),
            F.sum(
                F.when(F.col("event_type") == "view", cents).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("v"),
        )
    )
    fr = Window.orderBy(F.unix_date(F.col("day").cast("date"))).rangeBetween(
        -6, 0
    )
    w = d.select(
        "day",
        F.count(F.lit(1)).over(fr).cast("long").alias("n"),
        F.sum("p").over(fr).cast("long").alias("sx"),
        F.sum("v").over(fr).cast("long").alias("sy"),
        F.sum(F.col("p") * F.col("p")).over(fr).cast("long").alias("sxx"),
        F.sum(F.col("v") * F.col("v")).over(fr).cast("long").alias("syy"),
        F.sum(F.col("p") * F.col("v")).over(fr).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    return w.select(
        "day",
        F.col("n").alias("n_days"),
        F.round(num / den, 9).alias("corr7"),
    )


@EXT.add(
    "win_gap_fill_interpolate",
    oracle="""
    WITH obs AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
        -- operational time domain (r12 ts-extremes contract)
        AND ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
      GROUP BY 1, 2
    ),
    b AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY 1),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY))
                  AS TIMESTAMP) AS day
      FROM b
    ),
    j AS (
      SELECT s.user_id, s.day, o.cents
      FROM spine s LEFT JOIN obs o USING (user_id, day)
    ),
    f AS (
      SELECT user_id, day, cents,
             last_value(cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN day END
                        IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN day END
                         IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    ),
    g AS (
      -- EXACT 9-dp half-up interpolation (r13): the float form
      -- (pv + (nv-pv)*frac rounded 9) diverged 1 ulp cross-engine at
      -- extreme cents magnitudes (ROUND near-tie), and nv - pv can
      -- overflow BIGINT at signed extremes; nano = half-up of
      -- (pv*D + (nv-pv)*d1) * 1e9 / D in HUGEINT, one double cast +
      -- one division at the end (the llm_embedding_centroid pattern)
      SELECT user_id, day, cents, pv, nv,
             (CAST(pv AS HUGEINT) * date_diff('day', pd, nd)
              + (CAST(nv AS HUGEINT) - pv)
                * date_diff('day', pd, day)) * 1000000000 AS nn,
             CAST(date_diff('day', pd, nd) AS HUGEINT) AS dd
      FROM f
    )
    SELECT user_id, day,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                ELSE CAST(CASE WHEN nn >= 0
                          THEN  (nn * 2 + dd) // (2 * dd)
                          ELSE -(((-nn) * 2 + dd) // (2 * dd))
                     END AS DOUBLE) / 1e9
           END AS filled,
           cents IS NULL AS is_interp
    FROM g
    """,
    doc=(
        "Per-key time-series gap fill with LINEAR interpolation — the "
        "hypertable `interpolate()` companion to win_resample_ffill's "
        "locf: each user's daily purchase series gets its missing "
        "days minted from a per-key sequence() spine and filled as "
        "prev + (next−prev)·frac. Determinism (r13): observed values "
        "are exact cents BIGINTs and the fill is computed as an EXACT "
        "9-dp half-up integer division in decimal(38,0)/HUGEINT "
        "(nano = half-up((pv*D + (nv−pv)*d1)*1e9 / D); the float "
        "form's ROUND(x,9) diverged 1 ulp cross-engine at extreme "
        "cents magnitudes, and nv−pv can overflow BIGINT), with one "
        "double cast + one division at the end. Boundary days are observed by "
        "construction (spine spans min..max per key), so prev/next "
        "always exist on interpolated rows. Scale: the spine explode "
        "is bounded by per-key span (never a global calendar cross "
        "join); both IGNORE-NULLS walks share ONE (user, day) "
        "exchange+sort — the join_asof_nearest two-window shape."
    ),
    tags=("window", "timeseries", "gapfill"),
)
def win_gap_fill_interpolate(spark, sf_dir):
    from pyspark.sql import Window

    obs = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        # operational time domain (r12 ts-extremes contract)
        .filter(
            (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
        )
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    j = spine.join(obs, ["user_id", "day"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    f = j.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("cents", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    # EXACT 9-dp half-up interpolation (r13): the float form diverged
    # 1 ulp cross-engine at extreme cents (ROUND near-tie), and the
    # raw nv - pv BIGINT subtraction can ANSI-overflow at signed
    # extremes. nano = half-up((pv*D + (nv-pv)*d1) * 1e9 / D) in
    # decimal(38,0) via the exact (a - a%b)/b quotient (remainder
    # removed -> decimal division exact), one double cast + one final
    # /1e9 — the llm_embedding_centroid discipline. |N| <= ~5e32 and
    # the quotient <= ~9.3e27 both fit decimal(38).
    g = f.withColumn(
        "dd", F.datediff(F.col("nd"), F.col("pd")).cast("long")
    ).withColumn(
        "nn",
        (
            F.col("pv").cast("decimal(38,0)") * F.col("dd")
            + (
                F.col("nv").cast("decimal(38,0)")
                - F.col("pv").cast("decimal(38,0)")
            )
            * F.datediff(F.col("day"), F.col("pd")).cast("long")
        )
        * F.lit(1000000000).cast("decimal(38,0)"),
    )
    _q = (
        "(({s} * 2 + dd) - ({s} * 2 + dd) % (2 * dd)) / (2 * dd)"
    )
    nano = F.expr(
        "CASE WHEN nn >= 0 THEN "
        + _q.format(s="nn")
        + " ELSE -(" + _q.format(s="(-nn)") + ") END"
    )
    return g.select(
        "user_id",
        "day",
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .otherwise(nano.cast("double") / F.lit(1e9))
        .alias("filled"),
        F.col("cents").isNull().alias("is_interp"),
    )


@EXT.add(
    "win_drawdown",
    oracle="""
    WITH flows AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                  ELSE -TRY_CAST(ROUND(value * 100) AS BIGINT) END AS flow
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    c1 AS (
      SELECT user_id, ts, event_id,
             SUM(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS bal
      FROM flows
    ),
    c AS (
      SELECT user_id, bal,
             MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM c1
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(MAX(peak) AS BIGINT) AS peak_cents,
           CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents
    FROM c GROUP BY 1
    """,
    doc=(
        "Maximum drawdown per user over the running net-revenue "
        "balance (purchases credit, error events reverse — the "
        "refund-shaped series): drawdown_t = running_peak − balance_t, "
        "reported as its per-user maximum — the risk metric every "
        "balance/equity monitor computes, and a genuinely ORDER-"
        "dependent window op (no commutative-aggregate rewrite "
        "exists: the answer depends on the path, not the multiset). "
        "All arithmetic is exact BIGINT cents — cumsum, running max, "
        "and their difference — so the result value-hashes bit-exactly; "
        "(ts, event_id) ordering makes same-timestamp flows "
        "deterministic. Scale: ONE hash-partitioned window "
        "exchange+sort on user_id computes both the cumsum and the "
        "running max (same frame), then a map-side-combined per-user "
        "agg; per-user history bounds the sort run — the "
        "win_ewma_recursive skew story applies."
    ),
    tags=("window", "timeseries", "finance"),
)
def win_drawdown(spark, sf_dir):
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).try_cast("long")
    flows = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(-cents)
            .alias("flow"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c1 = flows.select(
        "user_id", "ts", "event_id", F.sum("flow").over(w).alias("bal")
    )
    c = c1.select("user_id", "bal", F.max("bal").over(w).alias("peak"))
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_flows"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(F.col("peak") - F.col("bal"))
        .cast("long")
        .alias("max_drawdown_cents"),
    )


@EXT.add(
    "win_theil_sen",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    slopes AS (
      SELECT a.day AS d1, b.day AS d2,
             CAST(b.c - a.c AS DOUBLE)
               / DATE_DIFF('day', a.day, b.day) AS slope
      FROM d a JOIN d b ON a.day < b.day
    ),
    ranked AS (
      SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           ROUND(slope, 9) AS sen_slope_cents_per_day
    FROM ranked WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
    """,
    doc=(
        "Theil-Sen robust trend slope of the daily purchase-revenue "
        "series: the (lower) median of all pairwise day-to-day slopes "
        "— the estimator that shrugs off the outlier days that wreck "
        "an OLS fit (feat_ols_normal_eq's robust sibling; up to ~29% "
        "contamination tolerated). Slopes are exact-cent differences "
        "over integer day gaps (one double division each, identical "
        "IEEE in both engines); the median is the deterministic "
        "rank-statistic row_number = floor((n+1)/2) over "
        "(slope, d1, d2) ordering — percentile_disc semantics, no "
        "engine-dependent midpoint averaging. Scale: the fact "
        "collapses to the bounded daily grain first (map-side "
        "combined), so the pairwise self-join is spine x spine "
        "(~435 pairs for a 30-day window, ~66k for a year) — "
        "never fact x fact; partition the spine by year if the "
        "window ever grows unbounded."
    ),
    tags=("window", "timeseries", "stats", "robust"),
)
def win_theil_sen(spark, sf_dir):
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    a = d.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = d.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    slopes = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / F.datediff("d2", "d1")
            ).alias("slope"),
        )
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    n_days = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        ranked.filter(
            F.col("rn") == F.floor((F.col("np") + 1) / F.lit(2.0)).cast("int")
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("np").cast("long").alias("n_pairs"),
            F.round("slope", 9).alias("sen_slope_cents_per_day"),
        )
    )


@EXT.add(
    "win_forecast_ar2",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    r AS (
      SELECT c, row_number() OVER (ORDER BY day) AS rn,
             lag(c, 1) OVER (ORDER BY day) AS l1,
             lag(c, 2) OVER (ORDER BY day) AS l2,
             COUNT(*) OVER () AS n
      FROM d
    ),
    mo AS (
      SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS p0,
             CAST(SUM(CASE WHEN l1 IS NOT NULL
                      THEN CAST(c AS HUGEINT) * l1 END) AS HUGEINT) AS p1,
             CAST(SUM(CASE WHEN l2 IS NOT NULL
                      THEN CAST(c AS HUGEINT) * l2 END) AS HUGEINT) AS p2,
             CAST(SUM(CASE WHEN rn > 1 THEN c END) AS BIGINT) AS tail1,
             CAST(SUM(CASE WHEN rn > 2 THEN c END) AS BIGINT) AS tail2,
             CAST(SUM(CASE WHEN rn <= n - 1 THEN c END)
                  AS BIGINT) AS head1,
             CAST(SUM(CASE WHEN rn <= n - 2 THEN c END)
                  AS BIGINT) AS head2,
             CAST(MAX(CASE WHEN rn = n THEN c END) AS BIGINT)
               AS x_last,
             CAST(MAX(CASE WHEN rn = n - 1 THEN c END) AS BIGINT)
               AS x_prev
      FROM r
    ),
    hm AS (
      SELECT n, s, x_last, x_prev, p0, p1, p2,
             CAST(n AS HUGEINT) AS nh, CAST(s AS HUGEINT) AS sh,
             CAST(tail1 AS HUGEINT) AS t1, CAST(tail2 AS HUGEINT) AS t2,
             CAST(head1 AS HUGEINT) AS h1, CAST(head2 AS HUGEINT) AS h2
      FROM mo
    ),
    ac AS (
      SELECT n, s, x_last, x_prev,
             CAST(nh * nh * p0 - nh * sh * sh AS DOUBLE) AS a0,
             CAST(nh * nh * p1 - nh * sh * (t1 + h1)
                  + (nh - 1) * sh * sh AS DOUBLE) AS a1,
             CAST(nh * nh * p2 - nh * sh * (t2 + h2)
                  + (nh - 2) * sh * sh AS DOUBLE) AS a2
      FROM hm
    ),
    ph AS (
      SELECT n, s, x_last, x_prev,
             (a1 / a0) * (1 - a2 / a0) / (1 - (a1 / a0) * (a1 / a0))
               AS phi1,
             (a2 / a0 - (a1 / a0) * (a1 / a0))
               / (1 - (a1 / a0) * (a1 / a0)) AS phi2,
             CAST(s AS DOUBLE) / n AS m
      FROM ac
    ),
    f0 AS (SELECT *, x_last - m AS dv0, x_prev - m AS dvm1 FROM ph),
    f1 AS (SELECT *, phi1 * dv0 + phi2 * dvm1 AS f1 FROM f0),
    f2 AS (SELECT *, phi1 * f1 + phi2 * dv0 AS f2 FROM f1),
    f3 AS (SELECT *, phi1 * f2 + phi2 * f1 AS f3 FROM f2),
    f4 AS (SELECT *, phi1 * f3 + phi2 * f2 AS f4 FROM f3),
    f5 AS (SELECT *, phi1 * f4 + phi2 * f3 AS f5 FROM f4),
    f6 AS (SELECT *, phi1 * f5 + phi2 * f4 AS f6 FROM f5),
    f7 AS (SELECT *, phi1 * f6 + phi2 * f5 AS f7 FROM f6)
    SELECT h, ROUND(m + dev, 3) AS forecast_cents,
           ROUND(phi1, 9) AS phi1, ROUND(phi2, 9) AS phi2
    FROM f7, (VALUES (1), (2), (3), (4), (5), (6), (7)) AS hs(h),
         LATERAL (SELECT CASE h WHEN 1 THEN f1 WHEN 2 THEN f2
                                WHEN 3 THEN f3 WHEN 4 THEN f4
                                WHEN 5 THEN f5 WHEN 6 THEN f6
                                ELSE f7 END AS dev) dd
    """,
    doc=(
        "AR(2) Yule-Walker forecast of daily purchase revenue, 7 days "
        "ahead — the second-order autoregression that captures the "
        "oscillatory/momentum dynamics AR(1) (udtf_forecast) and Holt "
        "(win_holt_linear) cannot, closing more of the reference's "
        "VISUALIZATION_PLAN.md:71 model-menu gap with exact-"
        "arithmetic discipline: demeaned autocovariances come from "
        "the n²-cleared identity n²·A_k = n²·P_k - n·S·(tail_k + "
        "head_k) + (n-k)·S² over pure INTEGER lag-product moments "
        "(HUGEINT/DECIMAL(38); ~6.8e17 at 10x volume, 20 digits of "
        "headroom), phi1/phi2 are the closed-form Yule-Walker "
        "solutions in r1 = A1/A0, r2 = A2/A0, and the 7-step "
        "recursion f_k = phi1·f_{k-1} + phi2·f_{k-2} is UNROLLED as "
        "the same chained float expressions in both engines (no "
        "iterative driver loop), rounded 3 — daily totals are ~1e6 "
        "cents at sf0.1, so 3 decimals keeps the rounded value inside "
        "double's ~15.95 significant digits (9 would not be "
        "representable and the engines' rounding paths diverge at "
        "1 ULP). Scale: the fact collapses "
        "map-side to the bounded daily grain; lag moments are one "
        "window pass over the spine; everything after is 1-row math."
    ),
    tags=("window", "timeseries", "forecast"),
)
def win_forecast_ar2(spark, sf_dir):
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    wo = Window.orderBy("day")
    wall = Window.partitionBy()
    r = d.select(
        "c",
        F.row_number().over(wo).alias("rn"),
        F.lag("c", 1).over(wo).alias("l1"),
        F.lag("c", 2).over(wo).alias("l2"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    d38 = "decimal(38,0)"
    mo = r.agg(
        F.any_value("n").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast(d38) * F.col("c")).cast(d38).alias("p0"),
        F.sum(F.col("c").cast(d38) * F.col("l1")).cast(d38).alias("p1"),
        F.sum(F.col("c").cast(d38) * F.col("l2")).cast(d38).alias("p2"),
        F.sum(F.when(F.col("rn") > 1, F.col("c"))).cast("long").alias("tail1"),
        F.sum(F.when(F.col("rn") > 2, F.col("c"))).cast("long").alias("tail2"),
        F.sum(F.when(F.col("rn") <= F.col("n") - 1, F.col("c")))
        .cast("long")
        .alias("head1"),
        F.sum(F.when(F.col("rn") <= F.col("n") - 2, F.col("c")))
        .cast("long")
        .alias("head2"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("c")))
        .cast("long")
        .alias("x_last"),
        F.max(F.when(F.col("rn") == F.col("n") - 1, F.col("c")))
        .cast("long")
        .alias("x_prev"),
    )
    # DECIMAL(38,0) operands BEFORE any product: the cleared-identity
    # terms n*S*(tail+head) and n*S^2 overflow BIGINT at 10x volume
    # (caught by the round-8 scale rehearsal, like agg_bootstrap_ci's
    # micro-mean in round 7); 38 digits leaves ~13 digits of headroom
    # at 100x.
    n = F.col("n").cast(d38)
    s = F.col("s").cast(d38)
    ac = mo.select(
        "n",
        "s",
        "x_last",
        "x_prev",
        (n * n * F.col("p0") - n * s * s).cast("double").alias("a0"),
        (
            n * n * F.col("p1")
            - n * s * (F.col("tail1").cast(d38) + F.col("head1"))
            + (n - 1) * s * s
        )
        .cast("double")
        .alias("a1"),
        (
            n * n * F.col("p2")
            - n * s * (F.col("tail2").cast(d38) + F.col("head2"))
            + (n - 2) * s * s
        )
        .cast("double")
        .alias("a2"),
    )
    r1 = F.col("a1") / F.col("a0")
    r2 = F.col("a2") / F.col("a0")
    ph = ac.select(
        "n",
        "s",
        "x_last",
        "x_prev",
        (r1 * (1 - r2) / (1 - r1 * r1)).alias("phi1"),
        ((r2 - r1 * r1) / (1 - r1 * r1)).alias("phi2"),
        (F.col("s").cast("double") / F.col("n")).alias("m"),
    )
    f = ph.withColumn("dv0", F.col("x_last") - F.col("m")).withColumn(
        "dvm1", F.col("x_prev") - F.col("m")
    )
    f = f.withColumn(
        "f1", F.col("phi1") * F.col("dv0") + F.col("phi2") * F.col("dvm1")
    )
    prev2, prev1 = "dv0", "f1"
    for k in range(2, 8):
        f = f.withColumn(
            f"f{k}",
            F.col("phi1") * F.col(prev1) + F.col("phi2") * F.col(prev2),
        )
        prev2, prev1 = prev1, f"f{k}"
    stack = F.expr(
        "stack(7, 1, f1, 2, f2, 3, f3, 4, f4, 5, f5, 6, f6, 7, f7) "
        "AS (h, dev)"
    )
    return f.select("m", "phi1", "phi2", stack).select(
        F.col("h").cast("int").alias("h"),
        F.round(F.col("m") + F.col("dev"), 3).alias("forecast_cents"),
        F.round("phi1", 9).alias("phi1"),
        F.round("phi2", 9).alias("phi2"),
    )


@EXT.add(
    "win_bollinger_bands",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    w AS (
      SELECT day, c,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(c) OVER fr AS BIGINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) OVER fr AS HUGEINT) AS ss
      FROM d
      WINDOW fr AS (ORDER BY day
                    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    )
    SELECT day, n AS n_window, c AS cents,
           ROUND(CAST(s AS DOUBLE) / n, 3) AS mid,
           ROUND(CAST(s AS DOUBLE) / n
                 + 2 * SQRT(CAST(n * ss - s * s AS DOUBLE)) / n, 3) AS upper,
           ROUND(CAST(s AS DOUBLE) / n
                 - 2 * SQRT(CAST(n * ss - s * s AS DOUBLE)) / n, 3) AS lower
    FROM w
    """,
    doc=(
        "Bollinger bands (trailing 7-day mean ± 2 population sd) over "
        "daily purchase revenue — the volatility envelope that turns "
        "win_rolling_corr's moment discipline into an anomaly band "
        "(a day breaching ±2sd is the alert win_cusum_drift confirms): "
        "windowed n/S/SS are EXACT integer sums over the RANGE frame "
        "(HUGEINT/DECIMAL(38) squares), sd uses the n-cleared identity "
        "sqrt(n·SS - S²)/n so the only float ops are one sqrt and two "
        "divisions per row, written in the same pinned order in both "
        "engines, rounded 3 (daily totals are ~1e6 cents at sf0.1; "
        "3 decimals keeps the result representable in a double — "
        "round 9 at this magnitude exceeds 15.95 significant digits "
        "and flakes at 1 ULP, measured). Scale: fact collapses map-side to the "
        "bounded daily grain; the RANGE window runs over days-not-rows "
        "(partition by year if the spine ever grows unbounded)."
    ),
    tags=("window", "timeseries", "stats"),
)
def win_bollinger_bands(spark, sf_dir):
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    day_s = F.unix_timestamp("day")
    fr = (
        Window.orderBy(day_s)
        .rangeBetween(-6 * 86400, 0)
    )
    d38 = "decimal(38,0)"
    w = d.select(
        "day",
        "c",
        F.count(F.lit(1)).over(fr).cast("long").alias("n"),
        F.sum("c").over(fr).cast("long").alias("s"),
        F.sum(F.col("c").cast(d38) * F.col("c")).over(fr).cast(d38).alias("ss"),
    )
    mid = F.col("s").cast("double") / F.col("n")
    spread = (
        2
        * F.sqrt((F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double"))
        / F.col("n")
    )
    return w.select(
        "day",
        F.col("n").alias("n_window"),
        F.col("c").alias("cents"),
        F.round(mid, 3).alias("mid"),
        F.round(mid + spread, 3).alias("upper"),
        F.round(mid - spread, 3).alias("lower"),
    )


@EXT.add(
    "win_backtest_ar1",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lagged AS (
      SELECT day, x, CAST(x AS HUGEINT) * lag(x) OVER (ORDER BY day) AS lp
      FROM d
    ),
    r AS (
      SELECT day, x,
             row_number() OVER w AS t,
             COUNT(*) OVER () AS n,
             CAST(SUM(x) OVER cum AS HUGEINT) AS s,
             CAST(SUM(CAST(x AS HUGEINT) * x) OVER cum AS HUGEINT) AS p0,
             CAST(COALESCE(SUM(lp) OVER cum, 0) AS HUGEINT) AS p1,
             CAST(first_value(x) OVER cum AS HUGEINT) AS x1,
             lead(x) OVER w AS x_next,
             lead(day) OVER w AS next_day
      FROM lagged
      WINDOW w AS (ORDER BY day),
             cum AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    fit AS (
      SELECT day, next_day, x, x_next, t, n,
             CAST(s AS DOUBLE) / t AS m,
             CAST(CAST(t AS HUGEINT) * t * p1
                  - t * s * (2 * s - x1 - CAST(x AS HUGEINT))
                  + (t - 1) * s * s AS DOUBLE)
               / CAST(CAST(t AS HUGEINT) * t * p0 - t * s * s AS DOUBLE)
               AS phi
      FROM r
      WHERE t >= 8 AND t <= n - 1 AND t >= n - 10
    )
    SELECT next_day AS origin_day,
           ROUND(m + phi * (x - m), 3) AS forecast_cents,
           CAST(x_next AS BIGINT) AS actual_cents,
           ROUND(ABS(ROUND(m + phi * (x - m), 3) - x_next), 3) AS abs_err,
           ROUND(AVG(ROUND(ABS(ROUND(m + phi * (x - m), 3) - x_next), 3))
                   OVER (), 4) AS mae
    FROM fit
    """,
    doc=(
        "Rolling-origin backtest of a one-step AR(1) forecast over the "
        "last 10 days — the model-EVALUATION loop (fit on data < t, "
        "predict t, score) expressed as pure window math with ZERO "
        "driver-side refits: every origin's AR(1) fit comes from "
        "PREFIX moments (cumulative S_t, sum-of-squares P0_t, lag "
        "products P1_t over one (day) window pass), the demeaned "
        "autocovariances use the t²-cleared identities "
        "t²A1 = t²P1 - t·S·(2S - x_1 - x_t) + (t-1)·S² over exact "
        "HUGEINT/DECIMAL(38) integers (the win_forecast_ar2 overflow "
        "lesson applied from the start), and phi_t/forecast are one "
        "pinned float expression per origin. Forecasts round to 3 "
        "decimals BEFORE the error so each abs_err is an exact "
        "multiple of 0.001 and the MAE sum is order-independent in "
        "double (no float-accumulation nondeterminism). Scale: one "
        "map-side-combined daily collapse; ALL backtest math is one "
        "window pass over the bounded day spine — at 100 TB this "
        "evaluates a year of origins without ever refitting."
    ),
    tags=("window", "timeseries", "forecast", "eval"),
)
def win_backtest_ar1(spark, sf_dir):
    from pyspark.sql import Window

    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).try_cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    d38 = "decimal(38,0)"
    w = Window.orderBy("day")
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    lagged = d.select(
        "day",
        "x",
        (F.col("x").cast(d38) * F.lag("x").over(w)).alias("lp"),
    )
    r = lagged.select(
        "day",
        "x",
        F.row_number().over(w).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(cum).cast(d38).alias("s"),
        F.sum(F.col("x").cast(d38) * F.col("x")).over(cum).cast(d38).alias("p0"),
        F.coalesce(F.sum("lp").over(cum), F.lit(0)).cast(d38).alias("p1"),
        F.first("x").over(cum).cast(d38).alias("x1"),
        F.lead("x").over(w).alias("x_next"),
        F.lead("day").over(w).alias("next_day"),
    )
    tt = F.col("t").cast(d38)
    s, p0, p1 = F.col("s"), F.col("p0"), F.col("p1")
    phi = (
        (
            tt * F.col("t") * p1
            - F.col("t") * s * (2 * s - F.col("x1") - F.col("x").cast(d38))
            + (F.col("t") - 1) * s * s
        ).cast("double")
        / (tt * F.col("t") * p0 - F.col("t") * s * s).cast("double")
    )
    fit = (
        r.filter(
            (F.col("t") >= 8)
            & (F.col("t") <= F.col("n") - 1)
            & (F.col("t") >= F.col("n") - 10)
        )
        .select(
            "next_day",
            "x",
            "x_next",
            (s.cast("double") / F.col("t")).alias("m"),
            phi.alias("phi"),
        )
    )
    fc = F.round(F.col("m") + F.col("phi") * (F.col("x") - F.col("m")), 3)
    abs_err = F.round(F.abs(fc - F.col("x_next")), 3)
    return fit.select(
        F.col("next_day").alias("origin_day"),
        fc.alias("forecast_cents"),
        F.col("x_next").cast("long").alias("actual_cents"),
        abs_err.alias("abs_err"),
        F.round(F.avg(abs_err).over(wall), 4).alias("mae"),
    )


@EXT.add(
    "win_sprt_always_valid",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
               AS n0,
             CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
               AS n1,
             CAST(COALESCE(SUM(CASE WHEN user_id % 2 = 0
                   THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS s0,
             CAST(COALESCE(SUM(CASE WHEN user_id % 2 = 1
                   THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS s1,
             CAST(COALESCE(SUM(CASE WHEN user_id % 2 = 0
                   THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                        * TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS HUGEINT) AS q0,
             CAST(COALESCE(SUM(CASE WHEN user_id % 2 = 1
                   THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                        * TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS HUGEINT) AS q1
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    cum AS (
      SELECT day,
             CAST(SUM(n0) OVER w AS BIGINT) AS cn0,
             CAST(SUM(n1) OVER w AS BIGINT) AS cn1,
             CAST(SUM(s0) OVER w AS BIGINT) AS cs0,
             CAST(SUM(s1) OVER w AS BIGINT) AS cs1,
             CAST(SUM(q0) OVER w AS HUGEINT) AS cq0,
             CAST(SUM(q1) OVER w AS HUGEINT) AS cq1
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    f AS (
      SELECT day, cn0, cn1,
             CAST(cs1 AS DOUBLE) / cn1 - CAST(cs0 AS DOUBLE) / cn0
               AS delta,
             (CAST(cn0 * cq0 - CAST(cs0 AS HUGEINT) * cs0 AS DOUBLE) / cn0
              + CAST(cn1 * cq1 - CAST(cs1 AS HUGEINT) * cs1 AS DOUBLE) / cn1)
             / (cn0 + cn1 - 2) AS sig2
      FROM cum WHERE cn0 >= 2 AND cn1 >= 2
    ),
    v AS (
      SELECT day, cn0, cn1, delta,
             sig2 * CAST(cn0 + cn1 AS DOUBLE)
                  / CAST(cn0 * cn1 AS DOUBLE) AS vv
      FROM f WHERE sig2 > 0
    ),
    lam AS (
      SELECT day, cn0, cn1, delta,
             0.5 * LN(vv / (vv + 250000.0))
             + delta * delta * 250000.0 / (2.0 * vv * (vv + 250000.0))
               AS log_lambda
      FROM v
    ),
    run AS (
      SELECT day, cn0, cn1, delta, log_lambda,
             MAX(log_lambda) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM lam
    )
    SELECT day, cn0 AS n0, cn1 AS n1,
           ROUND(delta, 9) AS delta_cents,
           ROUND(log_lambda, 9) AS log_lambda,
           ROUND(LEAST(1.0, EXP(-peak)), 9) AS p_always_valid,
           CAST(CASE WHEN LEAST(1.0, EXP(-peak)) <= 0.05
                     THEN 1 ELSE 0 END AS INT) AS significant
    FROM run
    """,
    doc=(
        "Always-valid sequential test (mixture SPRT, normal mixture "
        "prior tau = 500 cents): the running per-day monitor of the "
        "variant revenue difference whose p-value is valid UNDER "
        "CONTINUOUS PEEKING — the guard the fixed-horizon battery "
        "(agg_ttest_welch / agg_wilson_ci / agg_fdr_bh) cannot give, "
        "because checking a fixed-horizon test daily inflates false "
        "positives ~5x (the 'peeking problem'). Per day: cumulative "
        "EXACT integer moments (BIGINT cents, DECIMAL(38) squares) "
        "via a running-sum window over the bounded day spine; pooled "
        "variance, delta, and the mixture likelihood ratio are pinned "
        "float sequences; Lambda lives in LOG SPACE (no overflow at "
        "any horizon) and the always-valid p is exp(-running max), "
        "clamped to 1 and rounded 9 (LN/EXP carry the documented "
        "1-ULP cross-libm caveat, absorbed by rounding as in "
        "agg_hill_tail_index / agg_fdr_bh). Scale: ONE map-side-"
        "combined daily agg collapses the fact; every window runs on "
        "the ~30-row day spine (the qa_ks_drift argument), never the "
        "fact table."
    ),
    tags=("window", "experiment", "stats", "streaming-state"),
)
def win_sprt_always_valid(spark, sf_dir):
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).try_cast("long")
    d38 = "decimal(38,0)"
    v0 = F.col("user_id") % 2 == 0
    v1 = F.col("user_id") % 2 == 1
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.when(v0, 1)).cast("long").alias("n0"),
            F.count(F.when(v1, 1)).cast("long").alias("n1"),
            F.coalesce(F.sum(F.when(v0, cents)), F.lit(0))
            .cast("long")
            .alias("s0"),
            F.coalesce(F.sum(F.when(v1, cents)), F.lit(0))
            .cast("long")
            .alias("s1"),
            F.coalesce(
                F.sum(F.when(v0, cents.cast(d38) * cents)), F.lit(0)
            )
            .cast(d38)
            .alias("q0"),
            F.coalesce(
                F.sum(F.when(v1, cents.cast(d38) * cents)), F.lit(0)
            )
            .cast(d38)
            .alias("q1"),
        )
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "day",
        F.sum("n0").over(w).cast("long").alias("cn0"),
        F.sum("n1").over(w).cast("long").alias("cn1"),
        F.sum("s0").over(w).cast("long").alias("cs0"),
        F.sum("s1").over(w).cast("long").alias("cs1"),
        F.sum("q0").over(w).cast(d38).alias("cq0"),
        F.sum("q1").over(w).cast(d38).alias("cq1"),
    )
    f = cum.filter((F.col("cn0") >= 2) & (F.col("cn1") >= 2)).select(
        "day",
        "cn0",
        "cn1",
        (
            F.col("cs1").cast("double") / F.col("cn1")
            - F.col("cs0").cast("double") / F.col("cn0")
        ).alias("delta"),
        (
            (
                # cumulative sums square past 2^63 at lifetime-revenue
                # horizons — square in DECIMAL(38), cast to double once
                (
                    F.col("cn0") * F.col("cq0")
                    - F.col("cs0").cast(d38) * F.col("cs0")
                ).cast("double")
                / F.col("cn0")
                + (
                    F.col("cn1") * F.col("cq1")
                    - F.col("cs1").cast(d38) * F.col("cs1")
                ).cast("double")
                / F.col("cn1")
            )
            / (F.col("cn0") + F.col("cn1") - 2)
        ).alias("sig2"),
    )
    v = f.filter(F.col("sig2") > 0).select(
        "day",
        "cn0",
        "cn1",
        "delta",
        (
            F.col("sig2")
            * (F.col("cn0") + F.col("cn1")).cast("double")
            / (F.col("cn0") * F.col("cn1")).cast("double")
        ).alias("vv"),
    )
    tau2 = F.lit(250000.0)
    lam = v.select(
        "day",
        "cn0",
        "cn1",
        "delta",
        (
            F.lit(0.5) * F.log(F.col("vv") / (F.col("vv") + tau2))
            + F.col("delta")
            * F.col("delta")
            * tau2
            / (F.lit(2.0) * F.col("vv") * (F.col("vv") + tau2))
        ).alias("log_lambda"),
    )
    run = lam.withColumn("peak", F.max("log_lambda").over(w))
    p = F.least(F.lit(1.0), F.exp(-F.col("peak")))
    return run.select(
        "day",
        F.col("cn0").alias("n0"),
        F.col("cn1").alias("n1"),
        F.round("delta", 9).alias("delta_cents"),
        F.round("log_lambda", 9).alias("log_lambda"),
        F.round(p, 9).alias("p_always_valid"),
        F.when(p <= 0.05, 1).otherwise(0).cast("int").alias("significant"),
    )


@EXT.add(
    "win_interval_coverage",
    oracle="""
    WITH cents AS (
      -- out-of-domain durations (cents beyond 9e12: the us product
      -- would overflow BIGINT) -> NULL, same flow as a NULL value
      SELECT user_id, event_id, ts,
             CASE WHEN ABS(TRY_CAST(ROUND(value * 100) AS BIGINT))
                       < 9000000000000
                  THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END AS c
      FROM events
    ),
    iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + c * 1000000 AS e_us
      FROM cents
    ),
    marked AS (
      SELECT user_id, s_us, e_us,
             MAX(e_us) OVER (PARTITION BY user_id
                             ORDER BY s_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_max
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(GREATEST(0, e_us - GREATEST(s_us,
                COALESCE(prev_max, s_us)))) AS BIGINT) AS covered_us,
           CAST(MAX(e_us) - MIN(s_us) AS BIGINT) AS span_us,
           ROUND(CAST(SUM(GREATEST(0, e_us - GREATEST(s_us,
                 COALESCE(prev_max, s_us)))) AS DOUBLE)
                 / (MAX(e_us) - MIN(s_us)), 9) AS utilization
    FROM marked GROUP BY user_id
    """,
    doc=(
        "Interval-union COVERAGE per user — total de-overlapped active "
        "time from possibly-overlapping activity intervals (each event "
        "opens [ts, ts + value-as-cents seconds]): the playtime-"
        "accounting twin of win_islands (islands COUNT the merged "
        "runs; this measures their union LENGTH, plus span and "
        "utilization). The sweep is the classic sorted running-max: "
        "one window partitioned by user ordered by (start, event_id), "
        "each row contributes max(0, end - max(start, prev running "
        "max end)) — exact integer microseconds via the epoch-micros "
        "convention, union length provably order-independent under "
        "ties. Scale: ONE keyed exchange + sort shared by the window "
        "and the final per-user agg; no self-join (the naive "
        "interval-merge via range self-join is quadratic in a user's "
        "overlap depth; this is linear)."
    ),
    tags=("window", "timeseries", "islands"),
)
def win_interval_coverage(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    ev = t(spark, sf_dir, "events")
    # duration cents via the domain-total try_cents contract, with the
    # tighter bound this operator needs (cents*1e6 must fit signed-64
    # microseconds) — out-of-domain == NULL value == open interval end,
    # the flow the round-11 NULL sweep already pinned here
    cents = try_cents("value")
    dur = F.when(F.abs(cents) < F.lit(9_000_000_000_000), cents)
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + dur * F.lit(1_000_000)).alias("e_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s_us",
        "e_us",
        F.max("e_us").over(w).alias("prev_max"),
    )
    inc = F.greatest(
        F.lit(0).cast("long"),
        F.col("e_us")
        - F.greatest(F.col("s_us"), F.coalesce("prev_max", "s_us")),
    )
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(inc).cast("long").alias("covered_us"),
        (F.max("e_us") - F.min("s_us")).cast("long").alias("span_us"),
        F.round(
            F.sum(inc).cast("double") / (F.max("e_us") - F.min("s_us")), 9
        ).alias("utilization"),
    )


@EXT.add(
    "win_debounce",
    oracle="""
    WITH RECURSIVE ev AS (
      -- operational time domain (r13 pandas-path Arrow-ns contract)
      SELECT DISTINCT user_id, ts FROM events
      WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
    ),
    acc AS (
      SELECT user_id, MIN(ts) AS ts FROM ev GROUP BY user_id
      UNION ALL
      SELECT a.user_id,
             (SELECT MIN(e.ts) FROM ev e
              WHERE e.user_id = a.user_id
                AND e.ts >= a.ts + INTERVAL 14400 SECOND) AS ts
      FROM acc a
      WHERE (SELECT MIN(e.ts) FROM ev e
             WHERE e.user_id = a.user_id
               AND e.ts >= a.ts + INTERVAL 14400 SECOND) IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_accepted,
           MAX(ts) AS last_accepted
    FROM acc GROUP BY user_id
    """,
    doc=(
        "Per-user event DEBOUNCE — keep an event only if >= 4 h have "
        "passed since the last KEPT event (visit-counting, alert "
        "rate-limiting, session-start detection where the reference's "
        "75-105 s batch pacing generalizes, main.py:480-482). "
        "Genuinely recursive: whether an event survives depends on "
        "which earlier events survived, so no fixed-frame window "
        "expresses it (win_sessionize_gap keys on PREVIOUS-EVENT gaps; "
        "debounce keys on previous-ACCEPTED gaps — a chain). "
        "Implementation is the recursive grouped-map shape via "
        "operators.grouped.sorted_grouped_map: key-clustered, "
        "key-sorted partitions + ONE MapInPandas, so Python is "
        "invoked per Arrow batch, not per group — applyInPandas "
        "costs a measured ~4 ms/group of fixed overhead, which at "
        "100 TB key grain (millions of users) dominates the O(1)-"
        "state scan itself (identity fn: 3.4 s -> 0.9 s on the "
        "fixture's 1500 groups). The oracle replays the accept chain "
        "as a recursive CTE. State per group is ONE timestamp."
    ),
    tags=("window", "recursive", "pandas_gm", "timeseries"),
)
def win_debounce(spark, sf_dir):
    import pandas as pd

    # operational time domain: the fold runs in pandas (r13 contract)
    ev = ops_time_domain(t(spark, sf_dir, "events")).select(
        "user_id", "ts"
    )

    def _debounce(pdf: pd.DataFrame) -> pd.DataFrame:
        # dedup + sort + chain-scan + per-user summary all inside the
        # group: one keyed exchange total (a Spark-side distinct and a
        # post-agg would each add another). The scan runs over int64
        # microseconds, not boxed Timestamps — ~3x on long histories,
        # and resolution-proof (explicit datetime64[us], the streaming
        # islands discipline).
        ts_us = (
            pdf["ts"].drop_duplicates().sort_values()
            .to_numpy().astype("datetime64[us]").astype("int64")
        )
        gap = 14400 * 1_000_000
        n = 0
        last = None
        for ts in ts_us.tolist():
            if last is None or ts >= last + gap:
                n += 1
                last = ts
        return pd.DataFrame(
            {"user_id": pdf["user_id"].iloc[:1].values,
             "n_accepted": [n],
             "last_accepted": [
                 None if last is None else pd.Timestamp(last * 1000)
             ]}
        )

    from steam_data_pipeline_spark.operators.grouped import sorted_grouped_map

    return sorted_grouped_map(
        ev,
        keys=["user_id"],
        order=["ts"],
        fn=_debounce,
        schema="user_id bigint, n_accepted bigint, last_accepted timestamp",
    )


@EXT.add(
    "win_peak_concurrency",
    oracle="""
    WITH pts AS (
      SELECT event_type, ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta
      FROM events
    ),
    net AS (
      SELECT event_type, t, CAST(SUM(delta) AS BIGINT) AS net
      FROM pts GROUP BY event_type, t
    ),
    run AS (
      SELECT event_type, t,
             SUM(net) OVER (PARTITION BY event_type ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS cur
      FROM net
    ),
    peaked AS (
      SELECT event_type, t, cur,
             MAX(cur) OVER (PARTITION BY event_type) AS peak
      FROM run
    )
    SELECT event_type,
           CAST(MAX(peak) AS BIGINT) AS peak_concurrent,
           MIN(t) AS peak_ts
    FROM peaked WHERE cur = peak GROUP BY event_type
    """,
    doc=(
        "Peak CONCURRENCY per event type via the classic sweep line — "
        "every event opens a half-open 30-minute activity interval "
        "[ts, ts+30min), and the answer is the maximum number of "
        "simultaneously open intervals plus the first instant it is "
        "attained (the 'peak concurrent players' number every live "
        "dashboard headlines; the reference's player_count is the "
        "polled version of exactly this). Shape: endpoints carry "
        "+1/-1 deltas, deltas are SUMMED PER DISTINCT TIMESTAMP first "
        "(map-side-combined groupBy — this also makes the half-open "
        "boundary exact: an interval closing at t cancels one opening "
        "at t), and the running sum over the per-type timestamp spine "
        "is the step function's exact value on [t, next_t). The max "
        "over spine rows equals the function's max, and the peak "
        "instant is deterministic (MIN t attaining it). Scale: the "
        "window runs on the DISTINCT-timestamp spine, not raw events, "
        "after one keyed exchange; no self-join, no interval "
        "materialization."
    ),
    tags=("window", "interval", "analytics"),
)
def win_peak_concurrency(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("event_type", "ts")
    pts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    net = pts.groupBy("event_type", "t").agg(
        F.sum("delta").cast("long").alias("net")
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = net.withColumn("cur", F.sum("net").over(wrun))
    peaked = run.withColumn(
        "peak", F.max("cur").over(Window.partitionBy("event_type"))
    )
    return (
        peaked.filter(F.col("cur") == F.col("peak"))
        .groupBy("event_type")
        .agg(
            F.max("peak").cast("long").alias("peak_concurrent"),
            F.min("t").alias("peak_ts"),
        )
    )


@EXT.add(
    "win_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS freq,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT cents,
             CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey)
                  AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey)
                  AS BIGINT) AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM scored GROUP BY 1, 2, 3
    """,
    doc=(
        "RFM segmentation — the marketing-standard customer grid: per "
        "customer, Recency (last order date), Frequency (order count) "
        "and Monetary (exact lifetime cents) are each quintiled with "
        "ntile(5) (score 1 = best, deterministic (metric, custkey) "
        "tie-break; ntile's equal-fill-first-buckets division is "
        "identical in Spark and DuckDB), then customers are counted "
        "into the <=125 (r,f,m) cells with their exact revenue. "
        "Scale: the fact table collapses to the customer SPINE first "
        "(map-side-combined agg), and the three quintile scores are "
        "computed by operators/ranks.py::scalable_ntile_desc_multi — "
        "the two-level histogram rank (scalar-spine min/max broadcast, "
        "<=4096-row bin histogram with a BOUNDED one-partition "
        "running sum, then a hash-partitioned per-bin window) — "
        "bit-identical to ntile but with NO unpartitioned sort of "
        "the customer spine (the 0.38 10x exponent this query "
        "carried through round 9); the final cell agg is bounded at "
        "125 rows. Round 11: a Catalyst-estimate size gate "
        "(SMALL_SPINE_BYTES) diverts toy/interactive inputs to the "
        "plain window ntile — identical output by the property test "
        "covering both gate sides — so small scales no longer pay "
        "the at-scale plan's fixed cost (1.95s -> ~0.65s at sf0.1)."
    ),
    tags=("window", "segmentation", "analytics"),
)
def win_rfm_segments(spark, sf_dir):
    from steam_data_pipeline_spark.operators.ranks import (
        scalable_ntile_desc_multi,
    )

    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).try_cast("long")).alias(
                "cents"
            ),
        )
        # integral recency axis: epoch micros order exactly like the
        # timestamp itself (the ntz->tz cast and unix_micros are both
        # monotone); (range+1)*4096 stays far inside int64
        .withColumn(
            "r_axis",
            F.unix_micros(F.col("last_order").cast("timestamp")).cast("long"),
        )
    )
    scored = scalable_ntile_desc_multi(
        per_cust,
        5,
        [("r_axis", "r_score"), ("freq", "f_score"), ("cents", "m_score")],
        key="o_custkey",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )


@EXT.add(
    "win_rolling_median",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
      -- a day with no in-domain revenue leaves the median spine: the
      -- Spark leg's collect_list skips NULL while rn/n here count it
      HAVING c IS NOT NULL
    ),
    fr AS (
      SELECT a.day, b.c AS v
      FROM d a JOIN d b ON b.day BETWEEN a.day - INTERVAL 6 DAY AND a.day
    ),
    r AS (
      SELECT day, v,
             row_number() OVER (PARTITION BY day ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY day) AS n
      FROM fr
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(MAX(n) AS BIGINT) AS n_window,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
             AS median_cents
    FROM r GROUP BY day
    """,
    doc=(
        "Trailing 7-day rolling exact MEDIAN of daily purchase revenue "
        "— the robust smoother that ignores the single-day spikes a "
        "rolling mean (win_bollinger_bands' mid) chases: the "
        "qa_outlier_mad philosophy applied to a moving window. The "
        "median is the deterministic LOWER order statistic "
        "((n+1)//2), never an interpolated midpoint (engine-dependent "
        "averaging), and the values are exact cents BIGINTs — no "
        "float enters the query. Spark shape: the frame is BOUNDED "
        "(<= 7 rows) so the per-row sort is a collect_list over the "
        "RANGE frame + array_sort + element_at — O(k log k) per spine "
        "row, no self-join; the oracle replays it as a range "
        "self-join + rank because portable SQL lacks a discrete "
        "median window. Scale: the fact collapses map-side to the "
        "bounded day spine first; the window runs over days, never "
        "rows."
    ),
    tags=("window", "timeseries", "robust"),
)
def win_rolling_median(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(try_cents("value")).cast("long").alias("c"))
        .filter(F.col("c").isNotNull())
    )
    fr = Window.orderBy(F.unix_date("day")).rangeBetween(-6, 0)
    w = d.select(
        "day",
        F.sort_array(F.collect_list("c").over(fr)).alias("vs"),
    )
    n = F.size("vs")
    return w.select(
        F.col("day").cast("timestamp").alias("day"),
        n.cast("long").alias("n_window"),
        F.element_at("vs", F.floor((n + 1) / 2).cast("int"))
        .cast("long")
        .alias("median_cents"),
    )


@EXT.add(
    "win_funnel_3step",
    oracle="""
    WITH viewers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    qp AS (
      SELECT DISTINCT p.user_id, p.ts
      FROM events p
      WHERE p.event_type = 'purchase'
        AND EXISTS (
          SELECT 1 FROM events v
          WHERE v.event_type = 'view' AND v.user_id = p.user_id
            AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 DAY
        )
    ),
    q3 AS (
      SELECT DISTINCT pl.user_id
      FROM events pl
      WHERE pl.event_type = 'play'
        AND EXISTS (
          SELECT 1 FROM qp
          WHERE qp.user_id = pl.user_id
            AND qp.ts < pl.ts AND qp.ts >= pl.ts - INTERVAL 1 DAY
        )
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM viewers) AS n_viewers,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM qp)
             AS n_step2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM q3) AS n_step3
    """,
    doc=(
        "THREE-step ordered funnel (view -> purchase within 24 h -> "
        "play within 24 h of THAT purchase) — the multi-step "
        "generalization of win_funnel_steps, where the middle step "
        "must itself be qualified (a purchase with no preceding view "
        "does not advance the funnel; naive pairwise funnels "
        "overcount exactly this). Spark shape: NO self-joins — one "
        "union of the three event slices, then two CHAINED range "
        "windows over the SAME (user, ts-micros) exchange+sort "
        "(Spark reuses the sort for same-spec windows): pass 1 "
        "counts prior-24 h views at each purchase (qualifying it), "
        "pass 2 counts prior-24 h QUALIFIED purchases at each play. "
        "Strict/inclusive bounds are frame endpoints in exact "
        "microseconds ([-86400e6, -1]), matching the oracle's "
        "v.ts < p.ts AND v.ts >= p.ts - 24 h. The oracle is the "
        "EXISTS-chain spec. Scale: one keyed shuffle total; per-user "
        "history bounds the sort run."
    ),
    tags=("window", "funnel", "analytics"),
)
def win_funnel_3step(spark, sf_dir):
    from pyspark.sql import Window

    day_us = 86_400_000_000
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase", "play"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("tsu"),
        )
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(-day_us, -1)
    )
    p1 = ev.withColumn(
        "n_prior_views",
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).over(fr),
    ).withColumn(
        "is_qp",
        (
            (F.col("event_type") == "purchase")
            & (F.coalesce(F.col("n_prior_views"), F.lit(0)) > 0)
        ).cast("long"),
    )
    p2 = p1.withColumn("n_prior_qp", F.sum("is_qp").over(fr))
    n_viewers = (
        ev.filter(F.col("event_type") == "view")
        .agg(F.countDistinct("user_id").cast("long").alias("n_viewers"))
    )
    n_step2 = p1.filter(F.col("is_qp") == 1).agg(
        F.countDistinct("user_id").cast("long").alias("n_step2")
    )
    n_step3 = p2.filter(
        (F.col("event_type") == "play")
        & (F.coalesce(F.col("n_prior_qp"), F.lit(0)) > 0)
    ).agg(F.countDistinct("user_id").cast("long").alias("n_step3"))
    return n_viewers.crossJoin(n_step2).crossJoin(n_step3)


@EXT.add(
    "win_greedy_allocation",
    oracle="""
    WITH supply AS (
      -- NULL size = undefined supply; NULL qty demands nothing; a NULL
      -- ship date has no priority position (and LEAST/GREATEST skip
      -- NULL args in DuckDB but propagate them in Spark — the
      -- allocation caps would silently disagree): all excluded
      SELECT p_partkey, CAST(p_size AS BIGINT) * 50 AS supply
      FROM part WHERE p_size IS NOT NULL
    ),
    d AS (
      SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
             COALESCE(CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum_before
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_shipdate IS NOT NULL
    ),
    a AS (
      SELECT d.l_partkey AS partkey, qty,
             LEAST(qty, GREATEST(s.supply - d.cum_before, 0)) AS alloc
      FROM d JOIN supply s ON s.p_partkey = d.l_partkey
    )
    SELECT partkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN alloc = qty THEN 1 ELSE 0 END) AS BIGINT)
             AS n_filled,
           CAST(SUM(qty) AS BIGINT) AS total_demand,
           CAST(SUM(alloc) AS BIGINT) AS total_allocated,
           CAST(SUM(qty - alloc) AS BIGINT) AS total_backorder,
           ROUND(CAST(SUM(alloc) AS DOUBLE) / SUM(qty), 9) AS fill_rate
    FROM a GROUP BY 1
    """,
    doc=(
        "Greedy priority-order stock allocation: each part's finite "
        "supply (p_size x 50 units) is handed out to its order lines "
        "in ship-date priority until exhausted — the classic "
        "inventory/quota waterfall that looks inherently sequential "
        "but is ONE capped running sum: alloc = least(qty, "
        "greatest(supply - cum_demand_before, 0)); a line is filled "
        "iff the demand queue ahead of it left stock. (The same shape "
        "meters LLM-corpus ingest quotas: per-source token budgets "
        "consumed in arrival order, llm_quota_per_source's windowed "
        "generalization.) Exact BIGINT throughout — TPC-H quantities "
        "are integral. Scale: supply joins broadcast on the part dim; "
        "the window and the final per-part rollup both run on the "
        "SAME l_partkey hash partitioning, so the whole query is one "
        "fact shuffle; deterministic total order (ship date, order, "
        "line) makes the allocation reproducible run-to-run."
    ),
    tags=("win", "allocation", "inventory"),
)
def win_greedy_allocation(spark, sf_dir):
    from pyspark.sql import Window

    supply = t(spark, sf_dir, "part").filter(
        F.col("p_size").isNotNull()
    ).select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_size").cast("long") * 50).alias("supply"),
    )
    w = (
        Window.partitionBy("partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = (
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull() & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_quantity").cast("long").alias("qty"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        .join(F.broadcast(supply), "partkey")
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("qty").over(w), F.lit(0)).cast("long"),
        )
    )
    a = d.select(
        "partkey",
        "qty",
        F.least(
            F.col("qty"),
            F.greatest(F.col("supply") - F.col("cum_before"), F.lit(0)),
        ).alias("alloc"),
    )
    return a.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("alloc") == F.col("qty"), 1).otherwise(0))
        .cast("long")
        .alias("n_filled"),
        F.sum("qty").cast("long").alias("total_demand"),
        F.sum("alloc").cast("long").alias("total_allocated"),
        F.sum(F.col("qty") - F.col("alloc")).cast("long").alias("total_backorder"),
        F.round(
            F.sum("alloc").cast("double") / F.sum("qty"), 9
        ).alias("fill_rate"),
    )


@EXT.add(
    "win_max_subarray",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN TRY_CAST(ROUND(value * 100) AS BIGINT)
                  ELSE -TRY_CAST(ROUND(value * 100) AS BIGINT) END AS signed
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    p0 AS (
      SELECT user_id, ts, event_id, signed,
             CAST(SUM(signed) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS pfx
      FROM ev
    ),
    p AS (
      SELECT user_id, signed, pfx,
             CAST(MIN(pfx) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT) AS min_before
      FROM p0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(signed) AS BIGINT) AS net_cents,
           CAST(MAX(pfx - LEAST(COALESCE(min_before, 0), 0)) AS BIGINT)
             AS best_run_cents
    FROM p GROUP BY 1
    """,
    doc=(
        "Per-user maximum-sum contiguous run (Kadane's max subarray) "
        "over the signed event stream — purchases credit revenue "
        "cents, clicks debit acquisition cost — surfacing each user's "
        "best uninterrupted net-monetization streak. The O(n^2) "
        "every-(start,end) definition collapses to prefix sums: the "
        "best run ending at t is P_t - min(0, min_{s<t} P_s), so TWO "
        "chained windows over ONE (user, ts, event_id) exchange+sort "
        "(cumulative sum, then running min of its lag) compute what a "
        "naive range self-join would shuffle quadratically. All "
        "arithmetic is exact BIGINT cents; the per-user rollup reuses "
        "the window's hash partitioning — one fact shuffle total. "
        "Empty-prefix sentinel: LEAST(COALESCE(min_before,0),0) "
        "admits runs starting at the first event without admitting "
        "the empty run."
    ),
    tags=("win", "kadane", "sessions"),
)
def win_max_subarray(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    cents = try_cents("value")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(-cents)
            .alias("signed"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = ev.withColumn("pfx", F.sum("signed").over(w).cast("long")).withColumn(
        "min_before", F.min("pfx").over(w_before).cast("long")
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("signed").cast("long").alias("net_cents"),
        F.max(
            F.col("pfx")
            - F.least(F.coalesce(F.col("min_before"), F.lit(0)), F.lit(0))
        )
        .cast("long")
        .alias("best_run_cents"),
    )


@EXT.add(
    "win_changepoint_sse",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS BIGINT) AS s,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS s2
      FROM daily
    ),
    cum AS (
      SELECT day,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
             CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS sl
      FROM daily
    ),
    sc AS (
      SELECT c.day, c.k, c.sl, t.n - c.k AS nr, t.s - c.sl AS sr,
             t.n, t.s, t.s2,
             CAST(c.sl AS DOUBLE) * CAST(c.sl AS DOUBLE)
               / CAST(c.k AS DOUBLE)
             + CAST(t.s - c.sl AS DOUBLE) * CAST(t.s - c.sl AS DOUBLE)
               / CAST(t.n - c.k AS DOUBLE) AS gain
      FROM cum c, tot t WHERE c.k < t.n
    ),
    best AS (SELECT * FROM sc ORDER BY gain DESC, k ASC LIMIT 1)
    SELECT day AS split_day,
           CAST(k AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE), 9) AS mean_left,
           ROUND(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 9) AS mean_right,
           ROUND(CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS var_before,
           ROUND(CAST(s2 * (k * nr) - CAST(sl AS HUGEINT) * sl * nr
                      - CAST(sr AS HUGEINT) * sr * k AS DOUBLE)
                 / CAST(k * nr * n AS DOUBLE), 6) AS var_after,
           ROUND(1.0 - (CAST(s2 * (k * nr) - CAST(sl AS HUGEINT) * sl * nr
                             - CAST(sr AS HUGEINT) * sr * k AS DOUBLE)
                        / CAST(k * nr * n AS DOUBLE))
                     / (CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
                        / CAST(n * n AS DOUBLE)), 9) AS var_reduction
    FROM best
    """,
    doc=(
        "Offline single changepoint in the daily-revenue series by "
        "exact SSE minimization (binary segmentation's first split — "
        "the regime-shift detector behind deploy/price-change "
        "monitoring; the OFFLINE companion to win_cusum_drift's "
        "online detector). Minimizing SSE_left+SSE_right is "
        "equivalent to maximizing G(k) = SL^2/k + SR^2/(n-k), where "
        "SL/SR are prefix/suffix sums — so ONE cumulative window over "
        "the bounded day spine scores every split; no per-split "
        "rescan. Numeric contract: SL, n are exact integers (cents), "
        "double(SL) is exact below 2^53, and G(k) is the SAME "
        "3-operation IEEE expression in both engines — bit-identical, "
        "so the argmax (tie-broken on k) is engine-independent; the "
        "reported variances use cleared-denominator HUGEINT/DECIMAL "
        "identities with ONE final double division each (the SPRT "
        "pattern). Scale: daily collapse is map-side-combined; "
        "everything after runs on the bounded day spine (the "
        "sanctioned bounded one-partition cumsum); the best split is "
        "a TakeOrdered(1), not a global sort."
    ),
    tags=("win", "changepoint", "stats"),
)
def win_changepoint_sse(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    cents = try_cents("value")
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(cents).cast("long").alias("rev"))
    )
    # totals come from a FULL-frame window over the same bounded day
    # spine (not a separate aggregate): one events scan, not two —
    # the window exchange is already paid for the cumulative pass
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_full = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
        F.sum("rev").over(w).cast("long").alias("sl"),
        F.count(F.lit(1)).over(w_full).cast("long").alias("n"),
        F.sum("rev").over(w_full).cast("long").alias("s"),
        F.sum(F.col("rev").cast("decimal(19,0)") * F.col("rev"))
        .over(w_full)
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    sc = (
        cum
        .filter(F.col("k") < F.col("n"))
        .select(
            "day",
            "k",
            "sl",
            (F.col("n") - F.col("k")).alias("nr"),
            (F.col("s") - F.col("sl")).alias("sr"),
            "n",
            "s",
            "s2",
            (
                F.col("sl").cast("double") * F.col("sl").cast("double")
                / F.col("k").cast("double")
                + (F.col("s") - F.col("sl")).cast("double")
                * (F.col("s") - F.col("sl")).cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            ).alias("gain"),
        )
    )
    best = sc.orderBy(F.col("gain").desc(), F.col("k").asc()).limit(1)
    s2 = F.col("s2")
    hsl = F.col("sl").cast("decimal(38,0)")
    hsr = F.col("sr").cast("decimal(38,0)")
    hs = F.col("s").cast("decimal(38,0)")
    var_before = (s2 * F.col("n") - hs * F.col("s")).cast("double") / (
        F.col("n") * F.col("n")
    ).cast("double")
    var_after = (
        s2 * (F.col("k") * F.col("nr"))
        - hsl * F.col("sl") * F.col("nr")
        - hsr * F.col("sr") * F.col("k")
    ).cast("double") / (F.col("k") * F.col("nr") * F.col("n")).cast("double")
    return best.select(
        F.col("day").alias("split_day"),
        F.col("k").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.round(F.col("sl").cast("double") / F.col("k").cast("double"), 9)
        .alias("mean_left"),
        F.round(F.col("sr").cast("double") / F.col("nr").cast("double"), 9)
        .alias("mean_right"),
        F.round(var_before, 6).alias("var_before"),
        F.round(var_after, 6).alias("var_after"),
        F.round(F.lit(1.0) - var_after / var_before, 9).alias("var_reduction"),
    )
