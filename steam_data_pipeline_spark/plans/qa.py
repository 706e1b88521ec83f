"""Data-quality (``qa_*``), feature-engineering (``feat_*``) and
sampling (``samp_*``) queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from steam_data_pipeline_spark.llm.lm import (
    dsir_oracle_bucket_sql as _bucket_sql,
    portable_word_bucket as _pbucket,
)
from steam_data_pipeline_spark.plans.base import Registry, t

EXT = Registry()


@EXT.add(
    "samp_reservoir_per_key",
    oracle="""
    SELECT source, doc_id,
           CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)) ASC,
                      doc_id ASC) AS BIGINT) AS rank
    FROM documents
    QUALIFY rank <= 5
    """,
    doc=(
        "Deterministic per-key uniform k-sample (the distributed "
        "reservoir-sampling equivalent): rank every row by a seeded "
        "cryptographic hash of its id and keep the k smallest per key. "
        "Same sample every run and on every re-execution over the same "
        "data (unlike rand()-based reservoirs), so downstream stages "
        "can re-derive it; changing the seed redraws. Scale shape: the "
        "row_number()<=k filter compiles to WindowGroupLimit, so each "
        "task keeps at most k rows per key BEFORE the single per-key "
        "shuffle - no full sort of the corpus. md5 on both engines "
        "makes the oracle value-exact."
    ),
    tags=("sampling", "llm"),
)
def samp_reservoir_per_key(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    )
    return (
        docs.select("source", "doc_id", rn.cast("long").alias("rank"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# data-quality layer (operators/profile.py)
# ---------------------------------------------------------------------------


@EXT.add(
    "qa_profile",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
             source, n_chars
      FROM documents
    )
    SELECT 'doc_id' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(doc_id) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(MIN(doc_id) AS DOUBLE) AS min_num,
           CAST(MAX(doc_id) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM d
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang),
           NULL, NULL, MIN(lang), MAX(lang) FROM d
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source),
           NULL, NULL, MIN(source), MAX(source) FROM d
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
           NULL, NULL FROM d
    """,
    doc=(
        "Single-scan table profiler (operators/profile.py): per-column "
        "rows/nonnull/EXACT distinct/min/max via a melt (one explode "
        "projection) into two map-side-combined hash aggregates — "
        "deliberately NOT k COUNT(DISTINCT) aggs in one agg (Spark's "
        "Expand plan multiplies the scan k-fold) and NOT a "
        "one-job-per-column driver loop. Cost is one scan + two "
        "shuffles regardless of column count; shuffle volume after "
        "stage 1 is bounded by distinct values, not rows. NULLs are "
        "injected deterministically (doc_id %% 7) on both sides so the "
        "null-accounting path is non-vacuous. Reference analog: the "
        "ad-hoc inline validation in steam-data-pipeline main.py's ETL "
        "loop, promoted to a first-class deequ-style surface."
    ),
    tags=("qa",),
)
def qa_profile(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import ColSpec, profile

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        "n_chars",
    )
    return profile(
        d,
        [
            ColSpec("doc_id", "num"),
            ColSpec("lang", "str"),
            ColSpec("source", "str"),
            ColSpec("n_chars", "num"),
        ],
    )


@EXT.add(
    "qa_check",
    oracle="""
    WITH raw AS (
      SELECT 'custkey_complete' AS check_name,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations
      FROM orders
      UNION ALL
      SELECT 'price_positive',
             CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'price_under_100k',
             CAST(SUM(CASE WHEN o_totalprice < 100000 THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orderkey_unique', CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
      FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'custkey_in_customer', CAST(COUNT(*) AS BIGINT)
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    )
    SELECT check_name, violations, violations = 0 AS passed FROM raw
    """,
    doc=(
        "Declarative expectations (operators/profile.py check): all "
        "row-local constraints (completeness, predicates — NULL "
        "predicate counts as violation) fold into ONE conditional-"
        "aggregate pass over the fact table; uniqueness is a two-stage "
        "hash aggregate (sum of per-key count-1, NULL keys included, "
        "matching GROUP BY); referential integrity is a broadcast "
        "left-anti join against the distinct dimension keys (NULL FK = "
        "orphan, matching NOT EXISTS). price_under_100k fails on "
        "purpose so the violation-counting path is non-vacuous. The "
        "boolean passed column is derived, not compared-away."
    ),
    tags=("qa",),
)
def qa_check(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import Expect, check

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    out = check(
        orders,
        [
            Expect("custkey_complete", "complete", col="o_custkey"),
            Expect(
                "price_positive",
                "predicate",
                predicate=F.col("o_totalprice") > 0,
            ),
            Expect(
                "price_under_100k",
                "predicate",
                predicate=F.col("o_totalprice") < 100000,
            ),
            Expect("orderkey_unique", "unique", col="o_orderkey"),
            Expect(
                "custkey_in_customer",
                "ref",
                col="o_custkey",
                ref_df=customer,
                ref_col="c_custkey",
            ),
        ],
    )
    return out.select(
        F.col("constraint").alias("check_name"), "violations", "passed"
    )


@EXT.add(
    "qa_snapshot_diff",
    oracle="""
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
             lang
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 13 = 0
    ),
    o AS (SELECT doc_id, md5(concat_ws(chr(31), text, lang)) AS h_old
          FROM documents),
    n AS (SELECT doc_id, md5(concat_ws(chr(31), text, lang)) AS h_new
          FROM v2)
    SELECT doc_id,
           CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_old = h_new THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL JOIN n USING (doc_id)
    """,
    doc=(
        "Corpus version diff (operators/profile.py snapshot_diff): "
        "added/removed/changed/unchanged per key between two table "
        "versions. Content equality via md5(concat_ws(US, cols)) — a "
        "digest Spark and DuckDB compute identically, and the scale "
        "reason for the shape: the full-outer join shuffles (key, "
        "32-byte digest), never the row payload. Fixture v2 drops "
        "doc_id%11 (removed), appends ' v2' for doc_id%7 (changed), "
        "plants doc_id%13 copies at +1e6 (added) — all four statuses "
        "non-vacuous at sf0.01."
    ),
    tags=("qa",),
)
def qa_snapshot_diff(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import snapshot_diff

    docs = t(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", "text", "lang")
    kept = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    v2 = kept.unionByName(added)
    return snapshot_diff(v1, v2, "doc_id", ["text", "lang"])


def _psi_multi_oracle(cols: tuple[str, ...], n_bins: int = 8) -> str:
    """One UNION ALL block per column, each the single-column PSI
    pattern — the oracle pays k passes; the Spark side is the point
    (one melt scan for all k)."""
    blocks = []
    for c in cols:
        blocks.append(f"""
    SELECT '{c}' AS col, bin, cnt_ref, cnt_cur,
           ROUND((CAST(cnt_ref + 1 AS DOUBLE) / CAST(tr + {n_bins} AS DOUBLE)
                  - CAST(cnt_cur + 1 AS DOUBLE) / CAST(tc + {n_bins} AS DOUBLE))
                 * LN((CAST(cnt_ref + 1 AS DOUBLE) / CAST(tr + {n_bins} AS DOUBLE))
                      / (CAST(cnt_cur + 1 AS DOUBLE) / CAST(tc + {n_bins} AS DOUBLE))),
                 9) AS contrib
    FROM (
      WITH r_{c} AS (SELECT CAST({c} AS DOUBLE) AS x FROM events
                     WHERE day(ts) <= 15 AND {c} IS NOT NULL
                       AND ABS({c}) < 1e150),
      c_{c} AS (SELECT CAST({c} AS DOUBLE) AS x FROM events
                WHERE day(ts) > 15 AND {c} IS NOT NULL
                  AND ABS({c}) < 1e150),
      bounds AS (SELECT MIN(x) AS vmin, MAX(x) AS vmax
                 FROM (SELECT x FROM r_{c} UNION ALL SELECT x FROM c_{c})),
      spine AS (SELECT CAST(g AS BIGINT) AS bin
                FROM generate_series(0, {n_bins - 1}) s(g)),
      br AS (SELECT LEAST(CAST(FLOOR((x - vmin) / GREATEST((vmax - vmin) / {n_bins}.0, 1e-12))
                          AS BIGINT), {n_bins - 1}) AS bin, COUNT(*) AS c
             FROM r_{c}, bounds GROUP BY 1),
      bc AS (SELECT LEAST(CAST(FLOOR((x - vmin) / GREATEST((vmax - vmin) / {n_bins}.0, 1e-12))
                          AS BIGINT), {n_bins - 1}) AS bin, COUNT(*) AS c
             FROM c_{c}, bounds GROUP BY 1),
      j AS (SELECT spine.bin,
                   CAST(COALESCE(br.c, 0) AS BIGINT) AS cnt_ref,
                   CAST(COALESCE(bc.c, 0) AS BIGINT) AS cnt_cur
            FROM spine LEFT JOIN br USING (bin) LEFT JOIN bc USING (bin)),
      tot AS (SELECT SUM(cnt_ref) AS tr, SUM(cnt_cur) AS tc FROM j)
      SELECT j.bin, cnt_ref, cnt_cur, tr, tc FROM j, tot
    )""")
    return "\n    UNION ALL\n".join(blocks)


@EXT.add(
    "qa_psi_multi",
    oracle=_psi_multi_oracle(("value", "user_id", "event_id")),
    doc=(
        "Wide-table drift report (operators/profile.py psi_drift_multi): "
        "per-column PSI for value/user_id/event_id between the two "
        "half-months of events, computed in ONE melted scan per "
        "population + one groupBy - k columns never cost k jobs (the "
        "profile melt trick applied to drift monitoring). Per-bin "
        "contribs are emitted instead of a per-column float sum "
        "(summing doubles across bins would be partition-order-"
        "dependent); bins/counts exact, contrib rounded to 9 decimals "
        "under the module's ln() convention. The DuckDB oracle pays "
        "one pass per column - the Spark plan shape is the point."
    ),
    tags=("qa",),
)
def qa_psi_multi(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import psi_drift_multi

    ev = t(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cur = ev.filter(F.dayofmonth("ts") > 15)
    return psi_drift_multi(ref, cur, ["value", "user_id", "event_id"])


@EXT.add(
    "qa_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en
    FROM documents
    """,
    doc=(
        "Pipeline telemetry via Dataset.observe(): named aggregate "
        "metrics collected AS A SIDE EFFECT of the pass that already "
        "scans the data (here a corpus pass forced by a count) - at "
        "100 TB the ingest job gets its row/byte/quality accounting "
        "for free instead of paying a second scan, which is how "
        "production pipelines feed their freshness dashboards. The "
        "Observation handle blocks until the action finishes and "
        "returns the exact aggregate values; the query re-emits them "
        "as a 1-row frame the oracle recomputes directly."
    ),
    tags=("qa", "observability"),
)
def qa_observe_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    # The observed pass runs on a CLONED session (same SparkContext,
    # separate session state): Observation registers itself with the
    # session's ObservationManager, which is not serializable, and a
    # lingering registration poisons ANY later RDD-closure
    # serialization on that session (observed live: llm_quality_model's
    # localCheckpoint failing with NotSerializableException:
    # ObservationManager after this query ran). Isolating the
    # registration on a throwaway session confines the hazard; the
    # returned metrics are plain Python scalars.
    obs_spark = spark.newSession()
    obs = Observation()
    docs = t(obs_spark, sf_dir, "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )
    docs.write.format("noop").mode("overwrite").save()  # the real pass
    m = obs.get
    return spark.range(1).select(
        F.lit(int(m["n_rows"])).cast("long").alias("n_rows"),
        F.lit(int(m["total_chars"])).cast("long").alias("total_chars"),
        F.lit(int(m["min_chars"])).cast("long").alias("min_chars"),
        F.lit(int(m["max_chars"])).cast("long").alias("max_chars"),
        F.lit(int(m["n_en"])).cast("long").alias("n_en"),
    )


@EXT.add(
    "qa_table_checksum",
    oracle="""
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(concat('0x',
             substring(md5(concat_ws(chr(31),
               CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               -- float columns enter as exact integer CENTS: the raw
               -- double->string form diverges per engine beyond 1e7
               -- (Spark switches to scientific notation, DuckDB never
               -- does) — invisible until the r12 extremes corpus
               CAST(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR),
               CAST(o_orderdate AS VARCHAR), o_orderpriority)), 1, 15))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM orders
    UNION ALL
    SELECT 'documents', CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(CAST(concat('0x',
             substring(md5(concat_ws(chr(31),
               CAST(doc_id AS VARCHAR), text, lang, source,
               CAST(n_chars AS VARCHAR))), 1, 15))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
    FROM documents
    """,
    doc=(
        "Order-insensitive table content checksum - the cheap "
        "replication/migration integrity check (compare checksums, "
        "not tables): per-row md5 of the unit-separated column "
        "payload, first 15 hex chars as a 60-bit integer (verified "
        "identical Spark conv vs DuckDB 0x-cast), SUMMED as "
        "DECIMAL(38,0) - addition is commutative so the checksum is "
        "partitioning/order-invariant, and 38 digits hold 10^12 rows "
        "x 2^60 without overflow (ANSI would throw on BIGINT "
        "overflow; decimal sums are exact). One scan, one map-side-"
        "combined aggregate per table; float columns enter via their "
        "canonical string form (same cast both engines, proven by "
        "qa_profile's ts parity)."
    ),
    tags=("qa",),
)
def qa_table_checksum(spark, sf_dir):
    def one(tbl: str, cols: list[str]):
        df = t(spark, sf_dir, tbl)

        def col_str(c: str):
            # money doubles enter as exact integer cents: Spark's
            # double->string turns scientific at >=1e7 where DuckDB
            # never does (r12 extremes contract; NULL out-of-domain,
            # skipped by concat_ws on both engines)
            if c == "o_totalprice":
                return (
                    F.round(F.col(c) * 100).try_cast("long").cast("string")
                )
            return F.col(c).cast("string")

        payload = F.concat_ws("\x1f", *[col_str(c) for c in cols])
        rowsum = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast(
            "decimal(38,0)"
        )
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(rowsum).cast("decimal(38,0)").cast("string").alias("checksum"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "checksum")

    return one(
        "orders",
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    ).unionByName(
        one("documents", ["doc_id", "text", "lang", "source", "n_chars"])
    )


@EXT.add(
    "qa_anomaly_days",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    m AS (SELECT median(cnt) AS med FROM d),
    m2 AS (SELECT median(abs(cnt - med)) AS mad FROM d, m)
    SELECT day, cnt, med, mad,
           abs(cnt - med) > 4.4478 * mad AS is_outlier
    FROM d, m, m2
    """,
    doc=(
        "Robust ingest-volume anomaly detection (operators/profile.py "
        "mad_outliers): flag days whose order count deviates from the "
        "median by > 4.4478 x MAD (3 x 1.4826, the 3-sigma-equivalent "
        "consistency constant). Median/MAD instead of mean/stddev "
        "because a spike inflates the stddev enough to mask itself; "
        "MAD has a 50% breakdown point. 5 natural outlier days at "
        "sf0.01 keep the flag non-vacuous. Exact-integer counts; the "
        "median of integers is exact in double; both engines parse "
        "the same 4.4478 literal to the identical double. After the "
        "map-side day-count aggregate everything is dimension-sized; "
        "med/mad re-join as 1-row broadcasts."
    ),
    tags=("qa",),
)
def qa_anomaly_days(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import mad_outliers

    return mad_outliers(t(spark, sf_dir, "orders"), "o_orderdate")


@EXT.add(
    "qa_psi_drift",
    oracle="""
    -- x IS NOT NULL: DuckDB's LEAST *skips* NULL args, so binning via
    -- LEAST(FLOOR(NULL), k) silently routes every NULL row into the
    -- LAST bin — the trap the Spark operators' isNotNull filter avoids
    -- (round-11 adversarial NULL sweep)
    WITH ref AS (SELECT value AS x FROM events
                 WHERE day(ts) <= 15 AND value IS NOT NULL
                   AND ABS(value) < 1e150),
    cur AS (SELECT value AS x FROM events
            WHERE day(ts) > 15 AND value IS NOT NULL
              AND ABS(value) < 1e150),
    bounds AS (
      SELECT MIN(x) AS vmin, MAX(x) AS vmax
      FROM (SELECT x FROM ref UNION ALL SELECT x FROM cur)
    ),
    spine AS (SELECT CAST(g AS BIGINT) AS bin
              FROM generate_series(0, 7) s(g)),
    br AS (
      SELECT LEAST(CAST(FLOOR((x - vmin) / GREATEST((vmax - vmin) / 8.0, 1e-12)) AS BIGINT),
                   7) AS bin, COUNT(*) AS c
      FROM ref, bounds GROUP BY 1
    ),
    bc AS (
      SELECT LEAST(CAST(FLOOR((x - vmin) / GREATEST((vmax - vmin) / 8.0, 1e-12)) AS BIGINT),
                   7) AS bin, COUNT(*) AS c
      FROM cur, bounds GROUP BY 1
    ),
    j AS (
      SELECT spine.bin,
             CAST(COALESCE(br.c, 0) AS BIGINT) AS cnt_ref,
             CAST(COALESCE(bc.c, 0) AS BIGINT) AS cnt_cur
      FROM spine LEFT JOIN br USING (bin) LEFT JOIN bc USING (bin)
    ),
    tot AS (SELECT SUM(cnt_ref) AS tr, SUM(cnt_cur) AS tc FROM j)
    SELECT bin, cnt_ref, cnt_cur,
           ROUND((CAST(cnt_ref + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE)
                  - CAST(cnt_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
                 * LN((CAST(cnt_ref + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE))
                      / (CAST(cnt_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))),
                 9) AS contrib
    FROM j, tot
    """,
    doc=(
        "Population-Stability-Index drift (operators/profile.py "
        "psi_drift) between the first and second half-month of "
        "events.value: fixed-width bins over the GLOBAL min/max "
        "(deterministic under any partitioning — quantile/ntile bin "
        "edges are partition-order-dependent and would not oracle), "
        "Laplace-smoothed per-bin contributions. Bin assignment is "
        "pure IEEE float64 (sub, div, floor) so Spark and DuckDB agree "
        "bit-exactly; ln() is not correctly-rounded IEEE, so contrib "
        "is rounded to 9 decimals on both sides. Plan: one scan per "
        "population + broadcast 1-row bounds — no collect of data "
        "rows, no quantile pass."
    ),
    tags=("qa",),
)
def qa_psi_drift(spark, sf_dir):
    from steam_data_pipeline_spark.operators.profile import psi_drift

    ev = t(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cur = ev.filter(F.dayofmonth("ts") > 15)
    return psi_drift(ref, cur, "value", n_bins=8)


@EXT.add(
    "samp_weighted_reservoir",
    oracle="""
    WITH s AS (
      SELECT source, doc_id, n_chars,
             ROUND(LN((((doc_id % 1000003) * 48271) % 1000003 + 1)
                      / 1000004.0)
                   / CAST(n_chars AS DOUBLE), 9) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, n_chars, es_key, rk
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
                      PARTITION BY source
                      ORDER BY es_key DESC, doc_id) AS BIGINT) AS rk
          FROM s)
    WHERE rk <= 5
    """,
    doc=(
        "Weighted reservoir sample WITHOUT replacement, 5 docs per "
        "source, inclusion probability proportional to n_chars — "
        "Efraimidis–Spirakis A-ES: rank by u^(1/w) and keep the top-k, "
        "expressed in log space (ln(u)/w, monotone-equivalent) so the "
        "key is one ln + one division from exact-integer operands. u "
        "comes from a SEEDED minstd roll on doc_id ((id*48271) mod "
        "1000003 — portable integer SQL, not rand()), so the sample is "
        "reproducible across engines, retries and partitionings — the "
        "property that makes a weighted sample usable as a pinned "
        "training subset. Plan: one scan, one hash-partitioned window "
        "per source (no global sort)."
    ),
    tags=("sampling", "window"),
)
def samp_weighted_reservoir(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    r = ((F.col("doc_id") % F.lit(1000003)) * F.lit(48271)) % F.lit(1000003)
    u = (r + F.lit(1)).cast("double") / F.lit(1000004.0)
    s = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars").cast("double"), 9).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


@EXT.add(
    "qa_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n
    FROM g WHERE n < 8
    """,
    doc=(
        "k-anonymity audit over the quasi-identifier pair (nation, "
        "market segment): every cohort smaller than k=8 is a "
        "re-identification risk — rows in it must be suppressed or "
        "generalized before the table can be released, the standard "
        "privacy gate next to llm_pii_scrub's masking pass. One "
        "partial-agg shuffle on the quasi-identifier key (125 cohorts "
        "regardless of row count), then a post-agg filter — the same "
        "plan at 100 TB. 11 risky cohorts at sf0.01, so the gate is "
        "non-vacuous."
    ),
    tags=("qa", "privacy"),
)
def qa_k_anonymity(spark, sf_dir):
    g = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return g.filter(F.col("n") < 8)


@EXT.add(
    "qa_l_diversity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 4000) AS BIGINT))
                  AS BIGINT) AS n_sensitive
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n, n_sensitive
    FROM g WHERE n_sensitive < 4
    """,
    doc=(
        "l-diversity audit (Machanavajjhala et al. 2007) — the "
        "companion gate to qa_k_anonymity: a cohort can be large "
        "enough to pass k-anonymity yet still leak if every member "
        "shares the same sensitive value. Per quasi-identifier cohort "
        "(nation, segment), count DISTINCT sensitive bands (account-"
        "balance bands of width 4000); cohorts with < 4 distinct "
        "bands fail (64 at sf0.01, so the gate is non-vacuous at the "
        "driver's correctness scale). Same single partial-agg shuffle as k-anonymity "
        "(distinct-count partials merge map-side); cohort count is "
        "fixed, so the plan is scale-free."
    ),
    tags=("qa", "privacy"),
)
def qa_l_diversity(spark, sf_dir):
    g = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 4000).cast("long")
            ).alias("n_sensitive"),
        )
    )
    return g.filter(F.col("n_sensitive") < 4)


@EXT.add(
    "qa_referential_integrity",
    oracle="""
    SELECT 'customer' AS child_table, 'c_nationkey' AS fk_col,
           'nation' AS parent_table,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer ch
             WHERE ch.c_nationkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM nation p WHERE p.n_nationkey = ch.c_nationkey)
           ) AS n_orphans
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem ch
             WHERE ch.l_orderkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM orders p WHERE p.o_orderkey = ch.l_orderkey))
    UNION ALL
    SELECT 'lineitem', 'l_partkey', 'part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem ch
             WHERE ch.l_partkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM part p WHERE p.p_partkey = ch.l_partkey))
    UNION ALL
    SELECT 'lineitem', 'l_suppkey', 'supplier',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem ch
             WHERE ch.l_suppkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM supplier p WHERE p.s_suppkey = ch.l_suppkey))
    UNION ALL
    SELECT 'nation', 'n_regionkey', 'region',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation ch
             WHERE ch.n_regionkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM region p WHERE p.r_regionkey = ch.n_regionkey))
    UNION ALL
    SELECT 'orders', 'o_custkey', 'customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders ch
             WHERE ch.o_custkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM customer p WHERE p.c_custkey = ch.o_custkey))
    UNION ALL
    SELECT 'supplier', 's_nationkey', 'nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier ch
             WHERE ch.s_nationkey IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM nation p WHERE p.n_nationkey = ch.s_nationkey))
    """,
    doc=(
        "Referential-integrity audit across the whole foreign-key "
        "graph (7 edges over the TPC-H-shaped tables): per edge, total "
        "child rows and ORPHANS — non-null FK values with no parent "
        "(the dbt 'relationships' test, run as one query). Each edge "
        "is a left-anti join on the key; dimension parents broadcast "
        "(nation/region/customer/supplier), fact-fact edges "
        "(lineitem→orders/part) shuffle once on the key with AQE "
        "choosing the strategy. The per-edge outputs are 1-row "
        "aggregates unioned driver-free."
    ),
    tags=("qa", "join"),
)
def qa_referential_integrity(spark, sf_dir):
    edges = [
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    outs = []
    for child, fk, parent, pk in edges:
        ch = t(spark, sf_dir, child)
        pa = t(spark, sf_dir, parent).select(F.col(pk).alias(fk)).distinct()
        n_rows = ch.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        orphans = (
            ch.filter(F.col(fk).isNotNull())
            .join(F.broadcast(pa), on=fk, how="left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        outs.append(
            n_rows.crossJoin(orphans).select(
                F.lit(child).alias("child_table"),
                F.lit(fk).alias("fk_col"),
                F.lit(parent).alias("parent_table"),
                "n_rows",
                "n_orphans",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


@EXT.add(
    "qa_seasonal_residual_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    dowd AS (
      SELECT *,
             date_diff('day', TIMESTAMP '2024-01-01', day) % 7 AS dow
      FROM daily
    ),
    season AS (
      SELECT event_type, dow,
             CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(n) AS BIGINT) AS sum_n
      FROM dowd GROUP BY 1, 2
    ),
    resid AS (
      SELECT d.event_type, d.day, d.n, d.dow,
             d.n * s.g - s.sum_n AS r, s.g
      FROM dowd d JOIN season s
        ON s.event_type = d.event_type AND s.dow = d.dow
    ),
    spread AS (
      SELECT event_type, dow, CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs
      FROM resid GROUP BY 1, 2
    )
    SELECT r.event_type, r.day, r.n, r.dow, r.r,
           ABS(r.r) * r.g > 2 * sp.sum_abs AS flag
    FROM resid r JOIN spread sp
      ON sp.event_type = r.event_type AND sp.dow = r.dow
    """,
    doc=(
        "Seasonality-aware anomaly flags: remove the weekly cycle "
        "(per (key, day-of-week) mean) and flag days whose residual "
        "exceeds 2x the cohort's mean absolute residual (4 flagged days at every fixture scale) — the drift "
        "detector qa_anomaly_days' pointwise MAD rule misfires on "
        "weekly-periodic series (every weekend looks anomalous); "
        "deseasonalizing first is the STL-shaped fix. ENTIRELY "
        "integer arithmetic: residuals are scaled by the cohort size "
        "(r = n·g − Σn) and the threshold cross-multiplied "
        "(|r|·g > 2·Σ|r|), so no division or rounding contract "
        "exists at all. Day-of-week from an epoch-anchored datediff "
        "mod 7 (engine-independent, unlike dayofweek()). Two "
        "groupBys over key+dow cohorts (70 cells), one fact-side "
        "broadcast join each — scale-free report."
    ),
    tags=("qa", "anomaly", "timeseries"),
)
def qa_seasonal_residual_anomaly(spark, sf_dir):
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dowd = daily.withColumn(
        "dow",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp")) % 7,
    )
    season = dowd.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("g"), F.sum("n").alias("sum_n")
    )
    resid = dowd.join(F.broadcast(season), on=["event_type", "dow"]).select(
        "event_type",
        "day",
        "n",
        "dow",
        (F.col("n") * F.col("g") - F.col("sum_n")).alias("r"),
        "g",
    )
    spread = resid.groupBy("event_type", "dow").agg(
        F.sum(F.abs("r")).alias("sum_abs")
    )
    return resid.join(F.broadcast(spread), on=["event_type", "dow"]).select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("dow").cast("long").alias("dow"),
        F.col("r").cast("long").alias("r"),
        (F.abs("r") * F.col("g") > 2 * F.col("sum_abs")).alias("flag"),
    )


@EXT.add(
    "qa_pseudonymize",
    oracle="""
    WITH tok AS (
      SELECT c_custkey,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split('s7:' || c_name, ''),
                                c -> CAST(unicode(c) AS BIGINT))),
                 (acc, cp) -> (acc * 31 + cp) % 1000003) AS tok
      FROM customer
    ),
    oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM orders GROUP BY 1
    )
    SELECT t.tok,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(COALESCE(oc.n_ord, 0)) AS BIGINT) AS n_orders
    FROM tok t LEFT JOIN oc ON oc.o_custkey = t.c_custkey
    GROUP BY t.tok
    """,
    doc=(
        "Keyed pseudonymization with referential consistency: replace "
        "the direct identifier (customer name) by a salted Horner-mod "
        "token (the cross-engine-portable hash, llm/lm.py "
        "portable_word_bucket) and prove joins still work by "
        "aggregating order counts per PSEUDONYM — the release-"
        "pipeline step between llm_pii_scrub's masking and the "
        "k-anonymity/l-diversity gates: analysts keep join keys, "
        "identities leave the table. Deterministic tokens (same salt "
        "+ name -> same token on every engine/run) are what make the "
        "pseudonymized extract re-joinable across tables; one scalar "
        "JVM fold per row, one broadcastable dim join, one groupBy."
    ),
    tags=("qa", "privacy"),
)
def qa_pseudonymize(spark, sf_dir):
    from steam_data_pipeline_spark.llm.lm import portable_word_bucket

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        portable_word_bucket(
            F.concat(F.lit("s7:"), F.col("c_name")), 1000003
        ).alias("tok"),
    )
    oc = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ord"))
    )
    return (
        cust.join(oc, cust["c_custkey"] == oc["o_custkey"], "left")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.coalesce(F.col("n_ord"), F.lit(0)))
            .cast("long")
            .alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# feat_* — feature-engineering operators for model-training pipelines.
# The reference stops at ingest + SQL analytics (main.py:1-548, runner.py:1-107); these are
# the downstream steps a training pipeline bolts onto the same tables.
# --------------------------------------------------------------------------


@EXT.add(
    "feat_target_encode_loo",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority AS prio,
             TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    s AS (
      SELECT prio, CAST(SUM(cents) AS BIGINT) AS sum_c,
             CAST(COUNT(*) AS BIGINT) AS n_c
      FROM o GROUP BY 1
    )
    SELECT o.o_orderkey, o.prio,
           -- HUGEINT: in-domain cents SUMS still overflow BIGINT once
           -- scaled x10000 (r12 extremes contract); exact wide integer
           -- math, final TRY_CAST back to the BIGINT output type
           TRY_CAST((CAST(s.sum_c AS HUGEINT) - o.cents) * 10000
                    // (s.n_c - 1) AS BIGINT) AS enc_micro
    FROM o JOIN s USING (prio)
    """,
    doc=(
        "Leave-one-out target encoding of a categorical feature "
        "(order priority) against the order value: each row's encoding "
        "is the category mean EXCLUDING that row, (sum_c - y) / "
        "(n_c - 1), the standard leakage-free encoding for training "
        "tables. Exact integer arithmetic end to end: dollars to "
        "cents, micro-scaled truncating division (Spark `div` == "
        "DuckDB `//` for positive operands), no float drift. Scale: "
        "one map-side-combined agg over the tiny category domain, "
        "broadcast back onto the fact — the fact table is scanned "
        "once and never shuffled."
    ),
    tags=("feat", "ml"),
)
def feat_target_encode_loo(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).try_cast("long").alias("cents"),
    )
    s = o.groupBy("prio").agg(
        F.sum("cents").cast("long").alias("sum_c"),
        F.count(F.lit(1)).cast("long").alias("n_c"),
    )
    return o.join(F.broadcast(s), "prio").select(
        "o_orderkey",
        "prio",
        # decimal(38,0): the micro-scaled numerator overflows BIGINT
        # for in-domain cents sums (r12 extremes contract); exact wide
        # decimal math, final try_cast back to the BIGINT output type
        F.expr(
            "try_cast(((CAST(sum_c AS DECIMAL(38,0)) - cents) * 10000)"
            " div (n_c - 1) AS BIGINT)"
        ).alias("enc_micro"),
    )


# COALESCE the group key into the salted hash: NULL source is a real
# group, but '||' yields NULL in DuckDB while Spark's xxhash64 hashes
# a null field to a seed-derived value — the two engines would send
# the NULL group to DIFFERENT splits (round-11 adversarial NULL sweep)
_SPLIT_BUCKET_SQL = _bucket_sql("'split:' || COALESCE(source, '')", 100)


@EXT.add(
    "feat_split_groupwise",
    oracle=f"""
    WITH d AS (
      SELECT source, n_chars, {_SPLIT_BUCKET_SQL} AS b
      FROM documents
    ),
    lab AS (
      SELECT source, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM d
    ),
    grp AS (
      SELECT source, MIN(split) AS split,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM lab GROUP BY 1
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(sum_chars) AS BIGINT) AS n_chars,
           CAST(MAX(n_splits) AS BIGINT) AS max_splits_per_group
    FROM grp GROUP BY 1
    """,
    doc=(
        "Group-aware deterministic train/valid/test split: the split "
        "is assigned by a salted portable hash of the GROUP key (the "
        "document's source domain), not the row, so correlated "
        "documents — near-duplicates, same-crawl pages — can never "
        "straddle a split boundary (the classic train/test leakage "
        "bug). 80/10/10 by hash bucket; deterministic across engines, "
        "runs, and cluster sizes (no rand()). The output carries its "
        "own audit: max_splits_per_group == 1 per split row proves "
        "leakage-freedom. Scale: one narrow map + two map-side-"
        "combined aggs keyed on the group key; no fact-table shuffle "
        "beyond the group rollup."
    ),
    tags=("feat", "ml", "split"),
)
def feat_split_groupwise(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        _pbucket(
            F.concat(F.lit("split:"), F.coalesce(F.col("source"), F.lit(""))),
            100,
        ).alias("b"),
    )
    lab = d.select(
        "source",
        "n_chars",
        F.when(F.col("b") < 80, "train")
        .when(F.col("b") < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )
    grp = lab.groupBy("source").agg(
        F.min("split").alias("split"),
        F.countDistinct("split").cast("long").alias("n_splits"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return grp.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_chars").cast("long").alias("n_chars"),
        F.max("n_splits").cast("long").alias("max_splits_per_group"),
    )


_FEATHASH_TOK_SQL = _bucket_sql("tok", 512)


@EXT.add(
    "feat_hashing_vectorize",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        FROM documents WHERE doc_id % 5 = 0
      ) WHERE t <> ''
    )
    SELECT doc_id, CAST({_FEATHASH_TOK_SQL} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2
    """,
    doc=(
        "Hashing-trick vectorization (feature hashing): tokens map "
        "straight to a fixed 512-dim sparse index by portable hash — "
        "no vocabulary build, no dictionary broadcast, no OOV "
        "handling, the standard trick for streaming/large-cardinality "
        "feature spaces. Output is the sparse COO triple (doc_id, "
        "bucket, cnt); a 1:20 deterministic doc sample bounds the "
        "fixture output. Scale: tokenize + hash is a narrow map "
        "(pure JVM expressions, no UDF); the only shuffle is the "
        "(doc_id, bucket) count agg, map-side combined, and doc_id "
        "is the natural partition key so the combine is near-total. "
        "Contrast llm_vocab_build, which pays a dictionary pass for "
        "an exact vocabulary; this is the fixed-memory alternative."
    ),
    tags=("feat", "ml", "text"),
)
def feat_hashing_vectorize(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.select("doc_id", _pbucket(F.col("tok"), 512).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@EXT.add(
    "feat_negative_sampling",
    oracle="""
    WITH custs AS (SELECT c_custkey AS ck FROM customer WHERE c_custkey <= 100),
    parts AS (SELECT p_partkey AS pk FROM part WHERE p_partkey <= 50),
    bought AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    cand AS (
      SELECT c.ck, p.pk,
             (c.ck * 2654435761 + p.pk * 40503 + 97) % 1000003 AS h
      FROM custs c CROSS JOIN parts p
      WHERE NOT EXISTS (SELECT 1 FROM bought b
                        WHERE b.ck = c.ck AND b.pk = p.pk)
    )
    SELECT ck AS c_custkey, pk AS p_partkey, CAST(h AS BIGINT) AS h,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY ck ORDER BY h, pk) AS rk
          FROM cand)
    WHERE rk <= 3
    """,
    doc=(
        "Deterministic negative sampling for implicit-feedback "
        "recommender training (the companion to udf_recommender_als): "
        "for each user, draw k=3 items they did NOT interact with, "
        "ranked by a portable integer hash of the (user, item) pair — "
        "reproducible across engines, runs, and partitionings, unlike "
        "rand()-based sampling. Shape: candidate pool = bounded item "
        "broadcast x users, minus observed pairs by anti join, then a "
        "per-user hash-ranked top-k (partial sort per key, "
        "WindowGroupLimit prunes to k before the shuffle). Scale: the "
        "item side is the broadcast dim; the anti join hashes on the "
        "(user, item) pair; at full catalog size the pool switches to "
        "hash-bucketed candidate generation (sample buckets, not the "
        "cross product) with the same ranking contract."
    ),
    tags=("feat", "ml", "sampling"),
)
def feat_negative_sampling(spark, sf_dir):
    custs = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select(F.col("c_custkey").alias("ck"))
    )
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 50)
        .select(F.col("p_partkey").alias("pk"))
    )
    bought = (
        t(spark, sf_dir, "lineitem")
        .join(
            t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    cand = (
        custs.crossJoin(F.broadcast(parts))
        .join(bought, ["ck", "pk"], "left_anti")
        .withColumn(
            "h",
            (
                F.col("ck") * F.lit(2654435761)
                + F.col("pk") * F.lit(40503)
                + F.lit(97)
            )
            % F.lit(1000003),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ck").orderBy("h", "pk")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("ck").alias("c_custkey"),
            F.col("pk").alias("p_partkey"),
            F.col("h").cast("long").alias("h"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@EXT.add(
    "feat_woe_encode",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS prio,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    cat AS (
      SELECT prio,
             CAST(SUM(y) AS BIGINT) AS pos_c,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_c
      FROM o GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(pos_c) AS BIGINT) AS pos_t,
             CAST(SUM(neg_c) AS BIGINT) AS neg_t,
             CAST(COUNT(*) AS BIGINT) AS ncat
      FROM cat
    )
    SELECT prio, pos_c, neg_c,
           ROUND(LN(CAST((pos_c + 1) * (neg_t + ncat) AS DOUBLE)
                    / CAST((neg_c + 1) * (pos_t + ncat) AS DOUBLE)),
                 9) AS woe
    FROM cat, tot
    """,
    doc=(
        "Weight-of-evidence encoding of a categorical feature against "
        "a binary label (order fulfilled): WOE = ln((pos_c/pos_t) / "
        "(neg_c/neg_t)) with per-cell Laplace smoothing (+1 per cell, "
        "+ncat to each total) so empty cells stay finite — the "
        "standard credit-scoring/feature-engineering encoding that, "
        "unlike one-hot, carries the label signal in one monotone "
        "column. Numeric discipline: the odds ratio is assembled as a "
        "single division of two EXACT bigint products, so the only "
        "engine-sensitive step is one ln(), rounded to 9 decimals on "
        "both sides (same contract as qa_psi_drift). Scale: one "
        "map-side-combined agg over the tiny category domain, a 1-row "
        "totals broadcast, zero fact-table shuffles."
    ),
    tags=("feat", "ml"),
)
def feat_woe_encode(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    cat = o.groupBy("prio").agg(
        F.sum("y").cast("long").alias("pos_c"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg_c"),
    )
    tot = cat.agg(
        F.sum("pos_c").cast("long").alias("pos_t"),
        F.sum("neg_c").cast("long").alias("neg_t"),
        F.count(F.lit(1)).cast("long").alias("ncat"),
    )
    return cat.crossJoin(F.broadcast(tot)).select(
        "prio",
        "pos_c",
        "neg_c",
        F.round(
            F.log(
                ((F.col("pos_c") + 1) * (F.col("neg_t") + F.col("ncat"))).cast("double")
                / ((F.col("neg_c") + 1) * (F.col("pos_t") + F.col("ncat"))).cast(
                    "double"
                )
            ),
            9,
        ).alias("woe"),
    )


@EXT.add(
    "feat_mutual_info",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y FROM orders
    ),
    cell AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
    mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cell GROUP BY 1),
    my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cell GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell)
    SELECT cell.x, cell.y, c,
           ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(c * n AS DOUBLE) / CAST(cx * cy AS DOUBLE)),
                 9) AS mi_contrib
    FROM cell JOIN mx USING (x) JOIN my USING (y), tot
    """,
    doc=(
        "Per-cell mutual-information contributions between two "
        "categorical columns (order priority x order status): "
        "MI = sum over cells of p(x,y) * ln(p(x,y) / (p(x)p(y))) — the "
        "standard feature-selection relevance score; emitting the "
        "per-cell terms (not just the scalar) keeps the output "
        "auditable and the query a pure relation. Numeric discipline: "
        "the log argument is one division of two EXACT bigint products "
        "(c*n / cx*cy — every count is exact, products stay well under "
        "2^53), so only the ln() is engine-sensitive — rounded to 9 "
        "decimals on both sides. Scale: the cell/marginal/total aggs "
        "all live on the tiny category domain after one "
        "map-side-combined fact scan; marginals broadcast back onto "
        "cells, no fact re-shuffle."
    ),
    tags=("feat", "ml"),
)
def feat_mutual_info(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    )
    cell = o.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    mx = cell.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    my = cell.groupBy("y").agg(F.sum("c").cast("long").alias("cy"))
    tot = cell.agg(F.sum("c").cast("long").alias("n"))
    return (
        cell.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "c",
            F.round(
                (F.col("c").cast("double") / F.col("n").cast("double"))
                * F.log(
                    (F.col("c") * F.col("n")).cast("double")
                    / (F.col("cx") * F.col("cy")).cast("double")
                ),
                9,
            ).alias("mi_contrib"),
        )
    )


@EXT.add(
    "qa_benford_digits",
    oracle="""
    WITH v AS (
      SELECT CAST(LEFT(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM obs),
    spine AS (SELECT CAST(g AS BIGINT) AS digit FROM generate_series(1, 9) s(g))
    SELECT spine.digit,
           CAST(COALESCE(obs.cnt, 0) AS BIGINT) AS cnt,
           ROUND(LN(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)) / LN(10.0), 9)
             AS expected_p,
           ROUND(POW(CAST(COALESCE(obs.cnt, 0) AS DOUBLE)
                     - CAST(n AS DOUBLE)
                       * (LN(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)) / LN(10.0)),
                     2)
                 / (CAST(n AS DOUBLE)
                    * (LN(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)) / LN(10.0))),
                 9) AS chi_contrib
    FROM spine LEFT JOIN obs USING (digit), tot
    """,
    doc=(
        "Benford's-law first-digit audit of the order-value column: "
        "observed first-significant-digit counts vs the log10(1+1/d) "
        "expectation, with per-digit chi-square contributions — a "
        "standard forensic/data-quality screen for fabricated or "
        "truncated numeric columns. The first digit is extracted by "
        "STRING head of the exact integer cents (log10/pow-based "
        "extraction is float-unsafe exactly at powers of ten); the "
        "9-row digit spine left-join keeps absent digits visible as "
        "zero rows. ln()-derived expectations rounded to 9 decimals "
        "(same contract as qa_psi_drift). Scale: one narrow map + one "
        "9-key map-side-combined agg; the spine and totals are "
        "broadcast literals."
    ),
    tags=("qa",),
)
def qa_benford_digits(spark, sf_dir):
    v = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).try_cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    obs = v.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = obs.agg(F.sum("cnt").cast("long").alias("n"))
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    exp_p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    cnt = F.coalesce(F.col("cnt"), F.lit(0)).cast("long")
    expected = F.col("n").cast("double") * exp_p
    return (
        spine.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            cnt.alias("cnt"),
            F.round(exp_p, 9).alias("expected_p"),
            F.round(
                F.pow(cnt.cast("double") - expected, F.lit(2.0)) / expected, 9
            ).alias("chi_contrib"),
        )
    )


@EXT.add(
    "samp_balanced_classes",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             (vec_id * 2654435761 + label * 97) % 1000003 AS h
      FROM embeddings
    ),
    k AS (
      SELECT CAST(MIN(c) AS BIGINT) AS kmin
      FROM (SELECT COUNT(*) AS c FROM e GROUP BY label)
    ),
    r AS (
      SELECT vec_id, label, CAST(h AS BIGINT) AS h,
             row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rk
      FROM e
    )
    SELECT vec_id, label, h, CAST(rk AS BIGINT) AS rk
    FROM r, k WHERE rk <= kmin
    """,
    doc=(
        "Class-balanced downsampling for training-set construction: "
        "every label class is cut to the size of the SMALLEST class, "
        "rows chosen by a portable integer hash of (vec_id, label) — "
        "deterministic across engines, runs, and partitionings, unlike "
        "rand()-based class rebalancing, and reproducible row-for-row "
        "when the pipeline re-runs. Shape: one count-per-class agg "
        "collapses to a 1-row broadcast min; the per-class hash rank "
        "is a single window shuffle on label. Scale: with a bounded "
        "label domain the rank-window partitions are the skew risk — "
        "at 100 TB swap the exact rank for a per-class hash-threshold "
        "cut (keep h < kmin/class_count quantile of the hash space), "
        "which needs no sort at all; the exact-rank fixture pins the "
        "row-level contract that variant must reproduce."
    ),
    tags=("samp", "ml"),
)
def samp_balanced_classes(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        ((F.col("vec_id") * F.lit(2654435761) + F.col("label") * F.lit(97)) % F.lit(
            1000003
        )).alias("h"),
    )
    k = (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").cast("long").alias("kmin"))
    )
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    r = e.withColumn("rk", F.row_number().over(w))
    return (
        r.crossJoin(F.broadcast(k))
        .filter(F.col("rk") <= F.col("kmin"))
        .select(
            "vec_id",
            "label",
            F.col("h").cast("long").alias("h"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@EXT.add(
    "feat_discretize_quantile",
    oracle="""
    WITH o AS (
      -- NULL price excluded: a NULL has no quantile position and the
      -- engines order NULLs at opposite ends (round-11 NULL sweep)
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    g AS (SELECT prio, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM o GROUP BY 1, 2),
    cum AS (
      SELECT prio, cents, c,
             SUM(c) OVER (PARTITION BY prio ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cm
      FROM g
    ),
    n AS (SELECT prio, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY 1),
    q AS (SELECT CAST(g AS BIGINT) AS q FROM generate_series(1, 3) s(g))
    SELECT cum.prio, q.q,
           CAST(MIN(cum.cents) AS BIGINT) AS edge_cents, n.n
    FROM cum JOIN n USING (prio) CROSS JOIN q
    WHERE cum.cm * 4 >= q.q * n.n
    GROUP BY 1, 2, 4
    """,
    doc=(
        "Distributed exact quantile edges for feature discretization: "
        "per-category quartile cut points (percentile_disc semantics — "
        "smallest value whose cumulative count reaches q*n) computed "
        "WITHOUT sorting the fact table: collapse to a per-(category, "
        "value) count histogram first, cumulative-sum the histogram "
        "(distinct values << rows, the window sort is over the "
        "histogram not the data), and take the integer-threshold min "
        "per quartile. All-integer comparisons (cum*4 >= q*n) — no "
        "float quantile interpolation, so the edges value-hash-oracle "
        "exactly. This is the scale path quantile binning needs at "
        "100 TB: ntile/percentile over raw rows is a per-group full "
        "sort; the histogram shape shrinks the sorted relation by the "
        "value-duplication factor and every other step is a map-side "
        "combined agg or broadcast."
    ),
    tags=("feat", "ml"),
)
def feat_discretize_quantile(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).try_cast("long").alias("cents"),
    )
    g = o.groupBy("prio", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = (
        Window.partitionBy("prio")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select("prio", "cents", "c", F.sum("c").over(w).alias("cm"))
    n = g.groupBy("prio").agg(F.sum("c").cast("long").alias("n"))
    q = spark.range(1, 4).select(F.col("id").alias("q"))
    return (
        cum.join(F.broadcast(n), "prio")
        .crossJoin(F.broadcast(q))
        .filter(F.col("cm") * 4 >= F.col("q") * F.col("n"))
        .groupBy("prio", "q", "n")
        .agg(F.min("cents").cast("long").alias("edge_cents"))
        .select("prio", "q", "edge_cents", "n")
    )


@EXT.add(
    "feat_standard_scale",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority AS prio,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
               AS cents
      FROM orders
    ),
    s AS (
      SELECT prio, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(cents) AS sm, SUM(cents * cents) AS ss
      FROM o GROUP BY 1
    )
    SELECT o.o_orderkey, o.prio, CAST(o.cents AS BIGINT) AS cents,
           ROUND(CAST(s.n * o.cents - s.sm AS DOUBLE)
                 / SQRT(CAST(NULLIF(s.n * s.ss - s.sm * s.sm, 0) AS DOUBLE)),
                 9) AS zn
    FROM o JOIN s USING (prio)
    """,
    doc=(
        "Per-category z-score standardization with EXACT moment "
        "arithmetic: the naive mean/std path computes two "
        "order-dependent float sums and could never value-hash-"
        "oracle; here the numerator (n*x - sum) and the radicand "
        "(n*sumsq - sum^2) are exact wide-integer values (DECIMAL(38) "
        "on the Spark side, HUGEINT in DuckDB — cents^2 sums overflow "
        "int64 at sf0.1, which is exactly why engines silently "
        "float-degrade here), so the only engine-sensitive steps are "
        "one correctly-rounded IEEE sqrt and one division, rounded to "
        "9 decimals. zn is the population z-score scaled by n (same "
        "ranking/threshold semantics, no 1/n float step). Scale: one "
        "map-side-combined agg over the tiny category domain broadcast "
        "back onto the fact — single scan, no fact shuffle; constant "
        "columns surface NULL via the NULLIF(radicand) guard instead "
        "of an ANSI divide-by-zero."
    ),
    tags=("feat", "ml"),
)
def feat_standard_scale(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("decimal(18,0)")
        .alias("cents"),
    )
    s = o.groupBy("prio").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sm"),
        F.sum(F.col("cents") * F.col("cents")).cast("decimal(38,0)").alias("ss"),
    )
    num = (F.col("n") * F.col("cents") - F.col("sm")).cast("double")
    rad = F.nullif(
        (F.col("n") * F.col("ss") - F.col("sm") * F.col("sm")),
        F.lit(0).cast("decimal(38,0)"),
    ).cast("double")
    return o.join(F.broadcast(s), "prio").select(
        "o_orderkey",
        "prio",
        F.col("cents").cast("long").alias("cents"),
        F.round(num / F.sqrt(rad), 9).alias("zn"),
    )


@EXT.add(
    "samp_neyman_alloc",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    strata AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(MAX(cents) - MIN(cents) AS BIGINT) AS range_c
      FROM c GROUP BY 1
    ),
    wtot AS (
      -- HUGEINT weights: nh * range_c of in-domain extreme-cents
      -- ranges scaled x1000 overflows BIGINT (r12 extremes contract)
      SELECT SUM(CAST(nh AS HUGEINT) * range_c) AS w FROM strata
    ),
    base AS (
      SELECT seg, nh, range_c,
             CAST((1000 * CAST(nh AS HUGEINT) * range_c) // w AS BIGINT)
               AS alloc0,
             CAST((1000 * CAST(nh AS HUGEINT) * range_c) % w AS BIGINT)
               AS rem
      FROM strata, wtot
    ),
    extras AS (
      SELECT CAST(1000 - SUM(alloc0) AS BIGINT) AS e FROM base
    )
    SELECT seg, nh, range_c,
           CAST(alloc0 + CASE WHEN rk <= e THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, seg ASC) AS rk
          FROM base), extras
    """,
    doc=(
        "Neyman-style optimal stratified-sample allocation with "
        "largest-remainder apportionment, ALL-INTEGER: a 1000-row "
        "budget is split across customer segments proportional to "
        "N_h * spread_h (spread = exact account-balance range in "
        "cents — the float stddev of textbook Neyman would be "
        "order-dependent and unoracleable), floor-divided exactly, "
        "and the rounding shortfall is apportioned to the largest "
        "exact remainders (Hamilton's method, ties to the smaller "
        "segment name) so the allocations sum to the budget EXACTLY — "
        "the property proportional rounding always breaks. Scale: one "
        "map-side-combined agg over the fact, then all arithmetic on "
        "the 5-row strata table (the rank window is over strata, "
        "never data rows)."
    ),
    tags=("samp", "ml"),
)
def samp_neyman_alloc(spark, sf_dir):
    from pyspark.sql import Window

    c = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).try_cast("long").alias("cents"),
    )
    strata = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        (F.max("cents") - F.min("cents")).cast("long").alias("range_c"),
    )
    # decimal(38,0) weights: nh * range_c of in-domain extreme-cents
    # ranges scaled x1000 overflows BIGINT (r12 extremes contract)
    wtot = strata.agg(
        F.sum(F.col("nh").cast("decimal(38,0)") * F.col("range_c")).alias("w")
    )
    base = strata.crossJoin(F.broadcast(wtot)).select(
        "seg",
        "nh",
        "range_c",
        F.expr(
            "cast((1000 * CAST(nh AS DECIMAL(38,0)) * range_c) div w"
            " AS BIGINT)"
        ).alias("alloc0"),
        F.expr(
            "cast((1000 * CAST(nh AS DECIMAL(38,0)) * range_c) % w"
            " AS BIGINT)"
        ).alias("rem"),
    )
    extras = base.agg((1000 - F.sum("alloc0")).cast("long").alias("e"))
    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("seg")))
    return (
        base.withColumn("rk", rk)
        .crossJoin(F.broadcast(extras))
        .select(
            "seg",
            "nh",
            "range_c",
            (F.col("alloc0") + F.when(F.col("rk") <= F.col("e"), 1).otherwise(0))
            .cast("long")
            .alias("alloc"),
        )
    )


@EXT.add(
    "qa_ks_drift",
    oracle="""
    -- x IS NOT NULL: DuckDB's LEAST *skips* NULL args, so binning via
    -- LEAST(FLOOR(NULL), k) silently routes every NULL row into the
    -- LAST bin — the trap the Spark operators' isNotNull filter avoids
    -- (round-11 adversarial NULL sweep)
    WITH ref AS (SELECT value AS x FROM events
                 WHERE day(ts) <= 15 AND value IS NOT NULL
                   AND ABS(value) < 1e150),
    cur AS (SELECT value AS x FROM events
            WHERE day(ts) > 15 AND value IS NOT NULL
              AND ABS(value) < 1e150),
    bounds AS (
      SELECT MIN(x) AS vmin, MAX(x) AS vmax
      FROM (SELECT x FROM ref UNION ALL SELECT x FROM cur)
    ),
    br AS (
      SELECT LEAST(CAST(FLOOR((x - vmin)
                         / GREATEST((vmax - vmin) / 256.0, 1e-12))
                        AS BIGINT), 255) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ref, bounds GROUP BY 1
    ),
    bc AS (
      SELECT LEAST(CAST(FLOOR((x - vmin)
                         / GREATEST((vmax - vmin) / 256.0, 1e-12))
                        AS BIGINT), 255) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM cur, bounds GROUP BY 1
    ),
    spine AS (SELECT CAST(g AS BIGINT) AS bin
              FROM generate_series(0, 255) s(g)),
    j AS (
      SELECT spine.bin,
             CAST(COALESCE(br.c, 0) AS BIGINT) AS c1,
             CAST(COALESCE(bc.c, 0) AS BIGINT) AS c2
      FROM spine LEFT JOIN br USING (bin) LEFT JOIN bc USING (bin)
    ),
    cum AS (
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS m1,
             SUM(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS m2
      FROM j
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2 FROM j)
    SELECT n1, n2,
           CAST(MAX(ABS(m1 * n2 - m2 * n1)) AS BIGINT) AS d_num,
           -- degenerate-shape contract (r13 skew axis): single-day
           -- collapse empties one sample — KS against an empty sample
           -- is NULL, never a zero divide
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             ROUND(CAST(MAX(ABS(m1 * n2 - m2 * n1)) AS DOUBLE)
                   / CAST(n1 * n2 AS DOUBLE), 9)
           END AS ks
    FROM cum, tot GROUP BY n1, n2
    """,
    doc=(
        "Two-sample Kolmogorov-Smirnov drift statistic between the "
        "first and second half-month of events.value, EXACT over a "
        "256-bin ecdf: the supremum |F1 - F2| is computed as "
        "max|cum1*n2 - cum2*n1| in pure BIGINT cross-multiplication — "
        "no float ecdf, so the statistic value-hash-oracles to the "
        "last bit (the final ks double is one division, rounded 9). "
        "Bin assignment is the same global-min/max fixed-width IEEE "
        "float64 path as qa_psi_drift (deterministic under any "
        "partitioning, unlike rank-based exact KS which needs a "
        "global sort). Complements PSI: KS is the sup-norm test "
        "(sensitive to the single worst ecdf gap), PSI the "
        "expectation test. Scale: two map-side-combined bin aggs + a "
        "cumsum over the FIXED 256-row spine (never data rows) + one "
        "max — the fact table is scanned once per population and "
        "never shuffled."
    ),
    tags=("qa", "drift"),
)
def qa_ks_drift(spark, sf_dir):
    from pyspark.sql import Window

    # single-pass tagged binning (scan-amplification study): the old
    # per-sample binned() legs re-derived the events scan 12x across
    # plan branches (ref/cur each rebuilt bounds and their own
    # groupBy; j was re-derived for totals). One tagged projection +
    # one conditional-count groupBy + full-frame window totals = TWO
    # events scans (bounds, counts) and one shuffle instead of two.
    # NULL x dropped BEFORE least(): Spark's least also skips NULL args
    # and would route every NULL row into the last bin (the psi_drift
    # filter, applied here too — round-11 adversarial NULL sweep)
    ev = t(spark, sf_dir, "events").filter(
        # finite-domain bound, same as psi_drift (r12 contract)
        F.col("value").isNotNull() & (F.abs("value") < F.lit(1e150))
    ).select(
        F.col("value").alias("x"),
        (F.dayofmonth("ts") <= 15).alias("is_ref"),
    )
    bounds = ev.agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    n_bins = 256
    w = F.greatest(
        (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins)),
        F.lit(1e-12),
    )
    b = F.least(
        F.floor((F.col("x") - F.col("vmin")) / w), F.lit(n_bins - 1)
    ).cast("long")
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .select(b.alias("bin"), "is_ref")
        .groupBy("bin")
        .agg(
            F.count_if(F.col("is_ref")).cast("long").alias("c1"),
            F.count_if(~F.col("is_ref")).cast("long").alias("c2"),
        )
    )
    spine = spark.range(n_bins).select(F.col("id").alias("bin"))
    j = spine.join(counts, "bin", "left").fillna(0, subset=["c1", "c2"])
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_full = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = j.select(
        "bin",
        F.sum("c1").over(wc).alias("m1"),
        F.sum("c2").over(wc).alias("m2"),
        F.sum("c1").over(w_full).cast("long").alias("n1"),
        F.sum("c2").over(w_full).cast("long").alias("n2"),
    )
    return (
        cum
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("m1") * F.col("n2") - F.col("m2") * F.col("n1")))
            .cast("long")
            .alias("d_num")
        )
        .select(
            "n1",
            "n2",
            "d_num",
            # degenerate-shape contract (r13 skew axis): empty sample
            # (single-day collapse) -> NULL KS, never DIVIDE_BY_ZERO
            F.when(
                (F.col("n1") > 0) & (F.col("n2") > 0),
                F.round(
                    F.col("d_num").cast("double")
                    / (F.col("n1") * F.col("n2")).cast("double"),
                    9,
                ),
            ).alias("ks"),
        )
    )


@EXT.add(
    "qa_freshness_lag",
    oracle="""
    WITH m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1
    ),
    g AS (SELECT MAX(ts) AS gmax FROM events)
    SELECT event_type, n, last_ts,
           CAST(epoch_us(gmax) - epoch_us(last_ts) AS BIGINT) AS lag_micros,
           (epoch_us(gmax) - epoch_us(last_ts)) > 3600000000 AS stale
    FROM m, g
    """,
    doc=(
        "Per-stream freshness audit: each event type's latest arrival "
        "vs the global high-water mark, exact in epoch MICROSECONDS "
        "(BIGINT subtraction — a seconds-granularity float lag would "
        "alias sub-second staleness), with a 1-hour stale flag — the "
        "ingest-liveness gate every multi-source pipeline runs before "
        "publishing (one silent-stalled source must fail the batch, "
        "not dilute into an average). Scale: one map-side-combined "
        "agg to the 5-row type grain; the 1-row global max broadcasts "
        "back via BroadcastNestedLoopJoin (the agg_decay_halflife "
        "ref-row pattern) — the fact table is scanned once."
    ),
    tags=("qa", "freshness", "observability"),
)
def qa_freshness_lag(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("ts").alias("last_ts"),
    )
    g = ev.agg(F.max("ts").alias("gmax"))
    lag = F.unix_micros("gmax") - F.unix_micros("last_ts")
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n",
        "last_ts",
        lag.cast("long").alias("lag_micros"),
        (lag > F.lit(3600000000)).alias("stale"),
    )


@EXT.add(
    "qa_outlier_mad",
    oracle="""
    WITH v AS (
      -- c IS NOT NULL: out-of-domain cents (r12 extremes contract)
      -- leave the rank spine like NULLs do (engine-opposite order)
      SELECT event_type, c FROM (
        SELECT event_type, TRY_CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
      ) WHERE c IS NOT NULL
    ),
    r1 AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    med AS (
      SELECT event_type, MAX(n) AS n, MAX(c) AS med
      FROM r1 WHERE rn = (n + 1) // 2 GROUP BY 1
    ),
    dev AS (
      SELECT v.event_type, v.c, ABS(v.c - m.med) AS ad, m.med, m.n
      FROM v JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, ad, med, n,
             row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn
      FROM dev
    ),
    mad AS (
      SELECT event_type, MAX(med) AS med, MAX(n) AS n, MAX(ad) AS mad
      FROM r2 WHERE rn = (n + 1) // 2 GROUP BY 1
    )
    SELECT d.event_type, CAST(MAX(d.n) AS BIGINT) AS n,
           CAST(MAX(m.med) AS BIGINT) AS med_cents,
           CAST(MAX(m.mad) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN d.ad > 5 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
    doc=(
        "Robust outlier audit per event type via MEDIAN ABSOLUTE "
        "DEVIATION: flag values with |x − median| > 5·MAD (≈3.4σ "
        "under normality) — the screen that survives the heavy tails "
        "and contamination that wreck mean/stddev z-scores "
        "(qa_anomaly_days' moment-based sibling; a single 1e9 glitch "
        "row shifts a mean gate, but not this one). Both medians are "
        "EXACT lower-median order statistics ((n+1)//2 by "
        "row_number — the agg_percentiles_exact pattern), every "
        "comparison exact BIGINT cents: no float enters the query at "
        "all. Scale: two window sorts partitioned by the 5-value "
        "type column + one broadcast of the 5-row median/MAD dims "
        "back onto the fact; the documented 100 TB swap is "
        "percentile_approx for both medians (agg_percentiles_approx's "
        "rank-error contract), keeping the gate one scan + sketches."
    ),
    tags=("qa", "outlier", "robust"),
)
def qa_outlier_mad(spark, sf_dir):
    from pyspark.sql import Window

    v = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).try_cast("long").alias("c"),
        )
        # out-of-domain cents leave the rank spine (r12 contract)
        .filter(F.col("c").isNotNull())
    )
    wt = Window.partitionBy("event_type")
    r1 = v.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("c")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = (
        r1.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.max("n").alias("n"), F.max("c").alias("med"))
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "c",
        F.abs(F.col("c") - F.col("med")).alias("ad"),
        "med",
        "n",
    )
    r2 = dev.select(
        "event_type",
        "ad",
        "med",
        "n",
        F.row_number().over(wt.orderBy("ad")).alias("rn"),
    )
    mad = (
        r2.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.max("med").alias("med"), F.max("n").alias("n"), F.max("ad").alias("mad"))
    )
    return (
        dev.select("event_type", "ad", "n")
        .join(F.broadcast(mad.select("event_type", "med", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("med").cast("long").alias("med_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.sum(
                F.when(F.col("ad") > 5 * F.col("mad"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@EXT.add(
    "feat_ols_normal_eq",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s2,
             CAST(SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sy,
             -- HUGEINT second moments: an in-domain extreme row's
             -- qty*price_cents product alone passes 2^63 (r12
             -- extremes contract); the double casts downstream are
             -- correctly rounded from the exact wide integers on
             -- both engines
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s11,
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)
                 * CAST(ROUND(l_discount * 100) AS BIGINT)) AS s12,
             SUM(CAST(ROUND(l_discount * 100) AS HUGEINT)
                 * CAST(ROUND(l_discount * 100) AS BIGINT)) AS s22,
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)
                 * TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               AS s1y,
             SUM(CAST(ROUND(l_discount * 100) AS HUGEINT)
                 * TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               AS s2y
      FROM lineitem
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS a11,
             CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS a12,
             CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS a22,
             CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy AS b1,
             CAST(n AS DOUBLE) * s2y - CAST(s2 AS DOUBLE) * sy AS b2,
             CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
             CAST(sy AS DOUBLE) AS dy
      FROM m
    )
    SELECT n,
           ROUND((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 9)
             AS beta_qty,
           ROUND((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 9)
             AS beta_disc,
           ROUND((dy - ((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) * d1
                     - ((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)) * d2)
                 / CAST(n AS DOUBLE), 9) AS intercept
    FROM c
    """,
    doc=(
        "Two-feature OLS (revenue_cents ~ quantity + discount_pct) "
        "solved by the NORMAL EQUATIONS over distributed moment sums — "
        "'ML as aggregation': the entire fit is ONE map-side-combined "
        "aggregate producing 9 exact BIGINT moments (all < 2^53 at "
        "every fixture SF, so their double casts are value-exact), "
        "then a closed-form 2×2 Cramer solve as one pinned-order "
        "float expression, rounded 9 — bit-identical cross-engine, "
        "the same discipline as agg_autocorr_daily's n-scaled "
        "deviations (a float running mean would be partition-order-"
        "dependent). This is how linear models actually fit at "
        "100 TB: the data-size-dependent work is embarrassingly "
        "parallel partial sums, the solve is O(d³) on the driver "
        "(here, in the expression) — no gradient iterations, no "
        "per-row Python. Reference analog: the price/discount ROI "
        "analysis of agg_roi_discount, upgraded to a fitted model."
    ),
    tags=("feat", "ml", "regression"),
)
def feat_ols_normal_eq(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x1 = F.round(F.col("l_quantity")).cast("long")
    x2 = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).try_cast("long")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("s1"),
        F.sum(x2).cast("long").alias("s2"),
        F.sum(y).cast("long").alias("sy"),
        # decimal(38,0) second moments: an in-domain extreme row's
        # qty*price_cents product alone passes 2^63 (r12 contract)
        F.sum(x1.cast("decimal(38,0)") * x1).alias("s11"),
        F.sum(x1.cast("decimal(38,0)") * x2).alias("s12"),
        F.sum(x2.cast("decimal(38,0)") * x2).alias("s22"),
        F.sum(x1.cast("decimal(38,0)") * y).alias("s1y"),
        F.sum(x2.cast("decimal(38,0)") * y).alias("s2y"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("s11") - F.col("s1").cast("double") * F.col("s1")
    a12 = nd * F.col("s12") - F.col("s1").cast("double") * F.col("s2")
    a22 = nd * F.col("s22") - F.col("s2").cast("double") * F.col("s2")
    b1 = nd * F.col("s1y") - F.col("s1").cast("double") * F.col("sy")
    b2 = nd * F.col("s2y") - F.col("s2").cast("double") * F.col("sy")
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    return m.select(
        "n",
        F.round(beta1, 9).alias("beta_qty"),
        F.round(beta2, 9).alias("beta_disc"),
        F.round(
            (
                F.col("sy").cast("double")
                - beta1 * F.col("s1").cast("double")
                - beta2 * F.col("s2").cast("double")
            )
            / nd,
            9,
        ).alias("intercept"),
    )


@EXT.add(
    "qa_chisq_categorical",
    oracle="""
    WITH cells AS (
      SELECT lang, doc_id % 2 AS half, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT half, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    spine AS (
      SELECT rt.lang, ct.half, rt.rt, ct.ct, n.n FROM rt, ct, n
    ),
    term AS (
      SELECT s.lang, s.half,
             CAST(COALESCE(c.o, 0) AS BIGINT) AS o, s.rt, s.ct, s.n,
             CAST(ROUND(
               CAST((COALESCE(c.o, 0) * s.n - s.rt * s.ct)
                    * (COALESCE(c.o, 0) * s.n - s.rt * s.ct) AS DOUBLE)
               / (CAST(s.n AS DOUBLE) * s.rt * s.ct), 9)
             AS DECIMAL(18,9)) AS contrib
      FROM spine s LEFT JOIN cells c USING (lang, half)
    )
    SELECT lang, half, o, CAST(contrib AS DOUBLE) AS contrib,
           CAST(SUM(contrib) OVER () AS DOUBLE) AS chi2
    FROM term
    """,
    doc=(
        "Chi-square homogeneity test of the language mix between the "
        "two doc_id-parity halves of the corpus — the CATEGORICAL "
        "drift gate completing the numeric battery (PSI expectation / "
        "KS sup-norm / MWU rank): a shard whose lang distribution "
        "diverges from its sibling flags a partitioning or ingest "
        "bug. Each cell contribution uses the cleared-denominator "
        "identity (o·n − rt·ct)²/(n·rt·ct): numerator exact BIGINT "
        "(≤ ~6e14 at sf0.1 — 2^63-safe with 4 orders of headroom), "
        "ONE float division rounded 9 and pinned to DECIMAL(18,9), "
        "then chi2 is an EXACT decimal sum over the bounded "
        "(lang × 2) cell spine — partitioning-invariant, the "
        "agg_entropy_source contract. Absent cells surface as o=0 "
        "rows via the spine left join (their contribution is the "
        "full expected mass, which a naive GROUP BY would silently "
        "drop). Scale: one map-side-combined cell agg; everything "
        "after runs on the ~12-row cell domain."
    ),
    tags=("qa", "drift", "stats"),
)
def qa_chisq_categorical(spark, sf_dir):
    from pyspark.sql import Window

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
    spine = rt.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(nn))
    o = F.coalesce(F.col("o"), F.lit(0)).cast("long")
    diff = o * F.col("n") - F.col("rt") * F.col("ct")
    term = spine.join(cells, ["lang", "half"], "left").select(
        "lang",
        "half",
        o.alias("o_filled"),
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
        .alias("contrib_dec"),
    )
    return term.select(
        "lang",
        "half",
        F.col("o_filled").alias("o"),
        F.col("contrib_dec").cast("double").alias("contrib"),
        F.sum("contrib_dec")
        .over(Window.partitionBy())
        .cast("double")
        .alias("chi2"),
    )


# ---------------------------------------------------------------------------
# round 8: experimentation battery + robust stats + streaming join family
# ---------------------------------------------------------------------------


@EXT.add(
    "feat_cuped_adjust",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       AND ts < TIMESTAMP '2024-01-16'
                       THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS pre,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                       AND ts >= TIMESTAMP '2024-01-16'
                       THEN TRY_CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS post
      FROM events GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS HUGEINT) AS sp,
             CAST(SUM(post) AS HUGEINT) AS so,
             CAST(SUM(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS spp,
             CAST(SUM(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS spo
      FROM u
    ),
    th AS (
      SELECT n,
             CAST(n * spo - sp * so AS DOUBLE)
               / CAST(n * spp - sp * sp AS DOUBLE) AS theta,
             CAST(sp AS DOUBLE) / n AS mean_pre_pooled
      FROM pooled
    ),
    v AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(pre) AS BIGINT) AS sp_v,
             CAST(SUM(post) AS BIGINT) AS so_v
      FROM u GROUP BY 1
    )
    SELECT v.variant, v.n_users,
           ROUND(CAST(so_v AS DOUBLE) / n_users, 9) AS mean_post_cents,
           ROUND(CAST(so_v AS DOUBLE) / n_users
                 - th.theta * (CAST(sp_v AS DOUBLE) / n_users
                               - th.mean_pre_pooled), 9) AS mean_cuped_cents,
           ROUND(th.theta, 9) AS theta
    FROM v, th
    """,
    doc=(
        "CUPED variance reduction for the A/B post-period revenue "
        "metric (variant = user_id parity, pre/post split at Jan 16): "
        "theta = pooled cov(pre, post)/var(pre) via the cleared-"
        "denominator identity over EXACT integer moments (per-user "
        "cent sums BIGINT, cross moments HUGEINT/DECIMAL(38) — "
        "pre*post ~ 1e14-scale at sf1, 24 digits of headroom), then "
        "the adjusted mean per variant is the standard "
        "mean_post - theta*(mean_pre - pooled_mean_pre), every float "
        "op written in the same pinned order in both engines, rounded "
        "9. This is the pre-period covariate adjustment every "
        "experimentation platform applies before reading a revenue "
        "experiment — typically halving CI width at zero extra data "
        "cost. Scale: one per-user agg (map-side combined), pooled + "
        "per-variant moments on user rows, theta broadcast back onto "
        "the 2-row variant domain."
    ),
    tags=("feat", "experiment", "stats"),
)
def feat_cuped_adjust(spark, sf_dir):
    cents = F.round(F.col("value") * 100).try_cast("long")
    split = F.lit("2024-01-16").cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(is_p & (F.col("ts") < split), cents)), F.lit(0)
            )
            .cast("long")
            .alias("pre"),
            F.coalesce(
                F.sum(F.when(is_p & (F.col("ts") >= split), cents)), F.lit(0)
            )
            .cast("long")
            .alias("post"),
        )
        .select(
            "user_id", (F.col("user_id") % 2).alias("variant"), "pre", "post"
        )
    )
    d38 = "decimal(38,0)"
    pooled = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").cast(d38).alias("sp"),
        F.sum("post").cast(d38).alias("so"),
        F.sum(F.col("pre").cast(d38) * F.col("pre")).cast(d38).alias("spp"),
        F.sum(F.col("pre").cast(d38) * F.col("post")).cast(d38).alias("spo"),
    )
    th = pooled.select(
        "n",
        (
            (F.col("n") * F.col("spo") - F.col("sp") * F.col("so")).cast(
                "double"
            )
            / (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
                "double"
            )
        ).alias("theta"),
        (F.col("sp").cast("double") / F.col("n")).alias("mean_pre_pooled"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre").cast("long").alias("sp_v"),
        F.sum("post").cast("long").alias("so_v"),
    )
    return v.crossJoin(F.broadcast(th)).select(
        "variant",
        "n_users",
        F.round(F.col("so_v").cast("double") / F.col("n_users"), 9).alias(
            "mean_post_cents"
        ),
        F.round(
            F.col("so_v").cast("double") / F.col("n_users")
            - F.col("theta")
            * (
                F.col("sp_v").cast("double") / F.col("n_users")
                - F.col("mean_pre_pooled")
            ),
            9,
        ).alias("mean_cuped_cents"),
        F.round("theta", 9).alias("theta"),
    )


@EXT.add(
    "feat_isotonic_calibrate",
    oracle="""
    WITH bins AS (
      SELECT LEAST(19, CAST(FLOOR(n_chars / 50) AS BIGINT)) AS bin,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS s
      FROM documents GROUP BY 1
    ),
    pre AS (
      SELECT bin, w, s,
             SUM(w) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
      FROM bins
    ),
    pairs AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(k.cs - (j.cs - j.s) AS DOUBLE)
               / (k.cw - (j.cw - j.w)) AS m
      FROM pre j JOIN pre k ON j.bin <= k.bin
    ),
    tri AS (
      SELECT i.bin AS i, p.j, p.k, p.m
      FROM pre i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
    ),
    inner_min AS (
      SELECT i, j, MIN(m) AS mn FROM tri GROUP BY 1, 2
    ),
    iso AS (
      SELECT i AS bin, MAX(mn) AS iso FROM inner_min GROUP BY 1
    )
    SELECT b.bin, b.w AS n_docs,
           ROUND(CAST(b.s AS DOUBLE) / b.w, 9) AS raw_rate,
           ROUND(iso.iso, 9) AS iso_rate
    FROM bins b JOIN iso ON iso.bin = b.bin
    """,
    doc=(
        "Isotonic (PAVA-equivalent) probability calibration of a "
        "binary outcome against a score — the calibration layer every "
        "ranking/quality model needs before its raw scores can be "
        "read as probabilities (fixture: en-rate vs 50-char length "
        "bins). Instead of the sequential pool-adjacent-violators "
        "loop, this uses the CLOSED-FORM minimax identity "
        "iso_i = max_{j<=i} min_{k>=i} mean(y_j..y_k) — a pure "
        "dataflow over the BOUNDED bin spine (B=20: ~210 interval "
        "means, ~1.5k (i,j,k) triples), so it needs no recursion, no "
        "driver loop, and value-hash-oracles exactly: interval means "
        "are double divisions of exact BIGINT prefix sums, identical "
        "IEEE in both engines, and min/max over doubles is a total "
        "order. Output is per bin: weight, raw rate, calibrated "
        "monotone rate (rounded 9; rates are O(1) magnitudes). "
        "Scale: ONE map-side-combined histogram agg touches the fact "
        "table; the minimax runs entirely on the B-row spine "
        "(B³ work only in the bounded bin count — at B=100 still "
        "~1.7e5 spine rows). The sequential-PAVA-in-applyInPandas "
        "alternative is only needed when B itself is unbounded."
    ),
    tags=("feat", "ml", "calibration", "stats"),
)
def feat_isotonic_calibrate(spark, sf_dir):
    from pyspark.sql import Window

    bins = (
        t(spark, sf_dir, "documents")
        .groupBy(
            F.least(F.lit(19), F.floor(F.col("n_chars") / 50))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("s"),
        )
    )
    wo = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "w",
        "s",
        F.sum("w").over(wo).alias("cw"),
        F.sum("s").over(wo).alias("cs"),
    ).localCheckpoint(eager=True)
    j = pre.select(
        F.col("bin").alias("j"),
        (F.col("cs") - F.col("s")).alias("cs_jm1"),
        (F.col("cw") - F.col("w")).alias("cw_jm1"),
    )
    k = pre.select(
        F.col("bin").alias("k"), F.col("cs").alias("cs_k"),
        F.col("cw").alias("cw_k"),
    )
    pairs = j.join(F.broadcast(k), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cs_k") - F.col("cs_jm1")).cast("double")
            / (F.col("cw_k") - F.col("cw_jm1"))
        ).alias("m"),
    )
    i = pre.select(F.col("bin").alias("i"))
    tri = i.join(
        F.broadcast(pairs),
        (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
    )
    inner_min = tri.groupBy("i", "j").agg(F.min("m").alias("mn"))
    iso = inner_min.groupBy("i").agg(F.max("mn").alias("iso"))
    return (
        bins.join(F.broadcast(iso), bins.bin == iso.i)
        .select(
            "bin",
            F.col("w").alias("n_docs"),
            F.round(F.col("s").cast("double") / F.col("w"), 9).alias(
                "raw_rate"
            ),
            F.round("iso", 9).alias("iso_rate"),
        )
    )


@EXT.add(
    "feat_split_time_purged",
    oracle="""
    WITH bounds AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ),
    folds AS (
      SELECT k, mn + k * ((mx - mn) // 4) AS b_us, (mx - mn) // 4 AS q
      FROM bounds, (VALUES (1), (2), (3)) AS f(k)
    ),
    tagged AS (
      SELECT f.k,
             CASE WHEN e.e_us <= f.b_us - 86400000000 THEN 'train'
                  WHEN e.e_us <= f.b_us THEN 'purged'
                  WHEN e.e_us <= f.b_us + f.q THEN 'test' END AS split,
             e.user_id, e.e_us
      FROM (SELECT epoch_us(ts) AS e_us, user_id FROM events) e
      CROSS JOIN folds f
    )
    SELECT CAST(k AS INT) AS fold, split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           make_timestamp(MIN(e_us)) AS min_ts,
           make_timestamp(MAX(e_us)) AS max_ts
    FROM tagged WHERE split IS NOT NULL
    GROUP BY 1, 2
    """,
    doc=(
        "Purged walk-forward split with embargo: 3 expanding-window "
        "folds over the event timeline, each fold's train set ending a "
        "full 24 h EMBARGO before its test window opens and the rows "
        "in between PURGED — the leakage-safe evaluation protocol for "
        "time-series models (a random or group split silently leaks "
        "label-adjacent rows across the boundary; the embargo also "
        "kills lookahead through lagged/rolling features that span the "
        "cut — the companion to feat_split_groupwise, which guards "
        "entity leakage, not time leakage). Fold boundaries are pure "
        "integer epoch-microsecond arithmetic (min + k*(span div 4), "
        "engine-independent; no date rounding), so the emitted per-"
        "(fold, split) min/max timestamps PROVE the gap: every fold's "
        "train max_ts <= boundary - 24 h < test min_ts. Scale: the "
        "2-value bounds agg broadcasts, the 3-row fold spine cross-"
        "joins via broadcast nested loop (3x fact pass-through, no "
        "shuffle), and the final (fold, split) agg is map-side "
        "combined into 9 cells."
    ),
    tags=("feat", "split", "timeseries"),
)
def feat_split_time_purged(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("e_us"), "user_id"
    )
    bounds = ev.agg(
        F.min("e_us").alias("mn"), F.max("e_us").alias("mx")
    )
    folds = bounds.select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        "mn",
        "mx",
    ).select(
        "k",
        (F.col("mn") + F.col("k") * F.expr("(mx - mn) div 4")).alias("b_us"),
        F.expr("(mx - mn) div 4").alias("q"),
    )
    tagged = ev.crossJoin(F.broadcast(folds)).select(
        "k",
        F.when(F.col("e_us") <= F.col("b_us") - 86_400_000_000, "train")
        .when(F.col("e_us") <= F.col("b_us"), "purged")
        .when(F.col("e_us") <= F.col("b_us") + F.col("q"), "test")
        .alias("split"),
        "user_id",
        "e_us",
    )
    return (
        tagged.filter(F.col("split").isNotNull())
        .groupBy(F.col("k").cast("int").alias("fold"), "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.timestamp_micros(F.min("e_us")).alias("min_ts"),
            F.timestamp_micros(F.max("e_us")).alias("max_ts"),
        )
    )


@EXT.add(
    "feat_target_encode_expanding",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts,
             TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT event_id, user_id, ts, cents,
             CAST(COUNT(*) OVER fr AS BIGINT) AS prior_n,
             CAST(COALESCE(SUM(cents) OVER fr, 0) AS BIGINT)
               AS prior_sum_cents
      FROM p
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, cents, prior_n, prior_sum_cents,
           CASE WHEN prior_n > 0
                THEN (prior_sum_cents * 10000) // prior_n END AS enc_micro
    FROM w
    """,
    doc=(
        "TIME-SAFE expanding target encoding: each purchase event is "
        "encoded with the mean of that user's STRICTLY PRIOR purchases "
        "(exclusive expanding frame, ROWS UNBOUNDED PRECEDING .. 1 "
        "PRECEDING) — the production-correct variant of "
        "feat_target_encode_loo, whose leave-one-out mean still mixes "
        "FUTURE rows into a training feature and so train-serving-"
        "skews any time-ordered deployment (at serving time only the "
        "past exists; this encoding is exactly reproducible there, "
        "and composes with feat_split_time_purged's embargoed splits). "
        "First event per user encodes NULL (no history) rather than a "
        "leaked global mean. Exact integer arithmetic end to end "
        "(cents, micro-scaled truncating division, Spark `div` == "
        "DuckDB `//` for non-negative operands); the deterministic "
        "(ts, event_id) order key makes the running sums unique per "
        "row. Scale: ONE (user) exchange + sort feeds both window "
        "moments — the fact table is never joined or re-shuffled; "
        "key cardinality grows with users, so parallelism scales "
        "with data."
    ),
    tags=("feat", "ml", "window", "timeseries"),
)
def feat_target_encode_expanding(spark, sf_dir):
    from pyspark.sql import Window

    p = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100).try_cast("long").alias("cents"),
        )
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = p.select(
        "event_id",
        "user_id",
        "ts",
        "cents",
        F.count(F.lit(1)).over(fr).cast("long").alias("prior_n"),
        F.coalesce(F.sum("cents").over(fr), F.lit(0))
        .cast("long")
        .alias("prior_sum_cents"),
    )
    return w.select(
        "event_id",
        "user_id",
        "ts",
        "cents",
        "prior_n",
        "prior_sum_cents",
        F.when(
            F.col("prior_n") > 0,
            F.expr("(prior_sum_cents * 10000) div prior_n"),
        ).alias("enc_micro"),
    )


@EXT.add(
    "feat_target_encode_kfold",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(event_id % 5 AS BIGINT) AS fold,
             CAST(COUNT(*) AS BIGINT) AS n_in,
             -- TRY_CAST: out-of-domain cents -> NULL, excluded from
             -- the target sum (counts still count rows) — r12 contract
             SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS s
      FROM events GROUP BY event_type, event_id % 5
    )
    SELECT event_type, fold, n_in,
           CAST(SUM(n_in) OVER (PARTITION BY event_type) - n_in AS BIGINT)
             AS n_out,
           CAST(((SUM(s) OVER (PARTITION BY event_type) - s) * 10000)
                // (SUM(n_in) OVER (PARTITION BY event_type) - n_in)
                AS BIGINT) AS enc_micro
    FROM cells
    """,
    doc=(
        "K-FOLD (k=5) out-of-fold target encoding on the bounded "
        "(event_type x fold) spine — the standard leakage-safe "
        "encoder for cross-validated training, completing the family: "
        "feat_target_encode_loo excludes one ROW, "
        "feat_target_encode_expanding excludes the FUTURE, this "
        "excludes the row's own FOLD (deterministic fold = event_id % "
        "5). Each cell's encoding is (total - own-fold sum) / (total "
        "- own-fold count) over exact integer cents, emitted in "
        "micro-units by integer division — bit-identical cross-engine "
        "with zero float accumulation. Scale: ONE map-side-combined "
        "fact agg to the ~|types|x5 spine; the complement totals are "
        "spine windows; rows would re-attach by broadcast of the "
        "spine. No fact-grain window, no join."
    ),
    tags=("feature", "encoding", "stats"),
)
def feat_target_encode_kfold(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("event_id") % 5).cast("long").alias("fold")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_in"),
        F.sum(try_cents("value")).alias("s"),
    )
    wt = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        "fold",
        "n_in",
        (F.sum("n_in").over(wt) - F.col("n_in")).cast("long").alias("n_out"),
        F.expr(
            "((sum(s) over (partition by event_type) - s) * 10000) "
            "div (sum(n_in) over (partition by event_type) - n_in)"
        ).cast("long").alias("enc_micro"),
    )


@EXT.add(
    "qa_event_id_gaps",
    oracle="""
    WITH ids AS (
      SELECT event_type, event_id,
             lag(event_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS prev_id
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN event_id - prev_id > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps,
           CAST(SUM(CASE WHEN event_id - prev_id > 1
                         THEN event_id - prev_id - 1 ELSE 0 END)
                AS BIGINT) AS missing_ids,
           CAST(MAX(event_id - prev_id - 1) AS BIGINT) AS max_gap
    FROM ids GROUP BY event_type
    """,
    doc=(
        "Sequence-gap AUDIT per event type — the data-loss detector an "
        "ingest pipeline runs after every load (the reference's "
        "per-batch row-count logs, main.py:458/477, upgraded to "
        "positional accounting): within each type's event_id sequence, "
        "count the gaps, the total missing ids, and the largest hole. "
        "The fixture's ids are globally contiguous, so each type's "
        "subsequence has real, deterministic gaps to report. One "
        "keyed exchange + sort feeds the lag window and the final agg "
        "(the same shared-sort shape as win_islands); at 100 TB the "
        "audit runs per ingest partition (type x day) so no single "
        "sort exceeds a partition."
    ),
    tags=("qa", "audit", "window"),
)
def qa_event_id_gaps(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("event_id")
    ids = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    gap = F.col("event_id") - F.col("prev_id") - 1
    return ids.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.sum((gap > 0).cast("long")).cast("long").alias("n_gaps"),
        F.sum(F.when(gap > 0, gap).otherwise(0)).cast("long").alias("missing_ids"),
        F.max(gap).cast("long").alias("max_gap"),
    )


@EXT.add(
    "feat_rare_category_collapse",
    oracle="""
    WITH cat AS (
      -- malformed-JSON contract (r13 axis f): corrupt props = NULL cat
      SELECT CAST(FLOOR(SQRT(TRY_CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT))) AS BIGINT) AS cat,
             TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    counts AS (
      SELECT cat, COUNT(*) AS n, SUM(cents) AS cents FROM cat GROUP BY cat
    ),
    tagged AS (
      SELECT CASE WHEN CAST(n AS DOUBLE) / SUM(n) OVER () < 0.05
                  THEN '__other__' ELSE CAST(cat AS VARCHAR) END AS category,
             n, cents
      FROM counts
    )
    SELECT category,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents,
           ROUND(CAST(SUM(n) AS DOUBLE)
                 / SUM(SUM(n)) OVER (), 9) AS share
    FROM tagged GROUP BY category
    """,
    doc=(
        "Rare-category COLLAPSE — the standard cardinality-control "
        "step before one-hot/target encoding (categories below 5% "
        "support fold into '__other__' so downstream encoders never "
        "meet a category the training fold lacked). The category is a "
        "deterministically SKEWED derivation from the event props JSON "
        "(floor(sqrt(k)): category c holds (2c+1)% of rows, so cats "
        "0-1 sit under the 5% threshold at every SF — the collapse is "
        "scale-invariant, not a fixture accident). Also pins JSON "
        "extraction parity (get_json_object vs json_extract). Scale: "
        "one map-side-combined agg to the bounded category spine; the "
        "share threshold and the re-collapse are spine windows + a "
        "spine re-agg — the fact is scanned once, nothing joins."
    ),
    tags=("feature", "encoding", "json"),
)
def feat_rare_category_collapse(spark, sf_dir):
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.aggregates import try_cents

    cat = t(spark, sf_dir, "events").select(
        # try_cast (r13 malformed-JSON contract)
        F.floor(
            F.sqrt(F.get_json_object("props", "$.k").try_cast("long"))
        ).cast("long").alias("cat"),
        try_cents("value").alias("cents"),
    )
    counts = cat.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )
    wall = Window.partitionBy()
    tagged = counts.select(
        F.when(
            F.col("n").cast("double") / F.sum("n").over(wall) < 0.05,
            F.lit("__other__"),
        )
        .otherwise(F.col("cat").cast("string"))
        .alias("category"),
        "n",
        "cents",
    )
    return tagged.groupBy("category").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
        F.round(
            F.sum("n").cast("double")
            / F.sum(F.sum("n")).over(Window.partitionBy()),
            9,
        ).alias("share"),
    )


@EXT.add(
    "feat_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT (TRY_CAST(ROUND(value * 100) AS BIGINT) % 1000) / 1000.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS s_sum,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    )
    SELECT bin, n,
           ROUND(s_sum / n, 9) AS mean_score,
           ROUND(CAST(pos AS DOUBLE) / n, 9) AS pos_rate,
           ROUND(ABS(s_sum / n - CAST(pos AS DOUBLE) / n), 9) AS gap
    FROM binned
    """,
    doc=(
        "Calibration RELIABILITY table — the evaluation companion of "
        "feat_isotonic_calibrate: a deterministic model score in "
        "[0, 1) (exact-cents modulus, a rational with a finite "
        "denominator, so its DECIMAL(18,4) sums are exact and "
        "order-independent) is 10-binned against the binary 'purchase' "
        "label; each bin reports population, exact mean score, "
        "positive rate, and the |gap| whose weighted sum is the "
        "expected calibration error (ECE). Three float divisions per "
        "bin from exact sums, each rounded 9. Scale: one map-side-"
        "combined agg to a 10-row spine; the fact table is scanned "
        "once, never sorted."
    ),
    tags=("feat", "ml", "evaluation"),
)
def feat_calibration_bins(spark, sf_dir):
    from steam_data_pipeline_spark.operators.aggregates import try_cents

    scored = t(spark, sf_dir, "events").select(
        ((try_cents("value") % 1000) / F.lit(1000.0)).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("score").cast("decimal(18,4)")).cast("double").alias("s_sum"),
        F.sum("label").cast("long").alias("pos"),
    )
    mean_score = F.col("s_sum") / F.col("n")
    pos_rate = F.col("pos").cast("double") / F.col("n")
    return binned.select(
        "bin",
        "n",
        F.round(mean_score, 9).alias("mean_score"),
        F.round(pos_rate, 9).alias("pos_rate"),
        F.round(F.abs(mean_score - pos_rate), 9).alias("gap"),
    )


@EXT.add(
    "qa_outlier_ecod",
    oracle="""
    WITH p AS (
      -- all three metrics non-null: the exact_cume_counts_multi contract
      -- (non-null integral), and a NULL has no empirical tail mass
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
             CAST(p_size AS BIGINT) AS sz,
             CAST(LENGTH(p_name) AS BIGINT) AS nl
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        AND p_name IS NOT NULL
    ),
    c AS (
      SELECT p_partkey,
             LEAST(
               CAST(COUNT(*) OVER (ORDER BY cents RANGE BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT),
               CAST(COUNT(*) OVER (ORDER BY cents DESC RANGE BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
               AS tail_price,
             LEAST(
               CAST(COUNT(*) OVER (ORDER BY sz RANGE BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT),
               CAST(COUNT(*) OVER (ORDER BY sz DESC RANGE BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
               AS tail_size,
             LEAST(
               CAST(COUNT(*) OVER (ORDER BY nl RANGE BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT),
               CAST(COUNT(*) OVER (ORDER BY nl DESC RANGE BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
               AS tail_namelen
      FROM p
    )
    SELECT p_partkey, tail_price, tail_size, tail_namelen,
           CAST(tail_price AS DOUBLE) * CAST(tail_size AS DOUBLE)
             * CAST(tail_namelen AS DOUBLE) AS score
    FROM c ORDER BY score ASC, p_partkey ASC LIMIT 20
    """,
    doc=(
        "ECOD multivariate outlier ranking over the part catalog "
        "(price cents x size x name length): each row's score is the "
        "product of its per-dimension two-sided empirical tail masses "
        "min(#<=v, #>=v) — rows extreme in SEVERAL dimensions at once "
        "float to the top, which one-dimensional gates (qa_outlier_mad) "
        "miss. Parameter-free and rank-based, so it needs no "
        "distributional fit — the standard unsupervised data-quality "
        "screen before corpus stats. The tail masses are tie-AWARE "
        "cumulative counts (a row_number-style rank is wrong under "
        "ties), computed scale-safely by operators/ranks.py "
        "exact_cume_counts_multi: the two-level histogram "
        "decomposition — bounded 4096-bin prefix sums + RANGE-framed "
        "within-bin windows on hash partitions — no unbounded "
        "single-partition sort for ANY dimension. Scores are "
        "exact-integer products converted once to double (identical "
        "below 2^53, deterministic above); top-20 is a TakeOrdered with the "
        "partkey tie-break, never a global sort."
    ),
    tags=("qa", "outlier", "stats"),
)
def qa_outlier_ecod(spark, sf_dir):
    from steam_data_pipeline_spark.operators.ranks import (
        exact_cume_counts_multi,
    )

    p = t(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull()
        & F.col("p_size").isNotNull()
        & F.col("p_name").isNotNull()
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).try_cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("sz"),
        F.length("p_name").cast("long").alias("nl"),
    )
    c = exact_cume_counts_multi(
        p,
        [
            ("cents", "le_p", "ge_p"),
            ("sz", "le_s", "ge_s"),
            ("nl", "le_n", "ge_n"),
        ],
    )
    scored = c.select(
        "p_partkey",
        F.least("le_p", "ge_p").alias("tail_price"),
        F.least("le_s", "ge_s").alias("tail_size"),
        F.least("le_n", "ge_n").alias("tail_namelen"),
    ).withColumn(
        "score",
        F.col("tail_price").cast("double")
        * F.col("tail_size").cast("double")
        * F.col("tail_namelen").cast("double"),
    )
    return scored.orderBy(F.col("score").asc(), F.col("p_partkey").asc()).limit(
        20
    )


@EXT.add(
    "qa_skew_report",
    oracle="""
    WITH kc AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM kc
    ),
    hist AS (
      SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_keys FROM kc GROUP BY 1
    ),
    cum AS (
      SELECT cnt,
             CAST(SUM(n_keys) OVER (ORDER BY cnt ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_keys
      FROM hist
    ),
    p99 AS (
      SELECT MIN(cnt) AS p99_cnt FROM cum, tot
      WHERE cum_keys * 100 >= 99 * tot.k
    ),
    top1 AS (
      SELECT l_partkey AS top_key, cnt AS top_cnt FROM kc
      ORDER BY cnt DESC, l_partkey ASC LIMIT 1
    )
    SELECT t.n, t.k, t.max_cnt,
           CAST(p.p99_cnt AS BIGINT) AS p99_cnt,
           ROUND(CAST(t.max_cnt AS DOUBLE) * t.k / t.n, 9) AS skew_ratio,
           CAST(tp.top_key AS BIGINT) AS top_key,
           CAST(tp.top_cnt AS BIGINT) AS top_cnt
    FROM tot t, p99 p, top1 tp
    """,
    doc=(
        "Join-key skew diagnostics for l_partkey — the operational "
        "report you run BEFORE choosing a join strategy at 100 TB: "
        "total rows, distinct keys, the max and exact-p99 per-key "
        "cardinalities, the max-to-mean skew ratio (AQE's skew-join "
        "threshold reasoning made visible), and the heaviest key "
        "(deterministic tie-break). The p99 is EXACT without sorting "
        "keys: per-key counts collapse to a count-of-counts histogram "
        "(bounded by the distinct cardinality values, tiny in "
        "practice) and one bounded cumulative window finds the "
        "smallest count covering 99% of keys — the same bounded-spine "
        "discipline as the quantile machinery. One fact shuffle "
        "(the key collapse, map-side combined); top-1 is a "
        "TakeOrdered; the scalar spines crossJoin broadcast."
    ),
    tags=("qa", "skew", "operations"),
)
def qa_skew_report(spark, sf_dir):
    from pyspark.sql import Window

    kc = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    hist = kc.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    # totals AND the cumulative rank live on the same bounded
    # count-of-counts spine via one cumulative + one full-frame window
    # (n = Σ cnt·n_keys, k = Σ n_keys): every scalar a separate
    # aggregate branch would re-derive the fact scan for rides the
    # single histogram pass — 2 lineitem scans total (this chain +
    # the TakeOrdered top-key), down from 4
    w_cum = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    w_full = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "cnt",
        F.sum("n_keys").over(w_cum).cast("long").alias("cum_keys"),
        F.sum(F.col("cnt") * F.col("n_keys"))
        .over(w_full)
        .cast("long")
        .alias("n"),
        F.sum("n_keys").over(w_full).cast("long").alias("k"),
        F.max("cnt").over(w_full).cast("long").alias("max_cnt"),
    )
    p99 = cum.filter(F.col("cum_keys") * 100 >= 99 * F.col("k")).agg(
        F.min("cnt").alias("p99_cnt"),
        F.any_value("n").alias("n"),
        F.any_value("k").alias("k"),
        F.any_value("max_cnt").alias("max_cnt"),
    )
    top1 = (
        kc.orderBy(F.col("cnt").desc(), F.col("l_partkey").asc())
        .limit(1)
        .select(
            F.col("l_partkey").alias("top_key"), F.col("cnt").alias("top_cnt")
        )
    )
    return (
        p99
        .crossJoin(F.broadcast(top1))
        .select(
            "n",
            "k",
            "max_cnt",
            F.col("p99_cnt").cast("long").alias("p99_cnt"),
            F.round(
                F.col("max_cnt").cast("double") * F.col("k") / F.col("n"), 9
            ).alias("skew_ratio"),
            "top_key",
            "top_cnt",
        )
    )
