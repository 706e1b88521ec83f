"""Plan-contract tests: pin the physical-plan properties the SCALE.md
claims rest on. A regression that silently de-broadcasts a dim join or
adds a shuffle to the island windows fails here, not in production."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from steam_data_pipeline_spark.plans.registry import QUERIES, run_query
from tests.conftest import SF_SMOKE


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestPlanContracts:
    def test_dim_fact_join_broadcasts_all_dims(self, spark):
        plan = _plan(QUERIES["join_dim_fact"].spark(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
        assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
        assert "CartesianProduct" not in plan

    def test_column_pruning_reaches_scan(self, spark):
        plan = _plan(QUERIES["join_dim_fact"].spark(spark, SF_SMOKE))
        # lineitem scan must read only the 3 needed columns of 11
        assert "l_extendedprice" in plan
        assert "l_shipdate" not in plan and "l_comment" not in plan

    def test_filter_pushdown_reaches_scan(self, spark):
        plan = _plan(QUERIES["filt_valid_meta"].spark(spark, SF_SMOKE))
        assert "PushedFilters: [IsNotNull(p_name)" in plan

    def test_topk_compiles_to_take_ordered(self, spark):
        plan = _plan(QUERIES["topk_latest5"].spark(spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan  # no full global sort

    def test_islands_single_shuffle(self, spark):
        """Two windows over one (key, ts) ordering must reuse the
        exchange: exactly one shuffle in the whole islands plan."""
        plan = _plan(QUERIES["win_islands"].spark(spark, SF_SMOKE), "simple")
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}\n{plan}"

    def test_topn_per_key_has_window_group_limit(self, spark):
        """Grouped top-N must keep ≤ n rows per key per task before the
        sort (WindowGroupLimit), and stay a single shuffle."""
        plan = _plan(QUERIES["win_topn_per_key"].spark(spark, SF_SMOKE), "simple")
        assert "WindowGroupLimit" in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_range_join_binned_is_hash_join(self, spark):
        """The binned range join must execute as a hash join on the
        (key, bin) composite — never a nested-loop/cartesian."""
        plan = _plan(QUERIES["join_range_binned"].spark(spark, SF_SMOKE), "simple")
        assert "HashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_agg_has_partial_final_split(self, spark):
        plan = _plan(QUERIES["agg_daily_counts"].spark(spark, SF_SMOKE))
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_sim_search_is_broadcast_not_shuffle(self, spark):
        plan = _plan(QUERIES["llm_sim_search"].spark(spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" in plan  # tiny query side broadcast
        assert "Exchange rangepartitioning" not in plan


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir, tmp_path):
        """Tables bucketed on the join key join shuffle-free — the
        pay-once co-location strategy for the repeated dim⋈fact join."""
        from steam_data_pipeline_spark.operators.upsert import write_bucketed
        from steam_data_pipeline_spark.sources.tables import read_table

        spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
        spark.catalog.setCurrentDatabase("bktest")
        try:
            events = read_table(spark, sf_dir, "events").withColumn(
                "app_id", F.col("user_id")
            )
            dim = events.groupBy("app_id").agg(F.count(F.lit(1)).alias("n"))
            write_bucketed(spark, events.select("app_id", "ts", "value"),
                           "facts_b", "app_id", n_buckets=8)
            write_bucketed(spark, dim, "dim_b", "app_id", n_buckets=8)
            joined = spark.table("facts_b").join(
                spark.table("dim_b").hint("merge"), on="app_id"
            )
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == events.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS facts_b")
            spark.sql("DROP TABLE IF EXISTS dim_b")
            spark.catalog.setCurrentDatabase("default")


class TestPartitionPruning:
    def test_day_partitioned_facts_prune(self, spark, sf_dir, tmp_path):
        """Facts written partitionBy(day) + a day filter → the scan reads
        only matching partitions (PartitionFilters in the plan) — the
        time-series access path at 100 TB."""
        from steam_data_pipeline_spark.sources.tables import read_table

        ev = read_table(spark, sf_dir, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        out = str(tmp_path / "facts_by_day")
        ev.write.partitionBy("day").parquet(out)
        df = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
        plan = _plan(df)
        assert "PartitionFilters: [isnotnull(day" in plan
        n_days = ev.select("day").distinct().count()
        day_count = df.count()
        assert 0 < day_count < ev.count() / max(n_days - 5, 1)


class TestSqlSurface:
    def test_adhoc_sql_over_registered_views(self, spark, sf_dir):
        """EP3 ad-hoc SQL surface (GUIDE:171-191): spark.sql over the
        registered views answers the reference's operational queries."""
        from steam_data_pipeline_spark.sources.tables import register_temp_views

        register_temp_views(spark, sf_dir)
        n = spark.sql("SELECT COUNT(*) AS n FROM part").collect()[0].n
        assert n == 200
        latest5 = spark.sql(
            "SELECT event_id FROM events ORDER BY ts DESC LIMIT 5"
        ).collect()
        assert len(latest5) == 5


class TestCurationPlanContracts:
    def test_pii_and_quality_are_scan_only(self, spark):
        """Pure per-row curation stages must compile to scan+project —
        zero exchanges, whole-stage codegen, no Python."""
        for name in ("llm_pii_scrub", "llm_quality_gopher"):
            plan = _plan(QUERIES[name].spark(spark, SF_SMOKE), "simple")
            assert "Exchange" not in plan, name
            assert "FlatMapGroupsInPandas" not in plan, name

    def test_seq_pack_single_shuffle_grouped_pandas(self, spark):
        """Packing = one shuffle on the group key feeding the grouped
        pandas recurrence; nothing else moves data."""
        plan = _plan(QUERIES["llm_seq_pack"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange") == 1
        assert "FlatMapGroupsInPandas" in plan

    def test_url_dedup_single_shuffle_no_python(self, spark):
        """URL canonicalization is one codegen stage of parse_url +
        array HOFs — the whole query must be scan → project →
        hash-aggregate with exactly the groupBy(canonical) exchange and
        zero Python evals."""
        plan = _plan(QUERIES["llm_dedup_url"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange") == 1
        assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
        assert "HashAggregate" in plan

    def test_contamination_broadcasts_benchmark(self, spark):
        """The benchmark n-gram set must broadcast (bounded by the eval
        suite); the corpus side must never sort-merge against it."""
        plan = _plan(QUERIES["llm_contamination"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_partition_pruning_reaches_scan(self, spark):
        """The day=… layout + literal predicate must prune partitions at
        the scan (3 of 30 directories), not filter post-read."""
        import re

        plan = _plan(QUERIES["src_partition_pruned"].spark(spark, SF_SMOKE))
        m = re.search(r"PartitionFilters: \[day#\d+ IN \(([^)]*)\)", plan)
        assert m, f"day IN predicate not pushed to PartitionFilters:\n{plan}"
        assert "2024-01-05" in m.group(1)

    def test_dynamic_partition_pruning_fires(self, spark):
        """The dim-filter join over the day-partitioned fact must inject
        a runtime pruning subquery into the scan's PartitionFilters."""
        plan = _plan(QUERIES["src_dynamic_pruning"].spark(spark, SF_SMOKE))
        assert "dynamicpruning" in plan.lower()


class TestRound3PlanContracts:
    def test_salted_join_is_shuffled_on_key_and_salt(self, spark):
        """The skew demo must exercise the shuffle-join path (a
        broadcast join has no shuffle skew to mitigate) and the join
        key must include the salt."""
        plan = _plan(QUERIES["join_skew_salted"].spark(spark, SF_SMOKE))
        assert "ShuffledHashJoin" in plan
        assert "salt" in plan
        # the big fact side must not be broadcast
        assert "BroadcastHashJoin" not in plan.split("ShuffledHashJoin")[1][:500]

    def test_shuffle_shard_single_exchange(self, spark):
        """Deterministic shard export = exactly one hash exchange (the
        shuffle write's shape) + per-partition sort."""
        plan = _plan(QUERIES["llm_shuffle_shard"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_vocab_window_sees_vocab_not_corpus(self, spark):
        """The global top-100 window must run over the aggregated
        vocabulary (post-groupBy), never the exploded token stream:
        the aggregate appears below the window in the plan."""
        plan = _plan(QUERIES["llm_vocab_build"].spark(spark, SF_SMOKE), "simple")
        win_at = plan.index("Window")
        agg_at = plan.rindex("HashAggregate")
        assert agg_at > win_at  # plans print top-down: deeper = later


class TestContainmentSkewContracts:
    """Round-4: the containment candidate generator must stay bounded
    on boilerplate-heavy corpora (round-3 verdict item: a stop-shingle
    posting list of ~n rows becomes one hot join key at 100 TB)."""

    @pytest.fixture(scope="class")
    def skewed_docs(self, spark):
        # every doc shares a 14-word boilerplate preamble (14 hot
        # 3-gram shingles in 100% of docs) plus a unique 12-word tail;
        # one doc is pure boilerplate (exercises the fallback leg) and
        # one is an exact copy (a true containment pair both ways)
        boiler = (
            "terms of service apply to all users of this site "
            "without exception whatsoever today"
        )
        rows = [
            (i, boiler + " " + " ".join(f"u{i}x{j}" for j in range(12)))
            for i in range(60)
        ]
        rows.append((100, boiler))
        rows.append((101, rows[3][1]))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_candidate_volume_bounded(self, spark, skewed_docs):
        """With hot-shingle exclusion, candidates ≈ true pairs (the
        boilerplate shingles never enter the posting join); without it
        the same corpus would generate ~n² candidates via the shared
        preamble."""
        from steam_data_pipeline_spark.llm.dedup import containment_candidates

        n_docs = skewed_docs.count()
        n_cand = containment_candidates(skewed_docs).count()
        assert n_cand <= 2 * n_docs  # vs n² ≈ 3.8k through the hot keys

    def test_no_hot_posting_enters_cold_join(self, spark, skewed_docs):
        """Contract on the main join's inputs: after stop-shingle
        exclusion no posting list on the cold side may exceed the hot
        threshold, so no single join key can concentrate the shuffle."""
        from steam_data_pipeline_spark.llm.dedup import _shingle_hot_table

        shc, has_hot = _shingle_hot_table(
            skewed_docs, "doc_id", "text", 3, 4096, 0.01
        )
        assert has_hot  # the boilerplate shingles were detected
        max_posting = (
            shc.select(F.explode("cold").alias("s"))
            .groupBy("s")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        n_docs = skewed_docs.count()
        assert max_posting < max(8, 0.01 * n_docs) + 1

    def test_lossless_vs_brute_force(self, spark, skewed_docs):
        """Hot exclusion + cold prefix + fallback must be exactly
        lossless: output equals the all-pairs brute force."""
        import itertools

        from steam_data_pipeline_spark.llm.dedup import containment_pairs

        rows = [(r.doc_id, r.text) for r in skewed_docs.collect()]

        def sh3(t):
            w = t.lower().split()
            return set(tuple(w[i : i + 3]) for i in range(max(len(w) - 2, 1)))

        S = {i: sh3(t) for i, t in rows}
        expect = {
            (a, b): round(len(S[a] & S[b]) / len(S[a]), 9)
            for a, b in itertools.permutations(S, 2)
            if len(S[a] & S[b]) / len(S[a]) >= 0.8
        }
        got = {
            (r.a, r.b): round(r.containment, 9)
            for r in containment_pairs(skewed_docs).collect()
        }
        assert got == expect


class TestRound4PlanContracts:
    def test_bloom_filter_injected_on_fact_scan(self, spark):
        """join_bloom_pruned's contract: with the fixture-scale
        threshold overrides active, InjectRuntimeFilter must put a
        might_contain predicate on the lineitem side (the registered
        query materializes under exactly these overrides)."""
        from steam_data_pipeline_spark.plans.extensions import (
            _BLOOM_OVERRIDES,
            _bloom_join_plan,
            _conf_overrides,
        )

        df = _bloom_join_plan(spark, SF_SMOKE)  # t() re-applies confs; build first
        with _conf_overrides(spark, _BLOOM_OVERRIDES):
            plan = _plan(df)
        assert "might_contain" in plan
        assert "BroadcastHashJoin" not in plan  # demo forces the shuffle-join path

    def test_corpus_overlap_no_corpus_self_join(self, spark):
        """llm_corpus_overlap's exact leg must expand pairs per-shingle
        via HOFs (bounded by |sources|^2), never self-join the corpus
        shingle table with itself on the shingle key."""
        from steam_data_pipeline_spark.llm.dedup import corpus_overlap
        from steam_data_pipeline_spark.sources.tables import read_table

        df = corpus_overlap(read_table(spark, SF_SMOKE, "documents"))
        plan = _plan(df)
        assert "CartesianProduct" not in plan

    def test_duplicated_spans_shuffles_hashes_not_text(self, spark):
        """llm_dedup_substring: the dup-window groupBy must key on the
        xxhash64 window hash (8 bytes), and the raw text column must
        not survive past the scan projection."""
        from steam_data_pipeline_spark.llm.dedup import duplicated_spans
        from steam_data_pipeline_spark.sources.tables import read_table

        df = duplicated_spans(
            read_table(spark, SF_SMOKE, "documents"), k=8, materialize_grams=False
        )
        plan = _plan(df, mode="simple")  # Exchange args inline in simple mode
        assert "xxhash64" in plan
        # text is consumed by the gram projection; no exchange carries it
        assert "hashpartitioning(text" not in plan
        # and every exchange keys on the hash / doc key, never the body
        for frag in plan.split("Exchange ")[1:]:
            assert not frag.startswith("hashpartitioning(text")

    def test_shingle_pipeline_tokenizes_once(self, spark):
        """The shingle scan's two structural hazards, pinned: (a)
        CollapseProject inlining the tokenize into the gram lambda
        (re-splitting per shingle element), (b) InferFiltersFromGenerate
        duplicating the whole generator into a size>0 pre-filter
        (excluded in RUNTIME_CONFS). Either regression shows up as a
        second `split(` in the optimized plan — measured 2-5x wall."""
        from steam_data_pipeline_spark.llm.dedup import with_hashed_shingles
        from steam_data_pipeline_spark.sources.tables import read_table

        docs = read_table(spark, SF_SMOKE, "documents")
        flat = with_hashed_shingles(
            docs.select("source", "text"), "text", 3, distinct=False
        ).select("source", F.explode("shingles_h").alias("h"))
        opt = flat._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("split(") == 1


class TestMediaDecodeContracts:
    """The decode family's scale property: decoding is embarrassingly
    parallel — one Arrow MapInPandas over the media scan, ZERO
    exchanges. A shuffle appearing in these plans means someone broke
    the narrow pipeline (e.g. an accidental repartition or join)."""

    @pytest.mark.parametrize(
        "name",
        ["llm_media_decode", "llm_media_decode_audio", "llm_media_decode_frames"],
    )
    def test_decode_is_shuffle_free_map_in_pandas(self, spark, name):
        plan = _plan(QUERIES[name].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange") == 0, plan
        assert "MapInPandas" in plan

    def test_media_features_shuffle_free(self, spark):
        plan = _plan(QUERIES["llm_media_features"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange") == 0, plan

    def test_frame_sample_range_join_is_keyed(self, spark):
        """The sample-time -> frame range join must key on media_id
        (sort-merge — the scale-correct plan: both sides grow with the
        corpus, nothing is broadcastable) with the interval condition
        as a join residual, never a cartesian/nested-loop pairing of
        all samples with all frames."""
        plan = _plan(
            QUERIES["llm_media_frame_sample"].spark(spark, SF_SMOKE), "simple"
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan


class TestRound6PlanContracts:
    def test_editdist_gram_df_join_broadcasts(self, spark):
        """Ed-Join's gram-frequency join must be a broadcast (the df
        table is bounded by |charset|^q, corpus-independent) and the
        candidate self-join must never degenerate to a cartesian
        pairing."""
        plan = _plan(QUERIES["llm_dedup_editdist"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_tfidf_df_preaggregated_before_join(self, spark):
        """TF-IDF joins tf against a PRE-AGGREGATED one-row-per-term df
        table (never the raw term stream against itself) and the top-k
        uses WindowGroupLimit, so the rank filter prunes below the
        per-doc sort."""
        plan = _plan(QUERIES["llm_tfidf_keywords"].spark(spark, SF_SMOKE), "simple")
        assert "WindowGroupLimit" in plan, plan
        assert "CartesianProduct" not in plan

    def test_profile_single_scan_no_expand(self, spark):
        """qa_profile: one scan + two hash aggregates for ANY column
        count — no Expand-based multi-COUNT(DISTINCT) plan (Expand
        multiplies the scan k-fold), no per-column jobs."""
        plan = _plan(QUERIES["qa_profile"].spark(spark, SF_SMOKE), "simple")
        assert "Expand" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 2, plan

    def test_triangles_no_cartesian_no_global_sort(self, spark):
        """Degree-ordered triangle counting must never pair arbitrary
        rows (no cartesian) and must not rank nodes with a global
        row_number (a one-partition sort at scale) — the (deg,id)
        struct comparison replaces it."""
        plan = _plan(QUERIES["llm_graph_triangles"].spark(spark, SF_SMOKE), "simple")
        assert "CartesianProduct" not in plan
        assert "Window" not in plan, plan

    def test_quantized_topk_broadcasts_queries(self, spark):
        """The quantized scorer broadcasts the (small) query set over
        the corpus scan — same shape as brute_force_topk: a
        BroadcastNestedLoopJoin over the bounded query side, never a
        shuffled cartesian."""
        plan = _plan(QUERIES["llm_sim_quantized"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "CartesianProduct" not in plan

    def test_ntile_bands_sort_is_distributed(self, spark):
        """NTILE within priority classes must hash-partition by the
        class key — never collapse to a single-partition global sort."""
        plan = _plan(QUERIES["win_ntile_bands"].spark(spark, SF_SMOKE), "simple")
        assert "Exchange hashpartitioning" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan


class TestRound7PlanContracts:
    def test_chunking_is_shuffle_free(self, spark):
        """Chunking is a narrow map: explode+slice, ZERO exchanges."""
        plan = _plan(QUERIES["llm_chunking"].spark(spark, SF_SMOKE), "simple")
        assert "Exchange" not in plan, plan

    def test_dsir_model_side_broadcasts(self, spark):
        """Both DSIR LMs are O(n_buckets) tables: the per-document
        join must consume them via broadcast, never shuffle the
        corpus against the model."""
        plan = _plan(QUERIES["llm_dsir_weights"].spark(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, plan

    def test_lm_score_joins_on_types_model_preaggregated(self, spark):
        """The LM re-join is keyed on bigram TYPES with the model side
        pre-aggregated — the plan must aggregate (HashAggregate)
        before the join, and never form a cartesian product."""
        plan = _plan(QUERIES["llm_lm_score"].spark(spark, SF_SMOKE), "simple")
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan

    def test_weighted_reservoir_sort_is_distributed(self, spark):
        """A-ES top-k per source: window hash-partitions by source and
        keeps <= k rows per key per task before the sort."""
        plan = _plan(
            QUERIES["samp_weighted_reservoir"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Exchange hashpartitioning" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
        assert "WindowGroupLimit" in plan, plan

    def test_ccnet_buckets_ntile_distributed(self, spark):
        """Per-language terciles: PARTITION BY lang keeps the rank
        sort hash-partitioned on lang — never a single-partition
        global sort. (ONE SinglePartition exchange is expected and
        allowed: the 1-row final merge of the scalar vocabulary
        count-distinct, not a data sort.)"""
        plan = _plan(QUERIES["llm_ccnet_buckets"].spark(spark, SF_SMOKE), "simple")
        assert "Exchange hashpartitioning(lang" in plan, plan
        assert plan.count("Exchange SinglePartition") <= 1, plan
        # the window's sort must be the partial (per-partition) kind
        import re

        m = re.search(r"Sort \[lang[^\n]*\], (\w+),", plan)
        assert m and m.group(1) == "false", plan  # global=false

    def test_pca_moments_shuffle_carries_partials_only(self, spark):
        """The PCA moment reduce shuffles (i, j) keyed partial sums —
        the exchange must sit ABOVE the mapInPandas stage (partials),
        and the scan must prune to the embedding column."""
        from steam_data_pipeline_spark.llm import pca as P
        from steam_data_pipeline_spark.sources.tables import read_table

        emb = read_table(spark, SF_SMOKE, "embeddings")
        plan = _plan(P.moment_sums(emb), "simple")
        assert "MapInPandas" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "vec_id" not in plan  # column pruned: only embedding read

    def test_lateral_topk_decorrelates(self, spark):
        """The correlated LATERAL subquery must be rewritten to the
        distributed top-N shape: WindowGroupLimit + ONE hash exchange,
        never a per-outer-row nested execution or cartesian."""
        plan = _plan(QUERIES["join_lateral_topk"].spark(spark, SF_SMOKE), "simple")
        assert "WindowGroupLimit" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_bm25_terms_broadcast_into_token_stream(self, spark):
        """The query-term list must broadcast (inverted-index probe
        shape): only matching postings leave the scan; the final top-k
        is TakeOrderedAndProject, not a global sort."""
        plan = _plan(QUERIES["llm_bm25_search"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_hybrid_search_both_legs_take_ordered(self, spark):
        """RRF fuses two top-20 lists: each leg must cut to k via
        TakeOrderedAndProject before the fusion join."""
        plan = _plan(QUERIES["llm_hybrid_search"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("TakeOrderedAndProject") >= 2, plan
        assert "CartesianProduct" not in plan, plan

    def test_mv_refresh_recompute_is_partition_pruned(self, spark):
        """The MV refresh's rebuild leg must read ONLY the affected
        day partitions: the semi join against the batch's day set has
        to inject a runtime pruning subquery into the partitioned
        scan, and both maintenance joins (anti drop + semi rebuild)
        must broadcast the tiny day set — refresh cost scales with the
        batch's day span, never with the stored table."""
        plan = _plan(QUERIES["sink_mv_refresh"].spark(spark, SF_SMOKE))
        assert "dynamicpruning" in plan.lower(), plan
        assert "CartesianProduct" not in plan, plan
        simple = _plan(QUERIES["sink_mv_refresh"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in simple and "LeftAnti" in simple, simple


class TestGlobalPlanAudit:
    """Registry-wide anti-pattern sweep: every registered query's
    physical plan is screened, not just the individually-contracted
    ones. Two patterns are banned outright at 100 TB:

    * ``CartesianProduct`` — an unbroadcast cross join over data-sized
      relations. Every intentional crossJoin in the repo pairs with a
      broadcast small side (query vectors, centroids, 1-row aggregates)
      and must therefore plan as BroadcastNestedLoopJoin.
    * ``BatchEvalPython`` — the row-at-a-time Python UDF path. All
      Python crossings must be Arrow-vectorized (ArrowEvalPython /
      FlatMapGroupsInPandas / MapInPandas / FlatMapCoGroupsInPandas).

    Building a plan only plans (no execution), so the sweep is cheap;
    queries that execute work at build time (streaming harnesses,
    fixture writes) still only pay sf0.001.
    """

    def test_no_cartesian_no_rowwise_python_anywhere(self, spark):
        bad: list[str] = []
        for name, q in sorted(QUERIES.items()):
            try:
                plan = _plan(q.spark(spark, SF_SMOKE), "simple")
            except Exception as e:  # noqa: BLE001 - report, don't mask
                bad.append(f"{name}: plan build failed: {e}")
                continue
            if "CartesianProduct" in plan:
                bad.append(f"{name}: CartesianProduct")
            if "BatchEvalPython" in plan:
                bad.append(f"{name}: row-at-a-time BatchEvalPython")
        assert not bad, "\n".join(bad)


class TestRound7bPlanContracts:
    def test_asof_nearest_single_shuffle(self, spark):
        """Both RANGE-framed windows (backward max, forward min) must
        share one (key, ts) exchange+sort — the whole nearest-join is
        a single shuffle, never a range join."""
        plan = _plan(QUERIES["join_asof_nearest"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan

    def test_attribution_single_shuffle(self, spark):
        """Bounded-lookback attribution = one union-tag window pass:
        exactly one exchange, no join operator at all."""
        plan = _plan(
            QUERIES["win_attribution_last_touch"].spark(spark, SF_SMOKE), "simple"
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan

    def test_discretize_histogram_not_fact_sort(self, spark):
        """The cumsum window must sort the (category, value) HISTOGRAM,
        not the fact table: the fact side contributes only
        hash-aggregates, and the histogram window is the only sort."""
        plan = _plan(
            QUERIES["feat_discretize_quantile"].spark(spark, SF_SMOKE), "simple"
        )
        assert "HashAggregate" in plan
        assert plan.count("Sort ") <= 2  # histogram window sort (+AQE variant)

    def test_feat_encodings_broadcast_back(self, spark):
        """Target/WOE encodings join tiny category stats back onto the
        fact via broadcast — the fact table must never sort-merge."""
        for name in ("feat_target_encode_loo", "feat_woe_encode"):
            plan = _plan(QUERIES[name].spark(spark, SF_SMOKE), "simple")
            assert "SortMergeJoin" not in plan, name

    def test_point_in_time_two_shuffles_same_key(self, spark):
        """SCD2 collapse + union-tag window = exactly two exchanges,
        both hash-partitioned on the user key; never a range join."""
        plan = _plan(QUERIES["join_point_in_time"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan

    def test_standard_scale_broadcasts_moments(self, spark):
        """Exact-moment z-score joins the 5-row stats back by
        broadcast; the fact table must never sort-merge or re-shuffle."""
        plan = _plan(QUERIES["feat_standard_scale"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_bucketed_join_zero_exchanges(self, spark):
        """Co-bucketed orders x lineitem + per-order rollup must run
        with ZERO exchanges of any kind — the shuffle was paid once at
        write time (write_bucketed)."""
        plan = _plan(QUERIES["join_bucket_colocated"].spark(spark, SF_SMOKE), "simple")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

    def test_drift_battery_spine_windows_only(self, spark):
        """KS and MWU cumsums run over the fixed 256-bin spine: the
        fact table contributes only hash-aggregates, never a sort."""
        for name in ("qa_ks_drift", "agg_mwu_auc"):
            plan = _plan(QUERIES[name].spark(spark, SF_SMOKE), "simple")
            assert "HashAggregate" in plan, name

    def test_ohlc_is_single_aggregate_no_window(self, spark):
        """OHLC via struct min/max must compile to one shuffle and NO
        window operator (the whole point vs the first_value shape)."""
        plan = _plan(QUERIES["agg_ohlc_bars"].spark(spark, SF_SMOKE), "simple")
        assert "Window" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestRound7cPlanContracts:
    def test_anti_window_has_no_join(self, spark):
        """The temporal anti 'join' must compile to a window + filter,
        never any join operator (the NOT EXISTS range self-join is the
        shape it deliberately avoids)."""
        plan = _plan(QUERIES["join_anti_window"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert "Window" in plan

    def test_drawdown_single_window_exchange(self, spark):
        """Cumsum and running max share one (user_id) exchange — the
        two window selects must not re-shuffle."""
        plan = _plan(QUERIES["win_drawdown"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_gap_fill_windows_share_sort(self, spark):
        """Backward and forward IGNORE-NULLS walks order by the same
        (user_id, day): one window exchange, join exchanges aside."""
        plan = _plan(
            QUERIES["win_gap_fill_interpolate"].spark(spark, SF_SMOKE), "simple"
        )
        assert plan.count("Window") <= 2, plan

    def test_ols_is_single_aggregate(self, spark):
        """The whole OLS fit is one partial+final aggregate pair over
        the scan — no keyed shuffle at all."""
        plan = _plan(QUERIES["feat_ols_normal_eq"].spark(spark, SF_SMOKE), "simple")
        assert "Exchange hashpartitioning" not in plan, plan
        assert "HashAggregate" in plan

    def test_unpivot_expands_after_aggregate(self, spark):
        """Expand must sit ABOVE the aggregate (melt the 25-row agg,
        never the fact scan): exactly one keyed exchange, and the plan
        contains the Expand operator unpivot compiles to."""
        plan = _plan(QUERIES["proj_unpivot_melt"].spark(spark, SF_SMOKE), "simple")
        assert "Expand" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_mad_medians_broadcast_back(self, spark):
        """Median/MAD dims (5 rows) must broadcast onto the fact —
        a sort-merge join here would re-shuffle the fact twice."""
        plan = _plan(QUERIES["qa_outlier_mad"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_freshness_global_max_broadcasts(self, spark):
        """The 1-row global high-water mark joins via broadcast nested
        loop; the per-type agg is the only keyed exchange."""
        plan = _plan(QUERIES["qa_freshness_lag"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestRound8PlanContracts:
    def test_stream_stream_left_join_watermarks_and_range(self, spark):
        """The outer stream-stream join is only state-bounded if BOTH
        inputs carry an EventTimeWatermark and the join condition has
        the two-sided time range Spark derives eviction from — losing
        either silently turns the state store unbounded."""
        from steam_data_pipeline_spark.plans.extensions import (
            _build_stream_stream_left_join,
        )

        plan = _plan(
            _build_stream_stream_left_join(spark, SF_SMOKE), "extended"
        )
        analyzed = plan.split("== Analyzed Logical Plan ==")[1].split(
            "== Optimized"
        )[0]
        assert analyzed.count("EventTimeWatermark") == 2, analyzed
        assert "LeftOuter" in analyzed, analyzed
        # both range bounds present: lower (e_ts > p_ts) and the 1 h
        # upper bound state eviction is computed from
        assert "e_ts" in analyzed and "INTERVAL '01' HOUR" in analyzed, analyzed

    def test_wilson_ci_single_aggregate(self, spark):
        """The whole Wilson interval is one map-side-combined agg on
        source plus post-agg float math on the 5-row domain: exactly
        one keyed exchange, no join, no window."""
        plan = _plan(QUERIES["agg_wilson_ci"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_chisq_spine_joins_all_broadcast(self, spark):
        """Chi-square cell math runs on the bounded (lang x 2) spine:
        the marginal/total attachments must all broadcast (the 1-row n
        and 2-row ct via nested-loop, cells via hash) — a sort-merge
        join anywhere means the spine shape regressed to fact-sized."""
        plan = _plan(
            QUERIES["qa_chisq_categorical"].spark(spark, SF_SMOKE), "simple"
        )
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestRound8WavePlanContracts:
    def test_full_join_watermarks_and_range(self, spark):
        """Full-outer stream-stream join: both EventTimeWatermarks and
        the two-sided range condition must survive into the analyzed
        plan (state is unbounded without either)."""
        from steam_data_pipeline_spark.plans.extensions import (
            _read_events_stream,
        )

        cutoff = F.lit("2024-01-04").cast("timestamp")
        left = (
            _read_events_stream(spark, SF_SMOKE)
            .withWatermark("ts", "1 hour")
            .filter((F.col("event_type") == "purchase") & (F.col("ts") < cutoff))
            .select("user_id", F.col("ts").alias("p_ts"),
                    F.col("event_id").alias("p_id"))
        )
        right = (
            _read_events_stream(spark, SF_SMOKE)
            .withWatermark("ts", "1 hour")
            .filter((F.col("event_type") == "error") & (F.col("ts") < cutoff))
            .select(F.col("user_id").alias("r_user_id"),
                    F.col("ts").alias("e_ts"),
                    F.col("event_id").alias("e_id"))
        )
        j = left.join(
            right,
            F.expr("user_id = r_user_id AND e_ts > p_ts "
                   "AND e_ts <= p_ts + interval 1 hour"),
            "fullOuter",
        )
        plan = _plan(j, "extended")
        analyzed = plan.split("== Analyzed Logical Plan ==")[1].split(
            "== Optimized"
        )[0]
        assert analyzed.count("EventTimeWatermark") == 2, analyzed
        assert "FullOuter" in analyzed, analyzed
        assert "INTERVAL '01' HOUR" in analyzed, analyzed

    def test_cuped_theta_broadcasts_back(self, spark):
        """CUPED's pooled theta (1 row) must broadcast onto the 2-row
        variant table — never a sort-merge join anywhere."""
        plan = _plan(QUERIES["feat_cuped_adjust"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_delta_method_pure_aggregate(self, spark):
        """Delta-method CI is two chained aggregates (user, variant)
        with all interval math post-agg: no join, no window."""
        plan = _plan(
            QUERIES["agg_delta_method_ci"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_theil_sen_pairs_on_spine_only(self, spark):
        """Pairwise slopes must be spine x spine (broadcast nested
        loop over the aggregated daily grain), never fact x fact, and
        never a cartesian without broadcast."""
        plan = _plan(QUERIES["win_theil_sen"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_winsorized_edges_broadcast_onto_histogram(self, spark):
        """Percentile edges join back to the HISTOGRAM via broadcast
        hash join; the fact table feeds exactly one aggregate and is
        never globally sorted."""
        plan = _plan(
            QUERIES["agg_winsorized_mean"].spark(spark, SF_SMOKE), "simple"
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_minhash_recommender_no_cartesian(self, spark):
        """The LSH candidate join must stay a hash join on exploded
        (table, minhash) keys — approxSimilarityJoin's bucket path,
        never a cartesian similarity scan."""
        plan = _plan(
            QUERIES["udf_recommender_minhash"].spark(spark, SF_SMOKE), "simple"
        )
        assert "CartesianProduct" not in plan, plan

    def test_ttest_welch_broadcast_only(self, spark):
        """Welch t: per-user + per-variant aggregates, then 1-row
        spine math — joins must all be broadcast, no window."""
        plan = _plan(QUERIES["agg_ttest_welch"].spark(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" not in plan, plan
        assert "Window" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_mann_kendall_pairs_on_spine_only(self, spark):
        """MK sign pairs are spine x spine via broadcast nested loop;
        tie counts come from a groupBy on the spine value domain —
        the fact table is never self-joined."""
        plan = _plan(QUERIES["agg_mann_kendall"].spark(spark, SF_SMOKE), "simple")
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_forecast_ar2_single_keyed_exchange(self, spark):
        """AR(2): the daily collapse is the only keyed shuffle; lag
        moments and the unrolled recursion run on the 1-row spine."""
        plan = _plan(QUERIES["win_forecast_ar2"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SortMergeJoin" not in plan, plan

    def test_bollinger_no_join_single_keyed_exchange(self, spark):
        """Bollinger bands: one map-side-combined daily agg, one RANGE
        window over the spine — no join anywhere."""
        plan = _plan(
            QUERIES["win_bollinger_bands"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_isotonic_minimax_on_bin_spine_only(self, spark):
        """Isotonic calibration: one histogram agg touches the fact;
        the minimax triples join broadcast on the bounded bin spine —
        no sort-merge join, no cartesian."""
        plan = _plan(
            QUERIES["feat_isotonic_calibrate"].spark(spark, SF_SMOKE), "simple"
        )
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_power_mde_pure_aggregate(self, spark):
        """Power/MDE: per-user agg + 1-row moment agg, design math
        post-agg — no join, no window."""
        plan = _plan(QUERIES["agg_power_mde"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_backtest_ar1_windows_on_spine_no_join(self, spark):
        """Rolling-origin backtest: daily collapse is the only keyed
        exchange; every per-origin fit is window math — no join, no
        per-origin recomputation stage."""
        plan = _plan(QUERIES["win_backtest_ar1"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_hill_topk_on_value_domain(self, spark):
        """Hill estimator: one histogram agg on the fact; cum-from-top
        and the ln stage run on the value domain with the x_k row
        broadcast back — no sort-merge join, no fact-table sort."""
        plan = _plan(
            QUERIES["agg_hill_tail_index"].spark(spark, SF_SMOKE), "simple"
        )
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_holt_winters_grouped_map_single_shuffle(self, spark):
        """HW is the canonical grouped-map shape: daily collapse +
        one key shuffle into FlatMapGroupsInPandas — no join."""
        plan = _plan(QUERIES["udtf_forecast_hw"].spark(spark, SF_SMOKE), "simple")
        assert "FlatMapGroupsInPandas" in plan, plan
        assert "Join" not in plan, plan

    def test_asof_tolerance_single_shuffle(self, spark):
        """The tolerance knob must stay a post-fill null-out on the
        SAME single union-tag window as join_asof_backward — one
        (key, ts) exchange, no join operator, no range-join
        cartesian sneaking in via the interval arithmetic."""
        plan = _plan(
            QUERIES["join_asof_tolerance"].spark(spark, SF_SMOKE), "simple"
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_hw_stateful_stream_state_plan(self, spark):
        """Streaming Holt-Winters must be the real custom-state
        operator: FlatMapGroupsInPandasWithState keyed on event_type
        in Append mode, with the full O(1) state struct (n, level,
        trend, 7 seasonals, 14-slot warmup buffer = 24 fields) — a
        schema drift here silently corrupts resumed checkpoints."""
        from steam_data_pipeline_spark.plans.extensions import (
            _prepare_hw_stream_fixture,
        )
        from steam_data_pipeline_spark.streaming.stateful import (
            streaming_holt_winters,
        )

        out_dir = _prepare_hw_stream_fixture(spark, SF_SMOKE)
        stream = (
            spark.readStream.schema(
                "event_type string, day timestamp, cents long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(out_dir)
        )
        analyzed = str(
            streaming_holt_winters(stream)._jdf.queryExecution().analyzed()
        )
        assert "FlatMapGroupsInPandasWithState" in analyzed, analyzed
        assert "[event_type#" in analyzed, analyzed  # keyed on event_type
        assert "Append, NoTimeout" in analyzed, analyzed
        # count state fields on the operator line only (the source
        # relation line repeats StructField for its 3 input columns)
        op_line = analyzed.splitlines()[0]
        assert op_line.count("StructField") == 24, op_line

    def test_assoc_rules_pairs_never_self_join(self, spark):
        """Apriori made physical: the quadratic pair step must expand
        pruned per-basket ARRAYS (codegen explode), never a basket
        self-join, and every count re-attachment must broadcast —
        a SortMergeJoin or cartesian here is the n^2 shuffle this
        operator exists to avoid."""
        plan = _plan(QUERIES["agg_assoc_rules"].spark(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "Generate explode" in plan, plan

    def test_fdr_battery_single_fact_agg(self, spark):
        """The 35-cell test battery is ONE map-side-combined
        conditional agg on the fact; ranking/step-up run on the
        single-partition spine — no join anywhere."""
        plan = _plan(QUERIES["agg_fdr_bh"].spark(spark, SF_SMOKE), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_purged_split_spine_broadcast(self, spark):
        """The 3-row fold spine must reach the fact via broadcast
        nested loop (one pass, no shuffle before the 9-cell agg)."""
        plan = _plan(
            QUERIES["feat_split_time_purged"].spark(spark, SF_SMOKE), "simple"
        )
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_sprt_monitor_single_fact_agg(self, spark):
        """The always-valid monitor is one map-side-combined daily agg
        on the fact; cumulative moments, the likelihood ratio, and the
        running peak are all day-spine windows — no join, exactly one
        keyed exchange."""
        plan = _plan(
            QUERIES["win_sprt_always_valid"].spark(spark, SF_SMOKE), "simple"
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
        assert "HashAggregate" in plan, plan

    def test_expanding_encode_single_shuffle_no_join(self, spark):
        """Both expanding moments share one (user) exchange+sort;
        there is no join and no second shuffle anywhere."""
        plan = _plan(
            QUERIES["feat_target_encode_expanding"].spark(spark, SF_SMOKE),
            "simple",
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
        assert "Window" in plan, plan


class TestRound9PlanContracts:
    def test_pipeline_daily_run_broadcasts_pool_everywhere(self, spark):
        """The EP1 composition's scale contract: candidate scans are
        TakeOrderedAndProject heaps (never full sorts), the few-hundred-
        key pool/dim side BROADCASTS against every fact/dim scan (no
        SortMergeJoin anywhere), and there is no cartesian. The only
        shuffles are the keyed aggregates and the merge window."""
        plan = _plan(QUERIES["pipeline_daily_run"].spark(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 5, plan
        assert plan.count("TakeOrderedAndProject") >= 3, plan
        # the merge window's partition-local sort is the only Sort-
        # adjacent node allowed; a global Exchange rangepartitioning
        # would mean a candidate scan fell off its heap
        assert "rangepartitioning" not in plan, plan

    def test_incremental_persisted_prunes_index_partitions(self, spark, tmp_path):
        """The persisted-index probe must reach the parquet scan as a
        bucket PartitionFilter (the touched-bucket list), never a full
        index read — the flat-in-corpus-size property rehearsed in
        SCALE.md round 9. Contracted on probe_signature_index directly:
        the registered query consumes the probe through an eager
        localCheckpoint, so its final plan shows only ExistingRDD."""
        from steam_data_pipeline_spark.llm.dedup import (
            banded_signatures,
            persist_signature_index,
            probe_signature_index,
        )
        from steam_data_pipeline_spark.sources.tables import read_table

        docs = read_table(spark, SF_SMOKE, "documents")
        corpus = docs.filter(F.col("doc_id") % 4 != 0)
        new_b = banded_signatures(docs.filter(F.col("doc_id") % 4 == 0))
        path = str(tmp_path / "mhidx")
        persist_signature_index(banded_signatures(corpus), path)
        plan = _plan(probe_signature_index(spark, path, new_b), "formatted")
        pf = [
            ln for ln in plan.splitlines()
            if "PartitionFilters" in ln and "bucket_grp" in ln
        ]
        assert pf and any("IN" in ln or "in(" in ln for ln in pf), plan
        # and the fine-grained bucket IN must reach parquet stats
        assert any(
            "bucket" in ln.split("PushedFilters:")[-1]
            for ln in plan.splitlines() if "PushedFilters" in ln
        ), plan
        # and the registered composite stays cartesian-free
        qplan = _plan(
            QUERIES["llm_dedup_incremental_persisted"].spark(spark, SF_SMOKE),
            "simple",
        )
        assert "CartesianProduct" not in qplan, qplan

    def test_dataset_card_spine_only(self, spark):
        """Both accounting aggs map-side combine; the dominant-language
        pick is a window on the bounded (source x lang) spine and
        re-attaches by broadcast — no fact-grain join or window."""
        plan = _plan(QUERIES["llm_dataset_card"].spark(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert plan.count("Exchange hashpartitioning") <= 4, plan

    def test_ngram_novelty_no_doc_self_join(self, spark):
        """Novelty is explode -> DF agg -> re-attach by shingle key ->
        per-doc agg: two keyed exchanges, no doc-x-doc join."""
        plan = _plan(QUERIES["llm_ngram_novelty"].spark(spark, SF_SMOKE), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "Generate explode" in plan, plan
        assert plan.count("Exchange hashpartitioning") <= 3, plan

    def test_interval_coverage_single_exchange(self, spark):
        """The sweep's window and the per-user agg share ONE user-keyed
        exchange; the naive range self-join shape is banned."""
        plan = _plan(
            QUERIES["win_interval_coverage"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Window" in plan, plan

    def test_debounce_single_exchange_grouped_map(self, spark):
        """The recursive accept-chain runs through sorted_grouped_map:
        one keyed exchange + partition sort + ONE MapInPandas (Python
        per Arrow batch, not per group — the many-small-groups fix);
        never the per-group FlatMapGroupsInPandas node, no join."""
        plan = _plan(QUERIES["win_debounce"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert plan.count("MapInPandas") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_kfold_encode_spine_windows_no_join(self, spark):
        """One map-side-combined fact agg to the ~|types|x5 spine; the
        complement totals are spine windows — no join, two keyed
        exchanges (cells, then the per-type window)."""
        plan = _plan(
            QUERIES["feat_target_encode_kfold"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "Window" in plan, plan

    def test_lorenz_deciles_spine_only(self, spark):
        """Fact collapses to the user spine in one keyed exchange;
        ranking/deciles run on the spine's single partition — no
        join, no fact-grain window."""
        plan = _plan(QUERIES["agg_lorenz_deciles"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_event_id_gaps_shared_sort(self, spark):
        """The lag window and the per-type agg share ONE keyed
        exchange+sort (the win_islands shape); no join."""
        plan = _plan(QUERIES["qa_event_id_gaps"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Window" in plan, plan

    def test_rare_collapse_single_fact_scan_no_python(self, spark):
        """JSON extraction + category derivation stay JVM-side; one
        map-side-combined agg to the bounded category spine, spine
        windows after — no join, no Python eval."""
        plan = _plan(
            QUERIES["feat_rare_category_collapse"].spark(spark, SF_SMOKE),
            "simple",
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_stream_static_enrich_broadcasts_dim(self, spark):
        """The static dim must broadcast into every micro-batch (no
        stream-side shuffle join, no watermarked join state) and the
        stream leg must be a streaming relation."""
        from steam_data_pipeline_spark.plans.extensions import (
            _build_stream_static_enrich,
        )

        plan = _plan(_build_stream_static_enrich(spark, SF_SMOKE), "extended")
        analyzed = plan.split("== Analyzed Logical Plan ==")[1].split(
            "== Optimized"
        )[0]
        assert "StreamingRelation" in analyzed, analyzed
        optimized = plan.split("== Optimized Logical Plan ==")[1]
        assert "broadcast" in optimized or "BroadcastHint" in optimized, plan
        assert "EventTimeWatermark" not in analyzed, analyzed


class TestRound9ThirdWaveContracts:
    def test_peak_concurrency_spine_window_no_join(self, spark):
        """Sweep-line deltas collapse to the distinct-timestamp spine
        in a map-side-combined agg BEFORE any window; the running sum
        and peak windows run per event_type — no join, no interval
        materialization, two keyed exchanges ((type,t) agg, then the
        type-keyed window)."""
        plan = _plan(
            QUERIES["win_peak_concurrency"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert plan.count("Window") == 2, plan
        assert "partial_sum" in plan, plan  # map-side combine of deltas

    def test_rfm_segments_small_input_takes_plain_ntile(self, spark):
        """Round-11 size gate: at smoke/interactive scale Catalyst
        estimates the customer spine far under SMALL_SPINE_BYTES, so
        the registered query runs the plain window ntile (no histogram
        fixed cost) — property-tested bit-identical to the scalable
        path. The at-scale histogram shape is pinned separately below
        (small_bytes=0)."""
        plan = _plan(QUERIES["win_rfm_segments"].spark(spark, SF_SMOKE), "simple")
        assert "ntile" in plan, plan
        assert "__bin" not in plan, plan  # no histogram machinery paid

    def test_rfm_segments_at_scale_plan_is_spine_only(self, spark):
        """The AT-SCALE side of the gate (small_bytes=0 — what any
        input over SMALL_SPINE_BYTES gets): the customer spine is
        NEVER sorted on one partition — every Exchange
        SinglePartition belongs to a <=4096-row bin-histogram running
        sum (it sits directly above that histogram's hash aggregate),
        the per-row ranking windows are hash-partitioned by __bin, and
        no raw ntile appears anywhere."""
        from steam_data_pipeline_spark.operators.ranks import (
            scalable_ntile_desc_multi,
        )
        from steam_data_pipeline_spark.sources.tables import read_table

        per_cust = (
            read_table(spark, SF_SMOKE, "orders")
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("freq"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("cents"),
            )
        )
        scored = scalable_ntile_desc_multi(
            per_cust,
            5,
            [("freq", "f_score"), ("cents", "m_score")],
            key="o_custkey",
            small_bytes=0,
        )
        plan = _plan(scored, "simple")
        assert "ntile" not in plan, plan
        assert "__bin" in plan, plan  # hash-partitioned ranking windows
        # the spine collapse + per-bin window shuffles are keyed
        assert plan.count("Exchange hashpartitioning") >= 3, plan
        # every one-partition exchange must feed a BOUNDED subtree:
        # either the scalar min/max/count spine (keys=[]) or a
        # <=4096-row bin-histogram running sum (keys=[__bin_*]) —
        # never the raw customer spine
        lines = plan.splitlines()
        singles = [
            i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln
        ]
        assert singles, plan
        for i in singles:
            nxt = lines[i + 1]
            assert (
                "HashAggregate(keys=[]" in nxt
                or "HashAggregate(keys=[__bin" in nxt
            ), nxt

    def test_cohort_ltv_no_cartesian_no_python(self, spark):
        """Purchases collapse to (user, week) / user grains map-side;
        joins stay key-equi (broadcast at smoke scale), the cumulative
        window runs on the bounded cohort x age cell spine."""
        plan = _plan(QUERIES["agg_cohort_ltv"].spark(spark, SF_SMOKE), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "Window" in plan, plan
        assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan, plan

    def test_mix_temperature_spine_arithmetic(self, spark):
        """One map-side-combined count per source; the normalizer is a
        DECIMAL(38,18) sum (order-independent) broadcast back as a
        1-row bounds join — no Python, no fact-grain join."""
        plan = _plan(QUERIES["llm_mix_temperature"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "decimal(38,18)" in plan, plan
        assert plan.count("Exchange hashpartitioning") <= 2, plan

    def test_conversion_lag_no_fact_self_join_blowup(self, spark):
        """Purchases reduce to the user spine BEFORE the play join (the
        join's build side is the spine, never raw events x events);
        ts > pts rides as the join residual and the median is one
        global exact-percentile agg."""
        plan = _plan(QUERIES["agg_conversion_lag"].spark(spark, SF_SMOKE), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "percentile" in plan, plan


class TestAnnPersistedPruningContracts:
    """DPP does NOT fire for the ANN probe joins (measured round 9) —
    the probed-set IN predicate must therefore be pushed statically
    and appear as a PartitionFilters INSET on the reloaded scans."""

    def test_lsh_persisted_probe_prunes_partitions(self, spark, tmp_path):
        from steam_data_pipeline_spark.llm import simsearch as S
        from steam_data_pipeline_spark.sources.tables import read_table

        emb = read_table(spark, SF_SMOKE, "embeddings")
        d = str(tmp_path / "lshidx")
        S.save_lsh_index(S.build_lsh_index(emb), d)
        queries = emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.lsh_topk(emb, queries, k=5, index=S.load_lsh_index(spark, d))
        plan = _plan(out, "simple")
        # bucket-GROUP layout (r13): directory pruning on the probed
        # groups (PartitionFilters on __bgrp) AND the probed-bucket IN
        # pushed to parquet stats (PushedFilters on __bucket)
        pruned = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln
            and "PartitionFilters: [__bgrp" in ln
            and ("INSET" in ln or " IN (" in ln)
            and "__bucket" in ln.split("PushedFilters:")[-1]
        ]
        assert len(pruned) == 2, plan  # both tables' scans pruned

    def test_ivf_persisted_probe_prunes_partitions(self, spark, tmp_path):
        from steam_data_pipeline_spark.llm import simsearch as S
        from steam_data_pipeline_spark.sources.tables import read_table

        emb = read_table(spark, SF_SMOKE, "embeddings")
        d = str(tmp_path / "ivfidx")
        S.save_ivf_index(S.build_ivf_index(emb), d)
        queries = emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.ivf_topk(
            emb, queries, k=5, index=S.load_ivf_index(spark, d), n_probe=3
        )
        plan = _plan(out, "simple")
        pruned = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln
            and "PartitionFilters: [centroid_id" in ln
            and ("INSET" in ln or " IN (" in ln)  # Catalyst renders small sets as IN
        ]
        assert len(pruned) == 1, plan


class TestRound9FourthWaveContracts:
    def test_skyline_no_self_join(self, spark):
        """The naive skyline is an O(n^2) dominance self-join; the
        window formulation must have ZERO joins — two windows over one
        price-ordered sort (range frame + same-price partition), and
        (round 10) the single-partition sort must be fed by the LOCAL
        skyline pre-prune (operators/skyline.py), never the raw scan:
        the MapInPandas prune sits BELOW the Exchange SinglePartition
        in the tree (children print after parents in simple explain)."""
        plan = _plan(QUERIES["agg_skyline_pareto"].spark(spark, SF_SMOKE), "simple")
        assert "Join" not in plan, plan
        assert plan.count("Window") == 2, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert plan.count("MapInPandas") == 1, plan
        single = plan.index("Exchange SinglePartition")
        prune = plan.index("MapInPandas")
        assert single < prune, plan

    def test_calibration_bins_single_agg(self, spark):
        """One map-side-combined agg to the 10-row bin spine; no join,
        no window, no Python."""
        plan = _plan(
            QUERIES["feat_calibration_bins"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "partial_" in plan, plan

    def test_dow_seasonality_spine_arithmetic(self, spark):
        """Integer epoch-day weekday derivation stays JVM-side; the
        fact collapses to the (type x 7) spine map-side and the totals
        re-attach by broadcast."""
        plan = _plan(QUERIES["agg_dow_seasonality"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "partial_" in plan, plan

    def test_embedding_centroid_partial_agg_only(self, spark):
        """posexplode -> ONE map-side-combined (label, dim) agg: the
        shuffle carries partial integer sums, never vectors; no join,
        no window, no Python."""
        plan = _plan(
            QUERIES["llm_embedding_centroid"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert "Generate posexplode" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "partial_" in plan, plan


class TestRound10WaveContracts:
    def test_skyline_fact_preprune_below_global_sort(self, spark):
        """The fact-grain skyline must run the local pre-prune
        (MapInPandas) BELOW the single-partition exchange — the raw
        lineitem scan never reaches the global sort — and keep the
        two-window zero-join shape."""
        plan = _plan(
            QUERIES["agg_skyline_pareto_fact"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert plan.count("Window") == 2, plan
        assert plan.count("MapInPandas") == 1, plan
        assert plan.index("Exchange SinglePartition") < plan.index(
            "MapInPandas"
        ), plan

    def test_stickiness_no_self_join_of_facts(self, spark):
        """MAU comes from contribution expansion on the deduped
        user-day grain: the raw fact table is never range-self-joined;
        the day-spine attach is a broadcast semi join."""
        plan = _plan(
            QUERIES["agg_stickiness_dau_mau"].spark(spark, SF_SMOKE), "simple"
        )
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        assert "Generate explode(sequence" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_rolling_median_no_self_join(self, spark):
        """The bounded-frame rolling median is ONE window over the day
        spine (collect_list + array_sort), never the oracle's range
        self-join; one keyed exchange for the daily collapse."""
        plan = _plan(
            QUERIES["win_rolling_median"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert plan.count("Window") == 1, plan
        assert "sort_array" in plan, plan

    def test_cramers_v_spine_math_only(self, spark):
        """One map-side-combined cell agg; marginals/total broadcast;
        no fact-grain window or Python."""
        plan = _plan(QUERIES["agg_cramers_v"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "partial_count" in plan, plan

    def test_funnel_3step_single_exchange_no_join(self, spark):
        """Both funnel windows share ONE (user) exchange+sort — no
        self-join of events anywhere; the three scalar legs cross-join
        1-row aggregates (the sanctioned BNLJ spine)."""
        plan = _plan(
            QUERIES["win_funnel_3step"].spark(spark, SF_SMOKE), "simple"
        )
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        # windows partition by user_id only — never a single-partition
        # window over the fact
        assert "windowspecdefinition(user_id" in plan, plan

    def test_churn_hazard_spine_windows_only(self, spark):
        """Users collapse map-side to lifetime spans; the hazard
        windows run over the bounded age spine (a deliberate bounded
        one-partition cumsum), never user rows."""
        plan = _plan(
            QUERIES["agg_churn_hazard"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert "partial_" in plan, plan
        # the age-spine cumsum sits above the per-age aggregate, not
        # the raw per-user rows
        lines = _plan(
            QUERIES["agg_churn_hazard"].spark(spark, SF_SMOKE), "simple"
        ).splitlines()
        singles = [
            i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln
        ]
        for i in singles:
            assert "HashAggregate" in lines[i + 1], lines[i + 1]


class TestRound10SecondWaveContracts:
    def test_greedy_allocation_one_fact_shuffle(self, spark):
        """Supply joins broadcast on the part dim; the priority window
        and the per-part rollup share ONE l_partkey exchange — the
        whole allocation is a single fact shuffle, no sort-merge."""
        plan = _plan(
            QUERIES["win_greedy_allocation"].spark(spark, SF_SMOKE), "simple"
        )
        assert "SortMergeJoin" not in plan, plan
        assert "Python" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_max_subarray_one_exchange_two_windows(self, spark):
        """Both Kadane windows (cumsum, running min of its lag) and
        the per-user rollup share ONE (user, ts) exchange+sort — the
        O(n^2) subarray definition with zero self-joins."""
        plan = _plan(
            QUERIES["win_max_subarray"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "windowspecdefinition(user_id" in plan, plan

    def test_changepoint_spine_math_takeordered(self, spark):
        """The daily collapse is map-side-combined; split scoring runs
        on the bounded day spine; the best split is TakeOrdered(1),
        never a global sort of scored splits."""
        plan = _plan(
            QUERIES["win_changepoint_sse"].spark(spark, SF_SMOKE), "simple"
        )
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "partial_count" in plan or "partial_sum" in plan, plan

    def test_runs_test_spine_only(self, spark):
        """One map-side daily collapse; the median array, sign lag and
        final stats all run on the bounded day spine (the sanctioned
        bounded one-partition window); no fact-grain window, no
        Python."""
        plan = _plan(QUERIES["agg_runs_test"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # the exact-median scalar broadcasts as the sanctioned 1-row
        # crossJoin spine (its array_sort/element_at lives inside the
        # aggregate's result projection, which simple mode elides)
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan
        assert "partial_count" in plan, plan  # map-side daily collapse
        # exactly two single-partition exchanges, both spine-sized:
        # the median array collapse and the sign-lag window — never a
        # third carrying fact-grain rows
        assert plan.count("Exchange SinglePartition") == 2, plan

    def test_ecod_no_global_sort_of_part(self, spark):
        """The registered query at smoke scale takes the size-gated
        plain-window CDF (part estimates ~KBs); the at-scale histogram
        side (small_bytes=0) keeps the exact_cume_counts_multi
        contract: one shared scalar spine, linear chaining (the naive
        composition measured 42 BNLJ nodes), hash-partitioned
        within-bin windows, and no single-partition exchange carrying
        un-aggregated part rows."""
        plan = _plan(QUERIES["qa_outlier_ecod"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan

        from steam_data_pipeline_spark.operators.ranks import (
            exact_cume_counts_multi,
        )
        from steam_data_pipeline_spark.sources.tables import read_table

        part = read_table(spark, SF_SMOKE, "part").select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
            F.col("p_size").cast("long").alias("sz"),
        )
        at_scale = exact_cume_counts_multi(
            part,
            [("cents", "le_c", "ge_c"), ("sz", "le_s", "ge_s")],
            small_bytes=0,
        )
        plan = _plan(at_scale, "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") <= 4, plan
        assert "__bin" in plan, plan
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                assert "HashAggregate" in lines[i + 1], lines[i + 1]

    def test_bfs_final_plan_is_checkpoint_scans(self, spark):
        """Build time pays only the one eager localCheckpoint of the
        step table (edges plus zero-weight self-loops); the hop rounds
        run lazily inside the returned plan, as broadcast joins against
        that checkpoint scan and map-side-combined min-hop aggregates,
        then one hop rollup. A per-round checkpoint or emptiness probe
        would add several build jobs per round and break the bound."""
        name = "llm_graph_bfs_hops"
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(f"{name}/build"))
        run = run_query(spark, name, SF_SMOKE, lambda df: _plan(df, "simple"))
        assert run.error is None, run.error
        plan = run.result
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "Scan ExistingRDD" in plan, plan
        assert "partial_count" in plan or "partial_sum" in plan, plan
        build_jobs = set(tracker.getJobIdsForGroup(f"{name}/build")) - before
        assert len(build_jobs) <= 8, sorted(build_jobs)

    def test_pagerank_plan_is_one_iteration_over_checkpoints(self, spark):
        """The ranks are checkpointed before every iteration after the
        first, so the returned plan is the last iteration alone over
        checkpoint leaves: no file scan replayed under it, and at most
        that iteration's three joins (ranks onto the adjacency, the
        node-spine join and the broadcast dangling share)."""
        plan = _plan(
            QUERIES["llm_graph_pagerank"].spark(spark, SF_SMOKE), "simple"
        )
        assert "FileScan" not in plan, plan
        assert "Scan ExistingRDD" in plan, plan
        ops = [
            ln.split("+- ", 1)[1].split(" ", 1)[0]
            for ln in plan.splitlines()
            if "+- " in ln
        ]
        assert sum(op.endswith("Join") for op in ops) <= 3, plan

    def test_delete_propagate_hash_joins_only(self, spark):
        """The cascade is semi/anti hash joins on native keys; the
        nine 1-row accounting spines crossJoin broadcast (sanctioned);
        never a sort-merge or Python."""
        plan = _plan(
            QUERIES["sink_delete_propagate"].spark(spark, SF_SMOKE), "simple"
        )
        assert "SortMergeJoin" not in plan, plan
        assert "Python" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_skew_report_bounded_spines(self, spark):
        """One map-side key collapse; the p99 comes from the bounded
        count-of-counts histogram, the top key from TakeOrdered —
        never a global sort of the key table."""
        plan = _plan(QUERIES["qa_skew_report"].spark(spark, SF_SMOKE), "simple")
        assert "Python" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "partial_count" in plan, plan

    def test_weighted_jaccard_posting_join_no_single_partition(self, spark):
        """The inverted-index self-join is gram-keyed hash exchanges
        only — no single-partition collapse, no Python, no Cartesian;
        totals ride the posting rows (broadcast-joined per doc)."""
        plan = _plan(
            QUERIES["llm_dedup_jaccard_weighted"].spark(spark, SF_SMOKE),
            "simple",
        )
        assert "Python" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan
