"""Tests for the LLM-pipeline operators (dedup, simsearch, textstats,
multimodal) on planted fixtures — behavior checks beyond the oracle
sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from steam_data_pipeline_spark.llm.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_candidate_pairs,
    minhash_dedup,
    simhash_near_pairs,
    with_shingles,
)
from steam_data_pipeline_spark.llm.simsearch import brute_force_topk, ivf_topk
from steam_data_pipeline_spark.llm.textstats import (
    bpe_ish_token_count,
    fingerprint,
    language_id,
    quality_score,
    token_count,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the woods "
    "to find a quiet place for a long nap under the old oak tree"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("quiet", "silent")),  # near duplicate of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "der hund und die katze das ist und der und die das ist gut"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_keeps_min_id_per_text(self, spark, docs):
        kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
        assert kept == [0, 2, 3, 4]


class TestMinHash:
    def test_detects_planted_near_dups(self, spark, docs):
        pairs = {
            (r.a, r.b): r.est_jaccard
            for r in minhash_candidate_pairs(docs).collect()
        }
        assert pairs.get((0, 1)) == 1.0  # identical → full signature match
        assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup found

    def test_dedup_keeps_min_id(self, spark, docs):
        kept = sorted(r.doc_id for r in minhash_dedup(docs, threshold=0.5).collect())
        assert 0 in kept and 1 not in kept and 2 not in kept
        assert 3 in kept and 4 in kept

    def test_collapse_skip_equivalent_on_exact_deduped_input(self, spark, docs):
        """collapse_identical=False (the llm_corpus_export fast path) is
        only declared safe when the input provably carries no
        byte-identical non-NULL texts — i.e. exact_dedup output. On such
        input it must return exactly the same survivors as the default
        (collapsing) path."""
        d1 = exact_dedup(docs)
        default = sorted(
            r.doc_id for r in minhash_dedup(d1, threshold=0.5).collect()
        )
        skipped = sorted(
            r.doc_id
            for r in minhash_dedup(
                d1, threshold=0.5, collapse_identical=False
            ).collect()
        )
        assert default == skipped

    def test_estimate_tracks_exact_jaccard(self, spark, docs):
        exact = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs).collect()}
        est = {
            (r.a, r.b): r.est_jaccard for r in minhash_candidate_pairs(docs).collect()
        }
        for pair, e in est.items():
            if pair in exact:
                assert abs(e - exact[pair]) < 0.35  # 32 hashes → coarse but sane


class TestSimHash:
    def test_identical_docs_distance_zero(self, spark, docs):
        pairs = {(r.a, r.b): r.hamming for r in simhash_near_pairs(docs).collect()}
        assert pairs.get((0, 1)) == 0
        assert (0, 2) in pairs and pairs[(0, 2)] <= 8


class TestShingles:
    def test_short_text_has_one_shingle(self, spark):
        df = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
        got = with_shingles(df).collect()[0].shingles
        assert got == ["two words"]


class TestSimSearch:
    @pytest.fixture()
    def emb(self, spark, sf_dir):
        from steam_data_pipeline_spark.sources.tables import read_table

        return read_table(spark, sf_dir, "embeddings")

    def test_self_is_nearest(self, spark, emb):
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        top = brute_force_topk(emb, queries, k=1).collect()
        for r in top:
            assert r.vec_id == r.query_id and abs(r.cosine - 1.0) < 1e-9

    def test_ivf_recall_vs_brute_force(self, spark, emb):
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6  # KMeans centroids: half the lists probed

    def test_ivf_kmeans_recall_at_default_probes(self, spark, emb):
        """Seeded-KMeans index quality gate (VERDICT r1 item 5): at the
        default 5/16 probe budget, recall@10 ≥ 0.7 even on this
        near-uniform worst-case geometry (measured 0.75 at sf0.01)."""
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, queries, k=10).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=10).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.7

    def test_suggest_ivf_params_sqrt_rule(self):
        from steam_data_pipeline_spark.llm.simsearch import suggest_ivf_params

        assert suggest_ivf_params(2_000) == (45, 14)
        assert suggest_ivf_params(20_000) == (141, 44)
        # floors: tiny corpora keep the registered demo's 16/5 shape
        assert suggest_ivf_params(100) == (16, 5)
        # probed fraction tracks the centroid count, not a fixed 5
        c, p = suggest_ivf_params(1_000_000)
        assert c == 1000 and abs(p / c - 5 / 16) < 0.01

    def test_prebuilt_index_reuse_matches_inline(self, spark, emb):
        """The amortized calling convention (build the index once, pass
        it via ``index=``) must return EXACTLY the inline-build result
        for both ANN tiers — the contract that lets production persist
        and reload the index without changing answers."""
        from steam_data_pipeline_spark.llm.simsearch import (
            build_ivf_index,
            build_lsh_index,
            lsh_topk,
        )

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        from steam_data_pipeline_spark.llm.simsearch import IvfIndex, LshIndex

        inline_ivf = sorted(
            (r.query_id, r.vec_id) for r in ivf_topk(emb, queries, k=5).collect()
        )
        built = build_ivf_index(emb)
        # localCheckpoint stands in for persist-to-parquet + reload
        prebuilt = IvfIndex(
            built.centroids.localCheckpoint(eager=True),
            built.assignments.localCheckpoint(eager=True),
            built.n_centroids,
        )
        reused_ivf = sorted(
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=5, index=prebuilt).collect()
        )
        assert reused_ivf == inline_ivf

        inline_lsh = sorted(
            (r.query_id, r.vec_id) for r in lsh_topk(emb, queries, k=5).collect()
        )
        lsh_built = build_lsh_index(emb)
        reloaded = LshIndex(
            [t.localCheckpoint(eager=True) for t in lsh_built.tables],
            n_planes=lsh_built.n_planes,
            seed_base=lsh_built.seed_base,
        )
        reused_lsh = sorted(
            (r.query_id, r.vec_id)
            for r in lsh_topk(emb, queries, k=5, index=reloaded).collect()
        )
        assert reused_lsh == inline_lsh

    def test_persisted_index_roundtrip_and_partition_pruning(
        self, spark, emb, tmp_path
    ):
        """save/load round-trip for BOTH index types: identical top-k
        results, parameters restored, and — the 100 TB point — probing
        a reloaded index dynamic-partition-prunes the scan to the
        probed lists/buckets (assignments are partitioned by
        centroid_id/__bucket on disk)."""
        from steam_data_pipeline_spark.llm.simsearch import (
            build_ivf_index,
            build_lsh_index,
            ivf_topk,
            load_ivf_index,
            load_lsh_index,
            lsh_topk,
            save_ivf_index,
            save_lsh_index,
        )

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        idx = build_ivf_index(emb)
        save_ivf_index(idx, str(tmp_path / "ivf"))
        loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
        assert loaded.n_centroids == idx.n_centroids
        inline = sorted(
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=5, index=idx).collect()
        )
        reloaded = ivf_topk(emb, queries, k=5, index=loaded)
        assert inline == sorted(
            (r.query_id, r.vec_id) for r in reloaded.collect()
        )
        plan = reloaded._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()

        lidx = build_lsh_index(emb, n_planes=8, n_tables=2)
        save_lsh_index(lidx, str(tmp_path / "lsh"))
        lloaded = load_lsh_index(spark, str(tmp_path / "lsh"))
        assert (lloaded.n_planes, lloaded.seed_base, lloaded.n_tables) == (
            lidx.n_planes,
            lidx.seed_base,
            lidx.n_tables,
        )
        a = sorted(
            (r.query_id, r.vec_id)
            for r in lsh_topk(emb, queries, k=5, index=lidx).collect()
        )
        rel = lsh_topk(emb, queries, k=5, index=lloaded)
        assert a == sorted((r.query_id, r.vec_id) for r in rel.collect())
        # bucket-GROUP layout (r13): DPP does not fire for this join
        # shape (measured r9), so pruning is the STATIC probed-set
        # predicate — group directories in PartitionFilters, the
        # probed-bucket IN pushed to parquet stats
        assert lloaded.bgrp_shift is not None
        plan2 = rel._jdf.queryExecution().executedPlan().toString()
        assert "__bgrp" in plan2 and "PartitionFilters" in plan2, plan2

    def test_persisted_lsh_legacy_layout_rejected(
        self, spark, emb, tmp_path
    ):
        """An index in the layout written before the bucket-group one
        — ``_params`` without ``bgrp_shift``, one directory per
        ``__bucket`` — must fail loudly on load, naming the fix
        (rebuild), never probe with a degraded filter."""
        import pytest as _pytest

        from steam_data_pipeline_spark.llm.simsearch import (
            build_lsh_index,
            load_lsh_index,
        )

        lidx = build_lsh_index(emb, n_planes=8, n_tables=2)
        # hand-write the old layout: params without bgrp_shift,
        # tables partitioned per-bucket
        old_d = str(tmp_path / "old")
        spark.createDataFrame(
            [(lidx.n_planes, lidx.seed_base, lidx.n_tables)],
            "n_planes int, seed_base int, n_tables int",
        ).coalesce(1).write.parquet(f"{old_d}/_params")
        for i, tab in enumerate(lidx.tables):
            tab.repartition(F.col("__bucket")).write.partitionBy(
                "__bucket"
            ).parquet(f"{old_d}/table_{i:03d}")
        with _pytest.raises(ValueError, match="bgrp_shift.*rebuild"):
            load_lsh_index(spark, old_d)

    def test_index_contract_enforced(self, spark, emb):
        """ADVICE r4: the prebuilt-index contract must be enforced, not
        documented — mismatched n_planes and redundant n_tables raise,
        a bare table list (which cannot prove its build params) raises,
        a bare (centroids, assignments) IVF pair raises, and an empty
        index raises at construction."""
        import pytest as _pytest

        from steam_data_pipeline_spark.llm.simsearch import (
            LshIndex,
            build_ivf_index,
            build_lsh_index,
            lsh_topk,
        )

        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        idx = build_lsh_index(emb, n_planes=8, n_tables=2)
        with _pytest.raises(ValueError, match="n_planes"):
            lsh_topk(emb, queries, n_planes=12, index=idx)
        with _pytest.raises(ValueError, match="n_tables"):
            lsh_topk(emb, queries, n_tables=3, index=idx)
        with _pytest.raises(TypeError, match="LshIndex"):
            lsh_topk(emb, queries, index=idx.tables)
        ivf = build_ivf_index(emb)
        with _pytest.raises(TypeError, match="IvfIndex"):
            ivf_topk(
                emb, queries, n_probe=4, index=(ivf.centroids, ivf.assignments)
            )
        with _pytest.raises(ValueError, match="at least one"):
            LshIndex([])
        # matching explicit n_planes is accepted
        assert lsh_topk(emb, queries, k=1, n_planes=8, index=idx).count() > 0

    def test_lsh_recall_and_self_hit(self, spark, emb):
        from steam_data_pipeline_spark.llm.simsearch import lsh_topk

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        got = lsh_topk(emb, queries, k=5).collect()
        approx = {(r.query_id, r.vec_id) for r in got}
        # identical vectors share every bucket: self-match is guaranteed
        assert {(q, q) for q in range(5)} <= approx
        assert len(exact & approx) / len(exact) >= 0.5  # near-uniform data


class TestTextStats:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world, how are you?")], "doc_id long, text string"
        )
        row = df.select(
            token_count("text").alias("ws"),
            bpe_ish_token_count("text").alias("bpe"),
        ).collect()[0]
        assert row.ws == 5
        assert row.bpe == 7  # 5 words + ',' + '?'

    def test_language_id_picks_profile(self, spark, docs):
        got = {r.doc_id: r.g for r in docs.select(
            "doc_id", language_id("text").alias("g")
        ).collect()}
        assert got[0] == "en"
        assert got[4] == "de"

    def test_quality_bounds(self, spark, docs):
        vals = [r.q for r in docs.select(quality_score("text").alias("q")).collect()]
        assert all(0.0 <= v <= 1.0 for v in vals)

    def test_fingerprint_is_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha")],
            "doc_id long, text string",
        )
        fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
        assert fps[0] != fps[1]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        from steam_data_pipeline_spark.llm.multimodal import (
            MEDIA_SCHEMA,
            extract_features,
            sample_frames,
        )

        rows = [
            (1, 10, "image", bytes(range(64)), ("image/png", 8, 8, None)),
            (2, 11, "video", b"\xff" * 128, ("video/mp4", 16, 16, 3500)),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = {r.media_id: r for r in extract_features(media).collect()}
        assert feats[1].n_bytes == 64
        assert len(feats[1].feature) == 8
        assert abs(sum(feats[1].feature) - 1.0) < 1e-9  # histogram normalized
        assert feats[1].content_hash != feats[2].content_hash
        frames = sample_frames(media, every_ms=1000).collect()
        assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


class TestConnectedComponents:
    def test_star_and_chain_components(self, spark):
        from steam_data_pipeline_spark.llm.dedup import connected_components

        edges = spark.createDataFrame(
            [(0, 2), (1, 2), (5, 6), (6, 7), (7, 8)], "a long, b long"
        )
        comps = {r.node: r.component for r in connected_components(edges).collect()}
        assert comps == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 5, 8: 5}

    def test_pointer_jumping_converges_on_long_chain(self, spark):
        """A 33-node path has diameter 32; plain min-label propagation
        needs 32 rounds, pointer jumping lands well inside 8."""
        from steam_data_pipeline_spark.llm.dedup import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(32)], "a long, b long"
        )
        comps = {
            r.node: r.component
            for r in connected_components(edges, max_iter=8).collect()
        }
        assert set(comps.values()) == {0}

    def test_non_convergence_raises(self, spark):
        from steam_data_pipeline_spark.llm.dedup import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(16)], "a long, b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=1)

    def test_empty_edge_set_returns_empty(self, spark):
        """No pairs -> no components, cleanly (the round-1 convergence
        count is skipped as provably nonzero on any nonempty graph, so
        the empty graph exits via round 2's count over empty tables —
        r13 fused-convergence path)."""
        from steam_data_pipeline_spark.llm.dedup import connected_components

        edges = spark.createDataFrame([], "a long, b long")
        assert connected_components(edges).count() == 0

    def test_self_loops_preserved_but_not_propagated(self, spark):
        """Self-loop edges are dropped from the propagation set (they
        can never change a label) but their node must still appear as
        its own singleton component — the r14 filter sits AFTER the
        node derivation. A self-loop-ONLY graph also exercises the
        round-1 convergence-skip's edge-free path."""
        from steam_data_pipeline_spark.llm.dedup import connected_components

        # mixed: a self-loop inside a component, plus a loop-only node
        edges = spark.createDataFrame(
            [(1, 2), (2, 2), (9, 9)], "a long, b long"
        )
        comps = {r.node: r.component for r in connected_components(edges).collect()}
        assert comps == {1: 1, 2: 1, 9: 9}
        # self-loops ONLY: converges without propagating anything
        only = spark.createDataFrame([(4, 4), (7, 7)], "a long, b long")
        comps = {r.node: r.component for r in connected_components(only).collect()}
        assert comps == {4: 4, 7: 7}

    def test_string_keys_supported(self, spark):
        """The fused convergence check's NULL own-label leg must cast
        to the label's actual type — keys are not always longs."""
        from steam_data_pipeline_spark.llm.dedup import connected_components

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
        )
        comps = {r.node: r.component for r in connected_components(edges).collect()}
        assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


class TestMinhashClusterSurvivors:
    def test_transitive_chain_keeps_exactly_min_id(self, spark):
        """Star topology 0≈2, 1≈2 with (0,1) below threshold: the
        cluster rule keeps exactly doc 0; the retired greedy pair rule
        (drop the larger of each pair) would under-drop and keep 1."""
        w = [f"w{i:02d}" for i in range(40)]
        base = " ".join(w)
        d0 = " ".join([f"x{i}" for i in range(4)] + w[4:])
        d1 = " ".join(w[:36] + [f"y{i}" for i in range(4)])
        docs = spark.createDataFrame(
            [(0, d0), (1, d1), (2, base),
             (3, "totally unrelated text about query engines and joins here")],
            "doc_id long, text string",
        )
        pairs = {
            (r.a, r.b): r.est_jaccard
            for r in minhash_candidate_pairs(docs).collect()
            if r.est_jaccard >= 0.8
        }
        assert (0, 2) in pairs and (1, 2) in pairs and (0, 1) not in pairs
        kept = sorted(r.doc_id for r in minhash_dedup(docs, threshold=0.8).collect())
        assert kept == [0, 3]


class TestSemdedupClusterBudget:
    """Round-14 pin of the SemDeDup clustering-budget contract
    (verdict r13 item 4): what the cheap budget (random init, 2 Lloyd
    rounds) does and does not guarantee, on corpora whose near-dup
    pairs are NON-parallel (cos in [0.95, 1)) — the case the planted
    fixtures never exercise."""

    DIM = 32

    @staticmethod
    def _unit(v):
        import math

        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def _nonparallel_corpus(self, seed, n_background=220, n_pairs=16):
        import math
        import random

        rng = random.Random(seed)
        rows, truth, vid = [], set(), 0
        for _ in range(n_background):
            rows.append((vid, self._unit([rng.gauss(0, 1) for _ in range(self.DIM)])))
            vid += 1
        for _ in range(n_pairs):
            v = self._unit([rng.gauss(0, 1) for _ in range(self.DIM)])
            target = rng.uniform(0.951, 0.995)
            w = [rng.gauss(0, 1) for _ in range(self.DIM)]
            dot = sum(a * b for a, b in zip(v, w))
            w = self._unit([b - dot * a for a, b in zip(v, w)])
            s = math.sqrt(1 - target * target)
            v2 = self._unit([target * a + s * b for a, b in zip(v, w)])
            rows.append((vid, v))
            rows.append((vid + 1, v2))
            truth.add((vid, vid + 1))
            vid += 2
        return rows, truth

    def _pipeline_pairs(self, spark, rows, max_iter, init_mode):
        from pyspark.sql import functions as F

        from steam_data_pipeline_spark.llm import pca as P, simsearch as S

        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).localCheckpoint(eager=True)
        k = max(16, int(len(rows) ** 0.5))
        red = P.pca_project(df, key="vec_id", vec_col="embedding", top_k=8)
        idx = S.build_ivf_index(
            red.select("vec_id", F.col("pc").alias("embedding")),
            n_centroids=k, max_iter=max_iter, init_mode=init_mode,
        )
        asg = idx.assignments.select("vec_id", "centroid_id").localCheckpoint(
            eager=True
        )
        cand = (
            asg.alias("x")
            .join(
                asg.alias("y"),
                (F.col("x.centroid_id") == F.col("y.centroid_id"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        )
        ea = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
        eb = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
        ver = (
            cand.join(ea, "a")
            .join(eb, "b")
            .filter(S.cosine_expr("va", "vb") >= 0.95)
            .select("a", "b")
        )
        return {(r["a"], r["b"]) for r in ver.collect()}

    def test_identical_embeddings_always_found(self, spark):
        """The guaranteed half of the contract: EXACTLY identical
        embeddings produce identical PC projections, hence the same
        cosine-argmax cell (deterministic centroid_id tie-break) under
        ANY centroid set — the planted fixture chains are this shape.
        Scaled copies are deliberately NOT here: the projection is
        mean-centered, so s*x - mean is not parallel to x - mean and a
        scaled copy is just another near-dup pair subject to the
        cell-boundary approximation (found while building this test —
        the r13 'including scaled copies' claim was wrong)."""
        import random

        rng = random.Random(11)
        rows, truth, vid = [], set(), 0
        for _ in range(200):
            rows.append((vid, self._unit([rng.gauss(0, 1) for _ in range(self.DIM)])))
            vid += 1
        for _ in range(8):
            v = self._unit([rng.gauss(0, 1) for _ in range(self.DIM)])
            rows.append((vid, v))
            rows.append((vid + 1, list(v)))
            truth.add((vid, vid + 1))
            vid += 2
        found = self._pipeline_pairs(spark, rows, max_iter=2, init_mode="random")
        assert truth <= found

    def test_nonparallel_recall_budget_equivalent(self, spark):
        """The scoped half: on non-parallel cos>=0.95 pairs the cheap
        budget's recall is equivalent to the expensive one's — the r13
        budget cut did not move it. (Whether a given pair is missed at
        all is a cell-boundary accident of the centroid draw — the
        round-14 experiment at dim=64/n=512 measured 31-35/36 vs
        33-35/36 with each budget beating the other on some seeds — so
        this test pins only the no-false-pairs invariant and the
        budget equivalence, never a specific miss count.)"""
        cheap_total = exp_total = truth_total = 0
        for seed in (1, 2):
            rows, truth = self._nonparallel_corpus(seed)
            cheap = self._pipeline_pairs(spark, rows, 2, "random")
            expensive = self._pipeline_pairs(spark, rows, 5, "k-means||")
            # exact-cosine verify: never a false pair under either budget
            assert cheap <= truth and expensive <= truth
            cheap_total += len(cheap & truth)
            exp_total += len(expensive & truth)
            truth_total += len(truth)
        assert cheap_total > 0 and exp_total > 0
        # budget equivalence: within 2 pairs of each other over 32
        assert abs(cheap_total - exp_total) <= 2


class TestEmbeddingNearDup:
    def test_planted_near_duplicates_are_found(self, spark):
        """SRP-bucketed embedding dedup must emit planted near-identical
        vectors — guards against the vacuous-green failure mode where a
        broken implementation and a working one both return 0 rows."""
        import random

        from steam_data_pipeline_spark.llm.dedup import embedding_near_pairs

        rng = random.Random(7)
        dim = 16
        base = [rng.gauss(0, 1) for _ in range(dim)]
        near = [x + 1e-4 * rng.gauss(0, 1) for x in base]  # cosine ≈ 0.9999…
        rows = [(0, base), (1, near)] + [
            (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 40)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r.a, r.b): r.cosine
            for r in embedding_near_pairs(emb, min_cosine=0.99).collect()
        }
        assert (0, 1) in got and got[(0, 1)] > 0.999
        # identical copies co-bucket with probability 1 regardless of planes
        emb2 = emb.union(
            emb.filter(F.col("vec_id") < 3).select(
                (F.col("vec_id") + 100).alias("vec_id"), "embedding"
            )
        )
        got2 = {(r.a, r.b) for r in embedding_near_pairs(emb2, min_cosine=0.99).collect()}
        assert {(0, 100), (1, 101), (2, 102), (0, 1)} <= got2


class TestExportSharding:
    def test_shards_balanced_and_positions_dense(self, spark, sf_dir):
        from steam_data_pipeline_spark.plans.registry import QUERIES

        rows = QUERIES["llm_shuffle_shard"].spark(spark, sf_dir).collect()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r.pos)
        assert set(by_shard) == set(range(8))
        sizes = [len(v) for v in by_shard.values()]
        assert max(sizes) - min(sizes) <= len(rows) // 4  # roughly balanced
        for poss in by_shard.values():  # dense 1..n positions per shard
            assert sorted(poss) == list(range(1, len(poss) + 1))


class TestVocabBuild:
    def test_coverage_monotone_and_bounded(self, spark, sf_dir):
        from steam_data_pipeline_spark.plans.registry import QUERIES

        rows = sorted(
            QUERIES["llm_vocab_build"].spark(spark, sf_dir).collect(),
            key=lambda r: r.rank,
        )
        assert rows[0].rank == 1
        cov = [r.coverage for r in rows]
        assert all(a < b for a, b in zip(cov, cov[1:]))
        assert 0 < cov[0] and cov[-1] <= 1.0
        freqs = [r.freq for r in rows]
        assert all(a >= b for a, b in zip(freqs, freqs[1:]))


class TestIncrementalDedup:
    def test_two_stage_semantics(self, spark):
        """New docs matching the corpus are dropped; remaining new docs
        cluster among themselves with min-id survivors; fresh content
        passes through."""
        from steam_data_pipeline_spark.llm.dedup import minhash_dedup_incremental

        w = [f"w{i:02d}" for i in range(40)]
        base = " ".join(w)
        fresh_a = " ".join(f"a{i}" for i in range(40))
        fresh_b = " ".join([f"b{i}" for i in range(4)] + fresh_a.split()[4:])
        corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
        new = spark.createDataFrame(
            [
                (10, base),       # dup of corpus -> dropped
                (11, fresh_a),    # fresh, min of its cluster -> kept
                (12, fresh_b),    # near-dup of 11 -> dropped (cluster rule)
                (13, "totally different content about spark shuffles here"),
            ],
            "doc_id long, text string",
        )
        kept = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(corpus, new, threshold=0.6).collect()
        )
        assert kept == [11, 13]

    def test_redelivered_corpus_key_is_dropped(self, spark):
        """At-least-once ingestion replays a corpus row into a later
        batch: the self-pair (a == b) is filtered from the candidate
        join, so key identity — not similarity — must catch it."""
        from steam_data_pipeline_spark.llm.dedup import minhash_dedup_incremental

        base = " ".join(f"w{i:02d}" for i in range(40))
        corpus = spark.createDataFrame([(7, base)], "doc_id long, text string")
        new = spark.createDataFrame(
            [(7, base), (8, "completely fresh text about spark plans and joins")],
            "doc_id long, text string",
        )
        kept = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(corpus, new, threshold=0.6).collect()
        )
        assert kept == [8]

    def test_prebuilt_corpus_signatures_match_inline(self, spark):
        """The persisted-index calling convention (pass the corpus's
        banded-signature table via ``corpus_signatures``) must return
        exactly the inline-recompute result — the contract that lets
        the ingestion path amortize the corpus side across batches."""
        from steam_data_pipeline_spark.llm.dedup import (
            banded_signatures,
            minhash_dedup_incremental,
        )

        base = " ".join(f"w{i:02d}" for i in range(40))
        fresh = " ".join(f"a{i}" for i in range(40))
        corpus = spark.createDataFrame(
            [(1, base), (2, fresh)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, base), (11, "fresh content about adaptive query execution")],
            "doc_id long, text string",
        )
        inline = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(corpus, new, threshold=0.6).collect()
        )
        # localCheckpoint stands in for persist-to-parquet + reload
        sigs = banded_signatures(corpus).localCheckpoint(eager=True)
        reused = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(
                corpus, new, threshold=0.6, corpus_signatures=sigs
            ).collect()
        )
        assert reused == inline == [11]

    def test_persisted_index_probe_is_exact_and_pruned(self, spark, tmp_path):
        """The parquet-persisted index round-trip: dedup against
        ``probe_signature_index``'s PRUNED read must equal dedup against
        the full signature table (pruning is exact — a colliding
        (band_idx, band_hash) always hashes into a touched bucket), and
        the probe must actually read a strict subset of buckets."""
        from steam_data_pipeline_spark.llm.dedup import (
            banded_signatures,
            minhash_dedup_incremental,
            persist_signature_index,
            probe_signature_index,
        )

        base = " ".join(f"w{i:02d}" for i in range(40))
        others = [
            (100 + i, " ".join(f"c{i}x{j}" for j in range(40))) for i in range(20)
        ]
        corpus = spark.createDataFrame(
            [(1, base)] + others, "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, base), (11, "fresh content about adaptive query execution")],
            "doc_id long, text string",
        )
        path = str(tmp_path / "sig_index")
        full_sigs = banded_signatures(corpus)
        persist_signature_index(full_sigs, path)
        new_sigs = banded_signatures(new)
        pruned = probe_signature_index(spark, path, new_sigs)
        # strict subset: 21 docs x 8 mostly-distinct band hashes >> the
        # 2-doc batch's 16 touched buckets
        assert pruned.count() < full_sigs.count()
        got = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(
                corpus, new, threshold=0.6, corpus_signatures=pruned
            ).collect()
        )
        want = sorted(
            r.doc_id
            for r in minhash_dedup_incremental(
                corpus, new, threshold=0.6, corpus_signatures=full_sigs
            ).collect()
        )
        assert got == want == [11]

    def test_signature_index_legacy_layout_rejected(self, spark, tmp_path):
        """A signature index in the layout written before the
        bucket-group one — partitioned per-bucket, no ``bucket_grp``
        column — must fail loudly on probe, naming the fix (rebuild),
        never probe with a degraded filter."""
        import pytest as _pytest

        from steam_data_pipeline_spark.llm.dedup import (
            _index_bucket,
            banded_signatures,
            probe_signature_index,
        )

        corpus = spark.createDataFrame(
            [(i, " ".join(f"t{i}x{j}" for j in range(40))) for i in range(12)],
            "doc_id long, text string",
        )
        new_sigs = banded_signatures(
            spark.createDataFrame(
                [(50, " ".join(f"t3x{j}" for j in range(40)))],
                "doc_id long, text string",
            )
        )
        old_p = str(tmp_path / "legacy")
        banded_signatures(corpus).withColumn(
            "bucket", _index_bucket()
        ).repartition(F.col("bucket")).write.partitionBy("bucket").parquet(
            old_p
        )
        with _pytest.raises(ValueError, match="bucket_grp.*rebuild"):
            probe_signature_index(spark, old_p, new_sigs)


class TestContainment:
    def test_excerpt_detected_where_jaccard_misses(self, spark):
        """A short doc quoted inside a long one: containment ~1.0 but
        Jaccard well below any near-dup threshold."""
        from steam_data_pipeline_spark.llm.dedup import containment_pairs, jaccard_pairs

        long_doc = " ".join(f"w{i:02d}" for i in range(80))
        excerpt = " ".join(f"w{i:02d}" for i in range(30, 40))  # 10 words of the 80
        docs = spark.createDataFrame(
            [(0, long_doc), (1, excerpt), (2, "unrelated text about joins and shuffles")],
            "doc_id long, text string",
        )
        cont = {(r.a, r.b): r.containment for r in containment_pairs(docs).collect()}
        assert cont.get((1, 0), 0) >= 0.99  # excerpt covered by the long doc
        assert (0, 1) not in cont  # not symmetric: long doc isn't covered
        jac = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, min_jaccard=0.0).collect()}
        assert jac.get((0, 1), 0) < 0.15  # Jaccard would never have caught it


class TestDuplicatedSpans:
    def test_planted_passage_recovered_exactly(self, spark):
        """Two otherwise-distinct documents share a 12-token passage:
        the operator must return exactly that span in both (token
        indices), and nothing for an unrelated doc."""
        from steam_data_pipeline_spark.llm.dedup import duplicated_spans

        passage = " ".join(f"p{i:02d}" for i in range(12))
        a = " ".join(f"a{i:02d}" for i in range(10)) + " " + passage + " " + " ".join(
            f"b{i:02d}" for i in range(10)
        )
        b = " ".join(f"c{i:02d}" for i in range(5)) + " " + passage + " " + " ".join(
            f"d{i:02d}" for i in range(15)
        )
        docs = spark.createDataFrame(
            [(0, a), (1, b), (2, " ".join(f"z{i:02d}" for i in range(32)))],
            "doc_id long, text string",
        )
        spans = {
            r.doc_id: (r.span_start, r.span_end, r.n_windows)
            for r in duplicated_spans(docs, k=8).collect()
        }
        # doc 0: passage occupies tokens [10, 21]; doc 1: tokens [5, 16].
        # 12-token passage with k=8 -> 5 repeated windows merged.
        assert spans == {0: (10, 21, 5), 1: (5, 16, 5)}

    def test_within_doc_repeat_counts(self, spark):
        """A passage repeated WITHIN one document is also duplication
        (corpus-level occurrence count, Lee et al. semantics)."""
        from steam_data_pipeline_spark.llm.dedup import duplicated_spans

        passage = " ".join(f"p{i:02d}" for i in range(8))
        text = passage + " xx1 xx2 xx3 xx4 xx5 xx6 xx7 xx8 " + passage
        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        rows = duplicated_spans(docs, k=8).collect()
        got = sorted((r.span_start, r.span_end) for r in rows)
        assert got == [(0, 7), (16, 23)]

    def test_short_docs_skipped(self, spark):
        from steam_data_pipeline_spark.llm.dedup import duplicated_spans

        docs = spark.createDataFrame(
            [(0, "one two three"), (1, "one two three")],
            "doc_id long, text string",
        )
        assert duplicated_spans(docs, k=8).count() == 0


class TestCorpusOverlap:
    def test_exact_fields_hand_computed(self, spark):
        """g1/g2 share 2 of 4 distinct shingles (J=0.5); g3 disjoint."""
        from steam_data_pipeline_spark.llm.dedup import corpus_overlap

        docs = spark.createDataFrame(
            [
                (0, "w1 w2 w3 w4 w5", "g1"),
                (1, "w2 w3 w4 w5 w6", "g2"),
                (2, "x1 x2 x3", "g3"),
            ],
            "doc_id long, text string, source string",
        )
        out = {
            (r.source_a, r.source_b): (r.n_a, r.n_b, r.n_common, r.jaccard)
            for r in corpus_overlap(docs).collect()
        }
        assert out[("g1", "g2")] == (3, 3, 2, 0.5)
        assert out[("g1", "g3")] == (3, 1, 0, 0.0)
        assert out[("g2", "g3")] == (3, 1, 0, 0.0)

    def test_sketch_merge_is_componentwise_min(self, spark):
        """The sketch estimate over a group must be invariant to how the
        group's documents are partitioned — the mergeability property.
        Splitting a group into two halves and unioning the docs again
        must give identical output (same plan, but asserts determinism
        of the seeded sketch under repartitioning)."""
        from steam_data_pipeline_spark.llm.dedup import corpus_overlap

        docs = spark.createDataFrame(
            [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared1 shared2 shared3", f"g{i % 2}") for i in range(20)],
            "doc_id long, text string, source string",
        )
        a = sorted(map(tuple, corpus_overlap(docs).collect()))
        b = sorted(map(tuple, corpus_overlap(docs.repartition(7)).collect()))
        assert a == b and len(a) == 1


class TestRemoveDuplicatedSpans:
    def test_keeper_survives_copy_is_cut(self, spark):
        from steam_data_pipeline_spark.llm.dedup import remove_duplicated_spans

        passage = " ".join(f"p{i:02d}" for i in range(10))
        a = passage + " " + " ".join(f"a{i}" for i in range(6))
        b = " ".join(f"b{i}" for i in range(6)) + " " + passage
        docs = spark.createDataFrame(
            [(0, a), (1, b)], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in remove_duplicated_spans(docs, k=8).collect()}
        # doc 0 holds the (0, pos) keepers -> untouched
        assert out[0].n_removed == 0 and out[0].cleaned == a
        # doc 1 loses the whole 10-token passage, keeps its own prefix
        assert out[1].n_removed == 10
        assert out[1].cleaned == " ".join(f"b{i}" for i in range(6))

    def test_exact_duplicate_doc_fully_emptied(self, spark):
        from steam_data_pipeline_spark.llm.dedup import remove_duplicated_spans

        text = " ".join(f"w{i:02d}" for i in range(12))
        docs = spark.createDataFrame(
            [(0, text), (1, text)], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in remove_duplicated_spans(docs, k=8).collect()}
        assert out[0].n_removed == 0 and out[0].cleaned == text
        # non-keeper copy fully cut — reported as an emptied row, not
        # silently vanished (row-per-doc accounting, round-9 review)
        assert out[1].cleaned == "" and out[1].n_removed == out[1].n_tokens == 12

    def test_short_docs_pass_through(self, spark):
        from steam_data_pipeline_spark.llm.dedup import remove_duplicated_spans

        docs = spark.createDataFrame(
            [(0, "one two three"), (1, "one two three")],
            "doc_id long, text string",
        )
        out = {r.doc_id: (r.n_removed, r.cleaned) for r in
               remove_duplicated_spans(docs, k=8).collect()}
        assert out == {0: (0, "one two three"), 1: (0, "one two three")}


class TestEditDistPairs:
    """editdist_pairs must equal the quadratic Levenshtein truth —
    including the short-string leg the prefix-filter lemma cannot
    cover and empty strings."""

    @staticmethod
    def _lev(a: str, b: str) -> int:
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[:], i
            for j in range(1, n + 1):
                d[j] = min(
                    prev[j] + 1, d[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1])
                )
        return d[n]

    def test_matches_bruteforce(self, spark):
        import itertools
        import random

        from steam_data_pipeline_spark.llm.dedup import editdist_pairs

        rng = random.Random(7)
        vocab = "abcde"
        strs = [
            (i, "".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
            for i in range(80)
        ]
        for i in range(80, 95):
            base = "".join(rng.choice(vocab) for _ in range(rng.randint(9, 25)))
            mut = list(base)
            mut[rng.randrange(len(base))] = "z"
            strs += [(i, base), (i + 1000, "".join(mut))]
        df = spark.createDataFrame(strs, "doc_id long, text string")
        got = {
            (r["a"], r["b"], r["dist"])
            for r in editdist_pairs(df, max_d=2).collect()
        }
        want = set()
        for (i, s1), (j, s2) in itertools.combinations(strs, 2):
            d = self._lev(s1, s2)
            if d <= 2:
                want.add((min(i, j), max(i, j), d))
        assert got == want

    def test_no_pairs_when_far(self, spark):
        from steam_data_pipeline_spark.llm.dedup import editdist_pairs

        df = spark.createDataFrame(
            [(1, "aaaaaaaaaaaa"), (2, "bbbbbbbbbbbb"), (3, "cccccccccccc")],
            "doc_id long, text string",
        )
        assert editdist_pairs(df, max_d=2).count() == 0


class TestTfidfTopk:
    def test_known_corpus(self, spark):
        import math

        from steam_data_pipeline_spark.llm.textstats import tfidf_topk

        df = spark.createDataFrame(
            [
                (1, "apple apple banana"),
                (2, "banana cherry"),
                (3, "cherry cherry cherry durian"),
            ],
            "doc_id long, text string",
        )
        rows = {
            (r["doc_id"], r["rk"]): r
            for r in tfidf_topk(df, k=2).collect()
        }
        # doc 1: apple tf=2 df=1 → 2*ln(3); banana tf=1 df=2 → ln(1.5)
        assert rows[(1, 1)]["term"] == "apple"
        assert rows[(1, 1)]["score"] == round(2 * math.log(3.0), 9)
        assert rows[(1, 2)]["term"] == "banana"
        # doc 3: durian tf=1 df=1 → ln(3) beats cherry tf=3 df=2 → 3*ln(1.5)
        assert rows[(3, 1)]["term"] == "cherry"  # 3*ln(1.5)=1.216 > ln(3)=1.098
        assert rows[(3, 2)]["term"] == "durian"

    def test_window_group_limit_in_plan(self, spark):
        from steam_data_pipeline_spark.llm.textstats import tfidf_topk

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = tfidf_topk(df, k=2)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan


class TestQuantizedTopk:
    def test_quantization_bounds_and_self_hit(self, spark):
        from steam_data_pipeline_spark.llm.simsearch import (
            quantize_int8,
            quantized_topk,
        )

        import random

        rng = random.Random(5)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = quantize_int8(df)
        bounds = q.select(
            F.array_min("__q").alias("lo"), F.array_max("__q").alias("hi")
        ).agg(F.min("lo"), F.max("hi")).collect()[0]
        assert bounds[0] >= -127 and bounds[1] <= 127

        queries = df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        top = quantized_topk(df, queries, k=5)
        firsts = {
            r["query_id"]: r["vec_id"]
            for r in top.filter("cosine >= 0.9999").collect()
            if r["query_id"] == r["vec_id"]
        }
        # every query's quantized self-similarity is exactly 1
        assert set(firsts) == {0, 1, 2}

    def test_recall_against_float_truth(self, spark):
        import random

        from steam_data_pipeline_spark.llm.simsearch import (
            brute_force_topk,
            quantized_topk,
        )

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ann = quantized_topk(df, queries, k=10).select("query_id", "vec_id")
        truth = brute_force_topk(df, queries, k=10).select("query_id", "vec_id")
        hits = ann.join(truth, ["query_id", "vec_id"], "left_semi").count()
        assert hits / 50 >= 0.9


class TestSuggestEditdistQ:
    def test_grows_with_corpus_density(self, spark):
        from steam_data_pipeline_spark.llm.dedup import suggest_editdist_q

        import random

        rng = random.Random(3)
        # dense corpus: many 30-char strings over a 3-letter alphabet
        dense = spark.createDataFrame(
            [
                (i, "".join(rng.choice("abc") for _ in range(30)))
                for i in range(400)
            ],
            "doc_id long, text string",
        )
        # sparse corpus: few strings over a wide alphabet
        sparse = spark.createDataFrame(
            [
                (
                    i,
                    "".join(
                        rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                        for _ in range(30)
                    ),
                )
                for i in range(20)
            ],
            "doc_id long, text string",
        )
        qd = suggest_editdist_q(dense)
        qs = suggest_editdist_q(sparse)
        assert qs == 3  # wide alphabet: 3-grams already selective
        assert qd > qs  # dense gram space forces a longer q

    def test_respects_short_string_floor(self, spark):
        from steam_data_pipeline_spark.llm.dedup import suggest_editdist_q

        # min length 12 caps q at 4 for d=2 (q*(d+1) <= 12) → of the
        # candidate set only q=3 is admissible
        df = spark.createDataFrame(
            [(i, "aaaabbbbccc" + "d") for i in range(50)],
            "doc_id long, text string",
        )
        assert suggest_editdist_q(df, max_d=2) == 3


class TestRound9ModuleReviewFixes:
    def test_exact_dedup_keeps_all_null_text_rows(self, spark):
        """NULL text has no content identity: all such rows survive
        instead of collapsing into one NULL-hash group (round-9 module
        review; same policy as url_dedup's NULL-url exclusion)."""
        from steam_data_pipeline_spark.llm.dedup import exact_dedup

        docs = spark.createDataFrame(
            [(0, "same text"), (1, "same text"), (2, None), (3, None), (4, None)],
            "doc_id long, text string",
        )
        kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
        assert kept == [0, 2, 3, 4]

    def test_remove_spans_emits_row_for_fully_covered_doc(self, spark):
        """A fully-duplicated non-keeper doc must report
        (n_tokens, n_tokens, '') — one output row per input doc —
        instead of vanishing from the per-doc accounting."""
        from steam_data_pipeline_spark.llm.dedup import remove_duplicated_spans

        dup = " ".join(f"w{i}" for i in range(8))  # exactly one k=8 window
        docs = spark.createDataFrame(
            [(0, dup), (1, dup), (2, "completely different tokens here now ok yes")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in remove_duplicated_spans(docs, k=8).collect()}
        assert set(out) == {0, 1, 2}
        assert out[0].cleaned == dup and out[0].n_removed == 0  # keeper
        assert out[1].cleaned == "" and out[1].n_removed == 8 == out[1].n_tokens
        assert out[2].n_removed == 0

    def test_canonicalize_url_port_and_userinfo(self, spark):
        """Non-default ports and userinfo are part of the identity;
        default ports are dropped per scheme (round-9 module review:
        the old HOST-only rebuild collapsed host:8080 into host)."""
        from steam_data_pipeline_spark.llm.curation import canonicalize_url

        cases = [
            ("http://example.com:8080/page", "http://example.com:8080/page"),
            ("http://example.com:80/page", "http://example.com/page"),
            ("https://example.com:443/page", "https://example.com/page"),
            ("https://example.com:8443/page", "https://example.com:8443/page"),
            ("https://alice@example.com/page", "https://alice@example.com/page"),
            # distinct identities stay distinct
            ("http://example.com/page", "http://example.com/page"),
        ]
        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
        )
        got = {
            r.i: r.c
            for r in df.select("i", canonicalize_url("url").alias("c")).collect()
        }
        for i, (u, want) in enumerate(cases):
            assert got[i] == want, f"{u!r} -> {got[i]!r}, want {want!r}"

    def test_extract_features_null_content_fallback_row(self, spark):
        """One NULL-content media row yields a fallback row (decoded
        False, zero feature, n_bytes 0, hash NULL) instead of failing
        the whole mapInPandas task."""
        from steam_data_pipeline_spark.llm.multimodal import extract_features

        media = spark.createDataFrame(
            [(1, "image", None), (2, "image", bytearray(b"notapng"))],
            "media_id long, modality string, content binary",
        )
        feats = {r.media_id: r for r in extract_features(media).collect()}
        assert set(feats) == {1, 2}
        assert feats[1].decoded is False
        assert feats[1].n_bytes == 0 and feats[1].content_hash is None
        assert list(feats[1].feature) == [0.0] * 8
