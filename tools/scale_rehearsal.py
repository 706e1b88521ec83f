"""Scale rehearsals: synthesize larger or skewed corpora and measure
wall / output volume / recall for the operators whose 100 TB posture
rests on candidate-generation claims (SCALE.md records the curves).

Committed (rather than ad-hoc) so every round re-runs the SAME
measurement. Usage:

    python tools/scale_rehearsal.py ann [--factors 1 3 10]
    python tools/scale_rehearsal.py ann-clustered [--factors 1 3 10]
    python tools/scale_rehearsal.py substring-skew
    python tools/scale_rehearsal.py registry-heavy [--factor 10 --repeats 2]

* ``ann`` — grow the embeddings corpus by appending seeded standard-
  normal 64-d vectors (the driver fixture's own near-uniform geometry,
  the hardest case for bucketed ANN) and measure, per corpus size:
  brute-force truth wall, IVF wall + recall@10, LSH wall + recall@10.
  The claim under test: probe cost tracks the probed FRACTION (wall
  grows ~linearly in corpus at fixed fraction) and recall holds as the
  corpus grows — i.e. neither index degrades structurally with n.

* ``ann-clustered`` — same ANN measurement on a mixture-of-Gaussians
  corpus (genuine cluster structure — the geometry real embedding
  models emit, vs the fixture's near-uniform worst case). The claim
  under test: on clustered data the sqrt-n IVF sizing + 5/16 probe
  fraction delivers HIGHER recall at the same touch (centroids align
  with true clusters), validating ``suggest_ivf_params`` across both
  geometry regimes.

* ``registry-heavy`` — synthesize a ``--factor``x (default 10x ≈ sf1)
  volume of the scalable tables (documents/events/embeddings) with
  their INTERNAL structure preserved (per-replica word-substitution
  keeps each replica's dup/near-dup relations while cross-replica
  shingles are disjoint; embeddings get per-replica dimension
  rotation, norms and within-replica similarities exact; events
  replicate with offset user/event ids so per-key history shapes are
  kept and key cardinality scales) and run the heaviest registered
  queries solo with repeats at base and scaled volume, reporting the
  growth exponent log(t_big/t_base)/log(factor). The claim: every
  heavy query is ~linear (exponent ≲ 1.2); any superlinear case is a
  scale bug to fix or explain.

* ``substring-skew`` — prepend one shared 14-token boilerplate
  sentence to EVERY document (a 100%-document hot window pattern) and
  compare ``duplicated_spans`` wall + row counts vs the clean corpus.
  The claim under test (SCALE.md round-4 notes): the dup-hash groupBy
  partial-aggregates the hot hashes map-side and the LEFT SEMI build
  side stays 1 row/hash, so corpus-wide boilerplate cannot create a
  hot join key — wall and output stay ~linear, no n² blowup.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from steam_data_pipeline_spark.session import get_spark

    return get_spark("scale-rehearsal")


def _force(df) -> int:
    """Materialize end-to-end and return the row count (one pass)."""
    return df.count()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_run(spark, name: str, sf_dir: str, repeats: int, consume=_noop):
    """Min build+exec wall of ``repeats`` registry runs of ``name`` and
    the last run's ``consume`` result; re-raises a run's error."""
    from steam_data_pipeline_spark.plans.registry import run_query

    walls = []
    for _ in range(repeats):
        run = run_query(spark, name, sf_dir, consume)
        if run.error is not None:
            raise run.error
        walls.append(run.build_s + run.exec_s)
    return min(walls), run.result


def rehearse_ann(sf_dir: str, factors: list[int]) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.simsearch import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
        lsh_topk,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    base = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n0 = base.count()
    # synthetic ids start past the real max: if the fixture's ids were
    # assumed contiguous 0..n0-1 but are sparse/offset, n0+i would
    # collide with real ids and silently corrupt the recall measure
    id_base = base.agg(F.max("vec_id")).first()[0] + 1
    dim = len(base.select("embedding").first()[0])
    queries = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10

    print(f"# ann rehearsal: base corpus {n0} x {dim}, k={k}, 5 queries")
    print(
        "factor\tn\tbrute_s\tivf_build_s\tivf_probe_s\tivf_recall"
        "\tlsh_s\tlsh_recall"
    )
    for f in factors:
        corpus = base
        if f > 1:
            rng = np.random.default_rng(1234 + f)
            extra = rng.standard_normal(((f - 1) * n0, dim))
            pdfs = [
                ((id_base + i), [float(x) for x in row])
                for i, row in enumerate(extra)
            ]
            extra_df = spark.createDataFrame(
                pdfs, "vec_id long, embedding array<double>"
            ).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            )
            corpus = base.union(extra_df)
        # pin the corpus so each index measures search, not regeneration
        corpus = corpus.localCheckpoint(eager=True)
        n = corpus.count()

        t0 = time.time()
        truth = {
            (r["query_id"], r["vec_id"])
            for r in brute_force_topk(corpus, queries, k=k).collect()
        }
        brute_s = time.time() - t0

        # production index sizing (suggest_ivf_params: centroids ~
        # sqrt(n), probes hold the 5/16 fraction) — a FIXED 16-centroid
        # index on a growing corpus degrades recall (measured: 0.72 ->
        # 0.56 from 2k to 20k vectors). Build and probe are timed
        # separately: the index is built ONCE and amortized across
        # query batches (ivf_topk's ``index=`` calling convention), so
        # probe-only is the per-query production cost.
        from steam_data_pipeline_spark.llm.simsearch import suggest_ivf_params

        n_centroids, n_probe = suggest_ivf_params(n)
        t0 = time.time()
        built = build_ivf_index(corpus, n_centroids=n_centroids)
        from steam_data_pipeline_spark.llm.simsearch import IvfIndex

        prebuilt = IvfIndex(
            built.centroids.localCheckpoint(eager=True),
            built.assignments.localCheckpoint(eager=True),
            built.n_centroids,
        )
        ivf_build_s = time.time() - t0
        t0 = time.time()
        ivf = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(
                corpus, queries, k=k, n_probe=n_probe, index=prebuilt
            ).collect()
        }
        ivf_s = time.time() - t0

        t0 = time.time()
        lsh = {
            (r["query_id"], r["vec_id"])
            for r in lsh_topk(corpus, queries, k=k).collect()
        }
        lsh_s = time.time() - t0

        ivf_rec = len(ivf & truth) / len(truth)
        lsh_rec = len(lsh & truth) / len(truth)
        print(
            f"{f}x\t{n}\t{brute_s:.2f}\t{ivf_build_s:.2f}\t{ivf_s:.2f}"
            f"\t{ivf_rec:.3f}\t{lsh_s:.2f}\t{lsh_rec:.3f}"
        )
    spark.stop()


def rehearse_ann_clustered(
    sf_dir: str, factors: list[int], n_clusters: int = 50
) -> None:
    """ANN recall/probe-cost curves on mixture-of-Gaussians geometry
    (centers ~ 3·N(0,I), points = center + N(0,I) ⇒ within-cluster
    cosine ≈ 0.9, cross-cluster ≈ 0 — genuinely clusterable, the
    regime real embedding models produce)."""
    import numpy as np

    from steam_data_pipeline_spark.llm.simsearch import (
        IvfIndex,
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
        lsh_topk,
        suggest_ivf_params,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    base = read_table(spark, sf_dir, "embeddings")
    n0 = base.count()  # size anchor: comparable with the `ann` mode
    dim = len(base.select("embedding").first()[0])
    k = 10

    print(
        f"# ann-clustered rehearsal: mixture of {n_clusters} Gaussians, "
        f"dim {dim}, base n {n0}, k={k}, 5 queries (distinct clusters)"
    )
    print(
        "factor\tn\tbrute_s\tivf_build_s\tivf_probe_s\tivf_recall"
        "\tlsh_s\tlsh_recall\tn_centroids\tn_probe"
    )
    for f in factors:
        n = f * n0
        rng = np.random.default_rng(99)
        centers = rng.standard_normal((n_clusters, dim)) * 3.0
        assign = np.arange(n) % n_clusters
        pts = centers[assign] + rng.standard_normal((n, dim))
        corpus = spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(pts)],
            "vec_id long, embedding array<double>",
        ).localCheckpoint(eager=True)
        queries = corpus.filter("vec_id < 5").selectExpr(
            "vec_id AS query_id", "embedding"
        )

        t0 = time.time()
        truth = {
            (r["query_id"], r["vec_id"])
            for r in brute_force_topk(corpus, queries, k=k).collect()
        }
        brute_s = time.time() - t0

        n_centroids, n_probe = suggest_ivf_params(n)
        t0 = time.time()
        built = build_ivf_index(corpus, n_centroids=n_centroids)
        prebuilt = IvfIndex(
            built.centroids.localCheckpoint(eager=True),
            built.assignments.localCheckpoint(eager=True),
            built.n_centroids,
        )
        ivf_build_s = time.time() - t0
        t0 = time.time()
        ivf = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(
                corpus, queries, k=k, n_probe=n_probe, index=prebuilt
            ).collect()
        }
        ivf_s = time.time() - t0

        t0 = time.time()
        lsh = {
            (r["query_id"], r["vec_id"])
            for r in lsh_topk(corpus, queries, k=k).collect()
        }
        lsh_s = time.time() - t0

        print(
            f"{f}x\t{n}\t{brute_s:.2f}\t{ivf_build_s:.2f}\t{ivf_s:.2f}"
            f"\t{len(ivf & truth) / len(truth):.3f}\t{lsh_s:.2f}"
            f"\t{len(lsh & truth) / len(truth):.3f}"
            f"\t{n_centroids}\t{n_probe}"
        )
    spark.stop()


#: the heaviest registered queries (BENCH_r04 top of table) — the
#: registry-heavy rehearsal's default workload
HEAVY_QUERIES = [
    "llm_corpus_export",
    "stream_islands_stateful",
    "llm_dedup_incremental",
    "llm_corpus_overlap",
    "llm_quality_model",
    "llm_dedup_containment",
    "llm_dedup_simhash",
    "llm_dedup_near",
    "llm_sim_ivf",
    "llm_dedup_substring",
    # round-6 additions
    "llm_dedup_editdist",
    "llm_graph_pagerank",
    "llm_graph_triangles",
    "llm_graph_kcore",
    "llm_tfidf_keywords",
    "llm_bigram_pmi",
    "llm_bpe_encode",
    "llm_sim_quantized",
    "qa_profile",
    "qa_table_checksum",
    # round-7 additions: LM curation + PCA/SemDeDup + retrieval
    "llm_lm_score",
    "llm_dsir_weights",
    "llm_embedding_pca",
    "llm_semdedup",
    "llm_ccnet_buckets",
    "llm_bm25_search",
    "llm_hybrid_search",
]


def _single_file(spark, df, out_path: str) -> None:
    """Write df as ONE parquet file named exactly ``out_path`` (the
    testdata layout: streaming sources pathGlobFilter on the name)."""
    import glob as _glob
    import shutil

    tmp = out_path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, out_path)
    shutil.rmtree(tmp, ignore_errors=True)


def build_scaled_dir(spark, sf_dir: str, factor: int, out_dir: str) -> str:
    """Synthesize a ``factor``x testdata directory, preserving each
    table's INTERNAL structure:

    * documents — replica k rewrites every word w → ``w_k`` (k>0):
      each replica keeps the base corpus's exact dup/near-dup/shingle
      relations while replicas share no shingles, so dedup output
      scales linearly instead of creating artificial 10-way clusters.
    * embeddings — replica k rotates the dimensions by k: norms and
      within-replica pairwise similarities are EXACTLY preserved,
      cross-replica similarities scramble.
    * events — replica k offsets user_id/event_id past the base max:
      per-key history shapes are kept, key cardinality scales.
    * all other tables symlink to the base (dims don't scale with
      corpus volume).
    """
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.sources.tables import read_table

    done = os.path.join(out_dir, "_SCALED_OK")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k")

    docs = read_table(spark, sf_dir, "documents")
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    text_k = F.when(F.col("k") == 0, F.col("text")).otherwise(
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("_"), F.col("k")),
            ),
            " ",
        )
    )
    _single_file(
        spark,
        docs.select(reps, "doc_id", "text", "lang", "source").select(
            (F.col("doc_id") + F.col("k") * max_doc).alias("doc_id"),
            text_k.alias("text"),
            "lang",
            "source",
            F.length(text_k).cast("int").alias("n_chars"),
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    emb = read_table(spark, sf_dir, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = len(emb.select("embedding").first()[0])
    rotated = F.when(F.col("k") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("k") + 1, F.lit(dim) - F.col("k")),
            F.slice(F.col("embedding"), 1, F.col("k")),
        )
    )
    _single_file(
        spark,
        emb.select(reps, "vec_id", "embedding", "label").select(
            (F.col("vec_id") + F.col("k") * max_vec).alias("vec_id"),
            rotated.alias("embedding"),
            "label",
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    ev = read_table(spark, sf_dir, "events")
    maxes = ev.agg(F.max("event_id"), F.max("user_id")).first()
    max_eid, max_uid = maxes[0] + 1, maxes[1] + 1
    # Spark's default parquet timestamp output is INT96, which the
    # footer-precision sniffer in read_table would classify as nanos
    # and then fail to read as int64 — write micros explicitly so the
    # scaled dir round-trips through the same reader as the fixture
    ts_type_prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    _single_file(
        spark,
        ev.select(reps, "*").select(
            (F.col("event_id") + F.col("k") * max_eid).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("k") * max_uid).alias("user_id"),
            "event_type",
            "value",
            "props",
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    # restore: the micros override must not leak into the session the
    # rehearsal measures with (orders/lineitem below carry ntz
    # timestamps whose written type should stay the session default)
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type_prev)

    # customer/orders scale too (round 6): the link-graph rehearsal
    # (llm_graph_pagerank) needs node AND edge cardinality to grow.
    # Replica k offsets c_custkey / o_custkey / o_orderkey past the
    # base max consistently, so each replica is an isomorphic copy of
    # the base graph — per-node degree structure preserved, graph size
    # scales by factor.
    cust = read_table(spark, sf_dir, "customer")
    max_ck = cust.agg(F.max("c_custkey")).first()[0] + 1
    _single_file(
        spark,
        cust.select(reps, "*").select(
            (F.col("c_custkey") + F.col("k") * max_ck).alias("c_custkey"),
            *[c for c in cust.columns if c != "c_custkey"],
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    orders = read_table(spark, sf_dir, "orders")
    max_ok = orders.agg(F.max("o_orderkey")).first()[0] + 1
    _single_file(
        spark,
        orders.select(reps, "*").select(
            (F.col("o_orderkey") + F.col("k") * max_ok).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("k") * max_ck).alias("o_custkey"),
            *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
        ),
        os.path.join(out_dir, "orders.parquet"),
    )

    # lineitem scales with orders (round 7): per-order line structure
    # preserved by offsetting l_orderkey with the SAME order offset;
    # part/supplier keys stay in the base domain (bounded dims).
    li = read_table(spark, sf_dir, "lineitem")
    _single_file(
        spark,
        li.select(reps, "*").select(
            (F.col("l_orderkey") + F.col("k") * max_ok).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    for tbl in (
        "region",
        "nation",
        "supplier",
        "part",
    ):
        dst = os.path.join(out_dir, f"{tbl}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f"{tbl}.parquet"), dst)
    with open(done, "w") as fh:
        fh.write(f"factor={factor} from {sf_dir}\n")
    return out_dir


def rehearse_registry_heavy(
    sf_dir: str, factor: int, repeats: int, names: list[str] | None = None
) -> None:
    import math

    spark = _spark()
    names = names or HEAVY_QUERIES
    out_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_scaled_{factor}x_v3"
    )
    t0 = time.time()
    build_scaled_dir(spark, sf_dir, factor, out_dir)
    print(
        f"# registry-heavy rehearsal: {factor}x volume at {out_dir} "
        f"(build/reuse {time.time() - t0:.1f} s), repeats={repeats}, "
        f"exponent = log(t_big/t_base)/log({factor})"
    )
    print("query\tbase_s\tbig_s\texponent")
    for name in names:
        try:
            walls = {
                label: _best_run(spark, name, d, repeats)[0]
                for label, d in (("base", sf_dir), ("big", out_dir))
            }
        except Exception as e:  # noqa: BLE001 - rehearse every query
            print(f"{name}\tERROR\t{type(e).__name__}: {str(e)[:160]}")
            continue
        exp = math.log(walls["big"] / walls["base"]) / math.log(factor)
        print(
            f"{name}\t{walls['base']:.2f}\t{walls['big']:.2f}\t{exp:.2f}"
        )
    spark.stop()


def rehearse_basket_skew(sf_dir: str, repeats: int = 2) -> None:
    """Hot-item worst case for ``agg_assoc_rules``: append one item to
    EVERY basket (100% support — corpus-wide boilerplate, the analogue
    of the substring-skew rehearsal) and compare wall + rule count vs
    the clean baskets. Claims under test: (a) the hot item adds at most
    |basket| pairs per basket — pair EXPANSION stays linear because
    pairs come from per-basket arrays, never a basket self-join whose
    hot key would explode quadratically; (b) the hot item's pair
    counts partial-aggregate map-side (groupBy(ia, ib) combine), so no
    single reducer sees all |baskets| occurrences of a (hot, x) pair
    at once as rows — only as pre-combined partials; (c) singleton
    counts re-attach by BROADCAST, so the 100%-support key never
    routes through a shuffle join. A superlinear wall here is the
    n^2 blowup the apriori prune exists to prevent."""
    import shutil

    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.sources.tables import read_table

    import hashlib

    spark = _spark()
    # key the cached fixture by the SOURCE dir: rerunning with a
    # different --sf-dir must rebuild, not silently reuse another SF's
    # baskets (which would invalidate the clean-vs-hot comparison)
    tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out_dir = os.path.join(
        tempfile.gettempdir(), f"sdp_basket_skew_{tag}"
    )
    ok = os.path.join(out_dir, "_SKEW_OK")
    if not os.path.exists(ok):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        li = read_table(spark, sf_dir, "lineitem")
        hot = (
            li.select("l_orderkey")
            .distinct()
            .select(
                "l_orderkey",
                F.lit(999_999).cast("long").alias("l_partkey"),
                *[
                    F.lit(None).cast(li.schema[c].dataType).alias(c)
                    for c in li.columns
                    if c not in ("l_orderkey", "l_partkey")
                ],
            )
            .select(*li.columns)
        )
        li.unionByName(hot).coalesce(4).write.mode("overwrite").parquet(
            os.path.join(out_dir, "lineitem.parquet")
        )
        open(ok, "w").write("ok")
    print(
        "# basket-skew rehearsal: one item appended to EVERY basket "
        f"(100% support) vs clean, best of {repeats}"
    )
    print("shape\twall_s\tn_rules\tn_hot_rules")

    def hot_count(df) -> int:
        return df.filter(
            (F.col("item_a") == 999_999) | (F.col("item_b") == 999_999)
        ).count()

    for label, d in (("clean", sf_dir), ("hot-item", out_dir)):
        wall, rows = _best_run(spark, "agg_assoc_rules", d, repeats, _force)
        _, hot_rows = _best_run(spark, "agg_assoc_rules", d, 1, hot_count)
        print(f"{label}\t{wall:.2f}\t{rows}\t{hot_rows}")
    spark.stop()


def rehearse_dedup_amortized(
    sf_dir: str, batches: int = 10, batch_rows: int = 100
) -> None:
    """Amortization curve for the incremental-dedup ingestion path
    (round-8 verdict item 5): the 100 TB standing-corpus scenario is
    build the band-signature index ONCE, then dedup every incoming
    batch against the PERSISTED index. Two claims measured:

    1. **wall vs batch count is flat** — batches 1..N probe the same
       stored index; per-batch wall must not grow with the batch
       ordinal (no hidden re-clustering, no state accumulating in the
       probe path);
    2. **per-batch cost is flat in corpus size** — the same fixed
       batch probed against a 1x and a 10x index must cost ~the same,
       because probe_signature_index reads only the parquet partitions
       the batch's own band hashes touch. The 10x index is the 1x
       signature table plus 9 re-keyed copies with PERTURBED band
       hashes (distinct-content corpus growth: new docs occupy new
       buckets) — the honest model; 10x copies of identical hashes
       would instead measure the everything-duplicated worst case.
    """
    import shutil

    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.dedup import (
        banded_signatures,
        minhash_dedup_incremental,
        persist_signature_index,
        probe_signature_index,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = os.path.join(tempfile.gettempdir(), "sdp_dedup_amortized")
    shutil.rmtree(root, ignore_errors=True)
    idx1 = os.path.join(root, "index_1x")
    idx10 = os.path.join(root, "index_10x")

    t0 = time.time()
    sigs = banded_signatures(docs)
    persist_signature_index(sigs, idx1)
    build_s = time.time() - t0
    n_corpus = docs.count()
    print(
        f"# dedup-amortized rehearsal: corpus={n_corpus} docs, index built "
        f"once in {build_s:.2f}s at {idx1}; batches of {batch_rows} docs "
        "probe the persisted index only"
    )

    # 10x index: 9 extra re-keyed copies with band hashes perturbed per
    # copy (xxhash64(band_hash, j)) — same row volume growth as a 10x
    # distinct corpus, no new bucket collisions with the batch.
    sigs1 = spark.read.parquet(idx1).drop("bucket")
    copies = [sigs1]
    for j in range(1, 10):
        copies.append(
            sigs1.select(
                (F.col("doc_id") + F.lit(j * 100_000_000)).alias("doc_id"),
                "minhash",
                "band_idx",
                F.xxhash64("band_hash", F.lit(j)).alias("band_hash"),
            )
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    persist_signature_index(big, idx10)

    # incoming batches: fixed-size slices of the corpus re-keyed to new
    # ids with text UNCHANGED — the matching-heavy ingest case (every
    # doc collides with its corpus original, so the probe + verify +
    # drop path runs end-to-end every batch).
    def batch_df(i: int):
        return (
            docs.filter(F.col("doc_id") % 1000 == i)
            .limit(batch_rows)
            .select(
                (F.col("doc_id") + F.lit((i + 1) * 10_000_000)).alias("doc_id"),
                "text",
            )
        )

    print("claim 1: per-batch wall vs batch ordinal (persisted 1x index)")
    print("batch\twall_s\tsurvivors")
    walls = []
    for i in range(batches):
        new = batch_df(i)
        new_sigs = banded_signatures(new)
        t0 = time.time()
        corpus_sigs = probe_signature_index(spark, idx1, new_sigs)
        out = minhash_dedup_incremental(
            docs, new, threshold=0.6, corpus_signatures=corpus_sigs
        )
        n = out.count()
        w = time.time() - t0
        walls.append(w)
        print(f"{i + 1}\t{w:.2f}\t{n}")
        spark.catalog.clearCache()
    import statistics

    half = max(2, len(walls) // 2)
    drift = statistics.median(walls[-half:]) / statistics.median(walls[:half])
    print(f"late/early median wall ratio: {drift:.2f} (flat iff ~1.0)")

    print("claim 2: same fixed batch vs 1x and 10x persisted index")
    print("index\trows\twall_s(best of 2)")
    import math

    probe_walls = {}
    fixed = batch_df(0)
    for label, path in (("1x", idx1), ("10x", idx10)):
        rows = spark.read.parquet(path).count()
        runs = []
        for _ in range(2):
            new_sigs = banded_signatures(fixed)
            t0 = time.time()
            corpus_sigs = probe_signature_index(spark, path, new_sigs)
            minhash_dedup_incremental(
                docs, fixed, threshold=0.6, corpus_signatures=corpus_sigs
            ).count()
            runs.append(time.time() - t0)
            spark.catalog.clearCache()
        probe_walls[label] = min(runs)
        print(f"{label}\t{rows}\t{min(runs):.2f}")
    exp = math.log(probe_walls["10x"] / probe_walls["1x"]) / math.log(10)
    print(f"corpus-size exponent: {exp:.2f} (flat iff ~0; 1.0 = linear rescan)")
    spark.stop()


def rehearse_media(sf_dir: str, factors: list[int], n0: int = 2000) -> None:
    """Decode-throughput scaling for the media path: n synthetic 16x12
    RGB PNGs generated ON EXECUTORS (mapInPandas over spark.range — no
    driver materialization), pinned with localCheckpoint so the timed
    runs measure decode, not generation. The claim under test: decode
    is a narrow map (plan-contract: zero exchanges), so wall grows
    ~linearly in rows and rows/s is flat — no hidden driver funnel or
    shuffle appears as the corpus grows."""
    import pandas as pd

    spark = _spark()

    def gen(batches):
        from steam_data_pipeline_spark.llm.png import encode_png

        for pdf in batches:
            ids, contents = [], []
            for i in pdf["id"]:
                i = int(i)
                px = bytes(
                    v & 0xFF
                    for y in range(12)
                    for x in range(16)
                    for v in (i + x + y, 2 * i + x, i + 3 * y)
                )
                ids.append(i)
                contents.append(encode_png(16, 12, 3, px, row_filters=[(i + y) % 5 for y in range(12)]))
            yield pd.DataFrame(
                {"media_id": ids, "modality": "image", "content": contents}
            )

    print(f"# media decode rehearsal: 16x12 RGB PNGs, base n {n0}")
    print("factor\tn\tfeat_wall_s\tfeat_rows_per_s\tphash_wall_s")
    for f in factors:
        n = f * n0
        media = (
            spark.range(0, n, 1, 32)
            .mapInPandas(gen, "media_id long, modality string, content binary")
            .localCheckpoint(eager=True)
        )
        from steam_data_pipeline_spark.llm.multimodal import (
            extract_features,
            perceptual_hash,
        )

        t0 = time.time()
        _noop(extract_features(media))
        feat_s = time.time() - t0
        t0 = time.time()
        _noop(perceptual_hash(media))
        ph_s = time.time() - t0
        print(f"{f}x\t{n}\t{feat_s:.2f}\t{n / feat_s:.0f}\t{ph_s:.2f}")
    spark.stop()


BOILERPLATE = (
    "this page is provided for informational purposes only "
    "please review the terms before continuing"
)  # 14 tokens -> 7 repeated 8-windows at the head of EVERY doc


def rehearse_substring_skew(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.dedup import duplicated_spans
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()

    skewed = docs.select(
        "doc_id", F.concat(F.lit(BOILERPLATE + " "), F.col("text")).alias("text")
    )

    # one warm pass so neither measured run pays first-use machinery
    _force(duplicated_spans(docs.limit(64), k=8))

    print(f"# substring-skew rehearsal: {n} docs, boilerplate in 100% of docs")
    print("corpus\twall_s\tspans\tspan_rows_per_doc")
    for label, d in (("clean", docs), ("skewed", skewed)):
        # write/read through parquet so both runs pay the same scan shape
        tmp = tempfile.mkdtemp(prefix=f"rehearse_sub_{label}_")
        d.write.mode("overwrite").parquet(tmp)
        dd = spark.read.parquet(tmp)
        t0 = time.time()
        spans = _force(duplicated_spans(dd, k=8))
        wall = time.time() - t0
        print(f"{label}\t{wall:.2f}\t{spans}\t{spans / n:.3f}")
    spark.stop()


def rehearse_lpa_skew(factors: list[int]) -> None:
    """LPA hub-skew rehearsal (round-7 verdict item 6): synchronous
    label propagation's per-round ``groupBy(node, lab)`` and the
    edge⋈frontier join both key on nodes, so a power-law degree
    distribution concentrates work on hubs. Measure ``rounds=4`` LPA
    wall on a uniform graph vs a Zipf-ish one (dst drawn via inverse
    log CDF: density ∝ 1/rank, the web-graph shape) at the same edge
    counts, with node count scaling alongside edges (keys grow with
    data, as in the fixture). Claims under test: (a) growth stays
    ~linear (exponent ≲ 1.2) on BOTH shapes, (b) the skewed/uniform
    wall ratio stays bounded — because the (node, lab) count is
    map-side combined (hub updates partially aggregate per task) and
    the argmax struct agg runs on the already-collapsed (node, lab)
    domain. If (b) ever degrades, the documented mitigation is
    salting the hub side of the per-round join (split hot ``u`` keys
    into ``u × salt`` replicas of the frontier row)."""
    import math

    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.operators.graph import label_propagation

    spark = _spark()
    base_edges = 200_000
    base_nodes = 50_000
    print(
        "# lpa-skew rehearsal: rounds=4, edges/nodes scale together; "
        "exponent = log(t_big/t_base)/log(factor)"
    )
    print("shape\tfactor\tedges\tmax_degree\twall_s")
    walls: dict[tuple[str, int], float] = {}
    for shape in ("uniform", "powerlaw"):
        for f in factors:
            n_edges = base_edges * f
            n_nodes = base_nodes * f
            base = spark.range(n_edges).select(
                (F.abs(F.xxhash64("id", F.lit(1))) % n_nodes).alias("src"),
                (
                    (F.abs(F.xxhash64("id", F.lit(2))) % 1_000_000)
                    / 1_000_000.0
                ).alias("u01"),
            )
            if shape == "uniform":
                e = base.select(
                    "src",
                    (F.abs(F.xxhash64("u01")) % n_nodes).alias("dst"),
                )
            else:
                # inverse log CDF: P(dst <= x) = ln(x)/ln(N) -> degree
                # density ~ 1/rank (Zipf exponent 1, the hub regime)
                e = base.select(
                    "src",
                    F.floor(
                        F.exp(F.col("u01") * math.log(n_nodes))
                    ).cast("long").alias("dst"),
                )
            e = e.localCheckpoint(eager=True)
            hub = (
                e.select(F.col("dst").alias("v"))
                .unionByName(e.select(F.col("src").alias("v")))
                .groupBy("v")
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            t0 = time.time()
            _force(label_propagation(e, rounds=4))
            wall = time.time() - t0
            walls[(shape, f)] = wall
            print(f"{shape}\t{f}\t{n_edges}\t{hub}\t{wall:.2f}")
    import math as m

    for shape in ("uniform", "powerlaw"):
        fs = sorted(f for s, f in walls if s == shape)
        if len(fs) >= 2:
            lo, hi = fs[0], fs[-1]
            exp = m.log(walls[(shape, hi)] / walls[(shape, lo)]) / m.log(
                hi / lo
            )
            print(f"# {shape} exponent {lo}x->{hi}x: {exp:.2f}")
    spark.stop()


def rehearse_ann_prune(sf_dir: str, factor: int = 10, repeats: int = 2) -> None:
    """Measure what the static touched-bucket IN predicate buys a
    PERSISTED LSH probe at production-like plane counts. At the demo's
    8 planes a multi-query batch probes ~every one of 256 buckets, so
    pruning is a no-op; at 12 planes / radius 2 the probe set covers a
    small fraction of 4096 buckets and the predicate prunes the file
    listing itself. Compares the reloaded index (pruned probe) with
    the same tables marked in-memory (``reloaded=False``: full-scan
    probe), identical results asserted, on a factor-x corpus."""
    import dataclasses

    import numpy as np
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.simsearch import (
        build_lsh_index,
        load_lsh_index,
        lsh_topk,
        save_lsh_index,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    base = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n0 = base.count()
    id_base = base.agg(F.max("vec_id")).first()[0] + 1
    dim = len(base.select("embedding").first()[0])
    corpus = base
    if factor > 1:
        rng = np.random.default_rng(77)
        extra = rng.standard_normal(((factor - 1) * n0, dim))
        extra_df = spark.createDataFrame(
            [((id_base + i), [float(x) for x in row]) for i, row in enumerate(extra)],
            "vec_id long, embedding array<double>",
        ).select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        corpus = base.union(extra_df)
    corpus = corpus.localCheckpoint(eager=True)
    n = corpus.count()
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    n_planes, radius = 12, 2
    d = tempfile.mkdtemp() + "/lshidx"
    t0 = time.time()
    save_lsh_index(
        build_lsh_index(corpus, n_planes=n_planes, n_tables=2), d
    )
    build_s = time.time() - t0
    idx = load_lsh_index(spark, d)

    def probe(index) -> tuple[float, list]:
        walls = []
        rows = None
        for _ in range(repeats):
            t0 = time.time()
            out = lsh_topk(
                corpus, queries, k=10, index=index, probe_radius=radius
            )
            rows = sorted(map(tuple, out.collect()))
            walls.append(time.time() - t0)
        return min(walls), rows

    pruned_s, pruned_rows = probe(idx)
    full_s, full_rows = probe(dataclasses.replace(idx, reloaded=False))
    assert pruned_rows == full_rows, "pruning changed results"
    n_masks = 1 + n_planes + n_planes * (n_planes - 1) // 2
    print(
        f"# ann-prune rehearsal: corpus {n}, {n_planes} planes "
        f"(4096 buckets/table), radius {radius} ({n_masks} masks/query), "
        f"8 queries, build+save {build_s:.1f}s"
    )
    print("probe\twall_s")
    print(f"pruned\t{pruned_s:.2f}")
    print(f"full-scan\t{full_s:.2f}")
    print(f"# speedup {full_s / pruned_s:.2f}x; results identical")


def rehearse_skyline(sf_dir: str, factors: list[int], repeats: int = 2) -> None:
    """Measure what the partition-local skyline pre-prune
    (operators/skyline.py) buys on a FACT-sized input — the registered
    query reads dim-sized `part`, so this rehearses the same two plans
    on scaled lineitem axes (minimize extendedprice cents, maximize
    quantity): the bare global two-window pass (whose Exchange
    SinglePartition swallows the raw input) vs pre-prune → same global
    pass over the survivors. Results asserted identical; survivor
    count shows the prune ratio."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.operators.skyline import (
        local_skyline_preprune,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    base = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("size"),
    )
    n0 = base.count()

    def exact(df):
        w_lower = Window.orderBy("price_cents").rangeBetween(
            Window.unboundedPreceding, -1
        )
        w_eq = Window.partitionBy("price_cents")
        tagged = df.select(
            "id",
            "price_cents",
            "size",
            F.max("size").over(w_lower).alias("smax_lower"),
            F.max("size").over(w_eq).alias("smax_equal"),
        )
        return tagged.filter(
            (F.col("smax_lower").isNull() | (F.col("smax_lower") < F.col("size")))
            & (F.col("smax_equal") == F.col("size"))
        ).select("id", "price_cents", "size")

    print(f"# skyline rehearsal: lineitem axes, base n {n0}, repeats {repeats}")
    print("factor\tn\tbare_s\tpruned_s\tsurvivors\tskyline")
    for f in factors:
        df = base
        if f > 1:
            # deterministic replication with hash-jittered prices so
            # copies are distinct points, not exact duplicates
            df = (
                base.withColumn(
                    "rep", F.explode(F.sequence(F.lit(0), F.lit(f - 1)))
                )
                .select(
                    (F.col("id") * f + F.col("rep")).alias("id"),
                    (
                        F.col("price_cents")
                        + F.pmod(F.xxhash64("id", "rep"), F.lit(10000))
                    ).alias("price_cents"),
                    "size",
                )
            )
        df = df.localCheckpoint(eager=True)
        n = df.count()
        survivors = local_skyline_preprune(
            df, minimize="price_cents", maximize="size"
        ).count()

        def timed(plan_df):
            walls, rows = [], None
            for _ in range(repeats):
                t0 = time.time()
                rows = sorted(map(tuple, plan_df.collect()))
                walls.append(time.time() - t0)
            return min(walls), rows

        bare_s, bare_rows = timed(exact(df))
        pruned_s, pruned_rows = timed(
            exact(
                local_skyline_preprune(
                    df, minimize="price_cents", maximize="size"
                )
            )
        )
        assert bare_rows == pruned_rows, "pre-prune changed the skyline"
        print(
            f"{f}x\t{n}\t{bare_s:.2f}\t{pruned_s:.2f}\t{survivors}"
            f"\t{len(bare_rows)}"
        )
    spark.stop()


def rehearse_cume_fact(sf_dir: str, factors: list[int], repeats: int = 2) -> None:
    """Measure operators/ranks.py::exact_cume_counts_multi on a
    FACT-sized input — the registered qa_outlier_ecod reads dim-sized
    `part` (not in the synthesis set, so its registry-heavy exponent
    is flat by construction); this rehearses the same primitive on
    scaled lineitem axes (jittered price cents / quantity / suppkey)
    against the naive unpartitioned RANGE-window plan (one
    Exchange SinglePartition per direction per metric). Equality is
    asserted via exact integer checksums per metric."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.operators.ranks import (
        exact_cume_counts_multi,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    spark = _spark()
    base = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_suppkey").cast("long").alias("sk"),
    )
    metrics = [("cents", "le_c", "ge_c"), ("qty", "le_q", "ge_q"),
               ("sk", "le_s", "ge_s")]

    def naive(df):
        out = df
        for m, le, ge in metrics:
            w_le = Window.orderBy(F.col(m).asc()).rangeBetween(
                Window.unboundedPreceding, 0
            )
            w_ge = Window.orderBy(F.col(m).desc()).rangeBetween(
                Window.unboundedPreceding, 0
            )
            out = out.withColumn(le, F.count(F.lit(1)).over(w_le)).withColumn(
                ge, F.count(F.lit(1)).over(w_ge)
            )
        return out

    def checksum(df):
        aggs = []
        for _, le, ge in metrics:
            aggs += [
                F.sum(le).cast("decimal(38,0)").alias(f"s_{le}"),
                F.sum(ge).cast("decimal(38,0)").alias(f"s_{ge}"),
                F.sum(F.col(le).cast("decimal(19,0)") * F.col(ge))
                .cast("decimal(38,0)")
                .alias(f"x_{le}"),
            ]
        return tuple(df.agg(*aggs).collect()[0])

    n0 = base.count()
    print(
        f"# cume-fact rehearsal: lineitem axes, base n {n0}, repeats {repeats}"
    )
    print("factor\tn\tnaive_s\tmulti_s")
    for f in factors:
        df = base
        if f > 1:
            df = base.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(f - 1)))
            ).select(
                (
                    F.col("cents")
                    + F.pmod(F.xxhash64("cents", "qty", "sk", "rep"), F.lit(997))
                ).alias("cents"),
                "qty",
                "sk",
            )
        df = df.localCheckpoint(eager=True)
        n = df.count()

        def timed(plan_df):
            walls, cs = [], None
            for _ in range(repeats):
                t0 = time.time()
                cs = checksum(plan_df)
                walls.append(time.time() - t0)
            return min(walls), cs

        naive_s, naive_cs = timed(naive(df))
        # small_bytes=0: the rehearsal exists to measure the AT-SCALE
        # histogram plan — never let the small-input gate divert it
        multi_s, multi_cs = timed(
            exact_cume_counts_multi(df, metrics, small_bytes=0)
        )
        assert naive_cs == multi_cs, (naive_cs, multi_cs)
        print(f"{f}x\t{n}\t{naive_s:.2f}\t{multi_s:.2f}")
    spark.stop()


def rehearse_cache_ab(sf_dir: str, factor: int, repeats: int = 2) -> None:
    """Re-verify the round-10 cache-vs-rescan verdicts at a deeper tier
    (round-10 verdict item 2: every SCALE.md exponent comes from the 10x
    corpus; the decisions extrapolate two more orders of magnitude, so
    measure at 30x+ and record whether any verdict FLIPS).

    Two A/B rows at the chosen factor, exact same operation on both
    arms (results forced through the noop sink, min of ``repeats``):
    ``llm_dedup_editdist`` / ``llm_graph_triangles``, the round-10
    KEPT-UNCACHED cases. B-arm applies the textbook fix that was
    rejected: cache every source-table read (patching the query
    module's ``t``), so all plan branches share one materialization
    instead of pruned parallel re-scans. (The ranks-spine rows,
    ``ntile-multi`` / ``cume-multi``, are retired: the cached arm lost
    at 30x in rounds 11 and 12 and the library no longer has it.)

    A verdict flips when the committed arm is SLOWER at this tier.
    """
    from steam_data_pipeline_spark.operators import caching
    from steam_data_pipeline_spark.plans import extensions as ext

    spark = _spark()
    out_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_scaled_{factor}x_v3"
    )
    t0 = time.time()
    build_scaled_dir(spark, sf_dir, factor, out_dir)
    print(
        f"# cache-ab rehearsal at {factor}x ({out_dir}, build/reuse "
        f"{time.time() - t0:.1f} s), repeats={repeats}"
    )

    print("case\tcommitted_s\talternative_s\tverdict_holds")

    # --- kept-uncached queries: committed = re-scan, alt = cache t() ---
    orig_t = ext.t

    def cached_t(spark_, d, name):
        return caching.spine_cache(orig_t(spark_, d, name))

    for name in ("llm_dedup_editdist", "llm_graph_triangles"):
        committed, _ = _best_run(spark, name, out_dir, repeats)
        ext.t = cached_t
        try:
            alt, _ = _best_run(spark, name, out_dir, repeats)
        finally:
            ext.t = orig_t
        print(
            f"{name}(uncached)\t{committed:.2f}\t{alt:.2f}\t"
            f"{committed <= alt}"
        )

    spark.stop()


def rehearse_window_skew(
    sf_dir: str, factors: list[int], repeats: int = 2
) -> None:
    """Per-key window/asof operators under a GROWING hot key.

    Axis-5 (r13) showed the per-key operators are CORRECT under 90%
    hot-key skew at sf0.001; this measures whether any of them still
    hides an O(k^2)-in-key-size term at scale — the class the r12
    forward-asof rewrite removed (an UnboundedFollowing ROWS frame
    rescans row->partition-end per row). Method: for each factor f,
    take the structure-preserving f-x corpus and remap ~90% of
    events.user_id onto ONE existing key (time order kept), so the hot
    key holds ~0.9 * f * |events| rows; time the per-key operators on
    the hot corpus and report the exponent of wall vs hot-key size
    between consecutive factors. Linear-ish (<= ~1.2) = the per-key
    scan is O(k) / O(k log k); ~2 = a quadratic frame is back.

    The absolute wall also documents the 100 TB skew floor: a per-key
    window serializes per key, so ONE task owns the hot key's rows —
    key-level parallelism is the semantic floor, and the operators'
    job is to keep the per-key cost linear, which is what this
    measures."""
    import math

    import duckdb

    names = [
        "win_islands",
        "join_asof_forward",
        "join_asof_backward",
        "win_latest_per_key",
    ]
    spark = _spark()
    walls: dict[str, dict[int, float]] = {n: {} for n in names}
    hot_rows: dict[int, int] = {}
    for f in factors:
        scaled = build_scaled_dir(
            spark,
            sf_dir,
            f,
            os.path.join(tempfile.gettempdir(), f"spark_graft_scaled_{f}x_v3"),
        )
        hot_dir = os.path.join(
            tempfile.gettempdir(), f"spark_graft_winskew_{f}x"
        )
        if not os.path.exists(os.path.join(hot_dir, "_OK")):
            os.makedirs(hot_dir, exist_ok=True)
            con = duckdb.connect()
            hot = con.execute(
                f"SELECT MIN(user_id) FROM '{scaled}/events.parquet'"
            ).fetchone()[0]
            con.execute(
                f"COPY (SELECT event_id, ts, "
                f"CASE WHEN hash(CAST(event_id AS VARCHAR) || 'hot') "
                f"% 10 != 0 THEN {hot} ELSE user_id END AS user_id, "
                f"event_type, value, props "
                f"FROM '{scaled}/events.parquet') "
                f"TO '{hot_dir}/events.parquet' (FORMAT PARQUET)"
            )
            con.close()
            for name in (
                "region nation customer supplier part orders lineitem "
                "documents embeddings".split()
            ):
                dst = os.path.join(hot_dir, f"{name}.parquet")
                if not os.path.exists(dst):
                    os.symlink(os.path.join(scaled, f"{name}.parquet"), dst)
            with open(os.path.join(hot_dir, "_OK"), "w") as fh:
                fh.write("ok")
        con = duckdb.connect()
        hot_rows[f] = con.execute(
            f"SELECT COUNT(*) FROM '{hot_dir}/events.parquet' "
            f"WHERE user_id = (SELECT MIN(user_id) "
            f"FROM '{hot_dir}/events.parquet')"
        ).fetchone()[0]
        con.close()
        for name in names:
            walls[name][f], _ = _best_run(spark, name, hot_dir, repeats)
    print(
        "# window-skew rehearsal: ~90% of events on ONE key; exponent "
        "of wall vs HOT-KEY size between consecutive factors"
    )
    print("query\t" + "\t".join(
        f"{f}x({hot_rows[f]} hot)" for f in factors
    ) + "\texponent")
    for name in names:
        exps = []
        for a, b in zip(factors, factors[1:]):
            exps.append(
                math.log(walls[name][b] / walls[name][a])
                / math.log(hot_rows[b] / hot_rows[a])
            )
        print(
            name + "\t"
            + "\t".join(f"{walls[name][f]:.2f}" for f in factors)
            + "\t" + ",".join(f"{e:.2f}" for e in exps)
        )
    spark.stop()


def rehearse_dup_block(
    sf_dir: str, sizes: list[int] | None = None, repeats: int = 2
) -> None:
    """Identical-document BLOCK blowup A/B (r13 skew axis at scale).

    An identical-text block of m docs shares every LSH band hash, so
    the banding self-join emits Theta(m^2) candidate pairs — the
    corpus-wide-boilerplate shape that kills near-dedup jobs at 100 TB.
    Measures, per block size m: (a) the RAW pair path
    (minhash_candidate_pairs on the full corpus — the pre-r13
    minhash_dedup shape; skipped above RAW_CAP where the pair count
    alone passes ~5e7) and (b) the fixed exact-collapse-first
    minhash_dedup (block contributes ONE representative row). The
    claim: raw wall/pairs grow ~quadratically in m; the fixed operator
    is flat in m."""
    import math

    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.dedup import (
        minhash_candidate_pairs,
        minhash_dedup,
    )
    from steam_data_pipeline_spark.sources.tables import read_table

    sizes = sizes or [2000, 8000, 32000]
    RAW_CAP = 8000
    spark = _spark()
    docs0 = read_table(spark, sf_dir, "documents")
    boiler = (
        "subscribe to our newsletter for the latest updates terms of "
        "service privacy policy all rights reserved contact us about "
        "careers press kit sitemap help center community guidelines"
    )
    print(
        "# dup-block rehearsal: identical-text block of m docs; "
        "raw = banding pairs on the full corpus (pre-r13 shape), "
        "fixed = exact-collapse-first minhash_dedup"
    )
    print("m\traw_pairs\traw_s\tfixed_s\tsurvivors")
    rows = []
    for m in sizes:
        docs = docs0.withColumn(
            "text",
            F.when(F.col("doc_id") < m, F.lit(boiler)).otherwise(
                F.col("text")
            ),
        ).localCheckpoint(eager=True)
        # EFFECTIVE block size: doc_id space may be sparse/smaller
        # than the requested m — exponents must use what was built
        m_eff = docs.filter(F.col("doc_id") < m).count()
        raw_pairs = raw_wall = None
        if m <= RAW_CAP:
            t0 = time.time()
            raw_pairs = (
                minhash_candidate_pairs(docs)
                .filter(F.col("est_jaccard") >= 0.6)
                .count()
            )
            raw_wall = time.time() - t0
        walls = []
        n_surv = None
        for _ in range(repeats):
            spark.catalog.clearCache()
            t0 = time.time()
            n_surv = minhash_dedup(docs, threshold=0.6).count()
            walls.append(time.time() - t0)
        fixed = min(walls)
        rows.append((m_eff, raw_pairs, raw_wall, fixed))
        print(
            f"{m}(eff {m_eff})\t{raw_pairs}\t"
            f"{raw_wall if raw_wall is None else round(raw_wall, 2)}\t"
            f"{fixed:.2f}\t{n_surv}"
        )
    done_raw = [(m, w) for m, _, w, _ in rows if w is not None]
    if len(done_raw) >= 2:
        (m1, w1), (m2, w2) = done_raw[0], done_raw[-1]
        print(
            f"raw wall exponent {math.log(w2 / w1) / math.log(m2 / m1):.2f}"
            f" over m {m1}->{m2}"
        )
    (m1, _, _, f1), (m2, _, _, f2) = rows[0], rows[-1]
    print(
        f"fixed wall exponent {math.log(f2 / f1) / math.log(m2 / m1):.2f}"
        f" over m {m1}->{m2}"
    )
    spark.stop()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "op",
        choices=[
            "ann",
            "ann-clustered",
            "substring-skew",
            "registry-heavy",
            "media",
            "lpa-skew",
            "basket-skew",
            "dedup-amortized",
            "ann-prune",
            "skyline",
            "cume-fact",
            "cache-ab",
            "window-skew",
            "dup-block",
        ],
    )
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10])
    p.add_argument("--factor", type=int, default=10)
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument("--queries", nargs="*", default=None)
    args = p.parse_args()
    if args.op == "ann":
        rehearse_ann(args.sf_dir, args.factors)
    elif args.op == "ann-clustered":
        rehearse_ann_clustered(args.sf_dir, args.factors)
    elif args.op == "registry-heavy":
        rehearse_registry_heavy(
            args.sf_dir, args.factor, args.repeats, args.queries
        )
    elif args.op == "media":
        rehearse_media(args.sf_dir, args.factors)
    elif args.op == "lpa-skew":
        rehearse_lpa_skew(args.factors)
    elif args.op == "basket-skew":
        rehearse_basket_skew(args.sf_dir, args.repeats)
    elif args.op == "dedup-amortized":
        rehearse_dedup_amortized(args.sf_dir)
    elif args.op == "ann-prune":
        rehearse_ann_prune(args.sf_dir, args.factor, args.repeats)
    elif args.op == "skyline":
        rehearse_skyline(args.sf_dir, args.factors, args.repeats)
    elif args.op == "cume-fact":
        rehearse_cume_fact(args.sf_dir, args.factors, args.repeats)
    elif args.op == "cache-ab":
        rehearse_cache_ab(args.sf_dir, args.factor, args.repeats)
    elif args.op == "window-skew":
        rehearse_window_skew(args.sf_dir, args.factors, args.repeats)
    elif args.op == "dup-block":
        rehearse_dup_block(args.sf_dir, args.factors, args.repeats)
    else:
        rehearse_substring_skew(args.sf_dir)


if __name__ == "__main__":
    main()
