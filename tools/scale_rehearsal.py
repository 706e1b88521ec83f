"""Scale rehearsals: synthesize larger corpora and re-measure the
numbers that live library code rests on (SCALE.md records the curves).
Each mode backs one constant, design or code branch:

    python tools/scale_rehearsal.py ann [--factors 1 3 10]
    python tools/scale_rehearsal.py registry-heavy [--factor 10 --repeats 2 --queries ...]
    python tools/scale_rehearsal.py dedup-amortized [--repeats 2]
    python tools/scale_rehearsal.py ann-prune [--factor 10 --repeats 2]
    python tools/scale_rehearsal.py skyline [--factors 1 3 10 --repeats 2]
    python tools/scale_rehearsal.py cume-fact [--factors 1 3 10 --repeats 2]

* ``ann`` — backs ``llm/simsearch.py::suggest_ivf_params``' √n
  centroid rule and its 16-centroid / 5-probe floors. Grows the
  embeddings corpus by seeded standard-normal rows (the fixture's own
  near-uniform geometry, the hardest case for bucketed ANN) and prints,
  per corpus size, brute-force wall, IVF build / probe wall + recall@10
  and LSH wall + recall@10.

* ``registry-heavy`` — backs the 10×/30× growth exponents quoted in
  registered queries' ``doc=`` strings and the 30× tier behind
  ``operators/recommend.py::_als_num_blocks``. Synthesizes a
  ``--factor``× copy of the scalable tables with their internal
  structure kept (:func:`build_scaled_dir`) and prints each heavy
  query's min-of-repeats wall at base and scaled volume with the growth
  exponent log(t_big/t_base)/log(factor).

* ``dedup-amortized`` — backs the persisted-index design of
  ``llm_dedup_incremental_persisted``: per-batch wall against a
  persisted signature index is flat in the batch ordinal and in corpus
  size (1× vs 10× index).

* ``ann-prune`` — backs the prune-when-``reloaded`` branch of
  ``lsh_topk`` / ``ivf_topk``: a persisted 12-plane LSH index probed
  pruned vs full-scan, results asserted identical.

* ``skyline`` — backs ``operators/skyline.py::local_skyline_preprune``:
  the bare global skyline pass vs pre-prune → same pass, on scaled
  lineitem axes, results asserted identical.

* ``cume-fact`` — backs ``operators/ranks.py::exact_cume_counts_multi``'s
  histogram plan against the naive unpartitioned RANGE-window plan on
  scaled lineitem axes, checksums asserted equal.

All modes share one Spark session. Walls are the min of ``repeats``.
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best_of(repeats: int, fn):
    """Min wall of ``repeats`` calls of ``fn`` and the last call's result."""
    walls, out = [], None
    for _ in range(repeats):
        t0 = time.time()
        out = fn()
        walls.append(time.time() - t0)
    return min(walls), out


def _grown_embeddings(spark, sf_dir: str, factor: int, seed: int):
    """The fixture's embeddings plus ``(factor - 1) * n0`` seeded
    standard-normal rows, pinned so timings measure search, not
    regeneration."""
    import numpy as np
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.sources.tables import read_table

    corpus = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if factor > 1:
        n0 = corpus.count()
        # synthetic ids start past the real max: if the fixture's ids
        # were sparse/offset, n0+i would collide with real ids and
        # silently corrupt the recall measure
        id_base = corpus.agg(F.max("vec_id")).first()[0] + 1
        dim = len(corpus.select("embedding").first()[0])
        extra = np.random.default_rng(seed).standard_normal(((factor - 1) * n0, dim))
        extra_df = spark.createDataFrame(
            [((id_base + i), [float(x) for x in row]) for i, row in enumerate(extra)],
            "vec_id long, embedding array<double>",
        ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
        corpus = corpus.union(extra_df)
    return corpus.localCheckpoint(eager=True)


def rehearse_ann(spark, sf_dir: str, factors: list[int]) -> None:
    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.simsearch import (
        IvfIndex,
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
        lsh_topk,
        suggest_ivf_params,
    )

    def topk(df):
        return {(r["query_id"], r["vec_id"]) for r in df.collect()}

    k = 10
    print(f"# ann rehearsal: k={k}, 5 queries, suggest_ivf_params sizing")
    print(
        "factor\tn\tbrute_s\tivf_build_s\tivf_probe_s\tivf_recall"
        "\tlsh_s\tlsh_recall"
    )
    for f in factors:
        corpus = _grown_embeddings(spark, sf_dir, f, seed=1234 + f)
        n = corpus.count()
        queries = corpus.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        brute_s, truth = best_of(1, lambda: topk(brute_force_topk(corpus, queries, k=k)))
        # production index sizing (suggest_ivf_params: centroids ~
        # sqrt(n), probes hold the 5/16 fraction) — a FIXED 16-centroid
        # index on a growing corpus degrades recall (measured: 0.72 ->
        # 0.56 from 2k to 20k vectors). Build and probe are timed
        # separately: the index is built ONCE and amortized across
        # query batches (ivf_topk's ``index=`` calling convention), so
        # probe-only is the per-query production cost.
        n_centroids, n_probe = suggest_ivf_params(n)

        def build():
            built = build_ivf_index(corpus, n_centroids=n_centroids)
            return IvfIndex(
                built.centroids.localCheckpoint(eager=True),
                built.assignments.localCheckpoint(eager=True),
                built.n_centroids,
            )

        ivf_build_s, prebuilt = best_of(1, build)
        ivf_s, ivf = best_of(
            1,
            lambda: topk(
                ivf_topk(corpus, queries, k=k, n_probe=n_probe, index=prebuilt)
            ),
        )
        lsh_s, lsh = best_of(1, lambda: topk(lsh_topk(corpus, queries, k=k)))
        print(
            f"{f}x\t{n}\t{brute_s:.2f}\t{ivf_build_s:.2f}\t{ivf_s:.2f}"
            f"\t{len(ivf & truth) / len(truth):.3f}\t{lsh_s:.2f}"
            f"\t{len(lsh & truth) / len(truth):.3f}"
        )


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
    spark, sf_dir: str, factor: int, repeats: int, names: list[str] | None = None
) -> None:
    from steam_data_pipeline_spark.plans.registry import run_query

    names = names or HEAVY_QUERIES
    # keyed by the source directory too: a corpus scaled from another
    # SF must never be reused as this one's big side
    src = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_scaled_{src}_{factor}x_v3"
    )
    t0 = time.time()
    build_scaled_dir(spark, sf_dir, factor, out_dir)
    print(
        f"# registry-heavy rehearsal: {factor}x volume at {out_dir} "
        f"(build/reuse {time.time() - t0:.1f} s), repeats={repeats}, "
        f"exponent = log(t_big/t_base)/log({factor})"
    )
    print("query\tbase_s\tbig_s\texponent")

    def run(name: str, d: str) -> None:
        r = run_query(spark, name, d, _noop)
        if r.error is not None:
            raise r.error

    for name in names:
        try:
            walls = {
                label: best_of(repeats, lambda: run(name, d))[0]
                for label, d in (("base", sf_dir), ("big", out_dir))
            }
        except Exception as e:  # noqa: BLE001 - rehearse every query
            print(f"{name}\tERROR\t{type(e).__name__}: {str(e)[:160]}")
            continue
        exp = math.log(walls["big"] / walls["base"]) / math.log(factor)
        print(
            f"{name}\t{walls['base']:.2f}\t{walls['big']:.2f}\t{exp:.2f}"
        )


def rehearse_dedup_amortized(
    spark, sf_dir: str, repeats: int = 2, batches: int = 10, batch_rows: int = 100
) -> None:
    """Amortization curve for the incremental-dedup ingestion path:
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

    # 10x index from the in-memory signatures (copy 0 as-is, copies
    # 1..9 re-keyed with band hashes perturbed per copy): same row
    # volume growth as a 10x distinct corpus, no new bucket collisions
    # with the batch
    k = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k")
    persist_signature_index(
        sigs.select(k, *sigs.columns).select(
            (F.col("doc_id") + F.col("k") * 100_000_000).alias("doc_id"),
            "minhash",
            "band_idx",
            F.when(F.col("k") == 0, F.col("band_hash"))
            .otherwise(F.xxhash64("band_hash", "k"))
            .alias("band_hash"),
        ),
        idx10,
    )

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

    def dedup_batch(new, path: str) -> int:
        new_sigs = banded_signatures(new)
        try:
            return minhash_dedup_incremental(
                docs,
                new,
                threshold=0.6,
                corpus_signatures=probe_signature_index(spark, path, new_sigs),
            ).count()
        finally:
            spark.catalog.clearCache()

    print("claim 1: per-batch wall vs batch ordinal (persisted 1x index)")
    print("batch\twall_s\tsurvivors")
    walls = []
    for i in range(batches):
        w, n = best_of(1, lambda: dedup_batch(batch_df(i), idx1))
        walls.append(w)
        print(f"{i + 1}\t{w:.2f}\t{n}")
    half = max(2, len(walls) // 2)
    drift = statistics.median(walls[-half:]) / statistics.median(walls[:half])
    print(f"late/early median wall ratio: {drift:.2f} (flat iff ~1.0)")

    print("claim 2: same fixed batch vs 1x and 10x persisted index")
    print(f"index\trows\twall_s(best of {repeats})")
    probe_walls = {}
    fixed = batch_df(0)
    for label, path in (("1x", idx1), ("10x", idx10)):
        rows = spark.read.parquet(path).count()
        probe_walls[label], _ = best_of(repeats, lambda: dedup_batch(fixed, path))
        print(f"{label}\t{rows}\t{probe_walls[label]:.2f}")
    exp = math.log(probe_walls["10x"] / probe_walls["1x"]) / math.log(10)
    print(f"corpus-size exponent: {exp:.2f} (flat iff ~0; 1.0 = linear rescan)")


def rehearse_ann_prune(spark, sf_dir: str, factor: int = 10, repeats: int = 2) -> None:
    """Measure what the static touched-bucket IN predicate buys a
    PERSISTED LSH probe at production-like plane counts. At the demo's
    8 planes a multi-query batch probes ~every one of 256 buckets, so
    pruning is a no-op; at 12 planes / radius 2 the probe set covers a
    small fraction of 4096 buckets and the predicate prunes the file
    listing itself. Compares the reloaded index (pruned probe) with
    the same tables marked in-memory (``reloaded=False``: full-scan
    probe), identical results asserted, on a factor-x corpus."""
    import dataclasses

    from pyspark.sql import functions as F

    from steam_data_pipeline_spark.llm.simsearch import (
        build_lsh_index,
        load_lsh_index,
        lsh_topk,
        save_lsh_index,
    )

    corpus = _grown_embeddings(spark, sf_dir, factor, seed=77)
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
        return best_of(
            repeats,
            lambda: sorted(
                map(
                    tuple,
                    lsh_topk(
                        corpus, queries, k=10, index=index, probe_radius=radius
                    ).collect(),
                )
            ),
        )

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


def rehearse_skyline(spark, sf_dir: str, factors: list[int], repeats: int = 2) -> None:
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

    def rows(plan_df):
        return best_of(repeats, lambda: sorted(map(tuple, plan_df.collect())))

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
        pruned = local_skyline_preprune(df, minimize="price_cents", maximize="size")
        survivors = pruned.count()
        bare_s, bare_rows = rows(exact(df))
        pruned_s, pruned_rows = rows(exact(pruned))
        assert bare_rows == pruned_rows, "pre-prune changed the skyline"
        print(
            f"{f}x\t{n}\t{bare_s:.2f}\t{pruned_s:.2f}\t{survivors}"
            f"\t{len(bare_rows)}"
        )


def rehearse_cume_fact(spark, sf_dir: str, factors: list[int], repeats: int = 2) -> None:
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

    def timed_checksum(df):
        aggs = []
        for _, le, ge in metrics:
            aggs += [
                F.sum(le).cast("decimal(38,0)").alias(f"s_{le}"),
                F.sum(ge).cast("decimal(38,0)").alias(f"s_{ge}"),
                F.sum(F.col(le).cast("decimal(19,0)") * F.col(ge))
                .cast("decimal(38,0)")
                .alias(f"x_{le}"),
            ]
        return best_of(repeats, lambda: tuple(df.agg(*aggs).collect()[0]))

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
        naive_s, naive_cs = timed_checksum(naive(df))
        # small_bytes=0: the rehearsal exists to measure the AT-SCALE
        # histogram plan — never let the small-input gate divert it
        multi_s, multi_cs = timed_checksum(
            exact_cume_counts_multi(df, metrics, small_bytes=0)
        )
        assert naive_cs == multi_cs, (naive_cs, multi_cs)
        print(f"{f}x\t{n}\t{naive_s:.2f}\t{multi_s:.2f}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "op",
        choices=[
            "ann",
            "registry-heavy",
            "dedup-amortized",
            "ann-prune",
            "skyline",
            "cume-fact",
        ],
    )
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10])
    p.add_argument("--factor", type=int, default=10)
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument("--queries", nargs="*", default=None)
    args = p.parse_args()

    from steam_data_pipeline_spark.session import get_spark

    spark = get_spark("scale-rehearsal")
    try:
        if args.op == "ann":
            rehearse_ann(spark, args.sf_dir, args.factors)
        elif args.op == "registry-heavy":
            rehearse_registry_heavy(
                spark, args.sf_dir, args.factor, args.repeats, args.queries
            )
        elif args.op == "dedup-amortized":
            rehearse_dedup_amortized(spark, args.sf_dir, args.repeats)
        elif args.op == "ann-prune":
            rehearse_ann_prune(spark, args.sf_dir, args.factor, args.repeats)
        elif args.op == "skyline":
            rehearse_skyline(spark, args.sf_dir, args.factors, args.repeats)
        else:
            rehearse_cume_fact(spark, args.sf_dir, args.factors, args.repeats)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
