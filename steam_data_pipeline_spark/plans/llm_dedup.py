"""LLM-pipeline dedup and similarity queries (§2.10): dedup, similarity
search, embeddings, document graphs, hybrid search, fingerprints and
corpus overlap.

Oracle notes:
* Cosine similarity is oracle-checked at FULL float precision: Spark's
  ``aggregate`` fold and DuckDB's ``list_reduce`` are both strict
  sequential left folds over the same float64 values, verified
  bit-identical.
* Approximate operators (MinHash/SimHash LSH, SRP buckets, IVF) hash
  with seeded ``xxhash64``/numpy, which DuckDB cannot reproduce — so
  their oracles check exactly-computable INVARIANTS instead: the
  detected pair set against the exact Jaccard truth (the fixture's
  margin makes them provably equal), recall bounds against in-query
  brute force, planted-duplicate recovery, collision structure, or
  the output contract (ALS). Every registered query is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from steam_data_pipeline_spark.llm import dedup as D
from steam_data_pipeline_spark.llm import simsearch as S
from steam_data_pipeline_spark.llm import textstats as TS
from steam_data_pipeline_spark.plans.base import Registry, t
from steam_data_pipeline_spark.plans.extensions import (
    BENCH_FIXTURES,
    _STOPWORD_SQL_LIST,
    _ann_probes,
    _bm25_scores,
    _cached_layout,
    _exact_jaccard_truth,
    _prepare_ivf_index,
    _prepare_lsh_index,
)

EXT = Registry()


# DuckDB-side exact cosine: list_reduce is a strict sequential left
# fold, bit-identical to Spark's ``aggregate`` fold over the same
# float64 values (verified by llm_sim_search).
_COS_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
              (acc, v) -> acc + v)
  / (sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (acc, v) -> acc + v))
     * sqrt(list_reduce(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (acc, v) -> acc + v)))
"""


# ---------------------------------------------------------------------------
# §2.10 dedup
# ---------------------------------------------------------------------------


@EXT.add(
    "llm_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE text IS NULL OR doc_id IN (SELECT MIN(doc_id) FROM documents WHERE text IS NOT NULL GROUP BY text)
    """,
    doc="Exact dedup: content-hash groupBy, min-id survivor (SURVEY §2.10).",
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark, sf_dir):
    return D.exact_dedup(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _jaccard_ctes(where: str = "") -> str:
    return _JACCARD_CTES_TEMPLATE.format(where=where)


_JACCARD_CTES_TEMPLATE = """
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(regexp_split_to_array(lower(text), '\\s+')) - 1, 2)),
                 i -> array_to_string(regexp_split_to_array(lower(text), '\\s+')[i:i+2], ' ')
               )
             ) AS shingles
      FROM documents {where}
    ),
    posting AS (
      SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS s FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""


@EXT.add(
    "llm_dedup_jaccard",
    oracle=f"""
    WITH {_jaccard_ctes()}
    SELECT a, b, CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
    """,
    doc=(
        "Exact 3-gram Jaccard near-dup pairs via inverted-index self-join "
        "(the truth MinHash approximates)."
    ),
    tags=("llm", "dedup"),
)
def llm_dedup_jaccard(spark, sf_dir):
    # session-memoized: this exact pair set is also the verification
    # truth for llm_dedup_simhash / llm_dedup_cluster — computed once
    # per session (eager checkpoint), reused by whichever runs later.
    pairs = _exact_jaccard_truth(spark, sf_dir)
    return pairs.select(
        "a", "b", F.col("jaccard").alias("jaccard")
    )


_CLUSTER_SURVIVOR_CTES = """
    jp AS (
      SELECT a, b FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.6
    ),
    cedges AS (
      SELECT a AS src, b AS dst FROM jp
      UNION SELECT b AS src, a AS dst FROM jp
    ),
    reach AS (
      SELECT src AS node, src AS label FROM cedges
      UNION
      SELECT e.src AS node, r.label FROM cedges e JOIN reach r ON e.dst = r.node
    ),
    losers AS (
      SELECT node FROM reach GROUP BY node HAVING node != MIN(label)
    )
"""


@EXT.add(
    "llm_dedup_near",
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes()},
    {_CLUSTER_SURVIVOR_CTES}
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT node FROM losers)
    """,
    doc=(
        "MinHash(32)+LSH(8 bands) near-duplicate removal with "
        "cluster-correct survivors: detected pairs -> connected "
        "components -> min-id per component (SURVEY §2.10 "
        "llm_dedup_near). Oracle = transitive closure over the EXACT "
        "3-gram Jaccard >= 0.6 pair graph: the fixture's pair margin "
        "(true pairs est >= 0.69, noise < 0.3 at 32 hashes) makes the "
        "LSH-detected set provably equal the exact set at sf0.01 and "
        "sf0.1, so the approximate path is held to the exact answer. "
        "At 100 TB this hand-rolled banding engine is the DEFAULT "
        "dedup path (see the catalog's 'Near-dedup at 100 TB' note): "
        "its 30x structure-preserving rehearsal measured exponent "
        "0.89 (sublinear — band-bucket candidate generation, SCALE.md "
        "round 11) vs the MLlib path's 1.03, and its band count "
        "tightens PRECISION without the OR-construction recall trade. "
        "r13: the operator EXACT-COLLAPSES byte-identical texts to "
        "one representative before banding, deleting the Theta(m^2) "
        "candidate blowup an identical-text block of m docs otherwise "
        "causes (measured 502 s at m=8k pre-fix vs 20 s post-fix, "
        "SCALE.md dup-block; output provably unchanged)."
    ),
    tags=("llm", "dedup", "flagship"),
)
def llm_dedup_near(spark, sf_dir):
    return D.minhash_dedup(
        t(spark, sf_dir, "documents"), threshold=0.6
    ).select("doc_id", "lang", "source")


@EXT.add(
    "llm_dedup_near_ml",
    oracle=f"""
    WITH {_jaccard_ctes()}
    SELECT a, b FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.6
    """,
    doc=(
        "MinHashLSH near-dup pair detection via the pyspark.ml path "
        "(HashingTF + approxSimilarityJoin, 3 hash tables) — "
        "interchangeable with the hand-rolled banding engine. Oracle = "
        "the EXACT 3-gram Jaccard >= 0.6 pair set (ml distance 0.4 = "
        "similarity 0.6), which the ml path detects exactly on the "
        "fixture at both sf0.01 and sf0.1 (measured). At 100 TB "
        "prefer llm_dedup_near's hand-rolled bands (see the catalog's "
        "'Near-dedup at 100 TB' note): this MLlib path measured "
        "exponent 1.03 at the 30x tier — honest linear, driven by "
        "linear-in-corpus duplicate pairs (SCALE.md round 12), but "
        "its recall knob is an OR-construction (more hash tables = "
        "more candidates), so it cannot be tightened at scale without "
        "trading recall; use it when the MLlib pipeline integration "
        "(Pipeline stages, persisted models) is worth that trade."
    ),
    tags=("llm", "dedup", "ml"),
)
def llm_dedup_near_ml(spark, sf_dir):
    return D.minhash_pairs_ml(t(spark, sf_dir, "documents")).select("a", "b")


@EXT.add(
    "llm_dedup_simhash",
    oracle=f"""
    WITH {_jaccard_ctes()}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
            WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
           ) AS n_exact_pairs,
           TRUE AS recall_ok,
           TRUE AS precision_ok
    """,
    doc=(
        "SimHash-64 near-dup candidates over 3-gram SHINGLE features "
        "(4-band pigeonhole blocking, hamming <= 8 verification) held "
        "to exact-oracle invariants vs the EXACT Jaccard >= 0.5 pair "
        "set: recall >= 0.7 AND precision >= 0.9 (measured 0.79/0.76/"
        "0.84 recall and 1.0 precision at sf0.001/0.01/0.1). The "
        "earlier unigram-token fingerprint managed recall 0.66 at "
        "precision 0.002 (777 k candidates at sf0.1) — shingle "
        "features decorrelate unrelated documents, so the same "
        "blocking emits 3600x fewer candidates and catches more true "
        "pairs. n_docs and n_exact_pairs anchor the row."
    ),
    tags=("llm", "dedup", "invariant"),
)
def llm_dedup_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # both pair tables are referenced by two aggregate legs below
    # (counts + the intersection join); shingle blocking keeps cand
    # small (~1e2 rows at sf0.1), so each pipeline is materialized
    # once and the crossJoin legs read cheap checkpointed blocks
    cand = (
        D.simhash_near_pairs(docs, max_hamming=8)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    # verification truth, session-memoized (already checkpointed): the
    # operator under test is simhash_near_pairs above, never cached.
    # dropDuplicates guards the left-join fan-out invariant below:
    # __n_cand is only a candidate COUNT while exact is unique on
    # (a, b) — jaccard_pairs already dedups today, but a future
    # duplicate would silently inflate __n_cand, so pin it here.
    exact = (
        _exact_jaccard_truth(spark, sf_dir)
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_pairs"))
    # one pass over cand for BOTH candidate-side stats: a left join with
    # a hit marker folds the former separate count + left_semi-count
    # legs into a single job over the (tiny, checkpointed) pair tables
    cand_stats = (
        cand.join(
            exact.withColumn("__hit", F.lit(1)), on=["a", "b"], how="left"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("__n_cand"),
            F.count("__hit").cast("long").alias("__n_found"),
        )
    )
    return (
        n_docs.crossJoin(n_exact)
        .crossJoin(cand_stats)
        .select(
            "n_docs",
            "n_exact_pairs",
            (
                F.col("__n_found").cast("double")
                >= 0.7 * F.col("n_exact_pairs").cast("double")
            ).alias("recall_ok"),
            (
                F.col("__n_found").cast("double")
                >= 0.9 * F.col("__n_cand").cast("double")
            ).alias("precision_ok"),
        )
    )


@EXT.add(
    "llm_dedup_embedding",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL AND len(embedding) > 0
    ),
    scored AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             {_COS_SQL.format(a="a.embedding", b="b.embedding")} AS cosine
      FROM u a JOIN u b ON a.vec_id < b.vec_id
    )
    SELECT a, b, cosine FROM scored WHERE cosine >= 0.95
    """,
    doc=(
        "Embedding-cosine near-dup pairs via sign-random-projection LSH "
        "buckets + exact cosine verify, exercised on the fixture corpus "
        "plus 32 planted exact-duplicate vectors (vec_id + 1e6). The "
        "oracle is the brute-force all-pairs cosine >= 0.95 truth: "
        "identical vectors co-bucket with probability 1 under SRP, and "
        "the fixture's max organic off-diagonal cosine is ~0.6, so the "
        "LSH path must emit exactly the planted pairs, bit-exact cosine "
        "included (sequential-fold arithmetic on both engines). This "
        "replaces the previous vacuously-green 0-row form."
    ),
    tags=("llm", "dedup", "similarity"),
)
def llm_dedup_embedding(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 32).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return D.embedding_near_pairs(
        emb.union(planted), min_cosine=0.95, n_planes=8
    )


@EXT.add(
    "llm_sim_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) > 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {_COS_SQL.format(a="e.embedding", b="q.qv")} AS cosine
      FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e CROSS JOIN q
    )
    SELECT query_id, vec_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    doc=(
        "Brute-force cosine top-10 per query vector (SURVEY §2.10 "
        "llm_sim_search) — bit-exact sequential-fold arithmetic on both "
        "engines."
    ),
    tags=("llm", "similarity", "flagship"),
)
def llm_sim_search(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _ann_probes(emb), k=10)


_ANN_RECALL_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 10 AS BIGINT) AS n_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) > 0
"""


def _ann_recall_invariant(spark, sf_dir, ann_fn, recall_bound: float, **ann_kwargs):
    """Run an ANN top-10 AND the in-query brute-force truth; emit one
    exactly-checkable row: (n_queries, n_results, recall_ok) — the
    agg_distinct_pool_approx pattern applied to recall@10. The approx
    path still fully executes; the oracle asserts the recall bound."""
    emb = t(spark, sf_dir, "embeddings")
    queries = _ann_probes(emb)
    # materialize both top-k sets once (|Q|·k rows each): the three
    # single-row aggregates below reference them across crossJoin legs,
    # which Spark plans as independent subtrees — without the
    # checkpoint the ANN and brute-force pipelines would each execute
    # more than once
    ann = (
        ann_fn(emb, queries, k=10, **ann_kwargs)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    truth = (
        S.brute_force_topk(emb, queries, k=10)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    n_queries = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    n_results = ann.agg(F.count(F.lit(1)).cast("long").alias("n_results"))
    n_hits = ann.join(truth, on=["query_id", "vec_id"], how="left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("__n_hits")
    )
    return (
        n_queries.crossJoin(n_results)
        .crossJoin(n_hits)
        .select(
            "n_queries",
            "n_results",
            (
                F.col("__n_hits").cast("double")
                >= F.lit(recall_bound) * F.col("n_results").cast("double")
            ).alias("recall_ok"),
        )
    )


@EXT.add(
    "llm_sim_ivf",
    oracle=_ANN_RECALL_ORACLE,
    doc=(
        "IVF-partitioned approximate top-10 (16 seeded-KMeans centroids, "
        "6 probes — touches n_probe/C of the corpus per query) verified "
        "against in-query brute-force truth: recall@10 must be >= 0.70 "
        "(measured 0.72 / 0.82 / 0.74 at sf0.001 / 0.01 / 0.1 on the "
        "worst-case near-uniform fixture geometry; deterministic via "
        "seeded KMeans). n_queries/n_results anchor the row; the recall "
        "bound is the exactly-checkable invariant."
    ),
    tags=("llm", "similarity", "invariant"),
)
def llm_sim_ivf(spark, sf_dir):
    return _ann_recall_invariant(
        spark, sf_dir, S.ivf_topk, recall_bound=0.70, n_probe=6
    )


@EXT.add(
    "llm_sim_quantized",
    oracle=_ANN_RECALL_ORACLE,
    doc=(
        "Int8-quantized cosine top-10 (llm/simsearch.py quantized_topk): "
        "symmetric per-vector quantization to [-127,127] cuts corpus "
        "vector bytes 4-8x (the scan-dominating cost at 100 TB) and "
        "turns the per-pair work into an exact integer zip-fold + one "
        "float divide. Scales cancel in the cosine, so the score is "
        "the exact cosine of the quantized representation; recall@10 "
        "vs the in-query float brute-force truth must be >= 0.9 "
        "(int8 keeps ~2 decimal digits per coordinate at dim 64 - "
        "measured 0.96 at sf0.01). Same recall-invariant oracle "
        "pattern as llm_sim_ivf."
    ),
    tags=("llm", "similarity", "invariant"),
)
def llm_sim_quantized(spark, sf_dir):
    return _ann_recall_invariant(
        spark, sf_dir, S.quantized_topk, recall_bound=0.90
    )


@EXT.add(
    "llm_sim_ivf_persisted",
    oracle=_ANN_RECALL_ORACLE,
    doc=(
        "The PRODUCTION ANN calling convention end-to-end, driver-"
        "checked: build the IVF index once, persist it (centroid table "
        "+ assignments PARTITIONED BY centroid_id + build params), "
        "reload, probe. Probing the reloaded index partition-prunes "
        "the assignment scan to the probed inverted lists (a static "
        "touched-list IN predicate collected from the bounded probe "
        "set — plan-contracted PartitionFilters) — at 100 TB each "
        "query batch reads ~n_probe/C of the index, never all of it. "
        "Same recall contract as llm_sim_ivf (>= 0.70 vs "
        "in-query brute-force truth); the persisted index carries its "
        "build parameters, so probe sizing needs no count() job and "
        "parameter-mismatched reloads are structurally impossible "
        "(llm/simsearch.py save_ivf_index/load_ivf_index)."
    ),
    tags=("llm", "similarity", "invariant", "persistence"),
)
def llm_sim_ivf_persisted(spark, sf_dir):
    def _probe(emb, queries, k):
        idx = S.load_ivf_index(spark, _prepare_ivf_index(spark, sf_dir))
        return S.ivf_topk(emb, queries, k=k, index=idx, n_probe=6)

    return _ann_recall_invariant(spark, sf_dir, _probe, recall_bound=0.70)


@EXT.add(
    "llm_sim_lsh_persisted",
    oracle=_ANN_RECALL_ORACLE,
    doc=(
        "LSH sibling of llm_sim_ivf_persisted: build the SRP bucket "
        "index once, persist it (per-table assignments partitioned by "
        "bucket GROUP with bucket-sorted files + the build "
        "parameters), reload, probe. The reloaded index carries its "
        "own (n_planes, seed_base, bgrp_shift), so the probe planes "
        "match the build by construction — the mismatched/"
        "out-of-order-reload failure ADVICE r4 flagged is structurally "
        "impossible through this path — and bucket probes prune the "
        "scan two-level via a static touched-set predicate: directory "
        "pruning on the probed groups (plan-contracted "
        "PartitionFilters; DPP does not fire for this join shape) "
        "plus parquet-stats pruning on the probed-bucket IN "
        "(PushedFilters). Same recall contract as llm_sim_lsh "
        "(>= 0.75 vs in-query brute force)."
    ),
    tags=("llm", "similarity", "invariant", "persistence"),
)
def llm_sim_lsh_persisted(spark, sf_dir):
    def _probe(emb, queries, k):
        idx = S.load_lsh_index(spark, _prepare_lsh_index(spark, sf_dir))
        return S.lsh_topk(emb, queries, k=k, index=idx)

    return _ann_recall_invariant(spark, sf_dir, _probe, recall_bound=0.75)


@EXT.add(
    "llm_sim_lsh",
    oracle=_ANN_RECALL_ORACLE,
    doc=(
        "SRP-LSH bucketed approximate top-10 (8 planes, 2 tables, "
        "Hamming-3 multiprobe) verified against in-query brute-force "
        "truth: recall@10 must be >= 0.75 (measured 0.92 / 0.88 / 0.84 "
        "at sf0.001 / 0.01 / 0.1 — the measured sweet spot of the "
        "(tables, radius) grid on worst-case uniform geometry)."
    ),
    tags=("llm", "similarity", "invariant"),
)
def llm_sim_lsh(spark, sf_dir):
    return _ann_recall_invariant(spark, sf_dir, S.lsh_topk, recall_bound=0.75)


@EXT.add(
    "llm_embedding_stats",
    oracle="""
    -- NULL/empty vectors carry no norm (DuckDB's list_reduce ERRORS on
    -- an empty list) — the profile covers measurable vectors only
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           -- TRY_CAST: an extreme-component vector's norm (~1e31)
           -- overflows the 6 integer digits of DECIMAL(18,12) — it
           -- contributes NULL to the mean numerator (r12 contract)
           CAST(SUM(TRY_CAST(
             sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                             (acc, v) -> acc + v))
             AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS avg_norm
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
    GROUP BY label
    """,
    doc="Per-label embedding profile: counts + exact-decimal mean L2 norm.",
    tags=("llm", "agg"),
)
def llm_embedding_stats(spark, sf_dir):
    emb = S.drop_null_vectors(
        t(spark, sf_dir, "embeddings"), "embedding"
    )
    norm = S.norm_expr("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(norm.try_cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_norm"),
    )


@EXT.add(
    "llm_corpus_clean",
    oracle=f"""
    WITH deduped AS (
      SELECT * FROM documents
      WHERE text IS NULL OR doc_id IN (SELECT MIN(doc_id) FROM documents WHERE text IS NOT NULL GROUP BY text)
    ),
    scored AS (
      SELECT doc_id, lang, source, n_chars,
             list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS nalpha,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM deduped
    ),
    quality AS (
      SELECT doc_id, lang, source, n_chars, ntok,
             least(CAST(ntok AS DOUBLE) / 50.0, 1.0)
               * (CAST(nalpha AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE))
               * (0.5 + 0.5 * least(CAST(len(list_intersect(toks, {_STOPWORD_SQL_LIST})) AS DOUBLE) / 2.0, 1.0))
               AS q
      FROM scored
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ntok AS BIGINT)) AS BIGINT) AS total_tokens
    FROM quality
    WHERE q >= 0.3
    GROUP BY lang, source
    """,
    doc=(
        "Composed training-data cleanup pipeline: exact dedup → quality "
        "filter (≥ 0.3) → per-(lang, source) corpus accounting — the "
        "C4-style pre-training sweep as one Catalyst plan."
    ),
    tags=("llm", "pipeline", "flagship"),
)
def llm_corpus_clean(spark, sf_dir):
    docs = D.exact_dedup(t(spark, sf_dir, "documents"))
    kept = docs.withColumn("q", TS.quality_score("text")).filter(F.col("q") >= 0.3)
    return (
        kept.withColumn("ntok", TS.token_count("text"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ntok").cast("long")).alias("total_tokens"),
        )
    )


@EXT.add(
    "llm_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(text) AS fp_md5,
           COUNT(*) OVER (
             PARTITION BY array_to_string(
               regexp_split_to_array(trim(text), '\s+'), ' ')
           ) > 1 AS fp_shared
    FROM documents
    """,
    doc=(
        "Document fingerprinting, both tiers exactly checked: fp_md5 is "
        "the content hash (bit-identical md5 on both engines), and "
        "fp_shared verifies the COLLISION STRUCTURE of the xxhash64 "
        "rolling token-fold fingerprint — two docs share a rolling "
        "fingerprint iff their whitespace-token sequences are equal "
        "(the oracle partitions by the normalized token string; an "
        "engine-side hash collision or a broken fold would flip the "
        "flag). Upgraded from rows-only."
    ),
    tags=("llm", "text"),
)
def llm_fingerprint(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy(TS.fingerprint("text"))
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        (F.count(F.lit(1)).over(w) > 1).alias("fp_shared"),
    )


_EDQ_CACHE: dict[str, int] = {}


@EXT.add(
    "llm_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes()},
    jp AS (
      SELECT a, b FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM jp
      UNION SELECT b AS src, a AS dst FROM jp
    ),
    reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
    doc=(
        "Near-duplicate CLUSTERING: connected components over the exact "
        "Jaccard pair graph (min-label propagation to fixpoint, early "
        "exit when a round changes nothing) — the step between pair "
        "detection and survivor selection, since near-dups are "
        "transitive. Component id = min doc_id in the cluster; oracle "
        "is a recursive-CTE transitive closure over the same pairs "
        "(near-dups span sources, so the graph is corpus-wide). "
        "The iterative-fixpoint surface of the engine."
    ),
    tags=("llm", "dedup", "iterative"),
)
def llm_dedup_cluster(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # edge set = the session-memoized exact-Jaccard truth; the operator
    # under test here is the connected-components fixpoint.
    pairs = _exact_jaccard_truth(spark, sf_dir).select("a", "b")
    comps = D.connected_components(pairs)
    return comps.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@EXT.add(
    "llm_dedup_embedding_cluster",
    oracle=f"""
    WITH RECURSIVE u AS (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL AND len(embedding) > 0
      UNION ALL
      SELECT vec_id + 2000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 16 AND embedding IS NOT NULL AND len(embedding) > 0
    ),
    ep AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= 0.95
    ),
    eedges AS (
      SELECT a AS src, b AS dst FROM ep
      UNION SELECT b AS src, a AS dst FROM ep
    ),
    ereach AS (
      SELECT src AS node, src AS label FROM eedges
      UNION
      SELECT e.src AS node, r.label FROM eedges e JOIN ereach r ON e.dst = r.node
    )
    SELECT node AS vec_id, CAST(MIN(label) AS BIGINT) AS component
    FROM ereach GROUP BY node
    """,
    doc=(
        "Embedding near-dup CLUSTERING — the multimodal twin of "
        "llm_dedup_cluster: SRP-bucketed cosine pairs (>= 0.95) over "
        "the corpus plus planted duplicate chains (32 copies at +1e6, "
        "16 second copies at +2e6, so true clusters of size 3 exist) "
        "-> connected components -> min-vec_id component labels. "
        "Oracle = recursive-CTE closure over brute-force all-pairs "
        "cosine truth; identical vectors co-bucket with probability 1, "
        "so detection is provably complete on this geometry."
    ),
    tags=("llm", "dedup", "iterative", "similarity"),
)
def llm_dedup_embedding_cluster(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p1 = emb.filter(F.col("vec_id") < 32).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    p2 = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(p1).union(p2)
    pairs = D.embedding_near_pairs(corpus, min_cosine=0.95, n_planes=8).select("a", "b")
    comps = D.connected_components(pairs)
    return comps.select(
        F.col("node").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("component"),
    )


# shared by llm_dedup_incremental and its persisted-index sibling —
# identical two-stage semantics, different index acquisition path
_INCR_DEDUP_ORACLE = f"""
    WITH RECURSIVE {_jaccard_ctes()},
    jp AS (
      SELECT a, b FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.6
    ),
    dropped_vs_corpus AS (
      SELECT DISTINCT CASE WHEN a % 4 = 0 THEN a ELSE b END AS d
      FROM jp WHERE (a % 4 = 0) <> (b % 4 = 0)
    ),
    stage1 AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 4 = 0
        AND doc_id NOT IN (SELECT d FROM dropped_vs_corpus)
    ),
    nn AS (
      SELECT a, b FROM jp
      WHERE a IN (SELECT doc_id FROM stage1)
        AND b IN (SELECT doc_id FROM stage1)
    ),
    nedges AS (
      SELECT a AS src, b AS dst FROM nn
      UNION SELECT b AS src, a AS dst FROM nn
    ),
    nreach AS (
      SELECT src AS node, src AS label FROM nedges
      UNION
      SELECT e.src AS node, r.label FROM nedges e JOIN nreach r ON e.dst = r.node
    ),
    nlosers AS (
      SELECT node FROM nreach GROUP BY node HAVING node != MIN(label)
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT doc_id FROM stage1)
      AND doc_id NOT IN (SELECT node FROM nlosers)
    """


def _prepare_corpus_signatures(spark, sf_dir: str) -> str:
    """The standing corpus's PLAIN banded-signature table, persisted
    once — the warmed store ``llm_dedup_incremental`` consumes (the
    build-once/probe-per-batch path the dedup-amortized rehearsal
    proved flat; SCALE.md round 9). The bucketed/partition-pruned
    sibling of this fixture is ``_prepare_minhash_index`` below —
    that one exercises probe-time partition pruning, this one the
    prebuilt-signatures calling convention alone."""
    corpus = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 != 0)

    def _write(d):
        D.banded_signatures(corpus).write.mode("overwrite").parquet(d)

    return _cached_layout("corpsigs", sf_dir, _write)


BENCH_FIXTURES.append(_prepare_corpus_signatures)


@EXT.add(
    "llm_dedup_incremental",
    oracle=_INCR_DEDUP_ORACLE,
    doc=(
        "INCREMENTAL near-dedup — the ingestion-path shape: the batch "
        "(doc_id % 4 = 0, a quarter of the corpus standing in for an "
        "incoming day) is deduped against the standing corpus (the "
        "other three quarters). A new doc matching any corpus doc is "
        "dropped; survivors then cluster among themselves (CC over "
        "survivor-survivor pairs, min-id per component). Per-batch "
        "cost probes only LSH buckets containing a new doc — never "
        "corpus x corpus; the corpus's banded_signatures table IS a "
        "persisted store here (warmed bench fixture, the production "
        "build-once path), so the query's timing is probe-plus-verify "
        "only — re-shingling the standing corpus per batch was the "
        "one place the bench shape diverged from the amortization "
        "rehearsal's. Oracle = the same two-stage rule over the "
        "exact Jaccard pair graph via recursive CTE."
    ),
    tags=("llm", "dedup", "incremental"),
)
def llm_dedup_incremental(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    sigs = spark.read.parquet(_prepare_corpus_signatures(spark, sf_dir))
    return D.minhash_dedup_incremental(
        corpus, new, threshold=0.6, corpus_signatures=sigs
    ).select("doc_id", "lang", "source")


_EXACT_DEDUP_WHERE = (
    "WHERE text IS NULL OR doc_id IN (SELECT MIN(doc_id) FROM documents WHERE text IS NOT NULL GROUP BY text)"
)


@EXT.add(
    "llm_corpus_export",
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes(_EXACT_DEDUP_WHERE)},
    {_CLUSTER_SURVIVOR_CTES}
    , nd AS (
      SELECT * FROM documents
      {_EXACT_DEDUP_WHERE}
        AND doc_id NOT IN (SELECT node FROM losers)
    ),
    scored AS (
      SELECT doc_id,
             CAST(((doc_id * 2654435761) % 4294967296) % 4 AS INTEGER) AS shard,
             list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS nalpha,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM nd
    ),
    quality AS (
      SELECT doc_id, shard, ntok,
             least(CAST(ntok AS DOUBLE) / 50.0, 1.0)
               * (CAST(nalpha AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE))
               * (0.5 + 0.5 * least(CAST(len(list_intersect(toks, {_STOPWORD_SQL_LIST})) AS DOUBLE) / 2.0, 1.0))
               AS q
      FROM scored
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ntok AS BIGINT)) AS BIGINT) AS total_tokens
    FROM quality
    WHERE q >= 0.3
    GROUP BY shard
    """,
    doc=(
        "The END-TO-END training-data export pipeline as one program: "
        "exact dedup (content-hash) -> near-dedup with cluster-correct "
        "survivors (MinHash LSH -> connected components -> min-id) -> "
        "Gopher-style quality gate (>= 0.3) -> deterministic shard "
        "assignment (Knuth hash % 4) -> per-shard corpus accounting. "
        "Every stage is individually oracle-checked elsewhere; this "
        "query checks their COMPOSITION against a single recursive-CTE "
        "replica. Plan: one scan feeds dedup hashing, LSH banding and "
        "quality scoring; only the pair self-join, the CC fixpoint and "
        "the final per-shard aggregate shuffle."
    ),
    tags=("llm", "pipeline", "flagship", "export"),
)
def llm_corpus_export(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    d1 = D.exact_dedup(docs)
    # collapse_identical=False: d1 is exact_dedup output, so non-NULL
    # texts are already pairwise distinct — the in-operator exact
    # collapse would be the identity computed at the cost of an eager
    # materialization + a shuffle + two joins (interleaved min-of-3
    # A/B at sf0.1, cold session: 14.1 s with the redundant collapse
    # vs 12.4 s without; rows identical)
    nd = D.minhash_dedup(d1, threshold=0.6, collapse_identical=False)
    q = nd.withColumn("__q", TS.quality_score("text")).filter(F.col("__q") >= 0.3)
    shard = (
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 4
    ).cast("int")
    return (
        q.withColumn("shard", shard)
        .withColumn("__ntok", TS.token_count("text"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__ntok").cast("long")).alias("total_tokens"),
        )
    )


@EXT.add(
    "llm_dedup_url",
    oracle="""
    WITH g AS (
      SELECT doc_id, doc_id % 100 AS grp FROM documents
    )
    SELECT 'https://h' || CAST(grp % 7 AS VARCHAR) || '.example.com/articles/'
             || CAST(grp AS VARCHAR) || '?id=' || CAST(grp AS VARCHAR)
             || '&lang=en' AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper
    FROM g GROUP BY grp
    """,
    doc=(
        "URL-identity dedup — the FIRST dedup stage of every web-corpus "
        "pipeline (crawls revisit the same page under cosmetically "
        "different URLs). Each doc gets a deterministically MESSY url "
        "(doc_id%4 picks: clean | UPPERCASE host + trailing slash + "
        "reordered params | utm_* tracking junk | :443 default port + "
        "#fragment), all variants of the identity doc_id%100. The "
        "operator genuinely parses and canonicalizes (parse_url + "
        "lowercase scheme/host, strip trailing slash, drop fragment, "
        "strip tracking params, SORT survivors — one codegen stage, no "
        "Python); the ORACLE derives each group's canonical string "
        "analytically from the identity, so a parser bug cannot cancel "
        "itself out. 100 groups at every SF; keeper = min doc_id."
    ),
    tags=("llm", "dedup", "url"),
)
def llm_dedup_url(spark, sf_dir):
    from steam_data_pipeline_spark.llm.curation import url_dedup

    g = (F.col("doc_id") % 100).cast("string")
    host = F.concat(F.lit("h"), ((F.col("doc_id") % 100) % 7).cast("string"), F.lit(".example.com"))
    base_path = F.concat(F.lit("/articles/"), g)
    messy = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://"), host, base_path, F.lit("?id="), g, F.lit("&lang=en")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), base_path, F.lit("/"),
                F.lit("?lang=en&id="), g,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), host, base_path,
                F.lit("?utm_source=feed&id="), g, F.lit("&utm_campaign=promo&lang=en"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit(":443"), base_path,
                F.lit("?lang=en&id="), g, F.lit("#frag"),
            )
        )
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", messy.alias("url"))
    return url_dedup(docs)


@EXT.add(
    "llm_dedup_containment",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(regexp_split_to_array(lower(text), '\\s+')) - 1, 2)),
                 i -> array_to_string(regexp_split_to_array(lower(text), '\\s+')[i:i+2], ' ')
               )
             ) AS shingles
      FROM documents
    ),
    posting AS (
      SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS s FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ANY_VALUE(a.n_sh) AS na,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id != b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a, b, CAST(n_common AS DOUBLE) / na AS containment
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / na >= 0.8
    """,
    doc=(
        "Asymmetric CONTAINMENT pairs C(A->B) = |A∩B|/|A| >= 0.8 over "
        "3-gram shingles - the excerpt-duplicate detector (a short doc "
        "quoted inside a long one has high containment but low "
        "Jaccard, so symmetric near-dedup misses it; Broder's "
        "resemblance vs containment split applied to training-data "
        "excerpt scrubbing). Directional: both orientations appear "
        "when both qualify. Exact value-level oracle."
    ),
    tags=("llm", "dedup", "containment"),
)
def llm_dedup_containment(spark, sf_dir):
    return D.containment_pairs(
        t(spark, sf_dir, "documents"), shingle_n=3, min_containment=0.8
    )


@EXT.add(
    "llm_dedup_substring",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), eligible AS (
      SELECT doc_id, w FROM toks WHERE len(w) >= 8
    ), pos AS (
      SELECT doc_id, w, UNNEST(generate_series(1, len(w) - 7)) AS i
      FROM eligible
    ), grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(w[i:i+7], ' ') AS g
      FROM pos
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), dw AS (
      SELECT doc_id, pos FROM grams JOIN dup USING (g)
    ), m AS (
      SELECT doc_id, pos,
             MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM dw
    ), isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM m
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    """,
    doc=(
        "EXACT duplicated-substring spans (Lee et al. arXiv:2107.06499 "
        "suffix-array dedup, Spark-shaped): every maximal token span "
        "whose every 8-token window occurs >= 2 times in the corpus. "
        "The suffix-array sort becomes a groupBy on 8-byte window "
        "hashes (the only shuffle payload), repeated windows semi-join "
        "back, and a per-doc window merge yields maximal spans — all "
        "JVM built-ins. Oracle recomputes with real window strings, so "
        "a hash collision would surface as a mismatch. Complements the "
        "document-level dedup family: this finds duplicated PASSAGES "
        "inside otherwise-distinct documents (boilerplate, quotes)."
    ),
    tags=("llm", "dedup", "substring"),
)
def llm_dedup_substring(spark, sf_dir):
    return D.duplicated_spans(t(spark, sf_dir, "documents"), k=8)


@EXT.add(
    "llm_dedup_substring_clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, w, UNNEST(generate_series(1, len(w) - 7)) AS i
      FROM toks WHERE len(w) >= 8
    ), grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(w[i:i+7], ' ') AS g
      FROM pos
    ), dup0 AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), docc AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
      FROM grams JOIN dup0 USING (g)
    ), removals AS (
      SELECT doc_id, pos FROM docc WHERE rk > 1
    ), covered AS (
      SELECT DISTINCT doc_id,
             pos + UNNEST(generate_series(0, 7)) AS tpos
      FROM removals
    ), tokens AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(UNNEST(generate_series(1, len(w))) AS BIGINT) - 1 AS tpos,
             w
      FROM toks
    ), tok2 AS (
      SELECT doc_id, n_tokens, tpos, w[CAST(tpos + 1 AS INT)] AS tok
      FROM tokens
    ), kept AS (
      SELECT t.doc_id, t.n_tokens, t.tpos, t.tok
      FROM tok2 t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.doc_id IS NULL
    )
    , surv AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY tpos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(len(t.w) - COALESCE(s.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(s.cleaned, '') AS cleaned
    FROM toks t LEFT JOIN surv s USING (doc_id)
    """,
    doc=(
        "Substring dedup's REMOVAL step (Lee et al. 2107.06499): every "
        "corpus-repeated 8-token window occurrence is cut except the "
        "lexicographically-first (doc, pos) keeper, and surviving "
        "tokens are reassembled in order — the op that actually "
        "produces the deduplicated training corpus from the spans "
        "llm_dedup_substring detects. Exact string oracle on the "
        "cleaned text; every input doc gets exactly ONE output row — a "
        "fully-duplicated non-keeper reports (n, n, '') instead of "
        "vanishing (round-9 module-review fix). "
        "One checkpointed window-hash scan, min_by keeper election "
        "with map-side partial agg, covered-position expansion bounded "
        "by k, ordered per-doc reassembly."
    ),
    tags=("llm", "dedup", "substring"),
)
def llm_dedup_substring_clean(spark, sf_dir):
    return D.remove_duplicated_spans(t(spark, sf_dir, "documents"), k=8)


@EXT.add(
    "llm_corpus_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, string_split_regex(lower(text), '\\s+') AS w
      FROM documents
    ), doc_sh AS (
      SELECT source,
             UNNEST(list_distinct([array_to_string(w[i:i+2], ' ')
                    for i in range(1, greatest(len(w) - 1, 2))])) AS g
      FROM toks
    ), sh AS (
      SELECT DISTINCT source, g FROM doc_sh
    ), sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source
    ), common AS (
      SELECT x.source AS sa, y.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh x JOIN sh y ON x.g = y.g AND x.source < y.source
      GROUP BY 1, 2
    ), pairs AS (
      SELECT sa.source AS source_a, sb.source AS source_b,
             sa.n_sh AS n_a, sb.n_sh AS n_b,
             COALESCE(c.n_common, 0) AS n_common
      FROM sizes sa JOIN sizes sb ON sa.source < sb.source
      LEFT JOIN common c ON c.sa = sa.source AND c.sb = sb.source
    )
    SELECT source_a, source_b, n_a, n_b, n_common,
           CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard,
           TRUE AS est_ok
    FROM pairs
    """,
    doc=(
        "Cross-corpus overlap matrix: for every source pair, the EXACT "
        "Jaccard of their distinct 3-gram shingle sets (one shuffle "
        "keyed by 8-byte shingle hash; per-shingle HOF pair expansion "
        "bounded by |sources|^2, never a corpus self-join) PLUS a "
        "mergeable 128-seed MinHash sketch per source (map-side partial "
        "min, component-wise mergeable across dumps/days) whose "
        "estimate is asserted within 0.25 of the exact value in-query "
        "(est_ok) — the sketch is the 100 TB production shape, the "
        "exact leg makes its error a verified invariant."
    ),
    tags=("llm", "overlap", "sketch", "invariant"),
)
def llm_corpus_overlap(spark, sf_dir):
    return D.corpus_overlap(t(spark, sf_dir, "documents"))


@EXT.add(
    "llm_dedup_editdist",
    oracle="""
    WITH k AS (
      SELECT doc_id, substring(text, 1, 40) AS s FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             concat(substring(substring(text, 1, 40), 1, 6), 'Z',
                    substring(substring(text, 1, 40), 8, 33))
      -- text IS NOT NULL: DuckDB's concat() SKIPS NULL args (Spark's
      -- returns NULL), so a NULL-text source would plant the 1-char
      -- string 'Z' here and nothing on the Spark leg
      FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           -- DuckDB levenshtein is UTF-8 BYTE-based; the Spark leg
           -- byte-expands its keys to match (r12 Unicode axis) — the
           -- strlen band is in the same byte units and is implied by
           -- dist <= 2, so it stays a pure pruning step
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM k a JOIN k b ON a.doc_id < b.doc_id
    WHERE abs(strlen(a.s) - strlen(b.s)) <= 2
      AND levenshtein(a.s, b.s) <= 2
    """,
    doc=(
        "Edit-distance near-dup join, Ed-Join style (llm/dedup.py "
        "editdist_pairs; Xiao/Wang/Lin PVLDB'08): candidates from a "
        "rarest-first positional-q-gram prefix inverted index (the "
        "count-filter lemma — one edit destroys <= q grams, so "
        "d-close strings share an element in their first q*d+1 "
        "ordered gram elements), length-filtered, verified with "
        "Spark's JVM levenshtein(threshold) — NEVER an all-pairs "
        "join; a separate length-banded leg is exact for the "
        "sub-q*(d+1)-char strings the lemma cannot cover. q is SELF-SIZED per corpus "
        "by suggest_editdist_q (cached per sf_dir; the one-time "
        "index-sizing job): the fixture vocabulary is ~40 words, so "
        "3-grams are dense (689 values over 6600 keys) - the helper "
        "picks q=5 at bench scale (candidates 7.6M -> 2.0M vs q=3) "
        "and q=9 at 10x volume, where fixed q=5 went superlinear "
        "(exponent 1.25 -> ~0.4, identical output). Fixture "
        "plants a 1-substitution copy of every 5th doc's 40-char key "
        "('Z' is outside the corpus alphabet, so planted dist is "
        "exactly 1); the DuckDB oracle is the full quadratic "
        "levenshtein truth over the same keys, so the banded "
        "candidate generation is proven LOSSLESS, recovering the 25 "
        "natural ED<=2 pairs plus every planted one."
    ),
    tags=("llm", "dedup"),
)
def llm_dedup_editdist(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    k40 = F.substring("text", 1, 40)
    base = docs.select("doc_id", k40.alias("s"))
    planted = docs.filter(
        ((F.col("doc_id") % 5) == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(k40, 1, 6), F.lit("Z"), F.substring(k40, 8, 33)
        ).alias("s"),
    )
    corpus = base.unionByName(planted)
    # BYTE-based distance contract (r12 Unicode axis): DuckDB's
    # levenshtein counts UTF-8 BYTES where Spark's counts chars — on
    # multi-byte text the two silently diverge (a CJK substitution is
    # 3 byte-edits). The operator is pinned to byte-level Ed-Join:
    # each key is byte-expanded via decode(encode(s, UTF-8),
    # ISO-8859-1) (one char per byte, pure JVM), so the q-gram prefix
    # lemma, the length band and levenshtein(threshold) all run over
    # the byte alphabet — exactly DuckDB's semantics.
    corpus = corpus.select(
        "doc_id", F.decode(F.encode("s", "UTF-8"), "ISO-8859-1").alias("s")
    )
    import os as _os

    ck = _os.path.abspath(sf_dir)
    if ck not in _EDQ_CACHE:
        _EDQ_CACHE[ck] = D.suggest_editdist_q(corpus, text_col="s", max_d=2)
    return D.editdist_pairs(
        corpus, key="doc_id", text_col="s", max_d=2, q=_EDQ_CACHE[ck]
    ).select(
        "a", "b", F.col("dist").cast("int").alias("dist")
    )


def _pagerank_oracle():
    from steam_data_pipeline_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(
        "SELECT c_custkey AS node FROM customer",
        "SELECT o_custkey AS src,"
        " o_orderkey % (SELECT COUNT(*) FROM customer) AS dst"
        " FROM orders WHERE o_orderpriority = '1-URGENT'",
        n_iter=4,
    )


@EXT.add(
    "llm_graph_triangles",
    oracle="""
    WITH e AS (
      SELECT o_custkey AS src,
             o_orderkey % (SELECT COUNT(*) FROM customer) AS dst
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src <> dst),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
      GROUP BY v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM und e1
            JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles,
           3.0 * (SELECT COUNT(*)
                  FROM und e1
                  JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
                  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
             / (SELECT SUM(d * (d - 1)) / 2 FROM deg) AS clustering
    """,
    doc=(
        "Exact triangle count + global clustering coefficient "
        "(operators/graph.py triangle_stats) over the same "
        "customer/orders link graph as llm_graph_pagerank. "
        "Degree-ordered orientation: every triangle counted once at "
        "its lowest-(deg,id) vertex, and oriented out-degree is "
        "O(sqrt(m)) on ANY graph, so the wedge join is O(m^1.5) "
        "instead of hub-degree-squared — the standard distributed "
        "triangle-count shape. The (deg,id) rank is compared as a "
        "struct tuple, never a global row_number (that would be a "
        "one-partition sort at scale). All-integer outputs plus one "
        "IEEE division; the DuckDB oracle counts a<b<c ID-ordered "
        "triangles — a different orientation whose TOTAL must agree "
        "exactly."
    ),
    tags=("llm", "graph"),
)
def llm_graph_triangles(spark, sf_dir):
    from steam_data_pipeline_spark.operators.graph import triangle_stats

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    n_cust = cust.agg(F.count(F.lit(1)).alias("nc"))
    edges = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.col("nc")).alias("dst"),
        )
    )
    return triangle_stats(edges)


def _kcore_oracle():
    from steam_data_pipeline_spark.operators.graph import kcore_oracle_sql

    return kcore_oracle_sql(
        "SELECT o_custkey AS src,"
        " o_orderkey % (SELECT COUNT(*) FROM customer) AS dst"
        " FROM orders WHERE o_orderpriority = '1-URGENT'",
        k=3,
        # 40 unrolled peels: the fixtures converge in 9-13 rounds, but
        # the round-11 adversarial corpus (4% of the URGENT edges
        # nulled away) needs >18 — at 18 the oracle under-peeled and
        # reported a phantom 10-node "core" that the Spark fixpoint
        # loop correctly peels to empty (it converges by 30).
        # Converged rounds are no-op MATERIALIZED CTEs, so the margin
        # is cheap.
        rounds=40,
    )


@EXT.add(
    "llm_graph_kcore",
    oracle=_kcore_oracle(),
    doc=(
        "3-core of the link graph (operators/graph.py kcore): the "
        "graph-hygiene peel that strips low-connectivity fringe "
        "before community/centrality work. Iterative peeling with "
        "DATA-dependent termination (the real implementation loops to "
        "a fixpoint with a convergence check + localCheckpoint; the "
        "fixture converges in 9 rounds at sf0.01 / 13 at sf0.1, peeling "
        "1500 nodes to a 1008-node core at sf0.01). The DuckDB oracle "
        "unrolls a fixed 18 rounds - converged rounds are no-ops and "
        "MATERIALIZED CTEs make them cheap, so overshooting the "
        "measured depths is safe at both correctness SFs. Per round: two semi-joins of the cached symmetric edge "
        "table against the active set + one map-side degree aggregate "
        "+ one anti-join; all integer, matched with no tolerance."
    ),
    tags=("llm", "graph", "iterative"),
)
def llm_graph_kcore(spark, sf_dir):
    from steam_data_pipeline_spark.operators.graph import kcore

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    n_cust = cust.agg(F.count(F.lit(1)).alias("nc"))
    edges = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.col("nc")).alias("dst"),
        )
    )
    return kcore(edges, k=3)


@EXT.add(
    "llm_graph_pagerank",
    oracle=_pagerank_oracle(),
    doc=(
        "Link-graph centrality for document quality weighting "
        "(operators/graph.py pagerank): 4 iterations of fixed-point "
        "INTEGER PageRank — probability mass in 10^12 micro-units, "
        "only BIGINT add/multiply/floor-divide, so the result is "
        "bit-identical on any engine/partitioning and the DuckDB "
        "oracle (same iterations unrolled as CTEs by "
        "pagerank_oracle_sql) matches with NO float tolerance; a "
        "float PageRank could never be value-hash-oracled. Fixture "
        "graph: customers as nodes, 1-URGENT orders as edges "
        "(o_custkey -> o_orderkey mod |customer|), which leaves 203 "
        "dangling nodes at sf0.01 so the dangling-mass redistribution "
        "path is non-vacuous. The (src, dst, deg) adjacency and the "
        "node spine with its dangling flag are checkpointed once; per "
        "iteration: ranks joined onto the adjacency, one "
        "map-side-combined groupBy(dst) of the shares, a global sum of "
        "the dangling nodes' mass, and a left join back onto the "
        "spine; the ranks are localCheckpointed every iteration, so "
        "the plan never doubles."
    ),
    tags=("llm", "graph", "quality"),
)
def llm_graph_pagerank(spark, sf_dir):
    from steam_data_pipeline_spark.operators.graph import pagerank

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    nodes = cust.select(F.col("c_custkey").alias("node"))
    n_cust = cust.agg(F.count(F.lit(1)).alias("nc"))
    edges = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.col("nc")).alias("dst"),
        )
    )
    return pagerank(nodes, edges, n_iter=4)


@EXT.add(
    "llm_embedding_pca",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
        -- micro-quantization domain (pca.QUANT_BOUND upper edge, r12;
        -- pca.QUANT_EPS lower edge, r13 combined axis)
        AND len(list_filter(embedding, x -> x IS NULL OR ABS(CAST(x AS DOUBLE)) > 9e12)) = 0 AND list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) >= 5e-7
    ),
    e AS (SELECT unnest(qv) AS qi, generate_subscripts(qv, 1) AS i FROM q),
    s AS (SELECT i,
                 SUM(CAST(qi AS HUGEINT) * qi) AS sq2,
                 SUM(CAST(qi AS HUGEINT)) AS s1
          FROM e GROUP BY i),
    agg AS (SELECT SUM(sq2) AS tot2, SUM(s1 * s1) AS ss FROM s),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                  CAST(MAX(len(qv)) AS BIGINT) AS d FROM q)
    SELECT CAST(t.k AS BIGINT) AS component,
           CAST(nn.n AS BIGINT) AS n_vecs,
           nn.d AS d,
           CAST(nn.n * agg.tot2 - agg.ss AS VARCHAR) AS trace_num,
           TRUE AS eigsum_ok, TRUE AS ordered_ok,
           TRUE AS orthonormal_ok, TRUE AS bounds_ok
    FROM range(1, 9) t(k), agg, nn
    """,
    doc=(
        "Distributed PCA over the embedding column (SemDeDup's "
        "reduction step): quantize components to exact integers, "
        "per-partition int64 partial Gramians via mapInPandas (the "
        "tree-aggregate shape — shuffle carries O(partitions*d^2) "
        "tiny rows), exact DECIMAL final reduce, then a driver "
        "eigensolve on the bounded d x d collect (2 145 values at "
        "d=64, corpus-size-independent). Oracle: the EXACT integer "
        "trace numerator (n*SUM q_i^2 - SUM(S_i)^2, HUGEINT in DuckDB "
        "vs python-int on the Spark side) pins the whole distributed "
        "phase value-exactly; the eigensolve is pinned by spectral "
        "invariants (eigenvalue sum = trace, descending order, "
        "orthonormal basis, Rayleigh bounds) — the invariant-oracle "
        "pattern of agg_hll_mergeable. See llm/pca.py."
    ),
    tags=("llm", "embedding", "pca", "approx-free"),
)
def llm_embedding_pca(spark, sf_dir):
    from steam_data_pipeline_spark.llm import pca as P

    return P.pca_invariants(t(spark, sf_dir, "embeddings"))


@EXT.add(
    "llm_semdedup",
    oracle=f"""
    WITH RECURSIVE u AS (
      -- micro-quantization domain (pca.QUANT_BOUND, r12 contract):
      -- the Spark corpus drops unquantizable vectors at ingestion
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR ABS(CAST(x AS DOUBLE)) > 9e12)) = 0 AND list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) >= 5e-7
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR ABS(CAST(x AS DOUBLE)) > 9e12)) = 0 AND list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) >= 5e-7
      UNION ALL
      SELECT vec_id + 2000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 16 AND embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR ABS(CAST(x AS DOUBLE)) > 9e12)) = 0 AND list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) >= 5e-7
    ),
    ep AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= 0.95
    ),
    eedges AS (
      SELECT a AS src, b AS dst FROM ep
      UNION SELECT b AS src, a AS dst FROM ep
    ),
    ereach AS (
      SELECT src AS node, src AS label FROM eedges
      UNION
      SELECT e.src AS node, r.label FROM eedges e JOIN ereach r ON e.dst = r.node
    ),
    comp AS (
      SELECT node, CAST(MIN(label) AS BIGINT) AS keeper
      FROM ereach GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS vec_id, keeper
    FROM comp WHERE keeper < node
    """,
    doc=(
        "SemDeDup (Abbas et al. 2023) end-to-end: PCA-reduce the "
        "embeddings (llm/pca.py, top-8 of 64 dims), k-means-cluster "
        "the REDUCED vectors (the IVF centroid machinery reused as "
        "the clustering step), generate candidate pairs ONLY within "
        "clusters, verify with exact cosine on the ORIGINAL vectors "
        "(>= 0.95), connected-components the verified pairs, drop "
        "every member but the min-id keeper. Output = (dropped "
        "vec_id, keeper). Candidate generation is within-cluster "
        "only — the published algorithm's cost shape: k ~ sqrt(n) "
        "clusters keep per-cluster all-pairs bounded while identical "
        "vectors land in the same cluster with probability 1 "
        "(identical embedding => identical projection => same nearest "
        "centroid), so the planted duplicate chains (32 copies, 16 "
        "second copies) are provably detected and the output equals "
        "the brute-force transitive-closure truth the recursive-CTE "
        "oracle computes. Exactness never depends on WHERE k-means "
        "put the cluster boundaries — only completeness for identical "
        "vectors does."
    ),
    tags=("llm", "dedup", "embedding", "pca", "iterative"),
)
def llm_semdedup(spark, sf_dir):
    from steam_data_pipeline_spark.llm import pca as P

    from steam_data_pipeline_spark.llm.pca import quantizable_components

    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        # vector ingestion contract (r12): unquantizable vectors are
        # dropped corpus-wide so the moments, clusters and verify legs
        # all see the same row set (oracle u CTE mirrors)
        .filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & quantizable_components(F.col("embedding"))
        )
    )
    p1 = emb.filter(F.col("vec_id") < 32).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    p2 = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(p1).union(p2).localCheckpoint(eager=True)
    # self-size the cluster count at sqrt(n) (SemDeDup's published
    # sizing): per-cluster all-pairs stays ~n total as the corpus grows
    k = max(16, int(corpus.count() ** 0.5))
    red = P.pca_project(corpus, key="vec_id", vec_col="embedding", top_k=8)
    # cheap clustering budget (random init, 2 Lloyd rounds). What is
    # guaranteed under ANY centroid set: candidates are verified with
    # exact cosine (no false pairs), and EXACTLY IDENTICAL embeddings
    # share a PC projection and hence a cosine-argmax cell
    # (deterministic centroid_id tie-break), so they are always found
    # — the fixture generator's planted chains are exactly that shape,
    # which is why this pipeline equals the brute-force oracle. What
    # is NOT guaranteed (by SemDeDup itself, under any budget): any
    # OTHER cos>=0.95 pair — non-parallel, or even a scaled copy (the
    # projection is mean-centered, so s*x-mean is not parallel to
    # x-mean) — that straddles a cell boundary is missed;
    # within-cluster candidate generation is the published
    # approximation. Measured (round 14, 5 seeded non-parallel
    # corpora, 36 planted pairs each): this budget finds 31-35/36 vs
    # k-means||/5's 33-35/36, each beating the other on some seeds —
    # the budget moves candidate volume, not systematic recall
    # (pinned by tests/test_llm_ops.py::TestSemdedupClusterBudget)
    idx = S.build_ivf_index(
        red.select("vec_id", F.col("pc").alias("embedding")),
        n_centroids=k,
        max_iter=2,
        init_mode="random",
    )
    # materialize the cluster assignments once: build_ivf_index returns
    # a LAZY assignment plan (corpus x broadcast-centroids scoring +
    # per-key argmax) and both legs of the within-cluster self-join
    # reference it (measured ~10% on the candidate stage at sf0.1 —
    # AQE already reuses part of the exchange; the checkpoint also
    # keeps the verify leg's lineage bounded)
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
        .select(
            F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b")
        )
    )
    ea = corpus.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    eb = corpus.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    ver = (
        cand.join(ea, "a")
        .join(eb, "b")
        .filter(S.cosine_expr("va", "vb") >= 0.95)
        .select("a", "b")
    )
    comps = D.connected_components(ver)
    return comps.filter(F.col("component") < F.col("node")).select(
        F.col("node").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("keeper"),
    )


@EXT.add(
    "llm_hybrid_search",
    oracle=f"""
    WITH terms(term) AS (VALUES ('table'), ('spark'), ('window')),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks
           WHERE len(w) > 0),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    tf AS (
      SELECT u.doc_id, u.word AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS word FROM toks) u
      JOIN terms ON terms.term = u.word
      GROUP BY u.doc_id, u.word
    ),
    dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ROUND(LN((CAST(n_docs AS DOUBLE) - df + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
               * (CAST(tf AS DOUBLE)
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                              / (CAST(total_len AS DOUBLE) / n_docs))))),
               9) AS DECIMAL(20,9)) AS c
      FROM tf
      JOIN dft USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY ROUND(CAST(SUM(c) AS DOUBLE), 6) DESC, doc_id)
               AS BIGINT) AS r_lex
      FROM contrib GROUP BY doc_id
      ORDER BY ROUND(CAST(SUM(c) AS DOUBLE), 6) DESC, doc_id LIMIT 20
    ),
    qv AS (SELECT embedding AS v FROM embeddings
           WHERE vec_id = 0 AND embedding IS NOT NULL AND len(embedding) > 0),
    dense AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
               AS BIGINT) AS r_dense
      FROM (
        SELECT e.vec_id,
               {_COS_SQL.format(a="e.embedding", b="qv.v")} AS cosine
        FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e CROSS JOIN qv
      ) ORDER BY cosine DESC, vec_id LIMIT 20
    )
    SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
           r_lex, r_dense,
           ROUND(COALESCE(1.0 / (60 + r_lex), 0.0)
                 + COALESCE(1.0 / (60 + r_dense), 0.0), 9) AS rrf
    FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc=(
        "HYBRID retrieval: BM25 lexical top-20 (shared scorer with "
        "llm_bm25_search) fused with exact dense-cosine top-20 for "
        "the doc-0 query vector via Reciprocal Rank Fusion "
        "(Cormack et al. 2009, k=60) — the standard two-leg retrieval "
        "stack (Lucene+ANN) as one declarative plan. RRF needs only "
        "RANKS, which are deterministic under each leg's (score desc, "
        "id) total order, so the fusion is exactly reproducible even "
        "though the two legs' score scales are incomparable; the "
        "final score adds exactly two fixed-order terms (no float "
        "SUM aggregation), rounded to 9. Both leg top-20s are "
        "TakeOrderedAndProject; each leg is independently "
        "scale-shaped (BM25 = inverted-index probe, dense = the ANN "
        "family's exact baseline, swappable for IVF/LSH at scale)."
    ),
    tags=("llm", "retrieval", "similarity", "flagship"),
)
def llm_hybrid_search(spark, sf_dir):
    from pyspark.sql import Window

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(20)
        .withColumn(
            "r_lex",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "r_lex")
    )
    emb = t(spark, sf_dir, "embeddings")
    # a NULL probe or NULL corpus vector carries no dense signal: drop
    # both (matching simsearch.drop_null_vectors and the oracle's
    # embedding IS NOT NULL) — otherwise every cosine is NULL and the
    # "ranking" degrades to vec_id order, differently per engine
    qv = emb.filter(
        (F.col("vec_id") == 0)
        & F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
    ).select(F.col("embedding").alias("v"))
    dense = (
        emb.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        )
        .crossJoin(F.broadcast(qv))
        .select("vec_id", S.cosine_expr("embedding", "v").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(20)
        .withColumn(
            "r_dense",
            F.row_number()
            .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id")))
            .cast("long"),
        )
        .select(F.col("vec_id").alias("doc_id"), "r_dense")
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_dense",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_dense")), F.lit(0.0)
            ),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10)


def _communities_oracle():
    from steam_data_pipeline_spark.operators.graph import (
        label_propagation_oracle_sql,
    )

    return label_propagation_oracle_sql(
        "SELECT o_custkey AS src,"
        " o_orderkey % (SELECT COUNT(*) FROM customer) AS dst"
        " FROM orders WHERE o_orderpriority = '1-URGENT'",
        rounds=4,
    )


@EXT.add(
    "llm_graph_communities",
    oracle=_communities_oracle(),
    doc=(
        "Label-propagation community detection (operators/graph.py "
        "label_propagation) over the same customer/orders link graph "
        "as llm_graph_pagerank — the domain-clustering pass a crawl "
        "pipeline runs to group related hosts before per-community "
        "quota sampling. SYNCHRONOUS LPA with most-frequent-neighbor "
        "adoption and smallest-label tie-break: async LPA is run-order "
        "dependent and could never be value-hash-oracled; this "
        "variant is a pure dataflow recurrence, bit-identical on any "
        "partitioning (DuckDB oracle unrolls the same 4 rounds as "
        "MATERIALIZED CTEs). Per round: one shuffle join of the "
        "persisted symmetric edge table against the label frontier + "
        "a map-side-combined (node, label) count + an argmax struct "
        "agg — never a global sort; localCheckpoint every 2 rounds "
        "bounds lineage exactly as pagerank does."
    ),
    tags=("llm", "graph", "iterative"),
)
def llm_graph_communities(spark, sf_dir):
    from steam_data_pipeline_spark.operators.graph import label_propagation

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    n_cust = cust.agg(F.count(F.lit(1)).alias("nc"))
    edges = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.col("nc")).alias("dst"),
        )
    )
    return label_propagation(edges, rounds=4)


#: bucket count for the bench-fixture signature index. The helper
#: default (4096) is the 100 TB posture; at sf<=1 the 40k-row index
#: would pay 4096-directory listings per probe for no extra pruning
#: (a quarter-corpus batch touches nearly every bucket either way), so
#: the fixture sizes buckets to the data like production would.
_MHIDX_BUCKETS = 256


def _prepare_minhash_index(spark, sf_dir: str) -> str:
    """The persisted band-signature index that
    ``llm_dedup_incremental_persisted`` probes — the standing-corpus
    posture rehearsed by ``tools/scale_rehearsal.py dedup-amortized``:
    the index EXISTS on disk before any batch runs, so its one-time
    build belongs to bench startup, not to the query timing (same
    accounting as the IVF/LSH indexes above)."""
    corpus = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 != 0)

    def _write(d):
        D.persist_signature_index(
            D.banded_signatures(corpus), d, n_buckets=_MHIDX_BUCKETS
        )

    return _cached_layout("mhidx", sf_dir, _write)


BENCH_FIXTURES.append(_prepare_minhash_index)


@EXT.add(
    "llm_dedup_incremental_persisted",
    oracle=_INCR_DEDUP_ORACLE,
    doc=(
        "The PRODUCTION incremental-dedup calling convention end-to-"
        "end, driver-checked: the standing corpus's band-signature "
        "index is persisted ONCE (parquet partitioned by a bounded "
        "GROUP of the band-coordinate bucket with bucket-sorted "
        "files, llm/dedup.py persist_signature_index), and the "
        "incoming batch (doc_id % 4 = 0) probes ONLY the partitions "
        "its own band hashes touch (probe_signature_index — the "
        "touched-bucket list is a bounded collect that IS the "
        "pruning predicate: directory pruning on touched groups, "
        "parquet-stats pruning on touched buckets, exact by "
        "construction since colliding hashes share a bucket). Same "
        "two-stage semantics and oracle as llm_dedup_incremental, "
        "which recomputes the corpus signatures in-query; this "
        "variant's timing is what each ingest batch pays at 100 TB — "
        "flat in corpus size (SCALE.md round-9 table: exponent -0.01 "
        "at 10x corpus; reference ingest loop main.py:432-477)."
    ),
    tags=("llm", "dedup", "incremental", "persistence"),
)
def llm_dedup_incremental_persisted(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    path = _prepare_minhash_index(spark, sf_dir)
    # checkpoint the batch signatures ONCE: the probe's touched-bucket
    # collect and both probe sides inside the dedup reuse them
    new_sigs = D.banded_signatures(new).localCheckpoint(eager=True)
    pruned = D.probe_signature_index(
        spark, path, new_sigs, n_buckets=_MHIDX_BUCKETS
    )
    return D.minhash_dedup_incremental(
        corpus,
        new,
        threshold=0.6,
        corpus_signatures=pruned,
        new_signatures=new_sigs,
    ).select("doc_id", "lang", "source")


@EXT.add(
    "llm_embedding_centroid",
    oracle="""
    WITH e AS (
      SELECT label, u.d AS dim, u.q AS q
      FROM embeddings,
           UNNEST(list_transform(range(1, len(embedding) + 1),
                  i -> {'d': i - 1,
                        'q': TRY_CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                                            * 1000000)
                                      AS BIGINT)})) AS t(u)
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(q) AS BIGINT) AS sum_micro,
           -- 9-dp mean via EXACT integer half-up division: ROUND of the
           -- double quotient lands on ties whose half-up/half-even
           -- resolution differs per engine (r12 extremes sweep, 1-ulp)
           -- TRY_CAST to BIGINT mirrors the Spark leg's nano domain
           -- (HUGEINT would answer where Spark NULLs; r12 ADVICE)
           TRY_CAST(CASE WHEN SUM(q) >= 0
                THEN  (SUM(q) * 2000 + COUNT(*)) // (2 * COUNT(*))
                ELSE -((-SUM(q) * 2000 + COUNT(*)) // (2 * COUNT(*)))
           END AS BIGINT) / 1e9 AS centroid
    FROM e GROUP BY 1, 2
    """,
    doc=(
        "Per-label embedding CENTROIDS as a distributed vector "
        "aggregate — the class prototype table behind semantic-drift "
        "monitors and nearest-centroid classifiers (and the exact "
        "sibling of the seeded k-means means inside llm_semdedup). "
        "Determinism: a float sum per dimension would be partition-"
        "order-dependent, so each component is micro-quantized "
        "(round(v x 1e6) — the cents discipline applied to unit-norm "
        "floats) and summed as exact BIGINTs; one division per "
        "(label, dim) cell at the end, rounded 9. Shape: posexplode "
        "to (label, dim, q) then ONE map-side-combined agg — the "
        "shuffle carries |labels| x 64 partial sums, never vectors; "
        "the centroid table is broadcast-sized at any corpus scale."
    ),
    tags=("llm", "embedding", "agg"),
)
def llm_embedding_centroid(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        # float32 -> double FIRST (exact), then scale in double: a
        # float-precision multiply rounds differently per engine
        F.round(F.col("v").cast("double") * 1000000)
        .try_cast("long")
        .alias("q"),
    )
    agged = e.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sum_micro"),
    )
    # 9-dp mean via EXACT integer half-up division: ROUND of the double
    # quotient lands on ties whose half-up vs half-even resolution
    # differs per engine (r12 extremes sweep). The scaling runs in
    # decimal(38,0) — BIGINT sum_micro * 2000 overflows for
    # |sum_micro| > ~4.6e15 (ANSI crash where DuckDB's HUGEINT answers;
    # r12 ADVICE) and Spark's `div` on decimals silently WRAPS
    # out-of-long quotients, so the quotient is built exactly as
    # (a - a % b) / b (remainder removed -> decimal division exact)
    # and try_cast back to BIGINT, the feat_target_encode_loo pattern.
    _q = (
        "(({s} * 2000 + n_vecs)"
        " - ({s} * 2000 + n_vecs) % (2 * n_vecs))"
        " / (2 * n_vecs)"
    )
    # negation AFTER the decimal cast: -LONG_MIN overflows in BIGINT
    nano = F.expr(
        "try_cast(CASE WHEN sum_micro >= 0 THEN "
        + _q.format(s="cast(sum_micro as decimal(38,0))")
        + " ELSE -("
        + _q.format(s="(-cast(sum_micro as decimal(38,0)))")
        + ") END as bigint)"
    )
    return agged.select(
        "label", "dim", "n_vecs", "sum_micro",
        (nano / F.lit(1e9)).alias("centroid"),
    )


def _bfs_oracle():
    from steam_data_pipeline_spark.operators.graph import bfs_hops_oracle_sql

    return bfs_hops_oracle_sql(
        "SELECT o_custkey AS src,"
        " o_orderkey % (SELECT COUNT(*) FROM customer) AS dst"
        " FROM orders WHERE o_orderpriority = '1-URGENT'",
        "SELECT c_custkey AS v FROM customer WHERE c_custkey % 97 = 0",
        max_hops=4,
    )


@EXT.add(
    "llm_graph_bfs_hops",
    oracle=_bfs_oracle(),
    doc=(
        "Multi-source BFS reachability profile of the link graph "
        "(operators/graph.py bfs_hops): minimum hop distance from a "
        "trusted seed set (every 97th customer) for every node, "
        "histogrammed per hop with id-sum/extrema — how far does "
        "seed-anchored trust propagate before the crawl frontier goes "
        "dark (nodes at hop -1 are unreachable within 4 hops: "
        "isolation candidates for the quality gate, the reachability "
        "companion to llm_graph_pagerank's stationary weighting). "
        "Min-hop relaxation: the symmetric edge table plus one "
        "zero-weight self-loop per node is checkpointed once, then "
        "each of the 4 lazy rounds joins the distance table to it and "
        "keeps min(hop + weight) per node, so every node ends at its "
        "minimum hop with no per-round eager job. The "
        "DuckDB oracle is a BOUNDED RECURSIVE CTE — min(hop) per node "
        "over every <=4-hop walk endpoint — a fully independent "
        "declarative formulation that must agree on every hop's "
        "count, id-sum and extrema; all-integer, no tolerance."
    ),
    tags=("llm", "graph", "iterative"),
)
def llm_graph_bfs_hops(spark, sf_dir):
    from steam_data_pipeline_spark.operators.graph import bfs_hops

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    n_cust = cust.agg(F.count(F.lit(1)).alias("nc"))
    edges = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.col("nc")).alias("dst"),
        )
    )
    seeds = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("v")
    )
    return bfs_hops(edges, seeds, max_hops=4)


@EXT.add(
    "llm_dedup_jaccard_weighted",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    bags AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(1, greatest(len(w) - 1, 2)),
               i -> array_to_string(w[i:i+2], ' ')
             )) AS g
      FROM tok
    ),
    counts AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM bags GROUP BY 1, 2
    ),
    totals AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1
    ),
    posting AS (
      SELECT c.doc_id, c.g, c.c, t.tot
      FROM counts c JOIN totals t USING (doc_id)
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ANY_VALUE(a.tot) AS ta, ANY_VALUE(b.tot) AS tb,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
      FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, ta, tb, m,
           CAST(m AS DOUBLE) / (ta + tb - m) AS wjaccard
    FROM pairs WHERE CAST(m AS DOUBLE) / (ta + tb - m) >= 0.4
    """,
    doc=(
        "WEIGHTED (multiset) 3-gram Jaccard near-dup pairs: "
        "sum-of-min over sum-of-max of per-document gram COUNTS — the "
        "bag-semantics refinement of llm_dedup_jaccard for documents "
        "with heavy internal repetition, where set-Jaccard saturates "
        "(a doc that repeats one paragraph 50x has the same gram SET "
        "as one copy; the multiset ratio sees the difference — the "
        "repetition-aware dedup signal llm_repetition_filter gates "
        "on, applied pairwise). Identity Σmax = T_a + T_b − Σmin "
        "turns the denominator into per-doc totals, so only SHARED "
        "grams ever join: the inverted-index self-join posts one row "
        "per DISTINCT (doc, gram) — exactly the set version's posting "
        "cardinality, counts riding along — never the bag expansion. "
        "All-integer counts; one IEEE division (no rounding needed — "
        "single correctly-rounded op, the set version's convention). "
        "Same trigram tokenization as the whole dedup family "
        "(lowercase, whitespace split). Scale: the posting join is "
        "gram-keyed (Zipf skew on hot grams — the containment "
        "operator's posting-cap treatment applies unchanged at "
        "100 TB); candidates at threshold come from LSH banding in "
        "production (llm_dedup_near), this query IS the exact truth."
    ),
    tags=("llm", "dedup", "weighted"),
)
def llm_dedup_jaccard_weighted(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("__toks")
        )
    )
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    # The gram Generate + per-doc count aggregate is the dominant cost
    # and fed FOUR plan references before this revision (each leg's
    # counts plus a totals re-derivation inside each leg's posting
    # join): 4 document scans, 4 tokenize+gram explosions, no exchange
    # reuse (the leg projections differ, so the subtrees never
    # canonicalize equal). localCheckpoint the counts posting ONCE —
    # the inverted-index persisted intermediate at production scale —
    # and attach the doc-bounded totals to the AGGREGATED pair rows at
    # the end instead of riding `tot` through the gram-keyed join
    # (narrower join rows). Output identical: any_value(per-doc tot)
    # == the joined per-doc total. Plan: 4 scans -> 1, Generate x4 ->
    # x1; measurements in OPTIMIZATION_r13.md.
    counts = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("tot")
    )
    a = counts.select(
        F.col("doc_id").alias("a"), "g", F.col("c").alias("ca")
    )
    b = counts.select(
        F.col("doc_id").alias("b"), "g", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("m"))
    )
    out = pairs.join(
        F.broadcast(
            totals.select(F.col("doc_id").alias("a"), F.col("tot").alias("ta"))
        ),
        "a",
    ).join(
        F.broadcast(
            totals.select(F.col("doc_id").alias("b"), F.col("tot").alias("tb"))
        ),
        "b",
    )
    wj = F.col("m").cast("double") / (F.col("ta") + F.col("tb") - F.col("m"))
    return out.select(
        "a", "b", "ta", "tb", "m", wj.alias("wjaccard")
    ).filter(wj >= 0.4)
