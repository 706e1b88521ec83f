"""Recommendation operators (SURVEY.md §2.9 ``udf_recommender``;
VISUALIZATION_PLAN.md:69-70).

The reference plans two recommendation modes:

* content-based similarity over metadata (PLAN:69) — implemented as
  the token-Jaccard inverted-index join in ``plans/analytics.py``
  (`udf_recommender`) and the MinHash machinery in ``llm.dedup``;
* collaborative filtering (PLAN:70) — implemented here with
  ``pyspark.ml.recommendation.ALS`` on an implicit-feedback
  interaction matrix.

Fixture mapping: customers × parts with summed order quantities as
implicit strength (the steam analog: players × games with playtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from steam_data_pipeline_spark.operators.aggregates import dec_sum
from steam_data_pipeline_spark.operators.ranks import _plan_estimated_bytes
from steam_data_pipeline_spark.sources.tables import read_table


def interaction_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, item, strength): customer × part with summed quantities.

    One shuffle per aggregation key; at 100 TB this is the standard
    map-side-combined groupBy.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # a NULL quantity is no interaction: kept, an all-NULL (user, item)
    # group sums to NULL strength and ALS hard-raises on NaN ratings
    # (round-11 adversarial NULL sweep)
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).filter(F.col("l_quantity").isNotNull())
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(dec_sum("l_quantity").cast("float").alias("strength"))
    )


def _als_num_blocks(spark: SparkSession, sf_dir: str) -> int:
    """Size ALS's factor blocks from the INTERACTION SOURCE size, not a
    constant: blocks are the unit of the alternating-solve shuffles, so
    too few serialize the solve at scale and too many drown a small fit
    in task overhead. Historical measurement, round 14, on the 30×
    rehearsal tier (18 M interactions, local[32]): blocks 4/8/16/32 →
    13.4/9.5/8.0/11.3 s fit+score; at fixture scale (600 k): 4/8/16 →
    1.4/1.5/2.7 s. No mode of ``tools/scale_rehearsal.py`` re-runs this
    sweep, so these numbers cannot be reproduced from the repo. One
    8 MiB-of-lineitem per block tracks both optima (sf0.1 → 4 via the
    floor, 30× → ~13) and keeps growing with the input on a real
    cluster, capped at the session's parallelism. The size is
    Catalyst's plan-time estimate of the lineitem scan (the bytes of
    every file it lists, nested ones included) — no Spark job."""
    size = _plan_estimated_bytes(read_table(spark, sf_dir, "lineitem"))
    return max(4, min(spark.sparkContext.defaultParallelism, size >> 23))


def als_recommendations(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    rank: int = 4,
    max_iter: int = 2,
    seed: int = 42,
    user_limit: int = 1000,
    num_blocks: int | None = None,
    interactions: DataFrame | None = None,
) -> DataFrame:
    """Top-k item recommendations via implicit-feedback ALS for the
    ``user_limit`` most active users.

    ``max_iter=2`` is the bench-tuned demo setting (the third sweep
    roughly tripled wall for no change in the top-3 surface on the
    fixture); raise it for production factor quality.

    ``num_blocks`` sizes ALS's user/item factor blocks — the unit of
    its alternating-solve shuffles. Default: size-derived by
    :func:`_als_num_blocks` (round 14 — the previous pinned 4 was the
    fixture optimum but a measured 1.7× serial cap at the 30× tier);
    on a 1000-executor cluster it would be hundreds.

    Seeded for run-to-run determinism at a fixed core count: above the
    4-block floor the block count is capped at the session's
    parallelism, and a different block count partitions the factors
    differently. Factors are distributed block matrices, so training
    scales with executors. Scoring is bounded deliberately:
    ``recommendForAllUsers`` is a users×rank · rank×items blocked cross
    product, so production calls score a user subset (or an ANN index
    over item factors) — here the top-N users by interaction count, the
    dashboard-shaped ask.
    """
    from pyspark.ml.recommendation import ALS

    # consumed twice (ALS fit + active-user ranking) — cache the
    # join+agg; callers that also need the matrix pass it in cached so
    # the orders⋈lineitem join runs once per query, not per use
    caller_owns_cache = interactions is not None
    if interactions is None:
        interactions = interaction_matrix(spark, sf_dir).cache()
    if num_blocks is None:
        num_blocks = _als_num_blocks(spark, sf_dir)
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        seed=seed,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        coldStartStrategy="drop",
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
    )
    model = als.fit(interactions)
    active = (
        interactions.groupBy("user")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user"))
        .limit(user_limit)
        .select("user")
        .localCheckpoint(eager=True)  # materialize while the cache is hot…
    )
    if not caller_owns_cache:
        interactions.unpersist(blocking=False)  # …then free the blocks
    recs = model.recommendForUserSubset(active, k)
    return recs.select(
        "user",
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        "user",
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("rec.item").alias("item"),
    )


def minhash_recommendations(
    spark: SparkSession,
    sf_dir: str,
    query_max_key: int = 100,
    min_similarity: float = 0.5,
    k: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Content-based recommender over tag SETS via ``pyspark.ml``
    MinHashLSH (PLAN:69; SURVEY §2.9 ``udf_recommender`` mapping,
    completing the menu next to the token-Jaccard inverted index and
    ALS): items = parts, tags = the distinct words of ``p_name`` (the
    steam analog: genre/tag sets), recommendation = top-``k`` other
    items per query item by exact tag-set Jaccard, candidates
    generated by ``approxSimilarityJoin``.

    Two-stage shape — the scale story:

    * **candidate generation** is the LSH bucket join: both sides
      explode to ``num_hashes`` (table, minhash) keys and hash-join,
      so cost tracks bucket occupancy (Σ|bucket|²), never items² —
      the same reason the hand-rolled banding engine in
      ``llm.dedup`` scales. The query side here is a bounded key
      slice (a dashboard page of items), the catalog side the full
      table.
    * **re-rank** computes EXACT Jaccard from the tag arrays on
      candidates only (``array_intersect`` sizes — integer counts,
      one double division, bit-reproducible in any engine), filters
      ``>= min_similarity``, and takes top-``k`` per query item with
      a deterministic ``(similarity DESC, b)`` tie-break. Final
      ranking is therefore engine-exact; LSH only gates WHICH pairs
      are scored.

    8 hash tables measured oracle-exact on the fixtures: the
    detected candidate set contains every exact Jaccard >= 0.5 pair
    at sf0.001/0.01/0.1 (seed 42), so the output
    equals the exact top-k and value-hash-oracles; at ~0.5
    similarity the per-pair miss probability is (1-J)^8 <= 0.4 %,
    and the pairs that MATTER (high ranks = high J) sit far below
    that. Returns ``(a, b, rn, similarity)``.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # no name, no tags: HashingTF NPEs on a NULL token array, and a
    # nameless part has no content identity (round-11 NULL sweep)
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").isNotNull()
    ).select(
        "p_partkey", F.array_distinct(F.split("p_name", " ")).alias("tags")
    )
    tf = HashingTF(
        inputCol="tags", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # materialized once: the similarity join scans features on both
    # sides (query slice + full catalog) — same rationale as
    # llm.dedup.minhash_pairs_ml
    feats = tf.transform(p).select("p_partkey", "tags", "features").localCheckpoint(
        eager=True
    )
    qside = feats.filter(F.col("p_partkey") <= query_max_key)
    model = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hashes,
        seed=seed,
    ).fit(feats)
    cand = (
        model.approxSimilarityJoin(
            qside, feats, 1.0 - min_similarity + 0.1, distCol="d"
        )
        .select(
            F.col("datasetA.p_partkey").alias("a"),
            F.col("datasetB.p_partkey").alias("b"),
            F.col("datasetA.tags").alias("ta"),
            F.col("datasetB.tags").alias("tb"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    n_common = F.size(F.array_intersect("ta", "tb"))
    sim = n_common.cast("double") / (
        F.size("ta") + F.size("tb") - n_common
    )
    w = Window.partitionBy("a").orderBy(F.col("similarity").desc(), F.col("b"))
    return (
        cand.withColumn("similarity", sim)
        .filter(F.col("similarity") >= min_similarity)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("a", "b", "rn", "similarity")
    )
