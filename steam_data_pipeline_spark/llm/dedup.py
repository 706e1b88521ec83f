"""Document deduplication: exact, MinHash-LSH, SimHash, Jaccard, embedding.

All operators work on a ``documents(doc_id, text, …)`` DataFrame and
return either a deduplicated corpus or a pair/cluster table. The
scale-critical property: candidate pairs are generated **within LSH
buckets only** (groupBy band-hash), so cost is Σ|bucket|², not n² —
the standard MinHash banding bound. Keep-rule everywhere: the smallest
``doc_id`` in a duplicate cluster survives (deterministic).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact duplicate removal: group by content hash, keep min doc_id.

    ``sha2(text, 256)`` group keys shuffle ~64 bytes/doc instead of the
    document body — at 100 TB the shuffle carries hashes, not text.
    A final equality check within hash groups is unnecessary for
    sha2-256 collision odds; the groupBy(hash) + min(key) plan is one
    shuffle with map-side partial aggregation.

    NULL-text rows have no content identity and ALL survive:
    ``sha2(NULL)`` is NULL, so without the guard every metadata-only
    row would collapse into one NULL-hash group with a single min-key
    keeper — the same no-identity-no-merge policy as
    ``curation.url_dedup``.
    """
    text = F.col(text_col)
    h = F.sha2(text, 256)
    keep = (
        docs.filter(text.isNotNull())
        .groupBy(h.alias("__h"))
        .agg(F.min(key).alias(key))
        .select(key)
    )
    survivors = docs.join(keep, on=key, how="left_semi")
    return survivors.unionByName(docs.filter(text.isNull()))


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def with_shingles(
    docs: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles as an array column — pure
    higher-order-function expressions (split → sequence → slice →
    concat_ws), JVM-side, no UDF.

    Perf note: tokens are materialized in their own projection and the
    lambda only references the bound attribute. Embedding ``split``
    directly in the lambda body would re-tokenize the document once per
    shingle (O(len²) — measured 2-5× wall-clock on the corpus
    fixtures). The two-``select`` shape below is load-bearing: the
    ``withColumn``+``drop`` equivalent lets CollapseProject inline the
    split into the lambda when a downstream ``explode`` collapses in
    (measured: ``split`` appearing 3× in the optimized plan and the
    per-element re-tokenization with it).
    """
    # no-identity-no-merge (round-11 adversarial sweep): a NULL text has
    # no shingles. Without this filter, split(NULL) -> NULL tokens ->
    # concat_ws SKIPS the nulls and every NULL-text doc gets the single
    # shared shingle "" — all such docs silently pair with each other
    # (measured: 465 phantom pairs from 31 NULL docs), while the SQL
    # oracles' unnest(split(NULL)) drops them. Same policy as
    # exact_dedup: no content, no candidates.
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # exclude a pre-existing out_col so the helper keeps withColumn's
    # replace-on-collision semantics (idempotent re-application)
    keep = [F.col(c) for c in docs.columns if c not in (out_col, "__toks")]
    return docs.select(
        *keep, F.split(F.lower(F.col(text_col)), r"\s+").alias("__toks")
    ).select(*keep, F.array_distinct(grams).alias(out_col))


def with_hashed_shingles(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles_h",
    distinct: bool = True,
) -> DataFrame:
    """Distinct n-gram shingles as xxhash64 LONGS — the scale
    representation: joins/minhash over 8-byte ints instead of ~20-byte
    strings (shuffle and hash cost drop accordingly; 64-bit collisions
    are ~1e-12 at fixture scale and only ever merge two shingles).

    ``distinct=False`` skips the per-document ``array_distinct`` — the
    single most expensive expression in this projection (measured 4x
    the whole shingle pipeline's cost at sf0.1). Callers that
    deduplicate downstream anyway (a row-level ``distinct()`` after
    explode) or whose consumer is duplicate-insensitive (``array_min``
    minhash folds) should pass False; set-semantics consumers
    (``size``-based Jaccard/containment) need the default."""
    # same NULL-text drop as with_shingles (no identity, no candidates)
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
    )
    keep = [F.col(c) for c in docs.columns if c not in (out_col, "__toks")]
    # two-select shape, NOT withColumn+drop: see with_shingles — the
    # collapsed form re-runs split per shingle element (measured 5x on
    # this exact pipeline: 5.1 s -> 1.0 s for the sf0.1 shingle scan)
    return docs.select(
        *keep, F.split(F.lower(F.col(text_col)), r"\s+").alias("__toks")
    ).select(*keep, (F.array_distinct(grams) if distinct else grams).alias(out_col))


def _hashed_signature(docs: DataFrame, shingle_col: str, num_hashes: int, out_col: str) -> DataFrame:
    """MinHash over already-hashed (long) shingles: seed permutations
    are ``xxhash64(h, seed)`` over 8-byte ints — much cheaper than
    re-hashing strings per seed."""

    def seeded(seed: int):
        return lambda h: F.xxhash64(h, F.lit(seed))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col(shingle_col), seeded(i)))
            for i in range(num_hashes)
        ]
    )
    return docs.withColumn(out_col, sig)


def banded_signatures(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The persistable MinHash-LSH index table: one row per (doc, band)
    with the band bucket hash and the full signature —
    ``(key, minhash, band_idx, band_hash)``. In an incremental
    pipeline this is what you store for the existing corpus so each
    incoming batch only computes ITS OWN signatures and probes the
    stored buckets."""
    rows_per_band = num_hashes // bands
    sig = _hashed_signature(
        # distinct=False: array_min per seed is duplicate-insensitive
        # (min over a multiset equals min over its set), and skipping
        # array_distinct is the measured-cheaper trade
        with_hashed_shingles(
            docs.select(key, text_col), text_col, shingle_n, distinct=False
        ),
        "shingles_h",
        num_hashes,
        "minhash",
    ).select(key, "minhash")

    return sig.select(
        key,
        "minhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("minhash", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(key, "minhash", "band.band_idx", "band.band_hash")


#: bucket count for the persisted signature index (the PRUNING
#: granularity — directories are coarser bucket GROUPS, see
#: _index_group_shift). A 100 TB corpus would raise it so each
#: bucket's row span stays modest — probe pruning below only needs it
#: to match between writer and reader.
INDEX_BUCKETS = 4096


def _index_bucket(n_buckets: int = INDEX_BUCKETS):
    # bucket on BOTH band coordinates: collisions require equality of
    # (band_idx, band_hash), so equal-hash rows always land in the same
    # bucket and pruning is exact, never lossy
    return F.pmod(F.xxhash64("band_idx", "band_hash"), F.lit(n_buckets))


def _index_group_shift(n_buckets: int) -> int:
    """Bucket-GROUP partitioning shift for the persisted signature
    index: directories are ``bucket >> shift``, capped at 32 groups.
    Derived from ``n_buckets`` ALONE so writer and prober agree by
    construction whenever their ``n_buckets`` match — and a mismatched
    ``n_buckets`` was already a correctness bug (different bucket ids),
    not a new failure mode. One directory per bucket (the pre-r13
    layout) paid a full directory listing plus one tiny file per
    touched bucket on every probe — measured 2.6 s over 3 MB of index
    at sf0.1; grouped + sorted-by-bucket files keep pruning at
    near-bucket granularity (parquet min/max stats on the bucket IN
    predicate) with ~n_buckets/32 fewer files."""
    return max(0, n_buckets.bit_length() - 1 - 5)


def persist_signature_index(
    sigs: DataFrame, path: str, n_buckets: int = INDEX_BUCKETS
) -> None:
    """Write a :func:`banded_signatures` table as the standing-corpus
    LSH index: parquet partitioned by a bounded GROUP of the band-
    coordinate bucket (``bucket >> _index_group_shift``), each file
    sorted by ``bucket``. Incoming batches then read ONLY the
    partitions their own band hashes touch, with parquet stats
    pruning inside each group (:func:`probe_signature_index`) —
    per-batch probe cost is the touched-bucket volume, independent of
    corpus size. Same touched-partition convention as the upsert
    sink's pruning predicate (operators/upsert.py)."""
    shift = _index_group_shift(n_buckets)
    # cluster rows by group BEFORE the partitioned write: otherwise
    # every write task opens (up to) one writer per group and the
    # dynamic-partition sort dominates (measured 65 s -> ~8 s at
    # sf0.1 when this index partitioned per-bucket); the
    # within-partition sort by bucket is what lets parquet row-group
    # stats prune at bucket granularity on the probe side
    (
        sigs.withColumn("bucket", _index_bucket(n_buckets))
        .withColumn("bucket_grp", F.shiftright(F.col("bucket"), shift))
        .repartition(F.col("bucket_grp"))
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket_grp")
        .parquet(path)
    )


def probe_signature_index(
    spark, path: str, new_sigs: DataFrame, n_buckets: int = INDEX_BUCKETS
) -> DataFrame:
    """Read the partitions of a persisted signature index that an
    incoming batch's band hashes touch. The touched-bucket list is
    bounded (<= min(batch_rows x bands, n_buckets) ints) and IS the
    partition-pruning predicate — the collect is the same
    driver-bounded convention as the upsert sink, not a data move.
    Exact, never lossy: a colliding (band_idx, band_hash) always
    hashes to a touched bucket, and the directory filter is the
    IMAGE of the touched set under the group map, so every touched
    bucket's group is read. Only the bucket-group layout written by
    :func:`persist_signature_index` is read: an index without a
    ``bucket_grp`` column (the older one-directory-per-bucket layout)
    raises ``ValueError`` — rebuild the index."""
    idx = spark.read.parquet(path)
    if "bucket_grp" not in idx.columns:
        raise ValueError(
            f"probe_signature_index: {path} has no bucket_grp column — "
            "an index layout this version does not read; rebuild it "
            "with persist_signature_index"
        )
    touched = [
        int(r[0])
        for r in new_sigs.select(_index_bucket(n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    shift = _index_group_shift(n_buckets)
    return idx.filter(
        F.col("bucket_grp").isin(sorted({b >> shift for b in touched}))
        & F.col("bucket").isin(touched)
    ).drop("bucket", "bucket_grp")


def minhash_candidate_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band hash become
    candidate pairs (a < b).

    Plan shape: explode(bands) → groupBy band bucket is expressed as a
    self-equi-join on (band_idx, band_hash) — a hash join on a
    high-cardinality key, shuffle ∝ corpus size, compute ∝ bucket
    sizes. Emits distinct (a, b) with their estimated Jaccard from the
    full signatures.
    """
    banded = banded_signatures(docs, key, text_col, shingle_n, num_hashes, bands)

    left = banded.select(
        F.col(key).alias("a"),
        F.col("minhash").alias("sig_a"),
        "band_idx",
        "band_hash",
    )
    right = banded.select(
        F.col(key).alias("b"),
        F.col("minhash").alias("sig_b"),
        "band_idx",
        "band_hash",
    )
    pairs = (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .dropDuplicates(["a", "b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return pairs.select("a", "b", est.alias("est_jaccard"))


def minhash_dedup(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    collapse_identical: bool = True,
    **kwargs,
) -> DataFrame:
    """Near-duplicate removal with cluster-correct survivor selection:
    candidate pairs with estimated Jaccard ≥ threshold are clustered
    with ``connected_components`` (near-duplication is transitive in
    practice), then exactly the min-id member of each cluster survives.

    The earlier greedy pair-level rule ("drop the larger id of every
    pair") could over-drop chains — for A≈B≈C detected as pairs
    (A,B),(B,C) it dropped B *and* C even when the cluster should keep
    one representative, and for pairs (A,B),(A,C) plus (B,C) it behaved
    correctly only by accident of pair enumeration. Composing
    pairs → components → min-id per component keeps exactly one doc per
    duplicate cluster, matching the transitive-closure oracle.
    """
    # EXACT-COLLAPSE FIRST (r13 skew axis): an identical-text block of
    # m docs shares EVERY band hash, so the banding self-join emits
    # Theta(m^2) candidate pairs — corpus-wide boilerplate at 100 TB is
    # exactly this shape (the skew corpus's 40% identical block makes
    # it measurable). Identical texts are mutual duplicates at any
    # threshold (J = 1), so each byte-identical text group collapses to
    # its min-id representative BEFORE signatures (sha2 groupBy, ~64 B
    # per doc — the llm_dedup_exact shuffle), candidates run on
    # representatives (a block contributes ONE row), and members rejoin
    # their representative's cluster at the end. Output is provably
    # unchanged: a member's signature equals its rep's, so rep-level
    # banding detects exactly what member-level banding did, and the
    # cluster survivor (min id over all expanded members) equals the
    # component id because each rep is already its group's min.
    # NULL-text docs are untouched (the shingle path drops them — no
    # identity, no candidates — so they all survive, same as before).
    # localCheckpoint: `hashed` is tiny (key + 32-byte hash) but is
    # referenced twice (reps, members) and `docs` may carry expensive
    # upstream lineage (llm_corpus_export's cleaned corpus) — without
    # the cut, every reference re-derives that lineage (plan audit
    # showed documents scans 3 -> 15 in the export pipeline)
    #
    # collapse_identical=False: callers whose input PROVABLY carries no
    # byte-identical non-NULL texts (e.g. the output of exact_dedup)
    # skip the collapse outright — on such input every sha2 group is a
    # singleton, reps == docs and members == identity, so the collapse
    # is the identity transformation computed at the cost of one
    # eager materialization + one shuffle + two joins.
    if not collapse_identical:
        pairs = (
            minhash_candidate_pairs(docs, key, text_col, **kwargs)
            .filter(F.col("est_jaccard") >= threshold)
            .select("a", "b")
        )
        comps = connected_components(pairs)
        losers = (
            comps.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(key))
        )
        return docs.join(losers, on=key, how="left_anti")
    hashed = (
        docs.select(key, F.sha2(F.col(text_col), 256).alias("__h"))
        .filter(F.col("__h").isNotNull())
        .localCheckpoint(eager=True)
    )
    reps = hashed.groupBy("__h").agg(F.min(key).alias("__rep"))
    members = hashed.join(reps, "__h").select(
        F.col(key).alias("node"), F.col("__rep").alias("rep")
    )
    rep_docs = docs.join(
        reps.select(F.col("__rep").alias(key)), on=key, how="leftsemi"
    )
    pairs = (
        minhash_candidate_pairs(rep_docs, key, text_col, **kwargs)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b")
    )
    comps = connected_components(pairs)
    expanded = members.join(
        comps.withColumnRenamed("node", "rep"), on="rep", how="left"
    )
    losers = expanded.filter(
        F.col("node") != F.coalesce(F.col("component"), F.col("rep"))
    ).select(F.col("node").alias(key))
    return docs.join(losers, on=key, how="left_anti")


def minhash_dedup_incremental(
    corpus: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    corpus_signatures: DataFrame | None = None,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Dedup an INCOMING BATCH against an existing corpus — the
    ingestion-path shape of near-dedup, where re-clustering the whole
    corpus per batch would be absurd at 100 TB.

    ``corpus_signatures`` accepts the corpus's prebuilt
    :func:`banded_signatures` table (same shingle/hash/band params) —
    the production convention: persist it once (partitioned by
    ``band_hash``), reuse every batch, append each batch's survivors'
    signatures to it. When omitted it is recomputed from ``corpus``.

    Semantics (deterministic, oracle-checked):

    1. a new doc matching any corpus doc (est Jaccard ≥ threshold) is
       dropped — the corpus already has a representative;
    2. among the remaining new docs, new↔new pairs are clustered
       (connected components over survivors-of-step-1 only) and the
       min-id per component survives.

    Cost shape: the corpus side contributes its banded signature table
    (pass it prebuilt via ``corpus_signatures``; the registered demo
    query recomputes it because the fixture has no store between
    queries), and the candidate join probes only buckets that contain a NEW doc —
    per-batch work is Σ|bucket ∩ new|·|bucket|, independent of
    corpus², and the shuffle carries 8-byte hashes.
    """
    # ``new_signatures`` lets the caller reuse the batch's signatures
    # (e.g. after computing the touched-bucket list for
    # :func:`probe_signature_index`) instead of shingling twice. A
    # caller-supplied table is used AS-IS — callers that computed it
    # for a probe already checkpointed it, and re-checkpointing here
    # would re-materialize the whole signature table every batch.
    if new_signatures is not None:
        new_b = new_signatures
    else:
        new_b = banded_signatures(
            new, key, text_col, shingle_n, num_hashes, bands
        ).localCheckpoint(eager=True)  # probed twice; computed once
    if corpus_signatures is None:
        corpus_signatures = banded_signatures(
            corpus, key, text_col, shingle_n, num_hashes, bands
        )
    all_b = corpus_signatures.unionByName(new_b)
    new_keys = new.select(F.col(key).alias("__nk"))
    left = new_b.select(
        F.col(key).alias("a"), F.col("minhash").alias("sig_a"), "band_idx", "band_hash"
    )
    right = all_b.select(
        F.col(key).alias("b"), F.col("minhash").alias("sig_b"), "band_idx", "band_hash"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    pairs = (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .dropDuplicates(["a", "b"])
        .select("a", "b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .localCheckpoint(eager=True)  # consumed by both steps below
    )
    cross = pairs.join(
        new_keys, pairs.b == new_keys.__nk, how="left_anti"
    )  # b not new => b is corpus
    # a re-delivered doc whose KEY already exists in the corpus is a
    # duplicate by definition (at-least-once ingestion replays rows);
    # the similarity path alone would miss it because its only
    # candidate pair is the filtered-out self-pair (a == b)
    redelivered = new.join(
        corpus.select(key), on=key, how="left_semi"
    ).select(key)
    dropped_vs_corpus = (
        cross.select(F.col("a").alias(key)).union(redelivered).distinct()
    )
    stage1 = new.join(dropped_vs_corpus, on=key, how="left_anti").select(key)
    nn = (
        pairs.join(new_keys, pairs.b == new_keys.__nk, how="left_semi")
        .filter(F.col("a") < F.col("b"))
        .join(stage1.select(F.col(key).alias("a")), on="a", how="left_semi")
        .join(stage1.select(F.col(key).alias("b")), on="b", how="left_semi")
        .select("a", "b")
    )
    comps = connected_components(nn)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(key)
    )
    return (
        new.join(dropped_vs_corpus, on=key, how="left_anti")
        .join(losers, on=key, how="left_anti")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification / small-scale truth)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    hot_k: int = 4096,
    hot_min_frac: float = 0.01,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs with PPJoin-style prefix
    filtering.

    Candidate generation: each document's shingles are ordered by a
    shared global order and for threshold t only the first
    ``n − ⌈t·n⌉ + 1`` shingles (the *prefix*) enter the inverted-index
    self-join — any pair with J ≥ t provably shares a prefix shingle
    under ANY fixed global order (the PPJoin lemma), so filtering is
    lossless while the join shrinks ~(1−t)². Candidates are then
    verified exactly with ``array_intersect`` on the full shingle
    arrays. With t = 0, the prefix is the whole array and this
    degrades gracefully to the plain all-sharing-pairs join.

    The global order is COLD-FIRST (round 4, same machinery as
    ``containment_pairs``): shingles above ``hot_min_frac`` corpus
    document frequency sort after all cold shingles, so stop-shingles
    only reach a prefix when a document is mostly boilerplate — hot
    posting lists carry at most those rare docs instead of ~n rows on
    one join key, and prefixes made of the RAREST shingles generate
    strictly fewer candidates. On unskewed corpora the hot set is
    empty and the order degrades to plain hash order at zero per-row
    cost. The shingle table is checkpointed once and feeds both prefix
    legs and both verification legs.
    """
    shc, has_hot = _shingle_hot_table(
        docs, key, text_col, shingle_n, hot_k, hot_min_frac
    )
    if has_hot:
        # cold (hash asc) then in-doc hot (hash asc) == per-doc sort
        # under the global order (is_hot, hash)
        ordered = F.concat(F.col("cold"), F.array_except("shingles", "cold"))
    else:
        ordered = F.col("shingles")
    base = shc.withColumn("ordered", ordered)
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + F.lit(1)
    ).cast("int")
    prefix = base.select(key, F.explode(F.slice("ordered", 1, prefix_len)).alias("sh"))
    cand = (
        prefix.select(F.col(key).alias("a"), "sh")
        .join(prefix.select(F.col(key).alias("b"), "sh"), on="sh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    full_a = shc.select(F.col(key).alias("a"), F.col("shingles").alias("sha"), F.col("n_sh").alias("na"))
    full_b = shc.select(F.col(key).alias("b"), F.col("shingles").alias("shb"), F.col("n_sh").alias("nb"))
    verified = cand.join(full_a, on="a").join(full_b, on="b").withColumn(
        "n_common", F.size(F.array_intersect("sha", "shb"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return verified.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard
    )


def _shingle_hot_table(
    docs: DataFrame,
    key: str,
    text_col: str,
    shingle_n: int,
    hot_k: int,
    hot_min_frac: float,
) -> DataFrame:
    """Per-doc shingle table with stop-shingle split, shared by the
    containment and Jaccard candidate generators; materialized once
    (``localCheckpoint``) because it feeds the frequency aggregate,
    the prefix side(s), the posting side, and both verification legs —
    Spark does not reuse common subexpressions across those subplans
    (measured: the checkpoint alone cut the sf0.1 containment query
    6.25 s → ~3 s before any skew work).

    Columns: key, shingles (hash-sorted), n_sh, cold (shingles minus
    the corpus stop-shingle set, order preserved), n_cold.

    The stop-shingle ("hot") set is the ≤ ``hot_k`` shingles whose
    document frequency exceeds ``hot_min_frac`` of the corpus — i.e.
    exactly the shingles whose posting list is a skew risk. On an
    unskewed corpus (sf0.1 fixture: max shingle df = 0.5 %) the set is
    EMPTY and this degrades to the plain prefix filter with zero
    per-row overhead; on boilerplate-heavy corpora it caps every
    posting list at hot_min_frac·n. The frequency table is a map-side-
    combinable word-count over the checkpointed arrays; only the top-K
    is collected (≤ hot_k 8-byte hashes — same driver-size class as
    the nation-dim collect audited in round 3). ``array_except``
    against the literal hot array builds its lookup set once per ROW
    (not per element — ``map_contains_key`` on a literal map constant-
    folds to a linear ``array_contains`` scan per element, measured
    ~4× slower).
    """
    sh = (
        with_hashed_shingles(docs.select(key, text_col), text_col, shingle_n)
        .select(
            key,
            F.array_sort("shingles_h").alias("shingles"),
            F.size("shingles_h").alias("n_sh"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs = sh.count()  # cheap: checkpointed
    threshold = max(8, int(math.ceil(hot_min_frac * n_docs)))
    hot = [
        r["s"]
        for r in sh.select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= threshold)
        .orderBy(F.desc("df"), "s")
        .limit(hot_k)
        .collect()
    ]
    if hot:
        cold = F.array_except("shingles", F.lit(hot))
    else:
        cold = F.col("shingles")
    shc = sh.withColumn("cold", cold).withColumn("n_cold", F.size("cold"))
    return shc, bool(hot)


def _containment_candidates_from(
    shc: DataFrame, key: str, min_containment: float, has_hot: bool
) -> DataFrame:
    """Lossless candidate (a, b) pairs for C(A→B) ≥ t from a
    ``_shingle_hot_table``.

    One-sided PPJoin prefix with STOP-SHINGLE exclusion. Pigeonhole:
    if C(A→B) ≥ t then < (1−t)·|A| + 1 of A's shingles are absent
    from B, so among ANY p = ⌊(1−t)·|A|⌋ + 1 of A's shingles at least
    one is present in B — and the choice of which p is free (the
    one-sided filter, unlike symmetric PPJoin, needs no shared global
    order). Choosing A's p RAREST (cold) shingles makes the shared one
    cold, so the posting side can drop hot shingles map-side too:
    no stop-shingle posting list ever enters the shuffle, killing the
    hot-key skew flagged in the round-3 verdict (a "it is a" shingle
    at 100 TB would otherwise post ~n rows onto one join key).

    Docs with fewer than p cold shingles (mostly-boilerplate text)
    can't use the cold prefix; they fall back to their plain hash-
    ordered p-prefix joined against ALL postings. That fallback-prefix
    side is broadcast when small (the normal case — such docs are
    rare by construction), so the hot posting lists it must see are
    streamed map-side, never shuffled; if the fallback is unexpectedly
    large a plain shuffle join is used instead of risking a broadcast
    OOM.
    """
    p = (
        F.col("n_sh") - F.ceil(F.lit(min_containment) * F.col("n_sh")) + F.lit(1)
    ).cast("int")
    prefix_cold = shc.filter(F.col("n_cold") >= p).select(
        F.col(key).alias("a"), F.explode(F.slice("cold", 1, p)).alias("s")
    )
    full_cold = shc.select(F.col(key).alias("b"), F.explode("cold").alias("s"))
    cand = (
        prefix_cold.join(full_cold, on="s")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    # hot empty ⇒ cold == shingles ⇒ n_cold = n_sh ≥ p always: skip the
    # fallback-count job entirely on unskewed corpora. The broadcast
    # guard must bound the EXPLODED prefix row count (Σ p over fallback
    # docs — p is unbounded in document length), not the doc count:
    # 10k boilerplate docs of 50k shingles each would broadcast ~100M
    # rows under a doc-count gate.
    if has_hot:
        fb_stats = (
            shc.filter(F.col("n_cold") < p)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(p), F.lit(0)).alias("n_rows"),
            )
            .first()
        )  # cheap: shc reads a checkpoint
        n_fallback, n_fb_rows = fb_stats["n_docs"], int(fb_stats["n_rows"])
    else:
        n_fallback, n_fb_rows = 0, 0
    if n_fallback:
        prefix_fb = shc.filter(F.col("n_cold") < p).select(
            F.col(key).alias("a"), F.explode(F.slice("shingles", 1, p)).alias("s")
        )
        if n_fb_rows <= 2_000_000:
            prefix_fb = F.broadcast(prefix_fb)
        full_all = shc.select(F.col(key).alias("b"), F.explode("shingles").alias("s"))
        cand_fb = (
            full_all.join(prefix_fb, on="s")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
        )
        cand = cand.unionByName(cand_fb)
    return cand.dropDuplicates(["a", "b"])


def containment_candidates(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.8,
    hot_k: int = 4096,
    hot_min_frac: float = 0.01,
) -> DataFrame:
    """Candidate (a, b) pairs prior to exact verification — exposed so
    plan-contract tests can assert the candidate volume stays bounded
    (≤ c·n, no hot-key blowup) on skewed fixtures."""
    shc, has_hot = _shingle_hot_table(
        docs, key, text_col, shingle_n, hot_k, hot_min_frac
    )
    return _containment_candidates_from(shc, key, min_containment, has_hot)


def containment_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.8,
    hot_k: int = 4096,
    hot_min_frac: float = 0.01,
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over n-gram
    shingle sets — the excerpt-duplicate detector. A short document
    quoted inside a long one has high containment but LOW Jaccard
    (the union is dominated by the long doc), so symmetric near-dedup
    misses it; containment is the Broder resemblance/containment split
    applied to training-data excerpt scrubbing.

    Emits (a, b, containment) where ``a``'s shingles are covered by
    ``b`` at ≥ ``min_containment`` (both directions appear when both
    qualify). Candidate generation (see ``containment_candidates``) is
    a one-sided PPJoin prefix filter with STOP-SHINGLE exclusion, so no
    hot posting list ever enters the shuffle; verification is exact
    ``array_intersect`` per candidate. Measured at sf0.1: 12 s (full
    posting self-join + count groupBy) → ~4 s prefix-filtered →
    ~2.5 s with the checkpointed shingle table + hot-shingle pruning,
    identical output at every step.
    """
    shc, has_hot = _shingle_hot_table(
        docs, key, text_col, shingle_n, hot_k, hot_min_frac
    )
    cand = _containment_candidates_from(shc, key, min_containment, has_hot)
    fa = shc.select(F.col(key).alias("a"), F.col("shingles").alias("sha"), F.col("n_sh").alias("na"))
    fb = shc.select(F.col(key).alias("b"), F.col("shingles").alias("shb"))
    verified = cand.join(fa, on="a").join(fb, on="b").withColumn(
        "n_common", F.size(F.array_intersect("sha", "shb"))
    )
    cont = F.col("n_common").cast("double") / F.col("na").cast("double")
    return verified.select("a", "b", cont.alias("containment")).filter(
        F.col("containment") >= min_containment
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_from_hashes():
    """Vectorized bit-majority: token hashes (int64) → 64-bit SimHash.

    The majority vote per bit is a dense 64-wide integer computation —
    exactly the shape where an interpreted JVM higher-order fold is
    ~10× slower than Arrow-batched numpy (measured: 20 s → 2 s on the
    sf0.1 corpus). Token hashing stays JVM-side (deterministic
    xxhash64); only the bit arithmetic crosses to Python, 8 bytes per
    token.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash(hashes):  # pd.Series[list[int]] -> pd.Series[int64]
        n = len(hashes)
        if n == 0:
            return pd.Series([], dtype=np.int64)
        arrs = hashes.to_numpy()
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        nonempty = lens > 0
        out = np.zeros(n, dtype=np.uint64)  # empty token list → fingerprint 0
        if nonempty.any():
            flat = (
                np.concatenate(list(arrs[nonempty]))
                .astype(np.int64, copy=False)
                .view(np.uint64)
            )
            lens_ne = lens[nonempty]
            # contiguous per-row segments of the flattened hash stream
            offsets = np.zeros(len(lens_ne), dtype=np.int64)
            np.cumsum(lens_ne[:-1], out=offsets[1:])
            ones = np.empty((len(lens_ne), 64), dtype=np.int64)
            for b in range(64):  # 64 batch-wide passes — no per-row work
                bitcol = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                ones[:, b] = np.add.reduceat(bitcol, offsets)
            maj = (2 * ones > lens_ne[:, None]).astype(np.uint64)  # Σ±1 > 0
            shifts = np.arange(64, dtype=np.uint64)
            out[nonempty] = (maj << shifts).sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return simhash


def with_simhash(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    shingle_n: int = 3,
) -> DataFrame:
    """64-bit SimHash over word n-gram SHINGLE features (Charikar
    simhash with shingled features, the web-dedup configuration).

    Per bit b: sum over features of ±1 according to bit b of the
    feature hash; sign of the sum is bit b of the fingerprint.
    Features are hashed once on the JVM; the per-bit majority runs in
    a vectorized Pandas UDF (see ``_simhash_from_hashes``).

    Shingles, not unigram tokens, are the feature set because word
    order carries the signal: corpus documents share most of their
    VOCABULARY (unigram fingerprints of unrelated docs land within
    hamming ~8 of each other — measured 31 % of all pairs at sf0.1),
    while 3-gram shingles are mostly unique per document pair, so
    unrelated fingerprints decorrelate and word-substitution
    near-dups stay close. Measured on the fixture: blocked recall vs
    the exact Jaccard≥0.5 truth rose 0.66 → 0.84 while emitted
    candidates fell 777 k → 214 at sf0.1 (precision 0.002 → 1.0).
    """
    hashed = with_hashed_shingles(docs, text_col, shingle_n, "__fhashes")
    return hashed.withColumn(out_col, _simhash_from_hashes()(F.col("__fhashes"))).drop(
        "__fhashes"
    )


def simhash_near_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into
    ``bands`` 16-bit chunks; by pigeonhole, any pair within hamming
    distance < bands shares a chunk. Verify with ``bit_count(xor)``."""
    width = 64 // bands
    fp = with_simhash(docs.select(key, text_col), text_col).select(key, "simhash")
    chunks = fp.select(
        key,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("chunk_idx"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("c"),
    ).select(key, "simhash", "c.chunk_idx", "c.chunk")
    a = chunks.select(F.col(key).alias("a"), F.col("simhash").alias("fa"), "chunk_idx", "chunk")
    b = chunks.select(F.col(key).alias("b"), F.col("simhash").alias("fb"), "chunk_idx", "chunk")
    return (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_pairs_ml(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 3,
    max_distance: float = 0.4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pair detection via ``pyspark.ml.feature.
    MinHashLSH`` — the built-in LSH path (HashingTF shingle vectors →
    ``approxSimilarityJoin`` on Jaccard distance), kept alongside the
    hand-rolled banding implementation as an interchangeable engine
    surface. Returns distinct ``(a, b)`` with a < b.

    3 hash tables is the measured knee: the detected-pair set is
    identical to 4 tables on both the sf0.01 and sf0.1 fixtures at
    ~35 % less wall (candidate volume scales with table count); 2
    tables starts missing pairs at sf0.1."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = with_shingles(docs.select(key, text_col), text_col, shingle_n)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # materialize the shingle vectors once: the self-similarity join
    # scans feats on BOTH sides, and without the checkpoint each side
    # re-tokenizes + re-shingles the corpus (measured 8.3 s -> 5.5 s
    # at sf0.1)
    feats = (
        tf.transform(sh)
        .filter(F.size("shingles") > 0)
        .select(key, "features")
        .localCheckpoint(eager=True)
    )
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    )
    model = lsh.fit(feats)
    return (
        model.approxSimilarityJoin(feats, feats, max_distance, distCol="jaccard_dist")
        .select(
            F.col(f"datasetA.{key}").alias("a"),
            F.col(f"datasetB.{key}").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def minhash_dedup_ml(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Near-dup removal on the ml-LSH pair set with the same
    cluster-correct survivor rule as ``minhash_dedup``: connected
    components over detected pairs, min-id per component survives."""
    pairs = minhash_pairs_ml(docs, key, text_col, **kwargs)
    comps = connected_components(pairs)
    losers = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(key))
    )
    return docs.join(losers, on=key, how="left_anti")


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def _srp_bucket_udf(n_planes: int, seed: int = 42):
    """Sign-random-projection bucket id, Arrow-vectorized: one numpy
    matmul of the whole batch against a seeded Gaussian plane matrix —
    the per-plane interpreted fold this replaces was the measured
    bottleneck of the embedding near-dup pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def bucket(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        planes = np.random.RandomState(seed).standard_normal((mat.shape[1], n_planes))
        signs = (mat @ planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return bucket


def embedding_near_pairs(
    embeddings: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-duplicate candidates via sign-random-
    projection LSH: bucket = sign pattern of dot(v, p_i) for n seeded
    Gaussian hyperplanes (vectorized batch matmul); cosine is verified
    exactly (JVM sequential fold) within buckets only."""
    from steam_data_pipeline_spark.llm.simsearch import cosine_expr

    # NULL-vector contract (see simsearch.drop_null_vectors): a NULL
    # embedding has no perceptual identity — drop before the SRP UDF
    # (which would crash on None) and mirror in the oracle
    tagged = (
        embeddings.filter(
            # NULL or EMPTY: no perceptual identity, and np.stack in
            # the SRP UDF crashes on ragged shapes (round-11 sweeps)
            F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
        )
        .select(key, vec_col)
        .withColumn("bucket", _srp_bucket_udf(n_planes)(F.col(vec_col)))
    )
    a = tagged.select(F.col(key).alias("a"), F.col(vec_col).alias("va"), "bucket")
    b = tagged.select(F.col(key).alias("b"), F.col(vec_col).alias("vb"), "bucket")
    return (
        a.join(b, on="bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    clustering step between pair detection and survivor selection
    (near-dups are transitive in practice: A≈B and B≈C usually means
    one cluster, and keeping min-id per *pair* can drop both of A,C).

    Iterative min-label propagation with pointer jumping: every node
    starts labeled with itself; each round a node takes the min label
    among itself and its neighbors, then labels are *pointer-jumped*
    (``label ← label(label)``) so chain depth halves per round —
    convergence in O(log diameter) rounds, and ``max_iter=20`` covers
    any component a near-dup graph can realistically hold (diameter
    ~2^20). Each round is two joins + one aggregation; lineage is cut
    with ``localCheckpoint`` so plans stay bounded, and the loop exits
    early when a round changes no label (one driver-side count per
    round — the standard coordination cost of an iterative fixpoint,
    not a per-row collect).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds — silently returning split components would
    diverge from the transitive-closure semantics callers (and the
    ``llm_dedup_cluster`` oracle) rely on.
    """
    # materialize the edge list ONCE, before the symmetrizing union:
    # the union's two legs are separate subplans (Spark does not reuse
    # common subexpressions across union legs), so an un-checkpointed
    # expensive pair-detection pipeline would execute twice here and
    # then once more per round (measured 19 s vs ~5 s for the MinHash
    # near-dup composition at sf0.1)
    edges = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).localCheckpoint(
        eager=True
    )
    sym = edges.union(edges.select(F.col("dst"), F.col("src")))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # a self-loop cannot change any label (the own-label leg already
    # keeps each node), so drop them from the propagation edge set —
    # AFTER nodes is derived, so a self-loop-only node still appears in
    # the output as its own singleton component. NULL-safe: an edge
    # with one NULL endpoint is not a self-loop and keeps its current
    # (no-op on the NULL side) behavior. This also makes the round-1
    # convergence-skip below exact: any surviving edge changes a label.
    sym = sym.filter(~F.col("src").eqNullSafe(F.col("dst")))
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    label_type = labels.schema["label"].dataType  # key-generic NULL leg
    changed = 0
    for it in range(max_iter):
        # the union's own-label leg is tagged so the round's aggregate
        # can carry each node's PREVIOUS label alongside the min — the
        # convergence check then reads the round's already-materialized
        # checkpoint instead of paying a separate new-vs-old join+count
        # job per round (a node appears exactly once in the own leg, so
        # max(own-tagged label) IS its previous label)
        neighbor_labels = (
            sym.join(labels, sym.dst == labels.node)
            .select(
                F.col("src").alias("node"),
                "label",
                F.lit(None).cast(label_type).alias("__own"),
            )
            .union(labels.select("node", "label", F.col("label").alias("__own")))
        )
        propagated = neighbor_labels.groupBy("node").agg(
            F.min("label").alias("label"), F.max("__own").alias("__old")
        )
        # pointer jump: follow each label to its own current label
        # (every label value is itself a node, so the join is total)
        lmap = propagated.select(
            F.col("node").alias("__l_node"), F.col("label").alias("__l_label")
        )
        new_labels = (
            propagated.join(lmap, propagated.label == lmap.__l_node)
            .select("node", F.col("__l_label").alias("label"), "__old")
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("node", "label")
        if it == 0 and max_iter > 1:
            # round 1 always changes a label when any propagation edge
            # exists (self-loops are filtered above, so the larger
            # endpoint of every surviving edge takes a smaller label),
            # and on an edge-free graph every round is a no-op over
            # empty neighbor legs — the convergence count here is
            # provably wasted, so the first count that can observe a
            # fixpoint is round 2's (one driver action saved per call)
            changed = -1
            continue
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing)"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (suffix-array dedup, Spark-shaped)
# ---------------------------------------------------------------------------


def _window_hash_table(
    docs: DataFrame,
    text_col: str,
    key: str,
    k: int,
    materialize: bool = True,
) -> DataFrame:
    """Positional k-token window hashes: (key, pos, __h) — the shared
    primitive of substring-dedup detection and removal.

    Short docs are handled IN the generator expression (empty array →
    posexplode emits nothing) rather than by a filter: a size>=k
    filter gets pushed below the tokenize projection and re-splits the
    text per row (the same rework InferFiltersFromGenerate would
    inject — see session.py). The result feeds multiple consumers, so
    it is checkpointed by default; ``materialize=False`` keeps the
    full lineage visible for plan audits/tests."""
    toks = docs.select(
        key, F.split(F.trim(F.col(text_col)), r"\s+").alias("__w")
    )
    windows = F.when(
        F.size("__w") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__w", i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = toks.select(key, F.posexplode(windows).alias("pos", "__h"))
    return grams.localCheckpoint(eager=True) if materialize else grams


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    k: int = 8,
    materialize_grams: bool = True,
) -> DataFrame:
    """Maximal token spans whose every length-``k`` window occurs at
    least twice in the corpus — the exact substring-dedup primitive of
    Lee et al., *Deduplicating Training Data Makes Language Models
    Better* (arXiv:2107.06499), which uses a suffix array to find all
    repeated substrings of length >= k.

    Spark-first shape (the suffix-array SORT becomes a hash GROUP BY —
    equality of fixed-length windows doesn't need lexicographic
    neighborhood):

    1. tokenize -> positional k-token windows, each reduced to an
       ``xxhash64`` LONG map-side: the only shuffle payload is
       (8-byte hash, doc, pos), never text — at 100 TB the shuffle is
       ~24 B/window regardless of document size;
    2. ``groupBy(hash).count() >= 2`` finds windows repeated anywhere
       in the corpus (including within one document), with map-side
       partial aggregation;
    3. a semi-join marks each document's repeated windows (AQE picks
       broadcast when the repeated-hash set is small — the common case
       on a mostly-unique corpus);
    4. a per-document window function merges overlapping-or-adjacent
       repeated windows into maximal spans (one narrow shuffle keyed
       by ``key``).

    All four steps are JVM built-ins inside whole-stage codegen; no
    Python executes per row. Hash equality stands in for string
    equality (collision odds ~1e-12 at fixture scale); the DuckDB
    oracle recomputes with real window strings, so a collision would
    surface as a difftest mismatch rather than hide.

    Returns (key, span_start, span_end, n_windows): token-index spans,
    end inclusive, ``n_windows`` = number of repeated k-windows merged
    into the span.
    """
    grams = _window_hash_table(docs, text_col, key, k, materialize=materialize_grams)
    dup = grams.groupBy("__h").count().filter(F.col("count") >= 2).select("__h")
    hits = grams.join(dup, on="__h", how="left_semi").select(
        key, F.col("pos").cast("long").alias("pos")
    )
    w = W.partitionBy(key).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "__isl",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
        ).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return islands.groupBy(key, "__isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select(key, "span_start", "span_end", "n_windows")


# ---------------------------------------------------------------------------
# cross-corpus overlap: exact shingle Jaccard + mergeable MinHash sketch
# ---------------------------------------------------------------------------


def corpus_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 128,
    tol: float = 0.25,
) -> DataFrame:
    """Pairwise overlap between document groups (sources/dumps/splits):
    EXACT Jaccard over each group's distinct shingle set, plus a
    mergeable per-group MinHash sketch whose estimate is asserted
    against the exact value in-query (``est_ok``).

    Why both: at 100 TB the exact leg is one shuffle keyed by 8-byte
    shingle hash (groups-per-shingle collect_set is bounded by the
    number of groups, not corpus size) — feasible but heavy; the sketch
    leg is the production shape: ``num_hashes`` longs per GROUP,
    computed with map-side partial ``min`` aggregation and mergeable
    across partitions/days/dumps by component-wise min. Keeping the
    exact leg in-query makes the sketch's error bound a verified
    invariant instead of a trusted one.

    The (group, shingle) table feeds three consumers (sizes, the
    per-shingle group sets, the signatures); it is localCheckpoint'ed
    so shingling runs once — at production scale this is a persisted
    intermediate, the same pattern the banded-signature index uses.
    """
    sh = with_hashed_shingles(
        docs.select(group_col, text_col), text_col, shingle_n, distinct=False
    )
    flat = (
        sh.select(group_col, F.explode("shingles_h").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # exact leg: per-shingle sorted group set -> HOF pair expansion
    # (|groups|^2 combinations per shingle, never a corpus self-join)
    per = flat.groupBy("h").agg(F.sort_array(F.collect_set(group_col)).alias("ss"))
    comb = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    common = (
        per.select(F.explode(comb).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )

    # sketch leg + sizes in ONE group_col-keyed aggregation pass over
    # the checkpoint (they were two identical-keyed groupBys reading
    # flat twice; count and the component-wise mins partial-aggregate
    # side by side, values unchanged): component-wise min signature per
    # group (mergeable), plus the group's distinct-shingle count
    mins = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"__s{i}")
        for i in range(num_hashes)
    ]
    grp = (
        flat.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_sh"), *mins)
        .select(
            group_col,
            "n_sh",
            F.array(*[f"__s{i}" for i in range(num_hashes)]).alias("sig"),
        )
        .localCheckpoint(eager=True)  # |groups| rows; feeds sizes + est
    )
    sizes = grp.select(group_col, "n_sh")
    sig = grp.select(group_col, "sig")
    est = (
        sig.select(F.col(group_col).alias("source_a"), F.col("sig").alias("__sa"))
        .join(
            sig.select(F.col(group_col).alias("source_b"), F.col("sig").alias("__sb")),
            F.col("source_a") < F.col("source_b"),
        )
        .select(
            "source_a",
            "source_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda z: z
                    )
                )
                / F.lit(num_hashes)
            ).alias("__est"),
        )
    )

    matrix = (
        sizes.select(F.col(group_col).alias("source_a"), F.col("n_sh").alias("n_a"))
        .join(
            sizes.select(F.col(group_col).alias("source_b"), F.col("n_sh").alias("n_b")),
            F.col("source_a") < F.col("source_b"),
        )
        .join(common, on=["source_a", "source_b"], how="left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return matrix.join(est, on=["source_a", "source_b"]).select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_common",
        "jaccard",
        (F.abs(F.col("__est") - F.col("jaccard")) <= tol).alias("est_ok"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Substring dedup's REMOVAL step (Lee et al. arXiv:2107.06499 cut
    every duplicated substring occurrence, keeping one): for each
    length-``k`` window repeated anywhere in the corpus, the occurrence
    with the lexicographically smallest (doc, pos) is the KEEPER; every
    other occurrence's token range is cut, and the surviving tokens are
    reassembled in order.

    Plan shape: the positional window-hash table from
    ``duplicated_spans`` (one checkpointed scan), a per-hash ``min_by``
    keeper election (map-side partial agg over 16-byte structs), an
    anti-join of occurrences against keepers, covered-position
    expansion (explode of a k-element sequence — bounded by k, not by
    text), and a per-doc ordered reassembly via sort_array over
    (pos, token) structs. All built-ins; the only per-token shuffle is
    the final per-doc groupBy.

    Returns (key, n_tokens, n_removed, cleaned) — ``cleaned`` is the
    surviving text; docs with no duplicated windows pass through
    unchanged. EVERY input doc gets exactly one output row: a doc
    whose every token is covered by removed windows (a fully-
    duplicated non-keeper) reports (n_tokens, n_tokens, '') instead
    of silently vanishing — downstream corpus accounting joins on
    row-per-doc.
    """
    grams = _window_hash_table(docs, text_col, key, k)
    # the reassembly leg needs the token arrays themselves, not just
    # the window hashes
    toks = docs.select(
        key, F.split(F.trim(F.col(text_col)), r"\s+").alias("__w")
    )

    occ = grams.select(key, F.col("pos").cast("long").alias("pos"), "__h")
    dup = (
        occ.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(key, "pos")).alias("__keep"),
        )
        .filter(F.col("__n") >= 2)
        .select("__h", F.col(f"__keep.{key}").alias("__kd"), F.col("__keep.pos").alias("__kp"))
    )
    removals = occ.join(dup, on="__h").filter(
        ~((F.col(key) == F.col("__kd")) & (F.col("pos") == F.col("__kp")))
    )
    covered = removals.select(
        key, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tpos")
    ).distinct()

    tokens = toks.select(
        key,
        F.size("__w").alias("__n_toks"),
        F.posexplode("__w").alias("tpos", "tok"),
    ).withColumn("tpos", F.col("tpos").cast("long"))
    kept = tokens.join(covered, on=[key, "tpos"], how="left_anti")
    survived = kept.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("cleaned"),
    )
    # doc spine re-attach: fully-covered docs have no kept tokens and
    # would otherwise fall out of the groupBy entirely
    spine = toks.select(key, F.size("__w").cast("long").alias("n_tokens"))
    return spine.join(survived, on=key, how="left").select(
        key,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup join (Ed-Join)
# ---------------------------------------------------------------------------


def editdist_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    max_d: int = 2,
    q: int = 3,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_d``, Ed-Join style
    (Xiao, Wang & Lin, PVLDB 1(1) 2008 — public algorithm).

    Candidate generation is the q-gram count-filter prefix, never an
    all-pairs join: one edit destroys at most ``q`` q-gram
    occurrences, so at most q·d gram VALUES can vanish from a
    string's DISTINCT-gram set — |S_a \\ S_b| ≤ q·d for any pair
    within distance d. Under any fixed global total order on grams
    the pair must then share a gram among their first ``q·d + 1``
    set elements (prefix-filter lemma with per-pair overlap threshold
    α = max(|S_a|,|S_b|) − q·d). Prefixes are built
    RAREST-GRAM-FIRST (global document frequency) so the
    inverted-index self-join posts the shortest lists — the same
    cold-first discipline as ``jaccard_pairs``. Candidates then pass a
    length filter (|len_a − len_b| ≤ d) and exact verification with
    Spark's built-in ``levenshtein(_, _, threshold)`` (JVM,
    early-exit banded DP).

    The gram-frequency table is BROADCAST: its cardinality is bounded
    by the q-gram alphabet (|charset|^q — ~1M for 3-grams over text),
    independent of corpus size, so the df join never shuffles the
    corpus-sized gram table.

    The lemma needs α ≥ 1, i.e. max(len) ≥ q·(d+1); pairs where BOTH
    strings are shorter go through a separate short-string leg —
    length-banded all-pairs (each string probes only lengths
    [len, len+d]) — which is exact and bounded by the short-bucket
    sizes (at 100 TB a pathological pile-up of near-empty strings
    would need salting; documents shorter than q·(d+1) chars are
    degenerate for a training corpus). The two legs PARTITION the
    pair space (gram leg keeps only max(len) ≥ q·(d+1)), so the union
    is duplicate-free. Strings with no q-gram at all (len < q) can
    only pair with strings ≤ len+d < q·(d+1): always the short leg.

    Returns (a, b, dist) with a < b, dist ≤ max_d, dist exact.
    """
    n_pref = q * max_d + 1
    min_long = q * (max_d + 1)
    base = (
        docs.select(F.col(key).alias("id"), F.col(text_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .withColumn("len", F.length("s"))
        # deliberately NOT cached despite 16 re-derivations of the
        # document scan in one plan: an A/B at 1x and 10x measured
        # caching slower both times (8.10 vs 6.89 s at 10x) — the
        # downstream gram explode + prefix join dominates, and the
        # cache barrier costs more than the pruned re-scans save
    )

    # -- gram leg: all pairs with max(len_a, len_b) >= min_long -------------
    grammed = base.filter(F.col("len") >= q)
    grams = grammed.select(
        "id",
        "len",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(s) - {q} + 1),"
                    f" i -> substring(s, i, {q}))"
                )
            )
        ).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # broadcast only while the gram table is genuinely alphabet-bound:
    # |charset|^q caps distinct q-grams for small q, but at the q
    # values suggest_editdist_q returns for long strings (up to 9) the
    # distinct-gram count grows with the corpus text — force-
    # broadcasting there is a driver/executor OOM at exactly the scale
    # this module documents. Above the cap, let AQE pick the strategy
    # from the measured size.
    if q <= 4:
        freq = F.broadcast(freq)
    ranked = grams.join(freq, on="g").withColumn(
        "rk", F.row_number().over(W.partitionBy("id").orderBy("df", "g"))
    )
    pref = ranked.filter(F.col("rk") <= n_pref).select("id", "len", "g")
    cand = (
        pref.select(F.col("id").alias("a"), F.col("len").alias("la"), "g")
        .join(
            pref.select(F.col("id").alias("b"), F.col("len").alias("lb"), "g"),
            on="g",
        )
        .filter(
            (F.col("a") < F.col("b"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_d)
            & (F.greatest("la", "lb") >= min_long)
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sa = base.select(F.col("id").alias("a"), F.col("s").alias("s_a"))
    sb = base.select(F.col("id").alias("b"), F.col("s").alias("s_b"))
    long_pairs = (
        cand.join(sa, on="a")
        .join(sb, on="b")
        .withColumn("dist", F.levenshtein("s_a", "s_b", max_d))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_d))
        .select("a", "b", "dist")
    )

    # -- short leg: both strings shorter than min_long ----------------------
    short = base.filter(F.col("len") < min_long)
    probe = short.select(
        F.col("id").alias("b"),
        F.col("s").alias("s_b"),
        F.explode(
            F.sequence(F.col("len"), F.col("len") + F.lit(max_d))
        ).alias("lk"),
    )
    short_pairs = (
        short.select(F.col("id").alias("a"), F.col("s").alias("s_a"), F.col("len").alias("lk"))
        .join(probe, on="lk")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            F.levenshtein("s_a", "s_b", max_d).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_d))
        .dropDuplicates(["a", "b"])
    )
    return long_pairs.unionByName(short_pairs)


def suggest_editdist_q(
    docs: DataFrame,
    text_col: str = "text",
    max_d: int = 2,
    qs: tuple[int, ...] = (3, 5, 7, 9),
    mean_df_cap: float = 32.0,
) -> int:
    """Size the Ed-Join q-gram length for a corpus — the analog of
    ``simsearch.suggest_ivf_params``.

    Ed-Join's candidate volume is Σ_g df(g)² over PREFIX grams, so the
    knob that keeps it linear in corpus size is gram selectivity: the
    q-gram space grows ~|charset|^q while corpus gram occurrences grow
    only linearly in q, so raising q shortens posting lists
    exponentially. (Measured on the 10× rehearsal corpus: q=5 40.3 s /
    exponent 1.31 superlinear, q=7 8.6 s, q=9 5.4 s / exponent ≈0.4 —
    identical output all three.) This helper picks the SMALLEST q in
    ``qs`` whose mean posting length (distinct doc-gram rows ÷
    distinct gram values) is ≤ ``mean_df_cap``; the prefix uses the
    RAREST grams, so the mean is a conservative upper bound on prefix
    posting lengths. q is capped so the lemma floor q·(d+1) stays
    within the corpus's minimum string length (longer q would route
    everything through the quadratic short-string leg).

    One cheap two-scalar aggregate per candidate q — an index-sizing
    job run once per corpus, not per query.
    """
    base = docs.select(F.length(F.col(text_col)).alias("len"), F.col(text_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    min_len = base.agg(F.min("len")).first()[0] or 0
    best = None
    for q in qs:
        if q * (max_d + 1) > max(min_len, qs[0] * (max_d + 1)):
            break
        g = base.filter(F.col("len") >= q).select(
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(s) - {q} + 1),"
                        f" i -> substring(s, i, {q}))"
                    )
                )
            ).alias("g")
        )
        n_rows, n_grams = g.agg(
            F.count(F.lit(1)), F.count_distinct("g")
        ).first()
        best = q
        if n_grams and n_rows / n_grams <= mean_df_cap:
            return q
    return best if best is not None else qs[0]
