"""Statistical language-model scoring for corpus curation.

Two operators a production training-data pipeline runs between dedup
and mixing (no reference analog — reference is a scrape/ETL engine;
these extend the LLM-curation north star):

* :func:`lm_score` — CCNet-style fluency filtering (Wenzek et al.
  2020): train a bigram language model ON the corpus itself and score
  every document by its average bigram log-probability.  Low scores
  mark gibberish / boilerplate / wrong-tokenization documents; the
  usual gate keeps the middle of the distribution.  (CCNet uses a
  5-gram KenLM; the bigram order keeps the count tables Zipf-bounded
  while exercising the identical distributed shape: n-gram counting,
  smoothed probabilities, per-document log-sum.)

* :func:`dsir_weights` — DSIR importance weights (Xie et al. 2023,
  "Data Selection for Language Models via Importance Resampling"):
  score every document by how much more likely its hashed-unigram bag
  is under a TARGET domain's unigram LM than under the background
  (whole-corpus) LM — ``log w(x) = Σ_features log(p_t(f)/p_b(f))``.
  Documents are then resampled ∝ exp(weight) to tilt the mix toward
  the target domain; we emit the log-weight (the resampling itself is
  the ``llm_dsir_resample`` query's job, in
  :mod:`steam_data_pipeline_spark.plans.llm_text`).

Determinism discipline (the repo-wide oracle contract):

* every probability is a ratio of exact integers (counts, vocabulary
  sizes, the add-1/2 smoothing constant), so the double division and
  the ``ln`` are each ONE float operation from identical operands on
  any engine;
* each ``ln`` is rounded to 9 decimals and cast to ``DECIMAL`` BEFORE
  any summation, so the per-document sums are exact decimal arithmetic
  — associative, partitioning-invariant, bit-equal to the DuckDB
  oracle's — and only the final per-document average performs a float
  division (rounded to 6).
* DSIR's feature hash is a Horner-mod roll over codepoints
  (``acc*31 + cp (mod 1000003)``) — pure integer SQL that Spark
  (``aggregate``) and DuckDB (``list_reduce``) evaluate identically,
  unlike the engines' built-in ``hash()`` functions which differ.

Scale shape (100 TB): everything is explode → map-side-combined
groupBy on Zipf-bounded keys (bigram types / hash buckets); the LM
tables re-join per-document counts by key with the model side
pre-aggregated to one row per type, and the model totals (``V``,
``N``) are 1-row broadcasts.  No per-row Python, no window over the
corpus, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Horner-roll modulus (prime) — both engines fold codepoints with
#: exact BIGINT arithmetic, so the bucket id is portable by value.
_HASH_MOD = 1_000_003


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w: array<string>) — lowercased whitespace tokens,
    empties dropped; the shared front of both LM operators."""
    return docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(text_col)), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )


def _doc_bigrams(toks: DataFrame) -> DataFrame:
    """Per-document bigram occurrences (doc_id, a, b)."""
    return (
        toks.filter(F.size("w") >= 2)  # ANSI: w[i] out of range throws
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i-1] AS a, w[i] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
    )


def lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document average bigram log-probability under an add-1/2
    smoothed bigram LM trained on the corpus itself.

    ``p(b|a) = (c(a,b) + 1/2) / (c(a) + V/2)`` with ``V`` = corpus
    unigram vocabulary size; a document's score is the mean of
    ``ln p(b|a)`` over its adjacent-token pairs.  Returns
    ``(doc_id, n_bigrams, avg_logprob)`` for every document with ≥ 2
    tokens; ``avg_logprob`` is rounded to 6 decimals (one float
    division from an exact decimal sum).

    Plan: the per-document bigram MULTIPLICITY table (already
    collapsed, ~0.9x the raw occurrence stream) is materialized ONCE
    with an eager localCheckpoint and feeds BOTH the model side
    (bigram-type counts derive from it by summing multiplicities,
    context counts from those) and the scoring join — without the
    checkpoint each branch re-runs the tokenize + bigram explode over
    the whole corpus (measured 6.5 s -> 2.9 s at sf0.1, bit-identical
    output). The model side is one row per bigram type before the
    re-join, so the join is Zipf-keyed (types, not occurrences).
    ``V`` rides a 1-row broadcast. All shuffles map-side combined; at
    100 TB the materialized table is the standard tokenize-once
    artifact a multi-read curation pass stores anyway.
    """
    # tokenize ONCE: the token table is materialized eagerly and feeds
    # both the bigram side and the vocabulary count — without it the
    # vocab leg re-ran the full corpus scan + tokenize (split/lower/
    # trim per document) as a second pass just to count distinct words.
    # At 100 TB this is the tokenize-once persisted artifact the module
    # docstring names; dm stays checkpointed below because TWO
    # consumers (model counts + the scoring join) read the collapsed
    # multiplicities.
    toks = tokenize(docs, text_col).localCheckpoint(eager=True)
    dm = (
        _doc_bigrams(toks)
        .groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .localCheckpoint(eager=True)
    )
    # model: bigram-type counts, context (first-word) counts, vocab size
    bc = dm.groupBy("a", "b").agg(F.sum("m").cast("long").alias("c_ab"))
    ctx = bc.groupBy("a").agg(F.sum("c_ab").cast("long").alias("c_a"))
    vocab = (
        toks.select(F.explode("w").alias("word"))
        .agg(F.count_distinct("word").cast("long").alias("v"))
    )
    # ln p for each bigram TYPE — rounded to 9 dp, exact decimal after
    lp = (
        bc.join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") + F.lit(0.5))
                    / (
                        F.col("c_a").cast("double")
                        + F.lit(0.5) * F.col("v").cast("double")
                    )
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("lp"),
        )
    )
    # document-side multiplicities (dm, checkpointed above) joined to
    # type log-probs
    return (
        dm.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.sum(
                (F.col("lp") * F.col("m").cast("decimal(10,0)")).cast(
                    "decimal(38,9)"
                )
            ).alias("__sum_lp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__sum_lp").cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_logprob"),
        )
    )


def portable_word_bucket(word: str | Column, n_buckets: int) -> Column:
    """Hash a word to ``[0, n_buckets)`` with the Horner-mod roll —
    identical by value in Spark and DuckDB (see module docstring)."""
    w = F.col(word) if isinstance(word, str) else word
    folded = F.aggregate(
        F.filter(F.split(w, ""), lambda c: c != ""),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(_HASH_MOD),
    )
    return (folded % F.lit(n_buckets)).alias("bucket")


def dsir_oracle_bucket_sql(word_expr: str, n_buckets: int) -> str:
    """The DuckDB twin of :func:`portable_word_bucket` (kept beside it
    so the two rolls can only drift together)."""
    return (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform(string_split({word_expr}, ''), "
        f"c -> CAST(unicode(c) AS BIGINT))), "
        f"(acc, cp) -> (acc * 31 + cp) % {_HASH_MOD}) % {n_buckets}"
    )


def dsir_weights(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance log-weights: per document,
    ``Σ_tokens ln( p_target(bucket) / p_background(bucket) )`` over
    hashed-unigram buckets, add-1/2 smoothed within each LM's own
    probability space (``p(f) = (c(f) + 1/2) / (N + B/2)``, ``B`` =
    ``n_buckets``).  ``target`` is a boolean Column selecting the
    target-domain documents (e.g. ``F.col("lang") == "en"``); the
    background LM is the WHOLE corpus (target included — the raw pool
    DSIR resamples from).  Positive weight ⇒ the document looks more
    target-domain than the pool average; resample ∝ exp(weight).

    Returns ``(doc_id, n_tokens, dsir_logweight)`` for documents with
    ≥ 1 token.  Scale: both LMs are B-row tables built in one
    map-side-combined pass each and BROADCAST into the per-document
    join — at any corpus size the model side is ``n_buckets`` rows.
    """
    toks = tokenize(docs, text_col).join(
        docs.select("doc_id", target.alias("__t")), "doc_id"
    )
    words = toks.select(
        "doc_id",
        "__t",
        F.explode("w").alias("word"),
    ).select(
        "doc_id", "__t", portable_word_bucket("word", n_buckets).alias("bucket")
    )
    # background LM over everything, target LM over the target slice —
    # one pass, two conditional counts
    lm = words.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_b"),
        F.count(F.when(F.col("__t"), F.lit(1))).cast("long").alias("c_t"),
    )
    tot = lm.agg(
        F.sum("c_b").cast("long").alias("n_b"),
        F.sum("c_t").cast("long").alias("n_t"),
    )
    ratio = (
        lm.crossJoin(F.broadcast(tot)).select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.col("c_t").cast("double") + F.lit(0.5))
                        / (
                            F.col("n_t").cast("double")
                            + F.lit(0.5) * F.lit(float(n_buckets))
                        )
                    )
                    / (
                        (F.col("c_b").cast("double") + F.lit(0.5))
                        / (
                            F.col("n_b").cast("double")
                            + F.lit(0.5) * F.lit(float(n_buckets))
                        )
                    )
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("lr"),
        )
    )
    dm = words.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    return (
        dm.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_tokens"),
            F.sum(
                (F.col("lr") * F.col("m").cast("decimal(10,0)")).cast(
                    "decimal(38,9)"
                )
            ).alias("__sum_lr"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("__sum_lr").cast("double"), 6).alias(
                "dsir_logweight"
            ),
        )
    )
