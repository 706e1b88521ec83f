"""Text analysis operators (SURVEY.md §2.10 ``llm_text_stats`` family).

Everything is built-in-expression only (split/regexp/aggregate) — the
hot path for corpus profiling must stay inside codegen; a Python UDF
here would dominate a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# A tiny embedded stopword profile per language for the heuristic
# language-ID scorer. Real deployments swap in fastText/CLD3 behind the
# same column contract; the heuristic keeps the operator testable here.
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "y"],
}


def tokens_expr(text: str | Column) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(t), r"\s+")


def token_count(text: str | Column) -> Column:
    """Whitespace token count (the reference-free baseline tokenizer)."""
    return F.size(tokens_expr(text))


def bpe_ish_token_count(text: str | Column) -> Column:
    """BPE-ish token estimate: whitespace tokens + every punctuation
    character counted as its own piece (GPT-2 pre-tokenization splits
    punctuation off words). An upper-bound proxy for real BPE merges —
    deterministic, JVM-side, and lookahead-free so any regex engine
    (incl. RE2) computes the same value."""
    t = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(t, r"[\w\s]", ""))
    return token_count(t) + n_punct


def quality_score(text: str | Column) -> Column:
    """Heuristic document quality in [0,1]: length factor × alpha ratio
    × stopword presence — the standard cheap pre-filter shape
    (C4/RefinedWeb-style) with deterministic arithmetic."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_toks = token_count(t)
    stop_hits = F.size(
        F.array_intersect(
            F.transform(tokens_expr(t), lambda x: F.lower(x)),
            F.array(*[F.lit(w) for ws in _STOPWORDS.values() for w in ws]),
        )
    )
    len_factor = F.least(n_toks.cast("double") / F.lit(50.0), F.lit(1.0))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_factor = F.least(stop_hits.cast("double") / F.lit(2.0), F.lit(1.0))
    return len_factor * alpha_ratio * (F.lit(0.5) + F.lit(0.5) * stop_factor)


def language_id(text: str | Column) -> Column:
    """N-gram/stopword heuristic language guess: the language whose
    stopword list overlaps the document's token set most; 'und'
    (undetermined) on zero overlap. CASE-expression argmax — no UDF."""
    toks = F.transform(tokens_expr(text), lambda x: F.lower(x))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in _STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reverse order so earlier languages win ties deterministically
    for lang in reversed(list(scores)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: str | Column) -> Column:
    """Order-sensitive rolling document fingerprint: left-fold of
    chained ``xxhash64(acc, token)`` — content-and-order sensitive,
    unlike the bag-of-words SimHash, and overflow-free under ANSI mode
    (a polynomial acc·31+h fold would overflow 64-bit multiplication)."""
    return F.aggregate(
        tokens_expr(text),
        F.lit(0).cast("long"),
        lambda acc, tok: F.xxhash64(acc, tok),
    )


def tfidf_topk(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (keyword-extraction /
    topic-tagging pass of a curation pipeline).

    score = tf · ln(N / df) with tf the in-document term count, df the
    term's document frequency, N the corpus size. The score is rounded
    to 9 decimals BEFORE ranking — ln() is not correctly-rounded IEEE,
    so ranking on the raw double could order a cross-engine tie
    differently; rounding first, then breaking ties on the term string,
    makes the top-k a deterministic set. Terms are lowercased
    whitespace tokens (same tokenizer as the rest of this module).

    Plan shape: one scan → groupBy(doc, term) [map-side combined] →
    groupBy(term) for df → tf ⋈ df shuffle join on term (Zipf-skewed
    key, but df is pre-aggregated to one row per term so only the tf
    side fans out) → window top-k by doc (WindowGroupLimit pushes the
    rank filter below the sort). N is a 1-row broadcast. No UDFs.
    """
    from pyspark.sql.window import Window as W

    terms = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(key),
            F.explode(F.transform(tokens_expr(text_col), F.lower)).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy(key, "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(df, on="term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                9,
            ),
        )
    )
    w = W.partitionBy(key).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            key,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score",
            F.col("rk").cast("long").alias("rk"),
        )
    )
