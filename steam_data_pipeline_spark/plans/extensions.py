"""Helpers shared by more than one query-family module.

The on-disk layout cache (``_cached_layout``), the storage-layout
fixtures bench startup pre-builds (``BENCH_FIXTURES``; family modules
append their own), the exact-Jaccard truth, the ANN probe set, the
stopword and BM25 helpers, and the bench-only operator legs
(``OPERATOR_ONLY``). No query is registered here.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from steam_data_pipeline_spark.llm import dedup as D
from steam_data_pipeline_spark.llm import simsearch as S
from steam_data_pipeline_spark.llm import textstats as TS
from steam_data_pipeline_spark.plans.base import ops_time_domain, t


_STOPWORD_SQL_LIST = "['" + "', '".join(
    w for ws in TS._STOPWORDS.values() for w in ws
) + "']"


# ---------------------------------------------------------------------------
# §2.10 similarity search
# ---------------------------------------------------------------------------


def _ann_probes(emb):
    """The ANN probe set: searchable vectors with ``vec_id < 5``, as
    ``(query_id, embedding)``. NULL-embedding rows are dropped by every
    vector operator (simsearch.drop_null_vectors) and by the oracle's
    embedding IS NOT NULL filter — counts must agree with both."""
    return emb.filter(
        (F.col("vec_id") < 5)
        & F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
    ).select(F.col("vec_id").alias("query_id"), "embedding")


#: session-scoped memo of the exact-Jaccard truth pair set. Three
#: registry queries (llm_dedup_jaccard / llm_dedup_simhash /
#: llm_dedup_cluster) verify against the SAME jaccard_pairs(shingle=3,
#: t=0.5) truth; each cold build is ~3.7 s at sf0.1, so memoizing the
#: localCheckpointed result amortizes the verification harness across
#: the composites (the operator under test is never cached). Keyed by
#: applicationId so a new SparkSession can never see a stale handle.
_JACCARD_TRUTH_CACHE: dict[tuple, object] = {}


def _exact_jaccard_truth(spark, sf_dir, shingle_n=3, min_jaccard=0.5):
    import os as _os

    key = (
        spark.sparkContext.applicationId,
        _os.path.abspath(sf_dir),
        shingle_n,
        min_jaccard,
    )
    df = _JACCARD_TRUTH_CACHE.get(key)
    if df is None:
        df = D.jaccard_pairs(
            t(spark, sf_dir, "documents"),
            shingle_n=shingle_n,
            min_jaccard=min_jaccard,
        ).localCheckpoint(eager=True)
        _JACCARD_TRUTH_CACHE[key] = df
    return df


_LAYOUT_CACHE: dict[tuple, str] = {}


# Bump when any layout/index build logic changes: the on-disk cache key
# includes it, so old artifacts are never reused across logic changes.
_LAYOUT_VERSION = 5  # v5: LSH/signature indexes use the bucket-GROUP layout (round 13)


def _cached_layout(kind: str, sf_dir: str, write_fn, disk: bool = True) -> str:
    """Cache of derived table layouts (format round-trips, partitioned
    copies, persisted ANN indexes) — per-process dict in front of an
    ON-DISK cache keyed by (kind, sf_dir, source-parquet mtimes,
    _LAYOUT_VERSION).

    The disk layer models the production posture these fixtures exist
    for: a partitioned copy or a persisted index EXISTS on disk before
    any query batch runs, so a fresh bench process must not pay the
    build again (the IVF/LSH builds alone were the 20 s startup pole).
    A ``_SUCCESS`` marker written only after ``write_fn`` completes
    guards against a killed build poisoning later runs; staleness is
    impossible because the key hashes the input files' (path, mtime,
    size) — any driver-side testdata regeneration changes the key.
    Every layout-consuming query is oracle-checked, so even a
    hypothetical bad artifact surfaces as a red query, never silently.

    ``disk=False`` keeps the per-process-only behavior — used by the
    STREAMING sink queries (parquet sink, quality gate), where
    executing the stream is the behavior under test: a cross-process
    cache would let later runs validate output without ever running a
    stream.
    """
    import hashlib
    import os
    import tempfile

    key = (kind, os.path.abspath(sf_dir))
    if not disk:
        if key not in _LAYOUT_CACHE:
            out = tempfile.mkdtemp(prefix=f"sdp_{kind}_")
            write_fn(out)
            _LAYOUT_CACHE[key] = out
        return _LAYOUT_CACHE[key]
    if key not in _LAYOUT_CACHE:
        sig = hashlib.sha256()
        sig.update(f"{kind}|{_LAYOUT_VERSION}|".encode())
        # Hash the builder's bytecode into the key so a build-logic
        # change invalidates the artifact even without a manual
        # _LAYOUT_VERSION bump (the version stays as a coarse manual
        # override for changes bytecode can't see, e.g. helper edits).
        try:
            code = write_fn.__code__
            sig.update(code.co_code)
            sig.update(repr(code.co_consts).encode())
        except AttributeError:  # builtins/partials — version covers them
            pass
        for root, _, files in sorted(os.walk(sf_dir)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                sig.update(f"{p}|{st.st_mtime_ns}|{st.st_size};".encode())
        out = os.path.join(
            tempfile.gettempdir(),
            "sdp_layout_cache",
            f"{kind}_{sig.hexdigest()[:16]}",
        )
        marker = os.path.join(out, "_SDP_LAYOUT_SUCCESS")
        if not os.path.exists(marker):
            # Cross-process safety: stage into a process-unique sibling
            # and atomically rename into the keyed path, so a bench and
            # a pytest running concurrently can never interleave partial
            # writes inside the same cache directory.
            import shutil
            import uuid

            os.makedirs(os.path.dirname(out), exist_ok=True)
            tmp = f"{out}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            os.makedirs(tmp)
            try:
                write_fn(tmp)
                with open(
                    os.path.join(tmp, "_SDP_LAYOUT_SUCCESS"), "w"
                ) as fh:
                    fh.write("ok")
                os.rename(tmp, out)
            except Exception:
                shutil.rmtree(tmp, ignore_errors=True)
                # rename lost to a concurrent builder that finished
                # first — its complete artifact is the one to use
                if not os.path.exists(marker):
                    raise
        _LAYOUT_CACHE[key] = out
    return _LAYOUT_CACHE[key]


def _prepare_day_partitioned(spark, sf_dir: str) -> str:
    """The day-partitioned copy of ``events`` — the STORAGE layout that
    ``src_partition_pruned`` and ``src_dynamic_pruning`` prune against.
    Extracted so bench startup can pre-build it: in production this
    layout exists on disk before any query runs (it is how the table is
    stored, not work the pruned read performs), so its one-time write
    cost belongs to startup, not to whichever query runs first."""
    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return _cached_layout(
        "part", sf_dir,
        lambda d: ev.write.mode("overwrite").partitionBy("day").parquet(d),
    )


def _prepare_dpp_dim(spark, sf_dir: str) -> str:
    """The parquet day-dimension ``src_dynamic_pruning`` joins against
    (same pre-existing-storage argument as :func:`_prepare_day_partitioned`)."""
    def _write_dim(d):
        spark.createDataFrame(
            [(f"2024-01-{x:02d}", "keep" if x <= 6 else "drop") for x in range(1, 31)],
            "d string, tag string",
        ).select(F.col("d").cast("date").alias("day"), "tag").write.mode(
            "overwrite"
        ).parquet(d)

    return _cached_layout("dppdim", sf_dir, _write_dim)


def _prepare_islands_stream_fixture(spark, sf_dir: str) -> str:
    """The 3-file time-sliced replay copy of ``events`` that
    ``stream_islands_stateful`` streams from — an arrival layout that
    exists before the stream starts (in production these are the files
    a feed already landed), so bench startup may pre-build it."""
    import os as _os

    def _write(out_dir: str) -> None:
        # Fixture construction, not the operator: split events into 3
        # per-key time-ordered files (equal time thirds) with ascending
        # mtimes so the file source replays them as ordered batches.
        # One scan + driver-side slicing: the fixture is bounded
        # (events at the bench SF), and four separate filtered scans
        # measured ~2.5 s of pure rework.
        pdf = (
            # operational time domain BEFORE toPandas: the replay
            # materialization is itself a pandas path — one year-2500
            # row is an ArrowInvalid crash, not data (r13 contract)
            ops_time_domain(t(spark, sf_dir, "events"))
            .select("user_id", "event_id", "ts", "value")
            .toPandas()
        )
        # thirds computed on int64 MICROSECONDS, not Timestamp
        # arithmetic: pandas Timedelta caps at ~292 years and the
        # adversarial 1905..2260 span overflows it (r12 ts axis)
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        lo, hi = int(us.min()), int(us.max())
        b0, b1 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
        parts = [
            pdf[us < b0],
            pdf[(us >= b0) & (us < b1)],
            pdf[us >= b1],
        ]
        for i, p in enumerate(parts):
            path = _os.path.join(out_dir, f"part-{i}.parquet")
            p.to_parquet(
                path,
                index=False,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            # deterministic ascending mtimes -> deterministic batch order
            _os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))

    return _cached_layout("isl_stream", sf_dir, _write)


#: Storage-layout fixtures bench startup may pre-build (threaded, cost
#: excluded from per-query timings). ONLY layouts that model how a
#: table is ALREADY STORED before queries run belong here — never
#: anything that executes an operator's own work (the format
#: round-trips' write leg and the streaming sinks stay in-query).
def _prepare_ivf_index(spark, sf_dir: str) -> str:
    """The persisted IVF index that ``llm_sim_ivf_persisted`` loads and
    probes. In production the index EXISTS on disk before any query
    batch runs (built once, amortized — that is the whole point of the
    persisted convention), so its one-time build+save cost belongs to
    bench startup, not to the query timing; the query measures
    load + DPP-probe + truth verification."""
    emb = t(spark, sf_dir, "embeddings")

    def _write(d):
        S.save_ivf_index(S.build_ivf_index(emb), d)

    return _cached_layout("ivfidx", sf_dir, _write)


def _prepare_lsh_index(spark, sf_dir: str) -> str:
    """The persisted LSH index that ``llm_sim_lsh_persisted`` loads —
    same startup-fixture accounting as the IVF index: it exists on
    disk before any query batch in production."""
    emb = t(spark, sf_dir, "embeddings")

    def _write(d):
        S.save_lsh_index(S.build_lsh_index(emb), d)

    return _cached_layout("lshidx", sf_dir, _write)


def _prepare_jaccard_truth(spark, sf_dir: str) -> None:
    """Session-memoize the exact-Jaccard verification truth. It is a
    VERIFICATION fixture shared by every shingle-dedup composite
    (near/simhash/editdist legs all compare against it), not an
    operator under test — so its one-time ~7 s build belongs to
    startup, not to whichever dedup query happens to run first (that
    accounting showed up as a composite-time drift in
    `llm_dedup_simhash`)."""
    _exact_jaccard_truth(spark, sf_dir)


BENCH_FIXTURES = [
    _prepare_day_partitioned,
    _prepare_dpp_dim,
    _prepare_islands_stream_fixture,
    _prepare_ivf_index,
    _prepare_lsh_index,
    _prepare_jaccard_truth,
]


# ---------------------------------------------------------------------------
# bench-only operator legs
# ---------------------------------------------------------------------------

def _simhash_operator_only(spark, sf_dir):
    return D.simhash_near_pairs(t(spark, sf_dir, "documents"), max_hamming=8).select(
        "a", "b"
    )


def _ivf_operator_only(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, _ann_probes(emb), k=10, n_probe=6).select(
        "query_id", "vec_id"
    )


def _lsh_operator_only(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, _ann_probes(emb), k=10).select("query_id", "vec_id")


#: Bench-only variants for the queries whose REGISTERED form embeds an
#: exact-truth verification leg (simhash's exact-Jaccard pair set, the
#: ANN queries' brute-force recall check). The composite stays what the
#: driver correctness run executes — these exist so bench can report
#: the operator's own cost separately instead of operator+oracle
#: (round-3 verdict: the truth leg must be sampled at 100 TB anyway,
#: so the composite number overstates what production would pay).
def _ivf_persisted_operator_only(spark, sf_dir):
    """Probe-only cost against the pre-existing persisted index — the
    per-query-batch production cost of llm_sim_ivf_persisted (the
    registered form adds the in-query brute-force truth leg)."""
    emb = t(spark, sf_dir, "embeddings")
    idx = S.load_ivf_index(spark, _prepare_ivf_index(spark, sf_dir))
    return S.ivf_topk(
        emb, _ann_probes(emb), k=10, index=idx, n_probe=6
    ).select("query_id", "vec_id")


def _lsh_persisted_operator_only(spark, sf_dir):
    """Probe-only cost against the pre-existing persisted LSH index —
    the per-query-batch production cost of llm_sim_lsh_persisted."""
    emb = t(spark, sf_dir, "embeddings")
    idx = S.load_lsh_index(spark, _prepare_lsh_index(spark, sf_dir))
    return S.lsh_topk(emb, _ann_probes(emb), k=10, index=idx).select(
        "query_id", "vec_id"
    )


OPERATOR_ONLY = {
    "llm_dedup_simhash": _simhash_operator_only,
    "llm_sim_ivf": _ivf_operator_only,
    "llm_sim_lsh": _lsh_operator_only,
    "llm_sim_ivf_persisted": _ivf_persisted_operator_only,
    "llm_sim_lsh_persisted": _lsh_persisted_operator_only,
}


def _bm25_scores(spark, sf_dir):
    """(doc_id, bm25) for the fixed 3-term query — shared by
    llm_bm25_search (ranked list) and llm_hybrid_search (RRF leg).
    See llm_bm25_search's doc for the determinism discipline."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    terms = spark.createDataFrame(
        [("table",), ("spark",), ("window",)], "term string"
    )
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    ).filter(F.size("w") > 0)
    dl = toks.select("doc_id", F.size("w").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    words = toks.select("doc_id", F.explode("w").alias("term"))
    tf = (
        words.join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    idf9 = F.round(
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        ),
        9,
    )
    satur = F.col("tf").cast("double") / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * (
                F.col("dl").cast("double")
                / (F.col("total_len").cast("double") / F.col("n_docs"))
            )
        )
    )
    contrib = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf9 * satur, 9).cast("decimal(20,9)").alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.round(F.sum("c").cast("double"), 6).alias("bm25")
    )
