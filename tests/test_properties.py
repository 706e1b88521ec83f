"""Property-based tests (hypothesis) for the correctness-subtle
operators, against plain-Python reference implementations
(SURVEY.md §5 'property tests for the tricky ops')."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, functions as F

from steam_data_pipeline_spark.operators.relational import union_distinct_sort
from steam_data_pipeline_spark.operators.upsert import merge_upsert
from steam_data_pipeline_spark.operators.windows import (
    gap_sessions,
    island_intervals,
    topn_per_key,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_islands(flags: list[int]) -> list[tuple[int, int, int]]:
    """Reference implementation: (start_idx, end_idx, n)."""
    out, start = [], None
    for i, f in enumerate(flags):
        if f and start is None:
            start = i
        elif not f and start is not None:
            out.append((start, i - 1, i - start))
            start = None
    if start is not None:
        out.append((start, len(flags) - 1, len(flags) - start))
    return out


@SETTINGS
@given(flags=st.lists(st.integers(min_value=0, max_value=1), min_size=1, max_size=60))
def test_islands_match_python_reference(spark, flags):
    t0 = datetime(2024, 1, 1)
    rows = [Row(k="x", ts=t0 + timedelta(hours=i), flag=v) for i, v in enumerate(flags)]
    got = sorted(
        (r.start_ts, r.end_ts, r.n_obs)
        for r in island_intervals(
            spark.createDataFrame(rows), "k", "ts", F.col("flag") == 1
        ).collect()
    )
    expected = sorted(
        (t0 + timedelta(hours=s), t0 + timedelta(hours=e), n)
        for s, e, n in _py_islands(flags)
    )
    assert got == expected


@SETTINGS
@given(
    old=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=15),
    new=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=15),
)
def test_merge_upsert_matches_dict_fold(spark, old, new):
    # dedup old by key (a stored table has unique keys); with
    # version_cols the MERGE is max-version across old ∪ new, so an
    # out-of-order batch can't regress stored state (ADVICE round 1)
    old_d = {}
    for k, v in old:
        old_d[k] = v
    new_d = {}
    for k, v in new:
        new_d[k] = max(new_d.get(k, -1), v)
    expected = dict(old_d)
    for k, v in new_d.items():
        expected[k] = max(expected.get(k, -1), v)

    schema = "k int, v int"
    old_df = spark.createDataFrame([Row(k=k, v=v) for k, v in old_d.items()], schema)
    new_df = spark.createDataFrame([Row(k=k, v=v) for k, v in new], schema)
    if not old_d and not new:
        return
    got = {
        r.k: r.v
        for r in merge_upsert(
            old_df if old_d else None,
            new_df,
            key="k",
            version_cols=["v"],
        ).collect()
    }
    if not new:
        assert got == old_d  # merge with empty new keeps old unchanged
    else:
        assert got == expected


@SETTINGS
@given(
    a=st.lists(st.integers(0, 120), max_size=25),
    b=st.lists(st.integers(0, 120), max_size=25),
)
def test_union_distinct_sort_matches_python(spark, a, b):
    sa = spark.createDataFrame([Row(app_id=str(x)) for x in a], "app_id string")
    sb = spark.createDataFrame([Row(app_id=str(x)) for x in b], "app_id string")
    if not a and not b:
        return
    got = [r.app_id for r in union_distinct_sort(sa, sb).collect()]
    assert got == sorted(set(str(x) for x in a + b))  # string order: '10' < '9'


@SETTINGS
@given(
    points=st.lists(st.integers(0, 5000), min_size=1, max_size=40),
    ivals=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 600)), min_size=1, max_size=8
    ),
    bin_seconds=st.sampled_from([60, 300, 3600]),
)
def test_range_join_binned_equals_plain_filter(spark, points, ivals, bin_seconds):
    from steam_data_pipeline_spark.operators.joins import range_join_binned

    t0 = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [Row(k=1, pid=i, ts=t0 + timedelta(seconds=s)) for i, s in enumerate(points)]
    )
    iv = spark.createDataFrame(
        [
            Row(
                k=1,
                iid=i,
                start=t0 + timedelta(seconds=s),
                end=t0 + timedelta(seconds=s + d),
            )
            for i, (s, d) in enumerate(ivals)
        ]
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_binned(
            pts, iv, key="k", ts="ts", start="start", end="end", bin_seconds=bin_seconds
        ).collect()
    }
    expected = {
        (pi, ii)
        for pi, ps in enumerate(points)
        for ii, (s, d) in enumerate(ivals)
        if s <= ps <= s + d
    }
    assert got == expected


def _py_gap_sessions(gaps_min: list[int], threshold_min: int) -> list[int]:
    """Reference: session id per event given inter-event gaps (first gap
    ignored — the first event always opens session 1)."""
    sid, out = 1, [1]
    for g in gaps_min[1:]:
        if g > threshold_min:
            sid += 1
        out.append(sid)
    return out


@SETTINGS
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=50)
)
def test_gap_sessions_match_python_reference(spark, gaps):
    t0 = datetime(2024, 1, 1)
    ts, acc = [], t0
    for g in gaps:
        acc = acc + timedelta(minutes=g)
        ts.append(acc)
    rows = [Row(k="x", i=i, ts=v) for i, v in enumerate(ts)]
    tagged = gap_sessions(
        spark.createDataFrame(rows), "k", "ts", "30 MINUTES", tiebreak=["i"]
    )
    got = [r.session_id for r in tagged.orderBy("i").collect()]
    expected = _py_gap_sessions(gaps, 30)
    assert got == expected
    # sessions partition the timeline: ids are 1-based, contiguous,
    # non-decreasing
    assert got[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(got, got[1:]))


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50)), min_size=1, max_size=60
    )
)
def test_topn_per_key_matches_python(spark, rows):
    df = spark.createDataFrame(
        [Row(k=k, i=i, v=v) for i, (k, v) in enumerate(rows)], "k int, i int, v int"
    )
    got = {
        (r.k, r.rn, r.i)
        for r in topn_per_key(df, "k", [F.col("v").desc(), F.col("i")], 3).collect()
    }
    expected = set()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, v) in enumerate(rows):
        by_key.setdefault(k, []).append((-v, i))
    for k, items in by_key.items():
        for rank, (_, i) in enumerate(sorted(items)[:3], start=1):
            expected.add((k, rank, i))
    assert got == expected


@SETTINGS
@given(
    toks=st.lists(st.integers(1, 30), min_size=1, max_size=40),
    capacity=st.integers(5, 40),
)
def test_pack_sequences_matches_next_fit_model(spark, toks, capacity):
    """Property: the distributed packer equals the sequential next-fit
    recurrence — bin sums ≤ capacity (except oversized singletons),
    every doc assigned exactly once, bin ids dense from 0."""
    from steam_data_pipeline_spark.llm.curation import pack_sequences

    rows = [(i, "s", " ".join(["w"] * n)) for i, n in enumerate(toks)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: (r.bin_id, r.n_tokens)
        for r in pack_sequences(docs, capacity=capacity).collect()
    }
    # reference next-fit fold
    expected = {}
    bin_id, fill = 0, 0
    for i, n in enumerate(toks):
        if i == 0:
            fill = n
        elif fill + n > capacity:
            bin_id, fill = bin_id + 1, n
        else:
            fill += n
        expected[i] = (bin_id, n)
    assert got == expected


def _py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edges):
    from steam_data_pipeline_spark.llm.dedup import connected_components

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a long, b long"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _py_components(edges)


def _py_jaccard_pairs(texts: dict[int, str], n: int, t: float):
    """Brute-force all-pairs n-gram Jaccard reference."""
    def sh(s):
        toks = s.lower().split()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh(texts[a]), sh(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                out[(a, b)] = j
    return out


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    t=st.sampled_from([0.3, 0.5, 0.7]),
)
def test_jaccard_prefix_filter_is_lossless(spark, docs, t):
    """The PPJoin-style prefix filter must not lose any qualifying
    pair: jaccard_pairs == brute-force all-pairs truth at every
    threshold (tiny 8-token vocabulary forces heavy shingle overlap,
    the regime where a broken prefix bound would drop pairs)."""
    from steam_data_pipeline_spark.llm.dedup import jaccard_pairs

    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.a, r.b): r.jaccard
        for r in jaccard_pairs(df, shingle_n=3, min_jaccard=t).collect()
    }
    expected = _py_jaccard_pairs(texts, 3, t)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12


def _py_duplicated_spans(texts: dict[int, str], k: int):
    grams: dict[str, int] = {}
    pos: dict[int, list[tuple[int, str]]] = {}
    for d, t in texts.items():
        toks = t.strip().split()
        if len(toks) < k:
            continue
        for p in range(len(toks) - k + 1):
            g = " ".join(toks[p : p + k])
            grams[g] = grams.get(g, 0) + 1
            pos.setdefault(d, []).append((p, g))
    out = set()
    for d, lst in pos.items():
        dup = sorted(p for p, g in lst if grams[g] >= 2)
        spans: list[list[int]] = []
        for p in dup:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + k - 1)
                spans[-1][2] += 1
            else:
                spans.append([p, p + k - 1, 1])
        for s in spans:
            out.add((d, s[0], s[1], s[2]))
    return out


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
)
def test_duplicated_spans_match_python_reference(spark, docs, k):
    """Exact substring-dedup spans == a dict-fold reference on random
    tiny-vocabulary corpora (heavy accidental repetition — the regime
    where off-by-one in window merging or corpus-count semantics would
    show)."""
    from steam_data_pipeline_spark.llm.dedup import duplicated_spans

    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans(df, k=k).collect()
    }
    assert got == _py_duplicated_spans(texts, k)


def _py_overlap(rows: list[tuple[int, str, str]], n: int = 3):
    sets: dict[str, set[str]] = {}
    for _d, text, g in rows:
        toks = text.lower().split()
        grams = {
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))
        }
        sets.setdefault(g, set()).update(grams)
    out = {}
    gs = sorted(sets)
    for i, a in enumerate(gs):
        for b in gs[i + 1 :]:
            inter = len(sets[a] & sets[b])
            out[(a, b)] = (len(sets[a]), len(sets[b]), inter)
    return out


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.lists(st.sampled_from("abcdef"), min_size=1, max_size=10).map(" ".join),
            st.sampled_from(["g0", "g1", "g2"]),
        ),
        min_size=2,
        max_size=12,
    )
)
def test_corpus_overlap_exact_leg_matches_python(spark, rows):
    """corpus_overlap's exact columns == set-algebra reference (the HOF
    pair expansion and the distinct-per-group accounting are the parts
    a subtle bug would corrupt)."""
    from steam_data_pipeline_spark.llm.dedup import corpus_overlap

    data = [(i, t, g) for i, (t, g) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): (r.n_a, r.n_b, r.n_common)
        for r in corpus_overlap(df).collect()
    }
    assert got == _py_overlap(data)


def _py_remove_spans(texts: dict[int, str], k: int):
    grams: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(texts):
        toks = texts[d].strip().split()
        if len(toks) >= k:
            for p in range(len(toks) - k + 1):
                grams.setdefault(" ".join(toks[p : p + k]), []).append((d, p))
    covered: dict[int, set[int]] = {}
    for lst in grams.values():
        if len(lst) >= 2:
            for d, p in lst[1:]:  # lst is (doc, pos)-sorted; [0] is the keeper
                covered.setdefault(d, set()).update(range(p, p + k))
    out = {}
    for d, t in texts.items():
        toks = t.strip().split()
        kept = [w for i, w in enumerate(toks) if i not in covered.get(d, set())]
        # fully-covered docs stay in the accounting with cleaned = ''
        # (round-9 llm review: row-per-doc, never silently vanished)
        out[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
)
def test_remove_duplicated_spans_matches_python(spark, docs, k):
    """The removal step == a dict-fold reference: keeper election,
    coverage expansion, and ordered reassembly all verified on random
    tiny-vocabulary corpora."""
    from steam_data_pipeline_spark.llm.dedup import remove_duplicated_spans

    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned)
        for r in remove_duplicated_spans(df, k=k).collect()
    }
    assert got == _py_remove_spans(texts, k)


# --- media codec roundtrip properties (round 5: real decode layer) ---
# Pure Python, no Spark session: hypothesis shrinks any failing image/
# waveform to a minimal counterexample, which the seeded-random tests
# in test_png/test_wav cannot do.

CODEC_SETTINGS = settings(max_examples=40, deadline=None)


@CODEC_SETTINGS
@given(
    w=st.integers(1, 10),
    h=st.integers(1, 10),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, ch, data):
    from steam_data_pipeline_spark.llm.png import decode_png, encode_png

    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    got = decode_png(encode_png(w, h, ch, px, row_filters=filters))
    assert (got[0], got[1], got[2], bytes(got[3])) == (w, h, ch, px)


@CODEC_SETTINGS
@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    n_ch=st.integers(1, 2),
    bits=st.sampled_from([8, 16]),
    data=st.data(),
)
def test_wav_roundtrip_property(rate, n_ch, bits, data):
    from steam_data_pipeline_spark.llm.wav import decode_wav, encode_wav

    lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
    n_frames = data.draw(st.integers(0, 24))
    samples = data.draw(
        st.lists(
            st.integers(lo, hi),
            min_size=n_frames * n_ch,
            max_size=n_frames * n_ch,
        )
    )
    grate, gch, got = decode_wav(encode_wav(rate, n_ch, samples, bits=bits))
    assert (grate, gch, got) == (rate, n_ch, samples)


@CODEC_SETTINGS
@given(
    w=st.integers(1, 6),
    h=st.integers(1, 6),
    ch=st.sampled_from([1, 3, 4]),
    data=st.data(),
)
def test_apng_roundtrip_property(w, h, ch, data):
    from steam_data_pipeline_spark.llm.png import decode_apng, encode_apng

    n_frames = data.draw(st.integers(1, 4))
    frames = [
        (
            data.draw(st.integers(0, 500)),
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * ch,
                        max_size=w * h * ch,
                    )
                )
            ),
        )
        for _ in range(n_frames)
    ]
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    gw, gh, gch, got = decode_apng(
        encode_apng(w, h, ch, frames, row_filters=filters)
    )
    assert (gw, gh, gch) == (w, h, ch)
    assert [(d, bytes(p)) for d, p in got] == [
        (d, bytes(p)) for d, p in frames
    ]


def _py_lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev, d[0] = d[:], i
        for j in range(1, n + 1):
            d[j] = min(prev[j] + 1, d[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
    return d[n]


@given(
    strs=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=12),
        min_size=2,
        max_size=12,
    )
)
@SETTINGS
def test_editdist_pairs_lossless(spark, strs):
    """Banded Ed-Join candidate generation must be LOSSLESS: the pair
    set equals the quadratic Levenshtein truth on any corpus — the
    prefix-filter lemma and the short-string leg leave no gap."""
    import itertools

    from steam_data_pipeline_spark.llm.dedup import editdist_pairs

    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in editdist_pairs(df, max_d=2, q=2).collect()
    }
    want = {
        (i, j, _py_lev(s1, s2))
        for (i, s1), (j, s2) in itertools.combinations(rows, 2)
        if _py_lev(s1, s2) <= 2
    }
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=25,
    ),
    n_iter=st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_pagerank_mass_and_positivity(spark, edges, n_iter):
    """Mass is conserved up to bounded floor leakage (< n per
    iteration in micro-units) and every node keeps a positive rank —
    on ANY graph shape hypothesis produces (self-loops, multi-edges,
    disconnected nodes, all-dangling)."""
    from steam_data_pipeline_spark.operators.graph import SCALE, pagerank

    n = 10
    ndf = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        edf = edf.limit(0)
    got = {r["node"]: r["rank_micro"] for r in pagerank(ndf, edf, n_iter=n_iter).collect()}
    assert set(got) == set(range(n))
    assert all(v > 0 for v in got.values())
    total = sum(got.values())
    # each of base/dangling/share floor-divides leaks < 1 unit per
    # node per iteration; 3 division sites → conservative 3n/iter
    assert SCALE - 3 * n * n_iter <= total <= SCALE


# --- round-9 wave properties: skyline dominance + sweep-line peak ---


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=20,
    )
)
def test_skyline_window_matches_bruteforce(spark, pts):
    """The two-window skyline == the quadratic dominance definition
    (minimize price, maximize size; ties on both axes all survive) on
    random small point sets — including duplicate points and ties on
    either single axis, the cases a single running max gets wrong."""
    from pyspark.sql import Window

    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, price_cents long, size long")
    w_lower = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("price_cents")
    got = {
        r.id
        for r in df.select(
            "id",
            "price_cents",
            "size",
            F.max("size").over(w_lower).alias("smax_lower"),
            F.max("size").over(w_eq).alias("smax_equal"),
        )
        .filter(
            (F.col("smax_lower").isNull() | (F.col("smax_lower") < F.col("size")))
            & (F.col("smax_equal") == F.col("size"))
        )
        .collect()
    }
    want = {
        i
        for i, (p, s) in enumerate(pts)
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for (p2, s2) in pts
        )
    }
    assert got == want, (pts, got, want)


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=20,
    ),
    n_parts=st.integers(1, 4),
)
def test_local_skyline_preprune_sound(spark, pts, n_parts):
    """local_skyline_preprune (operators/skyline.py) must keep EVERY
    true skyline point (soundness — the global pass can recover from
    over-keeping, never from a dropped frontier point) across any
    partitioning of the input, including duplicate points and
    single-axis ties."""
    from steam_data_pipeline_spark.operators.skyline import (
        local_skyline_preprune,
    )

    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "id long, price_cents long, size long"
    ).repartition(n_parts)
    kept = {
        r.id
        for r in local_skyline_preprune(
            df, minimize="price_cents", maximize="size"
        ).collect()
    }
    skyline = {
        i
        for i, (p, s) in enumerate(pts)
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s)) for (p2, s2) in pts
        )
    }
    assert skyline <= kept, (pts, skyline, kept)
    # and it never keeps a row another SAME-PARTITION row strictly
    # dominates when everything lands in one partition: with n_parts=1
    # the prune IS (a superset bounded by per-price frontier of) the
    # exact skyline — every kept row must at least be undominated by a
    # kept row with strictly larger size at <= price
    if n_parts == 1:
        by_id = {i: (p, s) for i, (p, s) in enumerate(pts)}
        for i in kept:
            p, s = by_id[i]
            assert not any(
                p2 <= p and s2 > s for j, (p2, s2) in by_id.items() if j in kept
            ), (pts, kept)


@SETTINGS
@given(
    vals=st.lists(st.integers(-5, 5), min_size=1, max_size=30),
    q=st.integers(2, 7),
    n_bins=st.sampled_from([1, 2, 16, 4096]),
)
def test_scalable_ntile_matches_ntile(spark, vals, q, n_bins):
    """operators/ranks.py::scalable_ntile_desc_multi must be
    bit-identical to ntile(q) OVER (ORDER BY metric DESC, key) — the
    two-level histogram rank replaces the single-partition sort, not
    the semantics. Heavy ties (domain -5..5), n < q, and degenerate
    bin counts (n_bins=1 puts EVERYTHING in one bin; 4096 gives every
    value its own) all covered."""
    from pyspark.sql import Window

    from steam_data_pipeline_spark.operators.ranks import (
        scalable_ntile_desc_multi,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, m long").repartition(3)
    want = {
        (r.k, r.s)
        for r in df.select(
            "k",
            F.ntile(q)
            .over(Window.orderBy(F.col("m").desc(), F.col("k").asc()))
            .cast("long")
            .alias("s"),
        ).collect()
    }
    # BOTH sides of the size gate must match: small_bytes=0 forces the
    # two-level histogram rank (createDataFrame estimates Long.Max, so
    # this is also the default path here); small_bytes=1<<62 forces the
    # small-input plain-window fast path (round-10 verdict item 5).
    for small_bytes in (0, 1 << 62):
        got = {
            (r.k, r.s)
            for r in scalable_ntile_desc_multi(
                df,
                q,
                [("m", "s")],
                key="k",
                n_bins=n_bins,
                small_bytes=small_bytes,
            ).collect()
        }
        assert got == want, (vals, q, n_bins, small_bytes, got, want)


@SETTINGS
@given(
    starts=st.lists(st.integers(0, 30), min_size=1, max_size=25),
    dur=st.integers(1, 10),
)
def test_peak_concurrency_matches_bruteforce(spark, starts, dur):
    """The per-distinct-timestamp sweep line == brute-force concurrency
    (count of half-open intervals [s, s+dur) covering t, maximized over
    all candidate instants) — including coincident starts, and ends
    landing exactly on starts (the half-open boundary)."""
    from datetime import datetime, timedelta

    from pyspark.sql import Window

    base = datetime(2024, 3, 1)
    rows = [(base + timedelta(minutes=s),) for s in starts]
    ev = spark.createDataFrame(rows, "ts timestamp")
    gap = f"INTERVAL {dur} MINUTES"
    pts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta")).unionByName(
        ev.select(
            (F.col("ts") + F.expr(gap)).alias("t"), F.lit(-1).alias("delta")
        )
    )
    net = pts.groupBy("t").agg(F.sum("delta").cast("long").alias("net"))
    wrun = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    run = net.withColumn("cur", F.sum("net").over(wrun))
    peaked = run.withColumn("peak", F.max("cur").over(Window.partitionBy()))
    got = peaked.filter(F.col("cur") == F.col("peak")).agg(
        F.max("peak").alias("p"), F.min("t").alias("t")
    ).first()
    # brute force: evaluate concurrency at every start instant (the
    # step function only increases there)
    def conc(t):
        return sum(1 for s in starts if s <= t < s + dur)

    want_peak = max(conc(s) for s in starts)
    want_ts = base + timedelta(minutes=min(s for s in starts if conc(s) == want_peak))
    assert int(got["p"]) == want_peak, (starts, dur, got)
    assert got["t"] == want_ts, (starts, dur, got)


@SETTINGS
@given(
    vals=st.lists(st.integers(-5, 5), min_size=1, max_size=40),
    n_bins=st.sampled_from([1, 3, 4096]),
)
def test_exact_cume_counts_matches_bruteforce(spark, vals, n_bins):
    """operators/ranks.py::exact_cume_counts_multi must equal the tie-aware
    empirical CDF counts (#<= v, #>= v) — heavy ties (domain -5..5)
    and degenerate bin counts (n_bins=1 puts everything in one bin)
    are exactly where a row_number-style rank would diverge."""
    from steam_data_pipeline_spark.operators.ranks import exact_cume_counts_multi

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(3)
    want = {
        (i, sum(1 for x in vals if x <= v), sum(1 for x in vals if x >= v))
        for i, v in enumerate(vals)
    }
    # both sides of the size gate: 0 forces the histogram path (also
    # the default here — createDataFrame estimates Long.Max), 1<<62
    # forces the small-input plain-window fast path
    for small_bytes in (0, 1 << 62):
        got = {
            (r.k, r.le, r.ge)
            for r in exact_cume_counts_multi(
                df, [("v", "le", "ge")], n_bins=n_bins, small_bytes=small_bytes
            ).collect()
        }
        assert got == want, (vals, n_bins, small_bytes, got, want)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    seeds=st.sets(st.integers(0, 12), min_size=1, max_size=4),
    max_hops=st.integers(1, 4),
)
def test_bfs_hops_matches_python_bfs(spark, edges, seeds, max_hops):
    """operators/graph.py::bfs_hops == a plain-Python multi-source BFS
    over the same undirected simple graph: per-hop node sets must
    match exactly, including hop -1 for nodes unreachable within the
    cap and seeds that are not graph nodes (silently ignored)."""
    from collections import deque

    from steam_data_pipeline_spark.operators.graph import bfs_hops

    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    if not adj:
        return  # graph with no non-loop edges: nothing to compare
    hop = {v: -1 for v in adj}
    q = deque()
    for v in sorted(seeds & set(adj)):
        hop[v] = 0
        q.append(v)
    while q:
        v = q.popleft()
        if hop[v] == max_hops:
            continue
        for w in adj[v]:
            if hop[w] == -1:
                hop[w] = hop[v] + 1
                q.append(w)
    by_hop: dict[int, set[int]] = {}
    for v, h in hop.items():
        by_hop.setdefault(h, set()).add(v)
    want = {
        (h, len(vs), sum(vs), min(vs), max(vs)) for h, vs in by_hop.items()
    }

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "v long")
    got = {
        (r.hop, r.n_nodes, r.sum_node_ids, r.min_node, r.max_node)
        for r in bfs_hops(edf, sdf, max_hops=max_hops).collect()
    }
    assert got == want, (edges, seeds, max_hops, got, want)


@SETTINGS
@given(vals=st.lists(st.integers(-9, 9), min_size=1, max_size=25))
def test_max_subarray_windows_match_bruteforce(spark, vals):
    """The two-window Kadane identity (best run ending at t =
    P_t - min(0, min_{s<t} P_s); answer = max over t) must equal the
    O(n^2) every-(start,end) definition of the non-empty maximum
    subarray sum — all-negative inputs (best run = the least-bad
    single element) included."""
    from pyspark.sql import Window

    want = max(
        sum(vals[i : j + 1])
        for i in range(len(vals))
        for j in range(i, len(vals))
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, signed long"
    )
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, -1)
    p = df.withColumn("pfx", F.sum("signed").over(w)).withColumn(
        "min_before", F.min("pfx").over(wb)
    )
    got = p.agg(
        F.max(
            F.col("pfx")
            - F.least(F.coalesce(F.col("min_before"), F.lit(0)), F.lit(0))
        )
    ).collect()[0][0]
    assert got == want, (vals, got, want)


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    )
)
def test_weighted_jaccard_matches_bruteforce(spark, docs):
    """The registered multiset-Jaccard pipeline (per-(doc,gram) counts,
    shared-gram join, sum(min) / (T_a + T_b - sum(min))) must equal the
    textbook bag definition sum(min)/sum(max) computed in plain Python
    over the same trigrams — heavy repetition (tiny alphabet) is
    exactly where set- and bag-Jaccard diverge."""
    from collections import Counter

    def trigrams(toks):
        n = len(toks)
        return Counter(
            " ".join(toks[i : i + 3]) for i in range(max(n - 2, 1))
        )

    bags = [trigrams(d) for d in docs]
    want = {}
    for i in range(len(bags)):
        for j in range(i + 1, len(bags)):
            a, b = bags[i], bags[j]
            mins = sum(min(a[g], b[g]) for g in set(a) & set(b))
            maxs = sum((a | b).values())  # Counter | = elementwise max
            want[(i, j)] = mins / maxs

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    counts = (
        df.select("doc_id", F.split(F.lower("text"), r"\s+").alias("__toks"))
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    posting = counts.join(totals, "doc_id")
    a = posting.select(
        F.col("doc_id").alias("a"), "g", F.col("c").alias("ca"),
        F.col("tot").alias("ta"),
    )
    b = posting.select(
        F.col("doc_id").alias("b"), "g", F.col("c").alias("cb"),
        F.col("tot").alias("tb"),
    )
    got = {
        (r.a, r.b): r.m / (r.ta + r.tb - r.m)
        for r in a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.any_value("ta").alias("ta"),
            F.any_value("tb").alias("tb"),
            F.sum(F.least("ca", "cb")).alias("m"),
        )
        .collect()
    }
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-12, (docs, k, v, want[k])
    # pairs absent from `got` share no gram: bag intersection is empty
    for k, v in want.items():
        if k not in got:
            assert v == 0.0, (docs, k, v)
