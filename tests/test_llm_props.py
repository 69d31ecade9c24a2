"""Property-based invariants for the round-4 LLM-data operators.

Brute-force replays in plain Python over adversarial random inputs —
the same pinning style as test_join_props, complementing the fixed
DuckDB oracle tables.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

vecs = st.lists(
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=8,
)

words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
texts = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(**SETTINGS)
@given(data=vecs)
def test_quantize_int8_error_bound_and_code_range(spark, data):
    """Reconstruction error can never exceed the quantization step:
    |x - q*scale| <= scale/2 off the clamp boundary and <= scale at
    it, so rmse <= scale; codes stay in [-127, 127]; the zero vector
    round-trips exactly."""
    from dax_ppdb_spark.llm.embeddings import quantize_int8

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(data)], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    for r in quantize_int8(emb).collect():
        assert r.qnorm_sq <= 127 * 127 * r.dim
        # rmse is rounded to 6 decimals; scale is exact
        assert r.rmse <= r.scale + 1e-6
        if r.scale == 0.0:
            assert r.rmse == 0.0 and r.qnorm_sq == 0


@settings(**SETTINGS)
@given(data=texts)
def test_dup_spans_matches_bruteforce(spark, data):
    """n_dup / max_run / dup_frac agree with a plain-Python replay of
    the definition (5-gram doc frequency >= 2, longest consecutive
    duplicated run)."""
    from dax_ppdb_spark.llm.dedup import duplicated_span_stats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    n = 5
    grams = {
        i: [
            tuple(t.split()[j : j + n])
            for j in range(len(t.split()) - n + 1)
        ]
        for i, t in enumerate(data)
    }
    df = {}
    for i, gs in grams.items():
        for g in set(gs):
            df[g] = df.get(g, 0) + 1
    expected = {}
    for i, gs in grams.items():
        if not gs:
            continue
        flags = [df[g] >= 2 for g in gs]
        runs, cur = [0], 0
        for f in flags:
            cur = cur + 1 if f else 0
            runs.append(cur)
        expected[i] = (len(gs), sum(flags), max(runs))
    got = {
        r.doc_id: (r.n_grams, r.n_dup, r.max_run, r.dup_frac)
        for r in duplicated_span_stats(docs, n=n).collect()
    }
    assert set(got) == set(expected)
    for i, (ng, nd, mr) in expected.items():
        g = got[i]
        assert g[:3] == (ng, nd, mr)
        assert math.isclose(g[3], round(nd / ng, 6), abs_tol=1e-9)


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    ),
    min_len=st.integers(2, 5),
)
def test_dup_substrings_matches_bruteforce(spark, data, min_len):
    """duplicate_substring_spans == a plain-Python ExactSubstr replay:
    a position is duplicated iff its min_len-char window occurs >= 2
    times ANYWHERE in the corpus (same doc included), and maximal runs
    of duplicated positions become (start 1-based, run + L - 1) spans.
    The tiny 'abc ' alphabet makes collisions/overlaps/self-repeats
    common at these lengths."""
    from dax_ppdb_spark.llm.dedup import duplicate_substring_spans

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    L = min_len
    occ: dict[str, int] = {}
    for t in data:
        for j in range(len(t) - L + 1):
            w = t[j : j + L]
            occ[w] = occ.get(w, 0) + 1
    expected = set()
    for i, t in enumerate(data):
        dup = [j for j in range(len(t) - L + 1) if occ[t[j : j + L]] >= 2]
        run_start = None
        prev = None
        for j in dup + [None]:
            if j is not None and prev is not None and j == prev + 1:
                prev = j
                continue
            if run_start is not None:
                expected.add((i, run_start + 1, prev - run_start + L))
            run_start, prev = j, j
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_substring_spans(docs, min_len=L).collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20),
        min_size=1,
        max_size=5,
    ),
    min_len=st.integers(2, 4),
)
def test_substring_removal_matches_bruteforce(spark, data, min_len):
    """remove_duplicate_substrings == drop every char covered by a
    corpus-duplicated window, rebuild in order, exact char counts."""
    from dax_ppdb_spark.llm.dedup import remove_duplicate_substrings

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    L = min_len
    occ: dict[str, int] = {}
    for t in data:
        for j in range(len(t) - L + 1):
            w = t[j : j + L]
            occ[w] = occ.get(w, 0) + 1
    got = {
        r.doc_id: (r.cleaned, r.n_chars, r.n_removed)
        for r in remove_duplicate_substrings(docs, min_len=L).collect()
    }
    for i, t in enumerate(data):
        covered = [False] * len(t)
        for j in range(len(t) - L + 1):
            if occ[t[j : j + L]] >= 2:
                for c in range(j, j + L):
                    covered[c] = True
        cleaned = "".join(ch for ch, cv in zip(t, covered) if not cv)
        assert got[i] == (cleaned, len(t), sum(covered)), (i, t)


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.text(alphabet="aé𝄞 ", min_size=0, max_size=20),
        min_size=1,
        max_size=5,
    ),
    min_len=st.integers(2, 4),
)
def test_exactsubstr_multibyte_chars(spark, data, min_len):
    """Both ExactSubstr operators stay code-point exact on multi-byte
    UTF-8 (2-byte é, 4-byte 𝄞): offsets/lengths count characters, the
    rebuild is char-lossless outside cut spans — the long/non-ASCII
    hardening's semantic pin (its cost law is quoted in
    ``_char_window_fps``' docstring)."""
    from dax_ppdb_spark.llm.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    L = min_len
    occ: dict[str, int] = {}
    for t in data:
        for j in range(len(t) - L + 1):
            occ[t[j : j + L]] = occ.get(t[j : j + L], 0) + 1
    exp_spans = set()
    exp_clean = {}
    for i, t in enumerate(data):
        dup = [j for j in range(len(t) - L + 1) if occ[t[j : j + L]] >= 2]
        covered = [False] * len(t)
        run_start = prev = None
        for j in dup + [None]:
            if j is not None:
                for c in range(j, j + L):
                    covered[c] = True
            if j is not None and prev is not None and j == prev + 1:
                prev = j
                continue
            if run_start is not None:
                exp_spans.add((i, run_start + 1, prev - run_start + L))
            run_start = prev = j
        exp_clean[i] = (
            "".join(ch for ch, cv in zip(t, covered) if not cv),
            len(t),
            sum(covered),
        )
    got_spans = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_substring_spans(docs, min_len=L).collect()
    }
    assert got_spans == exp_spans
    got_clean = {
        r.doc_id: (r.cleaned, r.n_chars, r.n_removed)
        for r in remove_duplicate_substrings(docs, min_len=L).collect()
    }
    assert got_clean == exp_clean


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=16),
        min_size=2,
        max_size=5,
    ),
    min_len=st.integers(2, 3),
)
def test_exactsubstr_nonbroadcast_lane_equal(spark, data, min_len):
    """broadcast_dup=False (the shuffle-join escape hatch for corpora
    whose duplicated-gram set exceeds the broadcast budget) is
    row-for-row equal to the broadcast lane — the 2-char alphabet at
    tiny min_len makes nearly every gram duplicated, the lane's
    worst case."""
    from dax_ppdb_spark.llm.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    for fn in (duplicate_substring_spans, remove_duplicate_substrings):
        a = sorted(map(tuple, fn(docs, min_len=min_len, broadcast_dup=True).collect()))
        b = sorted(map(tuple, fn(docs, min_len=min_len, broadcast_dup=False).collect()))
        assert a == b, fn.__name__


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["x", "y"])),
        min_size=1,
        max_size=20,
        unique_by=lambda r: r[0],
    ),
    k=st.integers(1, 4),
)
def test_exact_stratified_k_invariants(spark, rows, k):
    """Per-stratum output is min(k, stratum size); ranks are 1..m with
    no gaps; every output row exists in the input."""
    from dax_ppdb_spark.llm.sampling import exact_stratified_k

    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = exact_stratified_k(df, ["lang"], k=k).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.lang, []).append(r.rank)
    sizes = {}
    for _, lang in rows:
        sizes[lang] = sizes.get(lang, 0) + 1
    for lang, ranks in by_stratum.items():
        assert sorted(ranks) == list(range(1, min(k, sizes[lang]) + 1))
    in_ids = {r[0] for r in rows}
    assert all(r.doc_id in in_ids for r in out)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 200),
            st.sampled_from(["a", "b", "c"]),
            st.integers(1, 50),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    budgets=st.fixed_dictionaries(
        {},
        optional={
            "a": st.integers(0, 300),
            "b": st.integers(0, 300),
            "c": st.integers(0, 300),
        },
    ),
    coarse=st.sampled_from([2, 4, 8]),
)
def test_token_budget_mixture_invariants(spark, rows, budgets, coarse):
    """The two-phase plan equals the single-window greedy exactly; per
    source, the exclusive prefix bound holds (kept-total < budget +
    max kept doc, and kept-total >= min(budget, source total)); absent
    or zero budgets keep nothing."""
    from dax_ppdb_spark.llm.sampling import token_budget_mixture

    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, n_chars LONG")
    simple = sorted(
        (r.doc_id, r.source, r.n_chars)
        for r in token_budget_mixture(df, budgets).collect()
    )
    phased = sorted(
        (r.doc_id, r.source, r.n_chars)
        for r in token_budget_mixture(df, budgets, coarse_buckets=coarse).collect()
    )
    assert simple == phased
    totals: dict[str, int] = {}
    kept: dict[str, list[int]] = {}
    for _, src, n in rows:
        totals[src] = totals.get(src, 0) + n
    for _, src, n in simple:
        kept.setdefault(src, []).append(n)
    for src in totals:
        b = budgets.get(src, 0)
        got = sum(kept.get(src, []))
        if b == 0:
            assert src not in kept
        else:
            assert got >= min(b, totals[src])
            if kept.get(src):
                assert got - max(kept[src]) < b


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 100),
            st.lists(st.sampled_from(["aa", "bb", "cc", "zz"]), min_size=1, max_size=6).map(" ".join),
            st.sampled_from(["en", "de"]),
        ),
        min_size=3,
        max_size=20,
        unique_by=lambda r: r[0],
    )
)
def test_perplexity_buckets_ntile_invariants(spark, rows):
    """Every doc gets a tier; per language, tier sizes differ by at
    most one and tier boundaries respect the (score desc, id) order."""
    from dax_ppdb_spark.llm.text import perplexity_buckets

    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    out = perplexity_buckets(df, n_buckets=3).collect()
    assert len(out) == len(rows)
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r.tier] = sizes.get(r.tier, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1
        ordered = sorted(rs, key=lambda r: (-r.avg_logprob, r.doc_id))
        tiers = [r.tier for r in ordered]
        assert tiers == sorted(tiers)


@settings(**SETTINGS)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 10_000),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=12),
)
def test_png_roundtrip_property(h, w, c, seed, filters):
    """Every 8-bit pixel grid round-trips the stdlib PNG codec, and
    the decoder inverts all five spec filters (forward-filtered in
    the test, independent of the encoder's filter-0 choice)."""
    import numpy as np

    from dax_ppdb_spark.llm.codecs import decode_png, encode_png
    from tests.test_codecs import _png_with_filters

    idx = np.indices((h, w, c)).sum(axis=0)
    px = ((idx * 31 + seed) % 256).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)
    fs = [filters[i % len(filters)] for i in range(h)]
    assert np.array_equal(decode_png(_png_with_filters(px, fs)), px)


@settings(**SETTINGS)
@given(
    n=st.integers(1, 400),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 10_000),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    import numpy as np

    from dax_ppdb_spark.llm.codecs import decode_wav, encode_wav

    t = (np.arange(n * ch, dtype=np.int64) * 7919 + seed) % 65536 - 32768
    samples = t.astype(np.int16).reshape(n, ch)
    out, r = decode_wav(encode_wav(samples if ch > 1 else samples[:, 0], rate))
    assert r == rate
    assert np.array_equal(out, samples.reshape(n, ch))


_para_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee boiler", "ff x y"]),
        min_size=0,
        max_size=5,
    ),
    min_size=1,
    max_size=8,
)


@settings(**SETTINGS)
@given(data=_para_texts)
def test_dedup_paragraphs_matches_bruteforce(spark, data):
    """Brute-force replay of the keep-first rule: a paragraph present
    in >= 2 distinct docs survives only in the min-id doc (all copies
    there, in order); df==1 paragraphs always survive; counts add up."""
    from dax_ppdb_spark.llm.dedup import dedup_paragraphs

    docs = [(i, "\n\n".join(paras)) for i, paras in enumerate(data)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in dedup_paragraphs(df).collect()}

    # brute force
    owner: dict[str, int] = {}
    df_count: dict[str, set] = {}
    for i, paras in enumerate(data):
        for p in paras:
            df_count.setdefault(p, set()).add(i)
            owner.setdefault(p, i)
    for i, paras in enumerate(data):
        keep = [
            p for p in paras
            if len(df_count[p]) < 2 or min(df_count[p]) == i
        ]
        if not paras:
            assert i not in got  # no paragraphs -> no row
            continue
        r = got[i]
        assert r.n_paragraphs == len(paras)
        assert r.cleaned == "\n\n".join(keep)
        assert r.n_removed == len(paras) - len(keep)


@settings(**SETTINGS)
@given(
    a=st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=20),
    b=st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=20),
)
def test_corpus_divergence_bruteforce(spark, a, b):
    """Brute-force JS replay over the hashed buckets: counts exact,
    contributions nonnegative, and total matches the definition."""
    import hashlib

    from dax_ppdb_spark.llm.sampling import corpus_divergence

    da = spark.createDataFrame([(0, " ".join(a))], "doc_id LONG, text STRING")
    db = spark.createDataFrame([(0, " ".join(b))], "doc_id LONG, text STRING")
    n_buckets = 64
    rows = corpus_divergence(da, db, n_buckets=n_buckets).collect()

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    ca: dict[int, int] = {}
    cb: dict[int, int] = {}
    for t in a:
        ca[bucket(t)] = ca.get(bucket(t), 0) + 1
    for t in b:
        cb[bucket(t)] = cb.get(bucket(t), 0) + 1
    za, zb = len(a), len(b)
    assert {r.b for r in rows} == set(ca) | set(cb)
    for r in rows:
        assert r.ca == ca.get(r.b, 0) and r.cb == cb.get(r.b, 0)
        assert r.js_contrib >= 0.0
        pa = (r.ca + 1.0) / (za + n_buckets)
        pb = (r.cb + 1.0) / (zb + n_buckets)
        m = (pa + pb) / 2.0
        want = 0.5 * pa * math.log(pa / m) + 0.5 * pb * math.log(pb / m)
        assert math.floor(want * 1e9) / 1e9 == r.js_contrib


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.lists(words, min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.34, 0.5, 0.6, 0.75, 1.0]),
)
def test_jaccard_prefix_is_lossless(spark, data, threshold):
    """Prefix filtering must equal the UNCAPPED inverted-index join at
    every threshold — the losslessness claim that lets its oracle state
    pure pairwise-Jaccard semantics.  The tiny word alphabet makes
    shingle collisions (shared boilerplate, identical docs, subset
    docs) the common case, which is exactly where a broken prefix
    bound would drop pairs."""
    from dax_ppdb_spark.llm.dedup import jaccard_prefix_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    n = 2
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(docs, n=n, threshold=threshold).collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, n=n, threshold=threshold, max_doc_freq=None
        ).collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    weights=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=12),
    k=st.integers(min_value=1, max_value=6),
    buckets=st.sampled_from([1, 4]),
)
def test_weighted_sample_matches_bruteforce(spark, weights, k, buckets):
    """Plain-Python replay of the interval draw: hash-ordered exclusive
    cumsum, probe j at md5('wsample-probe'||j) mod W — exact row match
    including with-replacement duplicates; zero-weight docs never
    selected; bucket count must not change the draw (the two-phase
    cumsum is an execution detail, not a semantics knob)."""
    import hashlib

    from dax_ppdb_spark.llm.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id LONG, weight LONG"
    )
    got = {
        (r.sample_id, r.doc_id, r.weight)
        for r in weighted_sample_k(
            df, k=k, weight_col="weight", coarse_buckets=buckets
        ).collect()
    }

    def h(s, chars=8):
        return int(hashlib.md5(s.encode()).hexdigest()[:chars], 16)

    pos = sorted(
        ((h(f"wsample{i}"), i, w) for i, w in enumerate(weights) if w >= 1)
    )
    total = sum(w for _, _, w in pos)
    want = set()
    if total:
        cum = 0
        intervals = []
        for _, i, w in pos:
            intervals.append((cum, cum + w, i, w))
            cum += w
        for j in range(k):
            t = h(f"wsample-probe{j}", 15) % total  # 60-bit probe
            for lo, hi, i, w in intervals:
                if lo <= t < hi:
                    want.add((j, i, w))
    assert got == want
    assert len(got) == (k if total else 0)


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.text(alphabet="ab \n", min_size=0, max_size=300),
        min_size=1,
        max_size=4,
    )
)
def test_cdc_chunks_matches_bruteforce(spark, data):
    """Plain-Python replay of the full definition: boundary where the
    8-char window's codepoint polynomial (Σ ord·37^j) % 64 == 0,
    chunks tile the document exactly, fingerprints are the chunk md5 —
    every output row must match."""
    import hashlib

    from dax_ppdb_spark.llm.text import CDC_POLY_MULT, cdc_chunks

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    got = {
        (r.doc_id, r.chunk_idx, r.start, r.n_chars, r.chunk_fp)
        for r in cdc_chunks(docs).collect()
    }
    want = set()
    for i, t in enumerate(data):
        L = len(t)
        if L < 1:
            continue
        bounds = [1]
        for p in range(2, L - 8 + 2):  # 1-based window starts 2..L-7
            w = t[p - 1 : p + 7]
            h = sum(ord(c) * CDC_POLY_MULT**j for j, c in enumerate(w))
            if h % 64 == 0:
                bounds.append(p)
        bounds.append(L + 1)
        for j in range(len(bounds) - 1):
            s, e = bounds[j], bounds[j + 1]
            fp = hashlib.md5(t[s - 1 : e - 1].encode()).hexdigest()
            want.add((i, j, s, e - s, fp))
    assert got == want
    # tiling invariant (implied by the replay, stated for the reader):
    # chunks are contiguous from 1 and sum to the document length


@settings(**SETTINGS)
@given(body=st.text(alphabet="abcdef gh\n", min_size=120, max_size=400))
def test_cdc_chunks_survive_prefix_edit(spark, body):
    """THE content-defined property: prepending a prefix shifts every
    fixed-offset window but leaves all CDC chunk fingerprints after
    the seam region identical — only chunks overlapping the first
    window-width of the edit may change."""
    from dax_ppdb_spark.llm.text import cdc_chunks

    prefix = "EDITED HEADER 123! "
    docs = spark.createDataFrame(
        [(0, body), (1, prefix + body)], "doc_id LONG, text STRING"
    )
    rows = cdc_chunks(docs).collect()
    fps0 = {r.chunk_fp for r in rows if r.doc_id == 0}
    fps1 = {r.chunk_fp for r in rows if r.doc_id == 1}
    # every original chunk starting after the seam's window reach is
    # reproduced verbatim in the edited doc
    seam_reach = 8  # window chars past the prefix can change a boundary
    stable = {
        r.chunk_fp
        for r in rows
        if r.doc_id == 0 and r.start > seam_reach
    }
    # the first stable chunk may be MERGED into the seam chunk of the
    # edited doc (its opening boundary could differ) — all later ones
    # must survive
    missing = stable - fps1
    assert len(missing) <= 1, (sorted(missing), sorted(fps1))
    assert fps0 & fps1 or not stable


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.lists(words, min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.34, 0.5, 0.75, 1.0]),
)
def test_incremental_prefix_matches_bruteforce(spark, data, threshold):
    """The incremental prefix join must equal plain-Python brute force
    over every (new, corpus) pair — the exactness that separates it
    from the LSH-discovered incremental variant (which misses pairs
    with banding probability)."""
    from dax_ppdb_spark.llm.dedup import incremental_jaccard_prefix

    docs = [(i, t) for i, t in enumerate(data)]
    new = [(i, t) for i, t in docs if i % 2 == 0]
    old = [(i, t) for i, t in docs if i % 2 == 1]
    n = 2
    got = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in incremental_jaccard_prefix(
            spark.createDataFrame(new, "doc_id LONG, text STRING"),
            spark.createDataFrame(old, "doc_id LONG, text STRING"),
            n=n,
            threshold=threshold,
        ).collect()
    }

    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    want = set()
    for i, ta in new:
        a = sh(ta)
        if not a:
            continue
        for j, tb in old:
            b = sh(tb)
            if not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                want.add((i, j, jac))
    assert got == want


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.lists(
            st.sampled_from(["ab", "abc", "bca", "cab", "aab", "bc"]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
def test_bpe_merges_match_bruteforce(spark, data, n_merges):
    """Plain-Python replay of the training loop: word-frequency vocab,
    weighted pair counts with self-pairs excluded, (count desc, lhs,
    rhs) argmax, greedy position-local application — the full merge
    table must match row for row, including early stop."""
    from dax_ppdb_spark.llm.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in bpe_learn_merges(docs, n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]

    vocab: dict[tuple, int] = {}
    for t in data:
        for w in t.split():
            k = tuple(w)
            vocab[k] = vocab.get(k, 0) + 1
    want = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple, int] = {}
        for s, freq in vocab.items():
            for i in range(len(s) - 1):
                if s[i] != s[i + 1]:
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + freq
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, a + b, cnt))
        new_vocab: dict[tuple, int] = {}
        for s, freq in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + freq
        vocab = new_vocab
    assert got == want


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.lists(
            st.sampled_from(["ab", "abc", "bca", "cab", "aab", "bc", "cba"]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(min_value=1, max_value=6),
    batch=st.integers(min_value=1, max_value=3),
)
def test_bpe_batched_matches_bruteforce(spark, data, n_merges, batch):
    """Plain-Python replay of the BATCHED rule: per round, the top
    8*batch pairs by (count desc, lhs, rhs) feed an ordered greedy
    selection of <= batch symbol-disjoint pairs, all applied in one
    position-local pass; exactly ceil(n/batch) rounds; output
    truncated to n_merges.  batch=1 degenerates to sequential BPE."""
    import math

    from dax_ppdb_spark.llm.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in bpe_learn_merges(docs, n_merges=n_merges, batch_size=batch)
        .orderBy("rank")
        .collect()
    ]

    vocab: dict[tuple, int] = {}
    for t in data:
        for w in t.split():
            k = tuple(w)
            vocab[k] = vocab.get(k, 0) + 1
    want = []
    for _ in range(math.ceil(n_merges / batch)):
        if len(want) >= n_merges:
            break
        counts: dict[tuple, int] = {}
        for s, freq in vocab.items():
            for i in range(len(s) - 1):
                if s[i] != s[i + 1]:
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + freq
        if not counts:
            break
        cand = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: 8 * batch]
        used: set = set()
        sel = []
        for (a, b), cnt in cand:
            if len(sel) >= batch:
                break
            if a in used or b in used:
                continue
            used.add(a)
            used.add(b)
            sel.append((a, b, cnt))
        if not sel:
            break
        for a, b, cnt in sel:
            want.append((len(want) + 1, a, b, a + b, cnt))
        pairset = {(a, b) for a, b, _ in sel}
        new_vocab: dict[tuple, int] = {}
        for s, freq in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) in pairset:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + freq
        vocab = new_vocab
    assert got == want[:n_merges]


def test_bpe_local_and_distributed_lanes_equal(spark, monkeypatch):
    """The driver-local BPE fast path (vocab fits the limit-probe
    collect) must be row-identical to the distributed training loop —
    merges AND the fully-merged vocabulary — on a corpus with ties,
    repeated words, batching, and an early-stopping word."""
    from dax_ppdb_spark.llm import text as text_mod

    data = [
        "abab abab cdcd",
        "abab cdcd cdcd efef",
        "ab cd ef gh gh",
        "x",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )

    def run(with_vocab):
        out = {}
        for batch in (1, 3):
            m, v = text_mod.bpe_learn_merges(
                docs, n_merges=5, batch_size=batch, _with_vocab=True
            )
            out[batch] = (
                [tuple(r) for r in m.orderBy("rank").collect()],
                sorted(
                    (r["w"], r["freq"], tuple(r["s"])) for r in v.collect()
                ),
            )
        return out

    local = run(True)
    monkeypatch.setattr(text_mod, "BPE_LOCAL_VOCAB_ROWS", 0)
    dist = run(True)
    assert local == dist
    assert local[1][0]  # non-degenerate: merges were actually learned


@settings(**SETTINGS)
@given(
    threshold=st.floats(min_value=0.3, max_value=0.95),
    target=st.floats(min_value=0.5, max_value=0.995),
    max_k=st.integers(min_value=4, max_value=24),
)
def test_minhash_params_meet_target_recall(threshold, target, max_k):
    """The derived (k, bands) must satisfy the S-curve recall model at
    the threshold it was derived for, stay inside the hash budget, and
    have maximal midpoint: no feasible parameterization with a higher
    precision midpoint exists within the budget."""
    from dax_ppdb_spark.llm.dedup import (
        minhash_params_for_recall,
        minhash_recall,
    )

    try:
        k, bands = minhash_params_for_recall(threshold, target, max_k=max_k)
    except ValueError:
        # infeasible budget: even rows=1 with every band must miss
        rows1_bands = max_k
        assert minhash_recall(threshold, rows1_bands, rows1_bands) < target
        return
    assert k <= max_k and k % bands == 0
    assert minhash_recall(threshold, k, bands) >= target
    rows = k // bands
    midpoint = (1.0 / bands) ** (1.0 / rows)
    # maximality: any (rows', bands') within budget meeting the target
    # has midpoint <= ours
    import math

    for rows2 in range(1, max_k + 1):
        p = threshold**rows2
        if p >= 1.0:
            continue
        bands2 = max(math.ceil(math.log(1 - target) / math.log(1 - p)), 1)
        if rows2 * bands2 > max_k:
            continue
        assert (1.0 / bands2) ** (1.0 / rows2) <= midpoint + 1e-12


def test_minhash_registered_banding_is_recall_derived():
    """The registered discovery banding (k=8, 4 bands x 2 rows) IS the
    inversion of the S-curve for 97% at Jaccard 0.8 in an 8-hash
    budget — pinning that the query's parameters stay derived, not
    hand-tuned."""
    from dax_ppdb_spark.llm.dedup import (
        minhash_params_for_recall,
        minhash_recall,
    )

    assert minhash_params_for_recall(0.8, 0.97, max_k=8) == (8, 4)
    assert minhash_recall(0.8, 8, 4) >= 0.97


@settings(**SETTINGS)
@given(
    count=st.integers(min_value=1, max_value=10**9),
    threshold=st.floats(min_value=0.5, max_value=0.99),
    target=st.floats(min_value=0.5, max_value=0.995),
)
def test_auto_bands_target_recall_model_bound(count, threshold, target):
    """Recall-derived sign-LSH banding: the returned band count B must
    satisfy the hyperplane model 1-(1-q^p)^B >= target (q = 1 -
    acos(t)/pi, p the corpus-scaled plane count), be minimal (B-1
    misses the target), and every band must keep p distinct axes."""
    import math

    from dax_ppdb_spark.llm.dedup import auto_bands

    dim = 64
    bands = auto_bands(dim, count, target_recall=target, threshold=threshold)
    p = len(bands[0])
    q = 1.0 - math.acos(threshold) / math.pi
    per = q**p
    B = len(bands)
    assert 1.0 - (1.0 - per) ** B >= target - 1e-12
    if B > 1:
        assert 1.0 - (1.0 - per) ** (B - 1) < target
    for band in bands:
        assert len(set(band)) == p
        assert all(1 <= a <= dim for a in band)


@settings(**SETTINGS)
@given(
    data=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    ),
    buckets=st.sampled_from([2, 4, 8]),
)
def test_column_histograms_matches_ansi_disc_replay(spark, data, buckets):
    """Plain-Python ANSI PERCENTILE_DISC replay: cuts are the smallest
    values whose CDF reaches i/buckets; bucket(v) counts cuts < v;
    per-bucket (lo, hi, n) from the raw data must match the engine
    exactly — including duplicate-heavy and constant inputs."""
    from dax_ppdb_spark.ops.stats import column_histograms

    vals = sorted(float(x) for x in data)
    n = len(vals)
    cuts = []
    for i in range(1, buckets):
        p = i / buckets
        # smallest value with cum >= p*n (1-based ranks)
        import math as _m

        rank = _m.ceil(p * n) if p * n != int(p * n) else int(p * n)
        cuts.append(vals[max(rank, 1) - 1])
    expect: dict[int, list[float]] = {}
    for v in vals:
        b = sum(1 for c in cuts if v > c)
        expect.setdefault(b, []).append(v)
    df = spark.createDataFrame([(float(x),) for x in data], "x DOUBLE")
    got = {
        r.bucket: (r.lo, r.hi, r.n_rows)
        for r in column_histograms(df, ["x"], buckets=buckets).collect()
    }
    assert got == {
        b: (min(vs), max(vs), len(vs)) for b, vs in expect.items()
    }


@settings(**SETTINGS)
@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=30
    ),
    window=st.sampled_from([3, 5, 8]),
)
def test_rowcount_anomalies_matches_python_z(spark, counts, window):
    """Plain-Python replay of the trailing-z: for every point, the
    window is the previous `window` counts (excluding itself); z is
    defined iff >= min_history points exist and their sample variance
    is positive; is_anomaly is never None and matches |z| > 3."""
    from dax_ppdb_spark.ops.stats import rowcount_anomalies

    min_history = 2
    df = spark.createDataFrame(
        list(enumerate(counts)), "bucket_id LONG, n_rows LONG"
    )
    out = {
        r.bucket_id: (r.z, r.is_anomaly)
        for r in rowcount_anomalies(
            df, "bucket_id", window=window, min_history=min_history
        ).collect()
    }
    for i, v in enumerate(counts):
        hist = counts[max(0, i - window) : i]
        k = len(hist)
        z = None
        if k >= min_history:
            s = sum(hist)
            ss = sum(x * x for x in hist)
            var = (float(ss) - float(s) * float(s) / k) / (k - 1)
            if var > 0:
                sd = var ** 0.5
                z = round((v - float(s) / k) / sd, 6)
        assert out[i][0] == z, (i, v, hist)
        assert out[i][1] == (z is not None and abs(z) > 3.0)
        assert out[i][1] is not None


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(seed=st.integers(0, 10**6))
def test_exactsubstr_cutoff_straddle(spark, seed):
    """Docs straddling _CHAR_ARRAY_CUTOFF (the substring-vs-char-array
    routing bound) produce identical spans/removal to a brute-force
    replay — the two build lanes must be value-identical at and
    around the switch, including multi-byte chars in the long lane."""
    import random

    from dax_ppdb_spark.llm.dedup import (
        _CHAR_ARRAY_CUTOFF,
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    rng = random.Random(seed)
    alpha = "abcdé𝄞 "
    run = "".join(rng.choice(alpha) for _ in range(60))  # shared dup run
    data = []
    for n in (
        _CHAR_ARRAY_CUTOFF - 40,
        _CHAR_ARRAY_CUTOFF - 1,
        _CHAR_ARRAY_CUTOFF,
        _CHAR_ARRAY_CUTOFF + 40,
    ):
        body = "".join(rng.choice(alpha) for _ in range(n - 120))
        cut = rng.randrange(len(body))
        data.append(body[:cut] + run + body[cut:] + run)
    L = 30
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id LONG, text STRING"
    )
    occ: dict[str, int] = {}
    for t in data:
        for j in range(len(t) - L + 1):
            occ[t[j : j + L]] = occ.get(t[j : j + L], 0) + 1
    exp_spans = set()
    exp_clean = {}
    for i, t in enumerate(data):
        dup = [j for j in range(len(t) - L + 1) if occ[t[j : j + L]] >= 2]
        covered = [False] * len(t)
        run_start = prev = None
        for j in dup + [None]:
            if j is not None:
                for c in range(j, j + L):
                    covered[c] = True
            if j is not None and prev is not None and j == prev + 1:
                prev = j
                continue
            if run_start is not None:
                exp_spans.add((i, run_start + 1, prev - run_start + L))
            run_start = prev = j
        exp_clean[i] = (
            "".join(ch for ch, cv in zip(t, covered) if not cv),
            len(t),
            sum(covered),
        )
    got_spans = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_substring_spans(docs, min_len=L).collect()
    }
    assert got_spans == exp_spans
    got_clean = {
        r.doc_id: (r.cleaned, r.n_chars, r.n_removed)
        for r in remove_duplicate_substrings(docs, min_len=L).collect()
    }
    assert got_clean == exp_clean


def _semdedup_reference(emb, tier, threshold, max_cell, **kw):
    """SemDeDup rebuilt from the interpreted primitives: centroid
    training, :func:`assign_cells` (flat) or :func:`assign_cells` +
    :func:`with_canonical_residual` + :func:`assign_cells_multi`
    (two-level), a groupBy-count occupancy cap, and a ``_pair_cosine``
    self-join on the cell id."""
    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.similarity import (
        _pair_cosine,
        assign_cells,
        assign_cells_multi,
        dot,
        kmeans_centroids,
        two_level_centroids,
        with_canonical_residual,
    )

    v = F.col("embedding").cast("array<double>")
    e = emb.select(F.col("vec_id").alias("id"), v.alias("v"))
    if tier == "flat":
        cents = kmeans_centroids(emb, kw["n_clusters"], 3)
        assigned = assign_cells(e, cents)
    else:
        cents1, cents2 = two_level_centroids(emb, kw["n_coarse"], kw["n_fine"], 3)
        c1df = emb.sparkSession.createDataFrame(
            list(enumerate(cents1)), "cid1 INT, __c1 array<double>"
        )
        res = with_canonical_residual(
            assign_cells(e, cents1, out_col="cid1").join(F.broadcast(c1df), "cid1"),
            F.zip_with("v", "__c1", lambda a, b: a - b),
            "r",
        )
        assigned = assign_cells_multi(
            res, cents2, kw["probes"], vec_col="r", out_col="cid2"
        ).withColumn("cid", F.col("cid1") * kw["n_fine"] + F.col("cid2"))
    ok = assigned.groupBy("cid").count().filter(F.col("count") <= max_cell)
    scored = (
        assigned.join(ok.select("cid"), "cid")
        .select("cid", "id", "v")
        .withColumn("n2", dot(F.col("v"), F.col("v")))
    )
    a = scored.toDF("cid", "vec_a", "va", "n2a")
    b = scored.toDF("cid", "vec_b", "vb", "n2b")
    pairs = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", _pair_cosine("va", "vb", "n2a", "n2b"))
        .filter(F.col("cosine") >= threshold)
    )
    if tier == "flat":
        return pairs.select("cid", "vec_a", "vec_b", "cosine")
    return pairs.select("vec_a", "vec_b", "cosine").distinct()


def _semdedup_against_reference(spark, cases):
    """Run both SemDeDup tiers on each ``(rows, threshold, max_cell,
    flat_kw, two_kw)`` case at 50-row Arrow batches and assert each is
    non-empty and row-identical to :func:`_semdedup_reference`;
    returns the sorted rows keyed by ``(case index, tier)``."""
    from dax_ppdb_spark.llm import embeddings as E

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "50")
    try:
        got = {}
        for n, (rows, t, cap, flat_kw, two_kw) in enumerate(cases):
            emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
            two_kw = dict(two_kw, probes=2)
            runs = {
                "flat": E.semdedup_pairs(emb, t, max_cell=cap, **flat_kw),
                "two": E.semdedup_pairs_two_level(
                    emb, threshold=t, max_cell=cap, **two_kw
                ),
            }
            for tier, df in runs.items():
                ref = _semdedup_reference(emb, tier, t, cap, **flat_kw, **two_kw)
                want = sorted(tuple(r) for r in ref.collect())
                got[n, tier] = sorted(tuple(r) for r in df.collect())
                assert got[n, tier], (n, tier)  # non-degenerate: pairs found
                assert got[n, tier] == want, (n, tier)
        return got
    finally:
        spark.conf.set(conf, prev)


def test_semdedup_arrow_and_interpreted_lanes_equal(spark):
    """The one SemDeDup shape (Arrow assignment + streamed grouped
    Arrow pair stage) must be row-identical to the same pipeline built
    from the interpreted primitives — both tiers, on data with
    abs-ties, duplicate vectors (cosine exactly 1), sign-flipped twins
    (canonicalization) and near-threshold pairs.  (A zero-NORM vector
    is outside the embedding-table contract: the reference raises ANSI
    divide-by-zero on its pairs.)"""
    adversarial = []
    for i in range(40):
        base = [((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]
        adversarial.append((i, [float(x) for x in base]))
    adversarial.append((101, adversarial[3][1][:]))  # exact duplicate of id 3
    adversarial.append((102, [-x for x in adversarial[5][1]]))  # sign-flipped
    got = _semdedup_against_reference(
        spark,
        [(adversarial, 0.2, 1000, dict(n_clusters=5), dict(n_coarse=4, n_fine=4))],
    )
    # the duplicate pair survives with cosine exactly 1.0
    assert any(r[1:] == (3, 101, 1.0) for r in got[0, "flat"])


def test_semdedup_arrow_pair_lane_respects_cell_cap(spark):
    """The Arrow pair stage must drop every cell over ``max_cell`` and
    keep the rest, equal to the interpreted reference's groupBy-count
    cap, both tiers: on 30 rows under a binding ``max_cell=8``, and on
    a hot cell of 300 identical vectors streamed in 50-row batches,
    which must be capped out while the pair outside it survives."""
    from dax_ppdb_spark.llm import embeddings as E

    capped = [(i, [float((i * 5 + d) % 7) for d in range(4)]) for i in range(30)]
    # ids 0-2 seed the Lloyd init; (0, 1) is the only pair outside the
    # hot cell, whose 300 members would give 44,850 pairs uncapped
    hot = [(0, [0.0, 0.0, 5.0, -1.0]), (1, [0.0, 0.0, 5.0, -1.1])]
    hot += [(2, [-3.0, 1.0, 0.0, 0.0])]
    hot += [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(3, 303)]
    got = _semdedup_against_reference(
        spark,
        [
            (capped, 0.0, 8, dict(n_clusters=3), dict(n_coarse=3, n_fine=3)),
            (hot, 0.9, 100, dict(n_clusters=3), dict(n_coarse=2, n_fine=2)),
        ],
    )
    # the hot cell is capped out; only the pair outside it is left
    for tier in ("flat", "two"):
        assert [r[-3:-1] for r in got[1, tier]] == [(0, 1)], tier
    emb = spark.createDataFrame(hot, "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert E.semdedup_pairs(emb, 0.9, n_clusters=3).count() == 44851


def test_round6_half_up_matches_spark_round(spark):
    """The pair stage's rounding must equal Spark's ``round(x, 6)`` on
    doubles bit for bit: the three inputs where exact-binary rounding
    differs from Spark's, 5e-07, and random 7-decimal midpoints with
    their one-ulp neighbours (where a non-shortest JVM
    ``Double.toString`` would show up)."""
    import random

    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.similarity import _round6_half_up

    rng = random.Random(7)
    xs = [0.7071065, 0.1234565, 0.5000005, 5e-07]
    for _ in range(3000):
        k = rng.randrange(10**7)
        sign = -1.0 if rng.random() < 0.2 else 1.0
        mid = sign * float(f"{k // 10**6}.{k % 10**6:06d}5")
        xs += [mid, math.nextafter(mid, math.inf), math.nextafter(mid, -math.inf)]
    df = spark.createDataFrame(list(enumerate(xs)), "i INT, x DOUBLE")
    got = dict(df.select("i", F.round("x", 6)).collect())
    bad = [(x, got[i]) for i, x in enumerate(xs) if got[i] != _round6_half_up(x)]
    assert not bad, bad[:5]
    assert [got[i] for i in range(4)] == [0.707107, 0.123457, 0.500001, 1e-06]
