"""Unit tests for the LLM-data operators (dedup / similarity / text /
multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dax_ppdb_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from dax_ppdb_spark.llm.multimodal import (
    decode_features,
    decode_real,
    documents_as_media,
    sample_frames,
)
from dax_ppdb_spark.llm.similarity import topk_bruteforce
from dax_ppdb_spark.llm.text import doc_fingerprint, language_id, token_count


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_exact_dedup(spark):
    docs = _docs(spark, ["a b c", "a b c", "x y z"])
    out = {r.keep_id: r.n_docs for r in exact_dedup(docs).collect()}
    assert out == {0: 2, 2: 1}


def test_ngram_jaccard_identical_and_disjoint(spark):
    docs = _docs(spark, ["a b c d e", "a b c d e", "p q r s t"])
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs == {(0, 1): 1.0}


def test_minhash_lsh_finds_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    docs = _docs(spark, [base, near, "completely different words everywhere around here now"])
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


def test_simhash_identical_docs_equal(spark):
    docs = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "omega psi chi"])
    vals = [r.s for r in docs.select(simhash(F.col("text")).alias("s")).collect()]
    assert vals[0] == vals[1]
    assert vals[0] != vals[2]
    assert all(0 <= v < 2**16 for v in vals)


def test_language_id_markers(spark):
    docs = _docs(
        spark,
        [
            "the cat sat on the mat and it is warm",
            "der hund und die katze das ist gut",
            "le chien et la maison est grande",
            "zzz qqq www",
        ],
    )
    out = [r.lang for r in docs.select(language_id(F.col("text")).alias("lang")).collect()]
    assert out == ["en", "de", "fr", "unk"]


def test_fingerprint_order_sensitive(spark):
    docs = _docs(spark, ["a b c", "c b a", "a b c"])
    fps = [r.fp for r in docs.select(doc_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_token_count_whitespace_robust(spark):
    docs = _docs(spark, ["  a   b  c ", "", "one"])
    out = [r.n for r in docs.select(token_count(F.col("text")).alias("n")).collect()]
    assert out == [3, 0, 1]


def test_topk_bruteforce_ranks_self_similar_first(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = topk_bruteforce(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [2, 3, 4]
    assert out[0].cosine <= 1.0


def test_multimodal_decode_features(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "web", 11), (3, "abc", "en", "web", 3)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    media = documents_as_media(docs)
    feats = {r.media_id: r for r in decode_features(media).collect()}
    assert feats[1].n_bytes == 11
    assert len(feats[1].features) == 8
    assert abs(sum(feats[1].features) - 1.0) < 1e-9  # normalized histogram
    assert feats[3].media_type == "video"  # doc_id % 3 == 0


def test_multimodal_frame_sample(spark):
    docs = spark.createDataFrame(
        [(3, "x" * 250, "en", "web", 250)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    media = documents_as_media(docs)  # duration = 2500 ms
    frames = sample_frames(media, every_ms=1000).collect()
    assert sorted(r.frame_ts_ms for r in frames) == [0, 1000, 2000]


def test_decode_real_rejects_undecodable_payload():
    # non-media bytes with no PIL installed: the stdlib tier only
    # handles PNG/WAV, anything else raises (real decode paths are
    # pinned in tests/test_codecs.py)
    with pytest.raises(NotImplementedError):
        decode_real(b"bytes", "image")


def test_bpe_token_count_known_values(spark):
    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.text import bpe_token_count, bpe_tokens

    df = spark.createDataFrame(
        [(1, "hello, world! 42"), (2, ""), (3, "internationalization")],
        "doc_id LONG, text STRING",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            bpe_tokens(F.col("text")).alias("pieces"),
            bpe_token_count(F.col("text")).alias("n"),
        ).collect()
    }
    # "hello" "," "world" "!" "42" -> 5 pieces, all short -> 5 tokens
    assert rows[1].pieces == ["hello", ",", "world", "!", "42"]
    assert rows[1].n == 5
    assert rows[2].n == 0
    # 20-char word costs 1 + floor(19/6) = 4 tokens
    assert rows[3].n == 4


def test_hash_split_deterministic_and_weighted(spark):
    from dax_ppdb_spark.llm.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df)
    counts = {r.split: r.n for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > 1600  # ~90% of 2000
    # determinism: same assignment on re-run and on a superset
    again = {r.doc_id: r.split for r in hash_split(df).collect()}
    superset = {r.doc_id: r.split for r in hash_split(
        spark.range(0, 4000).withColumnRenamed("id", "doc_id")).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert again == first
    assert all(superset[k] == v for k, v in first.items())


def test_stratified_sample_rates(spark):
    from dax_ppdb_spark.llm.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    kept = stratified_sample(df, rates={"en": 0.25, "de": 1.0})
    counts = {r.lang: r.n for r in kept.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert counts["de"] == 1000  # rate 1.0 keeps everything
    assert 150 < counts["en"] < 350  # ~25% of 1000


def test_pack_shards_budget(spark):
    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, "s", 30) for i in range(10)], "doc_id LONG, source STRING, n LONG"
    )
    out = pack_shards(df, size_col="n", shard_tokens=100, partition_cols=("source",))
    shards = {r.doc_id: r.shard_id for r in out.collect()}
    # 30 tokens each, budget 100 -> docs 0-3 shard 0 (prefix 0,30,60,90), 4-6 shard 1, ...
    assert [shards[i] for i in range(10)] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    # an oversized doc occupies its own shard without splitting
    big = spark.createDataFrame(
        [(1, "s", 500), (2, "s", 10)], "doc_id LONG, source STRING, n LONG"
    )
    out2 = {r.doc_id: r.shard_id for r in pack_shards(
        big, size_col="n", shard_tokens=100, partition_cols=("source",)).collect()}
    assert out2[1] == 0 and out2[2] == 5


def test_multiprobe_recall_dominates_single_probe(spark):
    from dax_ppdb_spark.llm.similarity import (
        topk_bruteforce,
        topk_bucketed,
        topk_multiprobe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(emb.vec_id < 5)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(topk_bruteforce(emb, q, k=5))
    single = pairs(topk_bucketed(emb, q, k=5))
    multi = pairs(topk_multiprobe(emb, q, k=5))
    # multi-probe must recover at least the single-probe answers' recall
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) > 0


def test_hot_shingle_and_bucket_caps(spark):
    from dax_ppdb_spark.llm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    # 6 docs sharing only a boilerplate footer + one true near-dup pair
    footer = "standard footer text here"
    rows = [(i, f"unique content number {i} " + footer) for i in range(6)]
    rows += [(10, "the quick brown fox jumps over the lazy dog"),
             (11, "the quick brown fox jumps over the lazy cat")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    uncapped = ngram_jaccard_pairs(docs, threshold=0.1)
    capped = ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=3)
    assert capped.count() < uncapped.count()
    # the true near-dup pair survives the cap (rare shingles link it)
    assert capped.filter("doc_a = 10 AND doc_b = 11").count() == 1

    pairs_capped = minhash_lsh_pairs(docs, max_bucket=3)
    got = {(r.doc_a, r.doc_b) for r in pairs_capped.collect()}
    assert (10, 11) in got


def test_embedding_neardup_recall_and_cap(spark):
    """Sign-bucket prefilter: results must be an exact-cosine subset of
    brute force, recall must not decrease with fewer planes (coarser
    buckets = more candidates), and the bucket cap must bound the pair
    expansion without losing everything."""
    from dax_ppdb_spark.llm.dedup import (
        axis_planes,
        banded_axis_planes,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    # brute force: every pair, no bucket filter (1 plane -> 2 buckets is
    # not brute force; use a cross-join threshold reference instead)
    from dax_ppdb_spark.llm.similarity import cosine_similarity

    v = F.col("embedding").cast("array<double>")
    e = emb.select(F.col("vec_id").alias("id"), v.alias("v"))
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= 0.3)
    )
    exact = pairs(brute)
    assert exact  # sanity: the fixture has near-dup pairs at 0.3

    coarse = pairs(embedding_neardup_pairs(emb, threshold=0.3, sign_dims=axis_planes(64, 4)))
    fine = pairs(embedding_neardup_pairs(emb, threshold=0.3, sign_dims=axis_planes(64, 8)))
    assert coarse <= exact and fine <= exact  # prefilter never invents pairs
    assert fine <= coarse  # more planes only splits buckets

    # A single band misses pairs straddling any plane (recall ~ p^k);
    # OR-over-bands is the recall knob: 1-(1-p^k)^L.  Floor pinned on
    # the banded variant.
    banded = pairs(
        embedding_neardup_pairs(
            emb, threshold=0.3, bands=banded_axis_planes(64, 4, 8)
        )
    )
    assert banded <= exact  # banding never invents pairs either
    assert len(banded) > len(coarse)  # more bands = strictly more recall here
    assert len(banded) >= len(exact) // 2  # recall floor at 4 planes x 8 bands

    capped = pairs(
        embedding_neardup_pairs(
            emb, threshold=0.3, sign_dims=axis_planes(64, 4), max_bucket=8
        )
    )
    assert capped <= coarse

    with pytest.raises(ValueError):
        axis_planes(64, 0)


def test_embedding_neardup_id_pred_restriction(spark):
    """id_pred must equal post-filtering the unrestricted output on
    both pair ids — bucketing and the occupancy cap still see the full
    corpus (a bucket over the cap drops SAMPLE pairs too)."""
    from dax_ppdb_spark.llm.dedup import banded_axis_planes, embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bands = banded_axis_planes(64, 4, 8)
    key = lambda df: sorted((r.id_a, r.id_b, r.cosine) for r in df.collect())

    full = embedding_neardup_pairs(emb, threshold=0.3, bands=bands)
    want = key(full.filter((F.col("id_a") < 40) & (F.col("id_b") < 40)))
    got = key(
        embedding_neardup_pairs(
            emb, threshold=0.3, bands=bands, id_pred=lambda c: c < 40
        )
    )
    assert got == want and want  # non-trivial and identical

    # full-corpus cap semantics: a cap below the sample's bucket size
    # must drop the same pairs in both formulations
    capped_want = key(
        embedding_neardup_pairs(
            emb, threshold=0.3, bands=bands, max_bucket=12
        ).filter((F.col("id_a") < 40) & (F.col("id_b") < 40))
    )
    capped_got = key(
        embedding_neardup_pairs(
            emb, threshold=0.3, bands=bands, max_bucket=12,
            id_pred=lambda c: c < 40,
        )
    )
    assert capped_got == capped_want


def test_resize_images_plumbing(spark):
    from dax_ppdb_spark.llm.multimodal import resize_images

    docs = spark.createDataFrame(
        [(1, "x" * 100, "en", "web", 100), (2, "y" * 100, "en", "web", 100)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    media = documents_as_media(docs)  # doc 1 -> image, doc 2 -> audio
    out = {r.media_id: r for r in resize_images(media, 320, 240).collect()}
    img = out[1]
    assert (img.meta_width, img.meta_height) == (320, 240)
    # fake resize scales payload by pixel ratio: (320*240)/(640*480) = 0.25
    assert len(img.payload) == 25
    audio = out[2]  # untouched passthrough
    assert (audio.meta_width, audio.meta_height) == (640, 480)
    assert len(audio.payload) == 100


def test_kmeans_ivf_deterministic_and_sane(spark):
    from dax_ppdb_spark.llm.similarity import (
        kmeans_centroids,
        topk_bruteforce,
        topk_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = kmeans_centroids(emb, n_clusters=4, iters=2)
    c2 = kmeans_centroids(emb, n_clusters=4, iters=2)
    assert c1 == c2  # bit-identical across runs
    assert len(c1) == 4 and all(len(c) == len(c1[0]) for c in c1)

    q = emb.filter(emb.vec_id < 5)
    approx = topk_kmeans(emb, q, k=5, n_clusters=4, iters=2)
    rows = approx.collect()
    assert len(rows) == 25  # 5 queries x top-5
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    exact = {(r.query_id, r.neighbor_id) for r in topk_bruteforce(emb, q, k=5).collect()}
    hits = sum((r.query_id, r.neighbor_id) in exact for r in rows)
    assert hits > 0  # learned cells recover some exact neighbors
    for qid, rs in per_q.items():
        cos = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert cos == sorted(cos, reverse=True)


def test_decontamination_flags_leaked_docs(spark):
    from dax_ppdb_spark.llm.dedup import contaminated_docs

    bench = spark.createDataFrame(
        [(100, "the capital of france is paris indeed")],
        "doc_id LONG, text STRING",
    )
    docs = spark.createDataFrame(
        [
            (1, "we know the capital of france is paris so the answer leaks"),
            (2, "completely unrelated text about astronomy and telescopes here"),
            (3, "short"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.n_hits for r in contaminated_docs(docs, bench, n=5).collect()}
    assert 1 in out and out[1] >= 1  # leaked doc flagged
    assert 2 not in out and 3 not in out


def test_repetition_ratio_values(spark):
    from dax_ppdb_spark.llm.text import repetition_ratio

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "all words here differ"), (3, "hi"), (4, "")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.r for r in df.select("doc_id", repetition_ratio(F.col("text")).alias("r")).collect()}
    assert out[1] == 0.5  # bigrams: {a b, b a} x2 -> 2 distinct of 4
    assert out[2] == 0.0  # no repeated bigram
    assert out[3] == 0.0 and out[4] == 0.0  # too short -> defined as 0


def test_redact_pii_masks_and_counts(spark):
    from dax_ppdb_spark.llm.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server 192.168.0.1 port"),
            (3, "call +1 (415) 555-0199 today"),
            (4, "all three: a@b.co 10.0.0.7 +44 20 7946 0958 ."),
            (5, "nothing here"),
        ],
        "doc_id LONG, text STRING",
    )
    red, n = redact_pii(F.col("text"))
    out = {r.doc_id: (r.red, r.n) for r in df.select("doc_id", red.alias("red"), n.alias("n")).collect()}
    assert out[1] == ("mail [EMAIL] now", 1)
    assert out[2] == ("server [IPV4] port", 1)
    assert out[3] == ("call [PHONE] today", 1)
    assert out[4] == ("all three: [EMAIL] [IPV4] [PHONE] .", 3)
    assert out[5] == ("nothing here", 0)


def test_chunk_documents_windows_and_tail(spark):
    from dax_ppdb_spark.llm.sampling import chunk_documents

    toks = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
    df = spark.createDataFrame([(1, toks), (2, ""), (3, "one two")],
                               "doc_id LONG, text STRING")
    out = chunk_documents(df, max_tokens=4, overlap=1)  # stride 3
    rows = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out.collect()}
    assert rows[(1, 0)] == ("t1 t2 t3 t4", 4)
    assert rows[(1, 1)] == ("t4 t5 t6 t7", 4)
    assert rows[(1, 2)] == ("t7 t8 t9 t10", 4)
    assert rows[(1, 3)] == ("t10", 1)  # tail kept, never dropped
    assert (2, 0) not in rows  # empty doc -> no chunks
    assert rows[(3, 0)] == ("one two", 2)
    assert len(rows) == 5

    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4).collect()


def test_verified_neardup_is_candidates_intersect_exact(spark):
    """Composition contract: verified pairs == (LSH candidates) that
    also pass the exact Jaccard threshold — no false positives survive,
    and nothing outside the candidate set appears."""
    from dax_ppdb_spark.llm.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        verified_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = _docs(spark, [
        base,
        base.replace("today", "tomorrow"),             # near-dup of 0
        base.replace("quick brown", "slow green"),     # weaker overlap
        "completely different words everywhere around here now",
    ])
    cand = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in verified_neardup_pairs(docs).collect()}
    assert got == (cand & exact)
    assert (0, 1) in got
    for r in verified_neardup_pairs(docs).collect():
        assert r.jaccard >= 0.5


def test_unigram_logprob_orders_docs_by_rarity(spark):
    import math

    from dax_ppdb_spark.llm.text import unigram_logprob_score

    docs = _docs(spark, [
        "common common common common",   # all high-frequency tokens
        "common rareword",               # one rare token drags it down
    ])
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob_score(docs).collect()}
    assert out[0] > out[1]
    # corpus: common x5, rareword x1 -> p(common)=5/6
    assert math.isclose(out[0], math.log(5 / 6), rel_tol=1e-12)
    assert math.isclose(out[1], (math.log(5 / 6) + math.log(1 / 6)) / 2, rel_tol=1e-12)


def test_skew_caps_degenerate_corpus_completes(spark):
    """Default-on skew caps: a corpus where every doc is identical
    boilerplate puts ALL docs in one shingle/band/bucket.  With the cap
    active the degenerate key is dropped outright (O(cap^2) bounded),
    the queries complete, and exact dedup still collapses the corpus.
    """
    n = 40
    docs = _docs(spark, ["the same boilerplate text repeated everywhere always"] * n)

    # cap below the bucket size -> the hot key is dropped, zero pairs
    assert minhash_lsh_pairs(docs, max_bucket=n - 1).count() == 0
    assert ngram_jaccard_pairs(docs, max_doc_freq=n - 1).count() == 0
    # cap above -> full quadratic expansion within the single bucket
    assert minhash_lsh_pairs(docs, max_bucket=n).count() == n * (n - 1) // 2
    # exact dedup (the right tool for identical docs) still collapses
    row = exact_dedup(docs).collect()
    assert len(row) == 1 and row[0].n_docs == n


def test_embedding_cap_drops_degenerate_bucket(spark):
    from dax_ppdb_spark.llm.dedup import embedding_neardup_pairs

    n = 20
    emb = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(n)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    assert embedding_neardup_pairs(emb, threshold=0.9, max_bucket=n - 1).count() == 0
    assert (
        embedding_neardup_pairs(emb, threshold=0.9, max_bucket=n).count()
        == n * (n - 1) // 2
    )


def test_unigram_logprob_oov_bucket_pools_rare_tokens(spark):
    import math

    from dax_ppdb_spark.llm.text import unigram_logprob_score

    # corpus: common x4, rare1 x1, rare2 x1 -> Z=6; with min_count=2
    # both rare tokens pool into one OOV bucket with n_oov=2.
    docs = _docs(spark, ["common common common common", "rare1 rare2"])
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob_score(docs).collect()}
    assert math.isclose(out[0], math.log(4 / 6), rel_tol=1e-12)
    assert math.isclose(out[1], math.log(2 / 6), rel_tol=1e-12)
    # min_count=1 disables the prune: exact hapax probabilities
    exact = {
        r.doc_id: r.avg_logprob
        for r in unigram_logprob_score(docs, min_count=1).collect()
    }
    assert math.isclose(exact[1], math.log(1 / 6), rel_tol=1e-12)


def test_kmeans_sampled_training_deterministic(spark):
    from dax_ppdb_spark.llm.similarity import kmeans_centroids, topk_kmeans

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    full = kmeans_centroids(emb, n_clusters=4, iters=2)
    half_a = kmeans_centroids(emb, n_clusters=4, iters=2, sample_mod=2)
    half_b = kmeans_centroids(emb, n_clusters=4, iters=2, sample_mod=2)
    assert half_a == half_b          # hash sample -> bit-identical reruns
    assert len(half_a) == 4 and all(len(c) == 8 for c in half_a)
    assert half_a != full            # the sample actually changed training
    out = topk_kmeans(emb, emb.filter("vec_id < 3"), k=3, n_clusters=4, sample_mod=2)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    assert all(1 <= r.rank <= 3 for r in rows)


def test_incremental_neardup_batch_vs_corpus(spark):
    from dax_ppdb_spark.llm.dedup import incremental_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = _docs(spark, [base,
                           "completely different words everywhere around here now"])
    new = spark.createDataFrame(
        [
            (10, base.replace("today", "tomorrow")),   # near-dup of corpus 0
            (11, base.replace("today", "tomorrow")),   # identical to 10 (in-batch dup)
            (12, "a wholly novel document about something else entirely ok"),
        ],
        "doc_id LONG, text STRING",
    )
    out = incremental_neardup_pairs(new, corpus).collect()
    pairs = {(r.new_id, r.corpus_id) for r in out}
    # both near-dup batch docs hit corpus doc 0; the novel doc is absent,
    # and in-batch duplicates (10,11) are NOT reported — batch-internal
    # dedup is the self-join operator's job.
    assert pairs == {(10, 0), (11, 0)}
    assert all(r.jaccard >= 0.5 for r in out)


def test_gopher_flags_rules(spark):
    """Rule boundaries: a long clean doc passes, a short doc fails
    word count, a symbol-heavy doc fails the symbol ratio."""
    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.text import gopher_flags

    good = "the of state " + " ".join(f"word{i}" for i in range(60))
    short = "the of tiny text"
    symbols = "the of " + " ".join(["### ..."] * 30) + " " + " ".join(
        f"word{i}" for i in range(60)
    )
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "id LONG, text STRING"
    )
    g = gopher_flags(F.col("text"))
    rows = {r.id: r for r in df.select("id", *[v.alias(k) for k, v in g.items()]).collect()}
    assert rows[1].keep is True
    assert rows[2].keep is False and rows[2].ok_words is False
    assert rows[3].keep is False and rows[3].ok_symbols is False
    assert rows[1].n_stop_kinds >= 2


def test_top_ngrams_deterministic_order(spark):
    from pyspark.sql import functions as F

    from dax_ppdb_spark.llm.text import ngrams, tokens

    df = spark.createDataFrame(
        [("a b a b c",), ("a b z z",)], "text STRING"
    )
    grams = df.select(F.explode(ngrams(tokens(F.col("text")), 2)).alias("gram"))
    top = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram").limit(3).collect()
    )
    # 'a b' x3; then count-1 grams in lexical order: 'b a' before 'b c'
    assert [(r.gram, r.n) for r in top] == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_dedup_keep_best_picks_quality_argmax(spark):
    """Representative = highest quality in the cluster (min id on
    ties), singletons keep themselves with n_docs=1."""
    from dax_ppdb_spark.llm_queries import q_dedup_keep_best  # noqa: F401  (shape checked via selfcheck)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    assigned = spark.createDataFrame(
        [(1, 10, 0.5), (2, 10, 0.9), (3, 10, 0.9), (4, 4, 0.1)],
        "doc_id LONG, cluster_id LONG, q DOUBLE",
    )
    w = Window.partitionBy("cluster_id")
    ranked = assigned.withColumn(
        "rn", F.row_number().over(w.orderBy(F.desc("q"), "doc_id"))
    ).withColumn("n_docs", F.count(F.lit(1)).over(w))
    out = {r.cluster_id: (r.doc_id, r.n_docs) for r in ranked.filter("rn = 1").collect()}
    assert out == {10: (2, 3), 4: (4, 1)}


def test_quantize_int8_known_values(spark):
    from dax_ppdb_spark.llm.embeddings import quantize_int8

    emb = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    rows = {r.vec_id: r for r in quantize_int8(emb).collect()}
    # scale = 1/127; codes = [127, -64 (half-up: -63.5 -> -63), 32, 0]
    r0 = rows[0]
    assert r0.dim == 4
    assert abs(r0.scale - 1.0 / 127) < 1e-6
    assert r0.qnorm_sq == 127 * 127 + 63 * 63 + 32 * 32
    assert r0.rmse < 0.005  # reconstruction error bounded by scale/2
    # all-zero vector: scale 0, zero codes, zero error
    r1 = rows[1]
    assert r1.scale == 0.0 and r1.qnorm_sq == 0 and r1.rmse == 0.0


def test_duplicated_span_stats_runs_and_fracs(spark):
    from dax_ppdb_spark.llm.dedup import duplicated_span_stats

    shared = "one two three four five six seven eight"  # 8 toks, 4 5-gram positions
    docs = _docs(
        spark,
        [
            shared + " unique0 tail0 here0 now0 end0",
            shared + " unique1 tail1 here1 now1 end1",
            "totally different words with no overlap at all anywhere",
        ],
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs, n=5).collect()}
    # docs 0/1: 13 tokens -> 9 positions; positions 0..3 are the shared
    # 5-grams (a 4-long run), the rest are unique.
    for d in (0, 1):
        assert out[d].n_grams == 9
        assert out[d].n_dup == 4
        assert out[d].max_run == 4
        assert abs(out[d].dup_frac - 4 / 9) < 1e-6
    assert out[2].n_dup == 0 and out[2].max_run == 0 and out[2].dup_frac == 0.0


def test_duplicate_substring_spans_exactsubstr_semantics(spark):
    from dax_ppdb_spark.llm.dedup import duplicate_substring_spans

    shared = "0123456789abcdefghij"  # 20 chars, shared across docs 0/1
    docs = _docs(
        spark,
        [
            shared + "-first-unique-tail-here",
            "lead-in!" + shared + "+second-unique-ending",
            # self-repetition inside ONE doc must count (occurrence
            # multiplicity, not distinct docs — the ExactSubstr rule)
            "zqxwvutsrqponmlkjihg" * 2 + "@@trailer-no-match@@",
            "short",  # sub-L doc: no positions, no crash
        ],
    )
    out = duplicate_substring_spans(docs, min_len=10).collect()
    spans = {(r.doc_id, r.span_start, r.span_len) for r in out}
    # docs 0/1: every 10-char window inside the 20-char shared run is
    # duplicated -> ONE maximal span of exactly the shared region
    assert (0, 1, 20) in spans
    assert (1, 9, 20) in spans
    # doc 2: the doubled 20-char run t+t — windows fully inside either
    # copy occur twice WITHIN the doc (positions 1..11 match 21..31),
    # but windows STRADDLING the copy boundary (12..20) are unique
    # (t is aperiodic and the second copy ends at the trailer), so the
    # two copies surface as two exact 20-char spans, not one 40-char
    # span — precisely ExactSubstr's answer for a 2x repeat.
    assert (2, 1, 20) in spans
    assert (2, 21, 20) in spans
    assert not any(r.doc_id == 3 for r in out)
    # maximality is over POSITION islands (runs of duplicated window
    # offsets): two spans of one doc may abut in char space (doc 2's
    # copies touch) but their position runs must leave a gap, else the
    # island merge failed to fuse them
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_len))
    for sp in by_doc.values():
        sp.sort()
        for (s1, l1), (s2, _) in zip(sp, sp[1:]):
            run1 = l1 - 10 + 1  # positions s1 .. s1+run1-1
            assert s1 + run1 < s2, "adjacent position runs not merged"


def test_remove_duplicate_substrings_exact_rebuild(spark):
    from dax_ppdb_spark.llm.dedup import remove_duplicate_substrings

    shared = "0123456789abcdefghij"  # 20 chars
    docs = _docs(
        spark,
        [
            shared + " kept-tail  with   spacing!",
            "prefix>" + shared + "<suffix",
            "no duplicated content in this one at all",
            "",
        ],
    )
    out = {r.doc_id: r for r in remove_duplicate_substrings(docs, min_len=10).collect()}
    # the shared 20-char run is excised everywhere; the remainder is
    # rebuilt EXACTLY (char-level — double spaces survive, unlike the
    # token variant's whitespace normalization)
    assert out[0].cleaned == " kept-tail  with   spacing!"
    assert out[0].n_removed == 20
    assert out[1].cleaned == "prefix><suffix"
    assert out[1].n_removed == 20
    # untouched doc: byte-identical round-trip, zero removed
    assert out[2].cleaned == docs.collect()[2].text and out[2].n_removed == 0
    # empty doc: total output, empty rebuild
    assert out[3].cleaned == "" and out[3].n_chars == 0 and out[3].n_removed == 0


def test_semdedup_flat_default_swaps_to_two_level(spark, monkeypatch):
    """Above SEMDEDUP_FLAT_MAX_ROWS the flat query must route to the
    two-level quantizer — bit-identical rows to `semdedup` — and its
    lazily-resolved oracle must switch to the two-level SQL with it."""
    import dax_ppdb_spark.llm_queries as lq
    from dax_ppdb_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(lq, "SEMDEDUP_FLAT_MAX_ROWS", 1)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf)
    qs = driver_queries.all_queries()
    flat = qs["semdedup_flat"](spark, sf)
    two = qs["semdedup"](spark, sf)
    assert flat.columns == two.columns == ["vec_a", "vec_b", "cosine"]
    assert flat.exceptAll(two).isEmpty() and two.exceptAll(flat).isEmpty()
    assert lq._semdedup_flat_sql() == lq._semdedup_sql()
    # below the bound the flat lane (and its flat oracle) stay put
    monkeypatch.setattr(lq, "SEMDEDUP_FLAT_MAX_ROWS", 10_000)
    assert qs["semdedup_flat"](spark, sf).columns == ["vec_a", "vec_b", "cosine"]
    assert lq._semdedup_flat_sql() != lq._semdedup_sql()


def test_dsir_weights_prefer_target_like_docs(spark):
    from dax_ppdb_spark.llm.sampling import dsir_logweights

    target = ["alpha beta gamma delta epsilon"] * 4
    other = ["uno dos tres cuatro cinco"] * 4
    rows = [(i, t, i < 4) for i, t in enumerate(target + other)]
    # a held-out doc in each style, not in the target set
    rows.append((100, "alpha beta gamma delta epsilon", False))
    rows.append((101, "uno dos tres cuatro cinco", False))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, is_t BOOLEAN")
    w = {
        r.doc_id: r.dsir_logweight
        for r in dsir_logweights(docs, F.col("is_t")).collect()
    }
    # target-style docs must outscore the off-target style
    assert w[100] > w[101]
    assert min(w[i] for i in range(4)) > max(w[i] for i in range(4, 8))


def test_semdedup_finds_in_cell_pairs_and_caps_cells(spark):
    from dax_ppdb_spark.llm.embeddings import (
        auto_semdedup_clusters,
        semdedup_pairs,
    )

    # two tight clusters far apart + one isolated vector
    base_a = [1.0, 0.0, 0.0, 0.0]
    base_b = [0.0, 1.0, 0.0, 0.0]
    vecs = [
        (0, base_a),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, base_b),
        (3, [0.01, 0.99, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
        (6, [0.5, 0.5, 0.5, 0.5]),
        (7, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in semdedup_pairs(emb, threshold=0.9, n_clusters=4).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (2, 3) in pairs
    assert all(4 not in p and 5 not in p for p in pairs)
    # cap: with max_cell=1, every cell is degenerate -> no pairs
    assert (
        semdedup_pairs(emb, threshold=0.9, n_clusters=4, max_cell=1).count() == 0
    )
    # the cap is a required bound: an uncapped cell would be unbounded
    for bad in (None, 0, -5):
        with pytest.raises(ValueError, match="max_cell"):
            semdedup_pairs(emb, threshold=0.9, n_clusters=4, max_cell=bad)
    # an empty training sample (no centroids) yields a typed empty result
    one_row = emb.filter("vec_id = 0")
    empty = semdedup_pairs(one_row, n_clusters=4, sample_mod=1000003)
    assert empty.columns == ["cid", "vec_a", "vec_b", "cosine"]
    assert [f.dataType.simpleString() for f in empty.schema] == [
        "int", "bigint", "bigint", "double"
    ]
    assert empty.count() == 0
    # the corpus-derived cluster-count rule
    assert auto_semdedup_clusters(500) == 23
    assert auto_semdedup_clusters(4) == 8
    assert auto_semdedup_clusters(10**9) > 31_000


def test_tfidf_keywords_rank_rare_terms_first(spark):
    from dax_ppdb_spark.llm.text import tfidf_topk

    docs = _docs(
        spark,
        [
            "common common common rare0",
            "common unique1 unique1",
            "common filler other words",
        ],
    )
    out = tfidf_topk(docs, k=2).collect()
    top = {r.doc_id: r.token for r in out if r.rank == 1}
    # 'common' appears in every doc -> idf 0 -> never a top keyword
    assert top[0] == "rare0"
    assert top[1] == "unique1"
    assert all(r.token != "common" or r.tfidf == 0.0 for r in out)


def test_exact_stratified_k_counts_and_determinism(spark):
    from dax_ppdb_spark.llm.sampling import exact_stratified_k

    rows = [(i, "a" if i < 50 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = exact_stratified_k(df, ["lang"], k=10)
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    # full stratum capped at k; small stratum (10 rows) kept whole
    assert counts == {"a": 10, "b": 10}
    # deterministic: same ids on a re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in exact_stratified_k(df, ["lang"], k=10).collect())
    assert ids1 == ids2


def test_edit_verified_pairs_scores_small_edits_high(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorow")
    docs = _docs(spark, [base, near, "completely different words everywhere around here now"])
    from dax_ppdb_spark.llm.dedup import edit_verified_pairs

    pairs = {(r.doc_a, r.doc_b): r.edit_sim
             for r in edit_verified_pairs(docs, threshold=0.4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.85
    assert all(2 not in p for p in pairs)


def test_source_overlap_counts_shared_shingles(spark):
    rows = [
        (0, "srcA", "one two three four"),
        (1, "srcB", "one two three nine"),   # shares "one two three"
        (2, "srcC", "ten eleven twelve thirteen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    from dax_ppdb_spark.llm.dedup import source_overlap_matrix

    out = {(r.source_a, r.source_b): r.n_shared
           for r in source_overlap_matrix(docs, n=3).collect()}
    assert out == {("srcA", "srcB"): 1}


def test_source_overlap_cap_drops_universal_shingle(spark):
    rows = [(i, f"src{i}", "common shingle here") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    from dax_ppdb_spark.llm.dedup import source_overlap_matrix

    assert source_overlap_matrix(docs, n=3, max_sources=3).count() == 0
    assert source_overlap_matrix(docs, n=3, max_sources=None).count() == 6


def test_remove_duplicated_spans_drops_covered_tokens(spark):
    from dax_ppdb_spark.llm.dedup import remove_duplicated_spans

    shared = "one two three four five six seven eight"  # 8 toks
    docs = _docs(
        spark,
        [
            shared + " uniq0a uniq0b uniq0c uniq0d uniq0e",
            shared + " uniq1a uniq1b uniq1c uniq1d uniq1e",
            "totally different words with no overlap at all anywhere",
        ],
    )
    out = {r.doc_id: r for r in remove_duplicated_spans(docs, n=5).collect()}
    # shared 5-gram positions 0..3 cover tokens 0..7 -> the whole
    # shared prefix is dropped, the unique tail survives
    for d in (0, 1):
        assert out[d].cleaned == f"uniq{d}a uniq{d}b uniq{d}c uniq{d}d uniq{d}e"
        assert out[d].n_tokens == 13 and out[d].n_removed == 8
    assert out[2].n_removed == 0
    assert out[2].cleaned.startswith("totally different")
    # full-duplicate docs clean to empty
    twins = _docs(spark, ["a b c d e f", "a b c d e f"])
    got = remove_duplicated_spans(twins, n=5).collect()
    assert all(r.cleaned == "" and r.n_removed == 6 for r in got)


def test_token_budget_mixture_greedy_and_two_phase_agree(spark):
    from dax_ppdb_spark.llm.sampling import token_budget_mixture

    rows = [(i, f"src{i % 3}", 10 + (i % 7)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    budgets = {"src0": 150, "src1": 40}  # src2 absent -> dropped
    simple = token_budget_mixture(df, budgets, coarse_buckets=0)
    phased = token_budget_mixture(df, budgets, coarse_buckets=8)
    ids_simple = sorted(r.doc_id for r in simple.collect())
    ids_phased = sorted(r.doc_id for r in phased.collect())
    # Both plans implement the identical greedy order.
    assert ids_simple == ids_phased
    got = {r.source for r in simple.collect()}
    assert "src2" not in got
    # Greedy semantics: every source's EXCLUSIVE prefix stays under
    # budget, so total-per-source < budget + max_doc_size.
    per = {
        r.source: r.tot
        for r in simple.groupBy("source").agg(F.sum("n_chars").alias("tot")).collect()
    }
    assert per["src0"] < 150 + 17 and per["src0"] >= 150
    assert per["src1"] < 40 + 17 and per["src1"] >= 40


def test_token_budget_mixture_oversized_budget_keeps_all(spark):
    from dax_ppdb_spark.llm.sampling import token_budget_mixture

    rows = [(i, "a", 5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = token_budget_mixture(df, {"a": 10_000}, coarse_buckets=4)
    assert out.count() == 10


def test_perplexity_buckets_balanced_tiers(spark):
    from dax_ppdb_spark.llm.text import perplexity_buckets

    # 12 docs, one lang: common-token docs score high (head), docs made
    # of hapax tokens collapse to OOV (tail).
    rows = [(i, "the the the the the the", "en") for i in range(8)]
    rows += [(100 + i, f"zzqx{i}a zzqx{i}b zzqx{i}c", "en") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(df, n_buckets=3).collect()
    assert len(out) == 12
    tiers = {r.tier for r in out}
    assert tiers == {1, 2, 3}
    by_tier = {t: [r for r in out if r.tier == t] for t in tiers}
    # NTILE(3) over 12 rows: 4 per tier.
    assert {len(v) for v in by_tier.values()} == {4}
    # Every OOV-only doc scores below every common-token doc.
    assert all(r.doc_id >= 100 for r in by_tier[3])
    assert all(r.tier_name == "head" for r in by_tier[1])
    assert all(r.tier_name == "middle" for r in by_tier[2])
    assert all(r.tier_name == "tail" for r in by_tier[3])


def test_leak_safe_split_keeps_clusters_together(spark):
    from dax_ppdb_spark.llm.dedup import verified_neardup_pairs
    from dax_ppdb_spark.llm.sampling import hash_split
    from dax_ppdb_spark.ops.graph import connected_components

    # Three exact-duplicate families (certain near-dup pairs) plus
    # singletons; ids spread out so per-doc hashes would scatter them.
    rows = []
    for fam in range(3):
        for j in range(4):
            rows.append((fam * 1000 + j * 7, f"family {fam} shared text body repeated tokens {fam}", "en"))
    rows += [(90000 + i, f"unique singleton text number {i} with its own words {i}", "en") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = verified_neardup_pairs(docs, k=8, bands=4, n=3, threshold=0.5)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    keyed = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("split_key")
    )
    out = hash_split(keyed, id_col="split_key").collect()
    by_fam = {}
    for r in out:
        if r.doc_id < 90000:
            by_fam.setdefault(r.doc_id // 1000, set()).add(r.split)
    # Every near-dup family lands in exactly one split.
    assert all(len(s) == 1 for s in by_fam.values()), by_fam
    # Singletons keep the plain per-doc assignment (split_key == id).
    singles = {r.doc_id: (r.split_key, r.split) for r in out if r.doc_id >= 90000}
    plain = {
        r.doc_id: r.split
        for r in hash_split(
            docs.filter(F.col("doc_id") >= 90000).select("doc_id")
        ).collect()
    }
    for did, (key, split) in singles.items():
        assert key == did
        assert split == plain[did]


def test_semdedup_two_level_pairs_and_rule(spark):
    from dax_ppdb_spark.llm.embeddings import (
        auto_semdedup_levels,
        semdedup_pairs_two_level,
    )

    # base directions FIRST (they seed the lowest-id Lloyd init),
    # near-dups after: (0, 4) is the centroid-STRADDLE case — their
    # residuals are ~opposite vectors, which only the sign
    # canonicalization keeps in one fine cell.
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [0.98, 0.04, 0.0, 0.0]),
        (5, [0.04, 0.98, 0.0, 0.0]),
        (6, [0.5, 0.5, 0.5, 0.5]),
        (7, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in semdedup_pairs_two_level(
            emb, n_coarse=4, n_fine=4, threshold=0.9
        ).collect()
    }
    # near-identical vectors share the coarse AND the residual cell
    assert (0, 4) in pairs and pairs[(0, 4)] > 0.98
    assert (1, 5) in pairs
    assert all(2 not in p and 3 not in p for p in pairs)
    # cap: with max_cell=1, every product cell is degenerate
    assert (
        semdedup_pairs_two_level(
            emb, n_coarse=4, n_fine=4, threshold=0.9, max_cell=1
        ).count()
        == 0
    )
    for bad in (None, 0, -5):
        with pytest.raises(ValueError, match="max_cell"):
            semdedup_pairs_two_level(emb, 4, 4, threshold=0.9, max_cell=bad)
    one_row = emb.filter("vec_id = 0")
    empty = semdedup_pairs_two_level(one_row, 4, 4, sample_mod=1000003)
    assert empty.columns == ["vec_a", "vec_b", "cosine"]
    assert [f.dataType.simpleString() for f in empty.schema] == [
        "bigint", "bigint", "double"
    ]
    assert empty.count() == 0
    # the corpus-derived two-level rule: k1 = k2 = max(4, N^(1/4))
    assert auto_semdedup_levels(2000) == (7, 7)
    assert auto_semdedup_levels(4) == (4, 4)
    k1, k2 = auto_semdedup_levels(10**9)
    assert k1 == k2 and 170 <= k1 <= 185


def test_kmeans_local_matches_distributed(spark):
    """The driver-local Lloyd fast path must reproduce the distributed
    DataFrame loop's centroids exactly — the assignment arithmetic is
    bit-replayed (sequential per-dim accumulation, first-wins argmin)
    and the round-6 means absorb summation-order ulps."""
    from dax_ppdb_spark.llm import similarity as sim

    vecs = [
        (i, [((i * 7 + d * 3) % 11) / 10.0 - 0.5 for d in range(6)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    local = sim.kmeans_centroids(emb, n_clusters=4, iters=2)
    orig = sim.LOCAL_TRAIN_ROWS
    sim.LOCAL_TRAIN_ROWS = 0  # force the distributed loop
    try:
        dist = sim.kmeans_centroids(emb, n_clusters=4, iters=2)
    finally:
        sim.LOCAL_TRAIN_ROWS = orig
    assert local == dist


def test_two_level_centroids_local_matches_distributed(spark):
    from dax_ppdb_spark.llm import similarity as sim

    vecs = [
        (i, [((i * 5 + d * 7) % 13) / 12.0 - 0.5 for d in range(5)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    local = sim.two_level_centroids(emb, n_coarse=3, n_fine=3, iters=2)
    orig = sim.LOCAL_TRAIN_ROWS
    sim.LOCAL_TRAIN_ROWS = 0
    try:
        dist = sim.two_level_centroids(emb, n_coarse=3, n_fine=3, iters=2)
    finally:
        sim.LOCAL_TRAIN_ROWS = orig
    assert local == dist


def test_ivf_sq8_matches_exact_on_separated_clusters(spark):
    """SQ8 quantization error (<0.8% of max|x|) must not change the
    ranking for well-separated vectors, and zero vectors reconstruct
    to zero without dividing by the zero scale."""
    from dax_ppdb_spark.llm.similarity import (
        sq8_reconstructed,
        topk_ivf_sq8,
        topk_kmeans,
    )

    # zero vector: reconstructs to zeros without dividing by the zero
    # scale (cosine scoring shares every top-k variant's nonzero-input
    # contract, so the degenerate case is pinned on the encoder alone)
    z = spark.createDataFrame([([0.0] * 4,)], "v array<double>")
    assert z.select(sq8_reconstructed(F.col("v")).alias("r")).first().r == [0.0] * 4

    vecs = [
        (i, [((i * 7 + d * 3) % 11) / 10.0 - 0.5 for d in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter("vec_id < 3")
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_kmeans(emb, q, k=3, n_clusters=4, iters=2).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_ivf_sq8(emb, q, k=3, n_clusters=4, iters=2).collect()
    }
    # same cells (same quantizer) -> same candidates; SQ8 noise may
    # permute near-ties but the top-1 neighbor must agree
    for qid in (0, 1, 2):
        assert approx[(qid, 1)] == exact[(qid, 1)]
    assert set(approx) == set(exact)


def test_url_normalization_rules(spark):
    from dax_ppdb_spark.llm.urls import (
        normalize_url,
        url_dedup,
        url_host,
        url_registered_domain,
    )

    cases = [
        # case/www/default-port/fragment/tracking-param/trailing-slash
        (1, "HTTPS://WWW.Docs.Example.COM:443/a/b/?utm_source=x&q=1#top"),
        (2, "https://docs.example.com/a/b?q=1"),
        # http default port; params order preserved; ref dropped
        (3, "http://site.org:80/p?b=2&ref=abc&a=1"),
        # no query, root path collapses
        (4, "https://site.org/"),
        # non-default port kept; utm in the middle dropped
        (5, "https://site.org:8443/x?utm_campaign=z&k=v"),
    ]
    df = spark.createDataFrame(cases, "doc_id LONG, url STRING")
    out = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", normalize_url(F.col("url")).alias("n")
        ).collect()
    }
    assert out[1] == out[2] == "https://docs.example.com/a/b?q=1"
    assert out[3] == "http://site.org/p?b=2&a=1"
    assert out[4] == "https://site.org"
    assert out[5] == "https://site.org:8443/x?k=v"

    hosts = {
        r.doc_id: (r.h, r.d)
        for r in df.select(
            "doc_id",
            url_host(F.col("url")).alias("h"),
            url_registered_domain(F.col("url")).alias("d"),
        ).collect()
    }
    assert hosts[1] == ("www.docs.example.com:443", "example.com")
    assert hosts[5] == ("site.org:8443", "site.org")

    dd = {r.norm_url: (r.keep_id, r.n_docs) for r in url_dedup(df).collect()}
    assert dd["https://docs.example.com/a/b?q=1"] == (1, 2)
    assert len(dd) == 4


def test_sequence_pack_invariants(spark):
    """Spans tile every sequence exactly (last may be short), cover
    every document completely and in order, and the two-phase bucketed
    cumsum reproduces the single-window layout exactly."""
    from dax_ppdb_spark.llm.sampling import sequence_pack

    rows = [(i, 1 + (i * 13) % 40) for i in range(60)] + [(99, 0)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tokens INT")
    L = 32
    out = sequence_pack(df, seq_len=L, coarse_buckets=0).collect()
    assert all(r.doc_id != 99 for r in out)  # zero-token doc dropped

    # per-sequence: spans tile [0, L) contiguously
    by_seq: dict[int, list] = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append(r)
    total = sum(n for _, n in rows)
    for sid, spans in by_seq.items():
        spans.sort(key=lambda r: r.seq_off)
        pos = 0
        for s in spans:
            assert s.seq_off == pos
            assert s.doc_to > s.doc_from
            pos += s.doc_to - s.doc_from
        expect = L if sid < max(by_seq) else total - L * sid
        assert pos == expect
    assert set(by_seq) == set(range((total + L - 1) // L))

    # per-document: slices cover [0, n) contiguously across sequences
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    sizes = dict(rows)
    for did, spans in by_doc.items():
        spans.sort(key=lambda r: r.seq_id)
        pos = 0
        for s in spans:
            assert s.doc_from == pos
            pos = s.doc_to
        assert pos == sizes[did]

    # two-phase == single-window, exactly
    two = sequence_pack(df, seq_len=L, coarse_buckets=7).collect()
    key = lambda r: (r.seq_id, r.doc_id, r.doc_from, r.doc_to, r.seq_off)
    assert sorted(map(key, two)) == sorted(map(key, out))


def test_filter_blocked_domains(spark):
    from dax_ppdb_spark.llm.urls import filter_blocked_domains

    docs = spark.createDataFrame(
        [
            (1, "https://www.bad.org/x"),
            (2, "https://docs.bad.org:8443/y"),
            (3, "https://good.org/z"),
            (4, "no-scheme-string"),
            (5, "https://bad.org./w"),  # trailing root-dot FQDN form
        ],
        "doc_id LONG, url STRING",
    )
    bl = spark.createDataFrame([("bad.org",)], "domain STRING")
    kept = sorted(r.doc_id for r in filter_blocked_domains(docs, bl).collect())
    # subdomain, port, and trailing-root-dot variants of bad.org are
    # blocked; schemeless strings have an empty domain and pass through
    assert kept == [3, 4]


def test_filter_blocked_domains_subdomain_scoped(spark):
    """A blocklist entry deeper than two labels must match exactly the
    subtree it names (suffix at label boundaries) — a registered-domain
    equi-match silently no-ops for such entries, turning the safety
    gate into a hole."""
    from dax_ppdb_spark.llm.urls import filter_blocked_domains

    docs = spark.createDataFrame(
        [
            (1, "https://docs.example.com/a"),       # the named subtree
            (2, "https://a.docs.example.com/b"),     # deeper subdomain
            (3, "https://example.com/c"),            # parent: NOT blocked
            (4, "https://www.example.com/d"),        # sibling: NOT blocked
            (5, "https://xdocs.example.com/e"),      # boundary: NOT blocked
            (6, "https://DOCS.Example.com/f"),       # case-insensitive host
        ],
        "doc_id LONG, url STRING",
    )
    bl = spark.createDataFrame([("docs.example.com",)], "domain STRING")
    kept = sorted(r.doc_id for r in filter_blocked_domains(docs, bl).collect())
    assert kept == [3, 4, 5]


def test_clean_text_rules(spark):
    from dax_ppdb_spark.llm.text import clean_text

    cases = [
        (1, "“hello” ‘world’"),
        (2, "a b​c"),
        (3, "  x \t\n y\x01z  "),
        (4, "en–dash em—dash"),
        (5, ""),
    ]
    df = spark.createDataFrame(cases, "doc_id LONG, text STRING")
    out = {
        r.doc_id: r.c
        for r in df.select("doc_id", clean_text(F.col("text")).alias("c")).collect()
    }
    assert out[1] == "\"hello\" 'world'"
    assert out[2] == "a bc"  # NBSP -> space, zero-width removed
    assert out[3] == "x y z"  # control char -> space, runs collapsed, trimmed
    assert out[4] == "en-dash em-dash"
    assert out[5] == ""


def test_pca_whiten_identity_covariance(spark):
    """Whitened embeddings have ~identity covariance on the kept axes,
    the transform is deterministic, and k truncates."""
    import numpy as np

    from dax_ppdb_spark.llm.embeddings import pca_whiten

    rows = [
        (i, [((i * 7 + d * 3) % 11) / 10.0 + (d % 3) * 0.5 for d in range(6)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = pca_whiten(emb, k=4)
    W = np.array([r.whitened for r in out.orderBy("vec_id").collect()])
    assert W.shape == (50, 4)
    cov = np.cov(W.T, bias=True)
    assert np.allclose(cov, np.eye(4), atol=1e-4)
    W2 = np.array(
        [r.whitened for r in pca_whiten(emb, k=4).orderBy("vec_id").collect()]
    )
    assert np.array_equal(W, W2)


def test_dedup_paragraphs_keep_first_semantics(spark):
    """Boilerplate paragraph survives only in the lowest-id doc;
    unique paragraphs always survive; order is preserved; a doc made
    entirely of duplicated paragraphs cleans to empty; intra-doc
    repeats with df==1 survive."""
    from dax_ppdb_spark.llm.dedup import dedup_paragraphs

    boiler = "subscribe now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta\n\n{boiler}\n\ngamma"),
            (2, f"{boiler}\n\ndelta"),
            (3, boiler),                       # all-dup -> empty
            (4, "solo\n\nsolo"),               # intra-doc repeat, df=1
            (5, "one\n\n\n\ntwo\n\n  \n\nthree"),  # ragged seps, blank para
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert rows[1].cleaned == f"alpha beta\n\n{boiler}\n\ngamma"
    assert rows[1].n_removed == 0
    assert rows[2].cleaned == "delta" and rows[2].n_removed == 1
    assert rows[3].cleaned == "" and rows[3].n_removed == 1
    assert rows[3].n_paragraphs == 1
    assert rows[4].cleaned == "solo\n\nsolo" and rows[4].n_removed == 0
    assert rows[5].cleaned == "one\n\ntwo\n\nthree"
    assert rows[5].n_paragraphs == 3  # whitespace-only para dropped


def test_ann_persisted_index_matches_per_call_chain(spark, tmp_path):
    """build_ivf_sq8_index + topk_ivf_sq8_index must reproduce
    topk_ivf_sq8 bit for bit (same quantizer, codes, scoring), and a
    rebuild must be an atomic pointer swap (old generation retained
    under the table's versioning)."""
    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.llm.similarity import (
        build_ivf_sq8_index,
        topk_ivf_sq8,
        topk_ivf_sq8_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") < 4)
    root = str(tmp_path / "idx")

    build_ivf_sq8_index(emb, root, n_clusters=4)
    got = topk_ivf_sq8_index(spark, root, q, k=3).collect()
    want = topk_ivf_sq8(emb, q, k=3, n_clusters=4).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)
    assert sorted(map(key, got)) == sorted(map(key, want))

    # rebuild = atomic swap: same answers, new committed version
    import os

    t = ParquetTable(os.path.join(root, "index"))
    v1 = t.current_version()
    build_ivf_sq8_index(emb, root, n_clusters=4)
    assert t.current_version() != v1
    again = topk_ivf_sq8_index(spark, root, q, k=3).collect()
    assert sorted(map(key, again)) == sorted(map(key, want))


def test_ann_index_probe_guarded_distributed_lane(spark, tmp_path):
    """Forcing the query batch over the collect guard must switch both
    persisted-index probes to the distributed lane (query assignments
    persisted and equi-joined on cid — no driver serialization of the
    batch) while returning IDENTICAL rows and still pruning the index
    scan to the probed cid partitions."""
    from dax_ppdb_spark.llm.similarity import (
        build_ivf_pq_index,
        build_ivf_sq8_index,
        topk_ivf_pq_index,
        topk_ivf_sq8_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") < 6)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)

    sq8_root = str(tmp_path / "sq8")
    build_ivf_sq8_index(emb, sq8_root, n_clusters=4)
    fast = topk_ivf_sq8_index(spark, sq8_root, q, k=3)
    big = topk_ivf_sq8_index(
        spark, sq8_root, q, k=3, max_collect_queries=0
    )
    assert sorted(map(key, big.collect())) == sorted(map(key, fast.collect()))
    plan = big._jdf.queryExecution().executedPlan().toString()
    # distributed lane: the assignment survives as a persisted scan,
    # not a driver-collected LocalTableScan of query rows
    assert "InMemoryTableScan" in plan
    assert "PartitionFilters" in plan and "cid" in plan

    pq_root = str(tmp_path / "pq")
    build_ivf_pq_index(emb, pq_root, n_clusters=4, m=4, k_cb=8)
    fast_pq = topk_ivf_pq_index(spark, pq_root, q, k=3, probes=2)
    big_pq = topk_ivf_pq_index(
        spark, pq_root, q, k=3, probes=2, max_collect_queries=0
    )
    assert sorted(map(key, big_pq.collect())) == sorted(
        map(key, fast_pq.collect())
    )
    plan_pq = big_pq._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan_pq
    assert "PartitionFilters" in plan_pq


def test_ann_index_incremental_append(spark, tmp_path):
    """Appending new vectors must extend the persisted index without
    retraining: existing answers are unchanged where the new vectors
    don't win, new vectors are findable, and the result equals a
    per-call SQ8 run whose quantizer was trained on the ORIGINAL
    corpus only (the documented drift semantics)."""
    from dax_ppdb_spark.llm.similarity import (
        append_to_ivf_sq8_index,
        build_ivf_sq8_index,
        topk_ivf_sq8_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    root = str(tmp_path / "idx")
    build_ivf_sq8_index(emb, root, n_clusters=4)

    # a new vector identical to vec 1's embedding: must become its
    # top-1 neighbor after the append (same cell, cosine 1.0)
    twin = spark.createDataFrame(
        [(1000, rows[1][1])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    append_to_ivf_sq8_index(twin, root)
    q = emb.filter(F.col("vec_id") == 1)
    got = topk_ivf_sq8_index(spark, root, q, k=3).collect()
    # the corpus is periodic mod 11, so vecs 12, 23, 34, 45, 56 are
    # also exact twins of vec 1 — the appended twin must join them at
    # the maximal cosine (ids ascend within the tie)
    top = min(got, key=lambda r: r.rank)
    by_id = {r.neighbor_id: r for r in got}
    assert 1000 not in by_id or by_id[1000].cosine == top.cosine
    wider = topk_ivf_sq8_index(spark, root, q, k=10).collect()
    w_ids = {r.neighbor_id for r in wider}
    assert 1000 in w_ids
    assert {r.cosine for r in wider if r.neighbor_id in (12, 1000)} == {top.cosine}


def test_bigram_lm_score_backoff_semantics(spark):
    """Hand-checkable corpus: seen bigrams score c2/c1; pruned bigrams
    back off to alpha * pooled unigram; docs under two tokens are
    absent."""
    import math

    from dax_ppdb_spark.llm.text import bigram_logprob_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: (a,b) x2, (b,a) x1
            (2, "a b"),       # (a,b) again -> corpus c2(a,b)=3
            (3, "solo"),      # <2 tokens: no output row
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r.avg_bigram_logprob
            for r in bigram_logprob_score(docs, min_count=2).collect()}
    assert 3 not in rows and set(rows) == {1, 2}
    # corpus: a x3, b x3, solo x1(OOV). z=7, n_oov=1.
    # c2(a,b)=3 kept; c2(b,a)=1 pruned -> backoff alpha*P_uni(a)=0.4*3/7
    c1_a, c1_b = 3, 3
    lp_ab = math.log(3 / c1_a)
    lp_ba = math.log(0.4 * 3 / 7)
    assert abs(rows[2] - lp_ab) < 1e-12
    assert abs(rows[1] - (2 * lp_ab + 1 * lp_ba) / 3) < 1e-12


def test_corpus_divergence_semantics(spark):
    """Identical corpora diverge by exactly zero in every bucket;
    disjoint-vocabulary corpora produce strictly positive total JS;
    counts are exact."""
    from dax_ppdb_spark.llm.sampling import corpus_divergence

    a = _docs(spark, ["x y z", "x y"])
    same = corpus_divergence(a, a, n_buckets=64).collect()
    assert all(r.js_contrib == 0.0 for r in same)
    assert all(r.ca == r.cb for r in same)
    assert sum(r.ca for r in same) == 5

    b = _docs(spark, ["p q r", "p q"])
    diff = corpus_divergence(a, b, n_buckets=64).collect()
    assert sum(r.js_contrib for r in diff) > 0.01
    assert all(r.js_contrib >= 0.0 for r in diff)


def test_ann_persisted_index_multiprobe_recall(spark, tmp_path):
    """probes=2 reads one more cell per query and can only improve
    recall against the exact scan; each corpus vector lives in exactly
    one cell, so no (query, neighbor) pair duplicates across probes."""
    from dax_ppdb_spark.llm.similarity import (
        build_ivf_sq8_index,
        topk_bruteforce,
        topk_ivf_sq8_index,
    )

    rows = [
        (i, [float((i * 13 + j * 5) % 17) - 8.0 for j in range(8)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") < 6)
    root = str(tmp_path / "idx")
    build_ivf_sq8_index(emb, root, n_clusters=6)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_bruteforce(emb, q, k=5).collect()
    }

    def recall(probes):
        got = topk_ivf_sq8_index(spark, root, q, k=5, probes=probes).collect()
        pairs = [(r.query_id, r.neighbor_id) for r in got]
        assert len(pairs) == len(set(pairs))  # no duplicate pairs
        return len(set(pairs) & exact)

    assert recall(2) >= recall(1)


def test_ann_index_build_rejects_empty_corpus(spark, tmp_path):
    from dax_ppdb_spark.llm.similarity import build_ivf_sq8_index

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="empty"):
        build_ivf_sq8_index(empty, str(tmp_path / "idx"), n_clusters=4)


def test_pq_reconstruction_exact_when_codebook_covers(spark):
    """If each subspace takes values from exactly k_cb distinct
    patterns and the first k_cb corpus vectors enumerate them, the
    deterministic Lloyd init IS the pattern set, assignments are
    exact, and PQ reconstruction reproduces every vector bit-for-bit
    — pins codebook training, encoding, and concatenation order."""
    from dax_ppdb_spark.llm.similarity import pq_codebooks, pq_reconstruct

    pats = [[float(p)] * 4 for p in (1, 2, 3, 4)]  # per-subspace patterns
    rows = []
    # first 4 rows enumerate the patterns in both subspaces (init set)
    for i in range(4):
        rows.append((i, pats[i] + pats[i]))
    # the rest mix patterns across subspaces
    rows += [(4, pats[0] + pats[3]), (5, pats[2] + pats[1]), (6, pats[3] + pats[3])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = pq_codebooks(emb, m=2, k_cb=4, iters=2)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    got = {
        r.vec_id: r.rv for r in pq_reconstruct(emb, books, out_col="rv").collect()
    }
    for i, v in rows:
        assert got[i] == v, (i, got[i], v)


def test_pq_rejects_indivisible_dim_and_empty(spark):
    import pytest as _pytest

    from dax_ppdb_spark.llm.similarity import pq_codebooks

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=2)
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="empty"):
        pq_codebooks(empty, m=1)


def test_ivfpq_candidates_match_ivf_and_top1_survives(spark):
    """IVFPQ shares the coarse quantizer with the IVF probe, so its
    candidate cells are identical; residual-PQ reconstruction error
    may permute near-ties but must keep the top-1 neighbor on
    structured (pattern-built) vectors whose residuals the codebooks
    can represent exactly."""
    from dax_ppdb_spark.llm.similarity import topk_ivfpq, topk_kmeans

    vecs = [
        (i, [((i * 7 + d * 3) % 11) / 10.0 - 0.5 for d in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter("vec_id < 3")
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_kmeans(emb, q, k=3, n_clusters=4, iters=2).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_ivfpq(
            emb, q, k=3, n_clusters=4, m=2, k_cb=8, iters=2, pq_iters=2
        ).collect()
    }
    assert set(approx) == set(exact)  # same cells -> same candidate slots
    for qid in (0, 1, 2):
        assert approx[(qid, 1)] == exact[(qid, 1)]


def test_cdc_neardup_finds_prefixed_copy(spark):
    """End-to-end shift robustness: a document and its prefixed copy
    share (almost) all CDC chunk fingerprints and surface as a
    high-containment pair; unrelated text pairs with nothing.  The
    universal-chunk cap drops a fingerprint shared by every doc."""
    from dax_ppdb_spark.llm.dedup import cdc_neardup_pairs

    body = " ".join(f"word{i % 13} token{i % 7}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (0, body),
            (1, "INSERTED PREAMBLE 42! " + body),
            (2, "completely different content " * 30),
        ],
        "doc_id LONG, text STRING",
    )
    rows = cdc_neardup_pairs(docs, min_shared=2).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in pairs
    assert pairs[(0, 1)].containment > 0.8
    assert all({a, b} == {0, 1} for a, b in pairs)

    # cap: identical docs everywhere -> every fp has df == n -> dropped
    same = spark.createDataFrame(
        [(i, body) for i in range(5)], "doc_id LONG, text STRING"
    )
    assert cdc_neardup_pairs(same, min_shared=1, max_fp_df=4).count() == 0
    assert cdc_neardup_pairs(same, min_shared=1, max_fp_df=5).count() == 10


def test_bpe_piece_counts_fertility(spark):
    """Encoding under the learned merges: a corpus whose words fully
    merge reaches fertility 1.0; with zero merges fertility equals
    average word length (every char its own piece)."""
    from dax_ppdb_spark.llm.text import bpe_piece_counts

    docs = spark.createDataFrame(
        [(0, "ab ab ab cd"), (1, "ab cd")], "doc_id LONG, text STRING"
    )
    full = {r.doc_id: r for r in bpe_piece_counts(docs, n_merges=2).collect()}
    assert full[0].n_words == 4 and full[0].n_pieces == 4
    assert full[0].fertility == 1.0 and full[1].fertility == 1.0

    none = {r.doc_id: r for r in bpe_piece_counts(docs, n_merges=0).collect()}
    assert none[0].n_pieces == 8 and none[0].fertility == 2.0


def test_retention_cohorts_bruteforce(spark):
    """Plain replay on a hand-built event set: cohorts by first day,
    per-offset distinct-active fractions, offset-0 always 1.0."""
    from dax_ppdb_spark.ops.funnel import retention_cohorts

    day = 86_400_000_000
    rows = [
        # user 1: days 0, 1, 3   user 2: days 0, 1   user 3: day 1 only
        (1, 0), (1, day), (1, 3 * day), (1, day + 5),  # dup within day 1
        (2, 10), (2, day),
        (3, day),
    ]
    ev = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id LONG, ts_us LONG"
    )
    got = {
        (r.cohort_day, r.offset_days): (r.n_active, r.n_cohort, r.retention)
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        (0, 0): (2, 2, 1.0),
        (0, 1): (2, 2, 1.0),
        (0, 3): (1, 2, 0.5),
        (1, 0): (1, 1, 1.0),
    }


def test_prefix_join_finds_lsh_banding_misses(spark):
    """Executable witness for the exactness gap: a TRUE 0.82-Jaccard
    pair (9 of 11 trigrams shared) whose MinHash bands ALL differ —
    a ~1%-probability banding miss that the 40-variant sweep surfaces
    deterministically (md5-fixed: the same variant indices miss
    forever) — is invisible to the LSH tier but found by the lossless
    prefix join, the reason dedup_incr_prefix/dedup_recall exist."""
    from dax_ppdb_spark.llm.dedup import (
        banded_minhash_keys,
        incremental_jaccard_prefix,
        jaccard_prefix_pairs,
        minhash_lsh_pairs,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    variants = [(i, base.rsplit(" ", 1)[0] + f" zulu{i}") for i in range(1, 41)]
    docs = spark.createDataFrame(
        [(0, base)] + variants, "doc_id LONG, text STRING"
    )
    keys = banded_minhash_keys(docs).collect()
    base_keys = {(r.band, r.key) for r in keys if r.doc_id == 0}
    missed = sorted(
        {
            r.doc_id
            for r in keys
            if r.doc_id != 0
        }
        - {
            r.doc_id
            for r in keys
            if r.doc_id != 0 and (r.band, r.key) in base_keys
        }
    )
    assert missed, "expected ~10 banding misses among 40 s=0.54 variants"
    w = missed[0]
    pair = docs.filter(F.col("doc_id").isin([0, w]))
    assert minhash_lsh_pairs(pair).count() == 0  # LSH blind to the pair
    found = jaccard_prefix_pairs(pair, n=3, threshold=0.5).collect()
    assert len(found) == 1 and round(found[0].jaccard, 2) == 0.82  # 9/11
    incr = incremental_jaccard_prefix(
        pair.filter("doc_id = 0"), pair.filter("doc_id != 0"), n=3, threshold=0.5
    )
    assert incr.count() == 1  # the compliance-grade gate catches it


def test_ensure_ivf_sq8_index_rebuilds_only_on_change(spark, tmp_path):
    """The serving gate: ensure() builds on first call, is a no-op
    (pointer unchanged, False) while corpus AND params match the
    committed generation's _build_meta, and rebuilds when either
    moves — including after an append grew the corpus."""
    import os

    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.llm.similarity import (
        append_to_ivf_sq8_index,
        ensure_ivf_sq8_index,
        topk_ivf_sq8_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    root = str(tmp_path / "idx")
    t = ParquetTable(os.path.join(root, "index"))

    assert ensure_ivf_sq8_index(emb, root, n_clusters=4) is True
    v1 = t.current_version()
    # same corpus, same params: no rebuild, pointer untouched
    assert ensure_ivf_sq8_index(emb, root, n_clusters=4) is False
    assert t.current_version() == v1
    # param change: rebuild
    assert ensure_ivf_sq8_index(emb, root, n_clusters=3) is True
    assert t.current_version() != v1
    # corpus change (one vector value): rebuild
    rows2 = [(i, [v + (1.0 if i == 5 else 0.0) for v in e]) for i, e in rows]
    emb2 = spark.createDataFrame(rows2, "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert ensure_ivf_sq8_index(emb2, root, n_clusters=3) is True
    # append keeps the ORIGINAL build's meta, so ensure() against the
    # grown corpus sees a stale fingerprint and retrains
    twin = spark.createDataFrame(
        [(1000, rows[1][1])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    append_to_ivf_sq8_index(twin, root)
    grown = emb2.unionByName(twin)
    assert ensure_ivf_sq8_index(grown, root, n_clusters=3) is True
    # and the rebuilt index answers over the full grown corpus
    q = emb2.filter(F.col("vec_id") == 1)
    ids = {r.neighbor_id for r in topk_ivf_sq8_index(spark, root, q, k=10).collect()}
    assert 1000 in ids


def test_ann_persisted_pq_index_matches_per_call_chain(spark, tmp_path):
    """build_ivf_pq_index + topk_ivf_pq_index must reproduce
    topk_ivfpq bit for bit (same coarse quantizer, residual codebooks,
    codes, reconstruction, scoring), and a rebuild must be an atomic
    pointer swap."""
    import os

    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.llm.similarity import (
        build_ivf_pq_index,
        topk_ivf_pq_index,
        topk_ivfpq,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") < 4)
    root = str(tmp_path / "idx")

    build_ivf_pq_index(emb, root, n_clusters=4, m=2, k_cb=4)
    got = topk_ivf_pq_index(spark, root, q, k=3).collect()
    want = topk_ivfpq(emb, q, k=3, n_clusters=4, m=2, k_cb=4).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)
    assert sorted(map(key, got)) == sorted(map(key, want))

    t = ParquetTable(os.path.join(root, "index"))
    v1 = t.current_version()
    build_ivf_pq_index(emb, root, n_clusters=4, m=2, k_cb=4)
    assert t.current_version() != v1
    again = topk_ivf_pq_index(spark, root, q, k=3).collect()
    assert sorted(map(key, again)) == sorted(map(key, want))


def test_ann_pq_index_append_and_ensure(spark, tmp_path):
    """Append encodes new vectors against the FROZEN models via a
    versioned commit (twin findable afterwards); ensure() is a no-op
    on an unchanged corpus and retrains once the corpus grows."""
    import os

    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.llm.similarity import (
        append_to_ivf_pq_index,
        ensure_ivf_pq_index,
        topk_ivf_pq_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    root = str(tmp_path / "idx")
    t = ParquetTable(os.path.join(root, "index"))

    assert ensure_ivf_pq_index(emb, root, n_clusters=4, m=2, k_cb=4) is True
    v1 = t.current_version()
    assert ensure_ivf_pq_index(emb, root, n_clusters=4, m=2, k_cb=4) is False
    assert t.current_version() == v1

    twin = spark.createDataFrame(
        [(1000, rows[1][1])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    append_to_ivf_pq_index(twin, root)
    assert t.current_version() != v1  # versioned commit, not in-place
    q = emb.filter(F.col("vec_id") == 1)
    wider = topk_ivf_pq_index(spark, root, q, k=10).collect()
    w_ids = {r.neighbor_id for r in wider}
    assert 1000 in w_ids
    # identical embedding -> identical codes -> identical (max) cosine
    top = min(wider, key=lambda r: r.rank)
    by_id = {r.neighbor_id: r for r in wider}
    assert by_id[1000].cosine == top.cosine
    # grown corpus: the fingerprint is stale, ensure retrains
    grown = emb.unionByName(twin)
    assert ensure_ivf_pq_index(grown, root, n_clusters=4, m=2, k_cb=4) is True


def test_dedup_index_probe_matches_per_call_incremental(spark, tmp_path):
    """probe_dedup_index against a built index must reproduce
    incremental_neardup_pairs bit for bit (same banding read from the
    index meta, same cap semantics, same verify tail); ensure() is a
    no-op while the corpus matches and retrains on change; append is a
    versioned commit whose keys the next probe sees."""
    import os

    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.llm.dedup import (
        append_to_dedup_index,
        ensure_dedup_index,
        incremental_neardup_pairs,
        probe_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(i, base + f" tail{i % 7}") for i in range(40)]
        + [(100 + i, f"unrelated text number {i} with its own words entirely") for i in range(10)],
        "doc_id LONG, text STRING",
    )
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    root = str(tmp_path / "didx")

    assert ensure_dedup_index(corpus, root, k=8, bands=4, n=3) is True
    got = probe_dedup_index(spark, root, batch, corpus, threshold=0.5).collect()
    want = incremental_neardup_pairs(
        batch, corpus, k=8, bands=4, n=3, threshold=0.5
    ).collect()
    key = lambda r: (r.new_id, r.corpus_id, r.jaccard)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert got  # the near-dup family must actually pair up

    t = ParquetTable(os.path.join(root, "index"))
    v1 = t.current_version()
    assert ensure_dedup_index(corpus, root, k=8, bands=4, n=3) is False
    assert t.current_version() == v1
    # param change forces a rebuild
    assert ensure_dedup_index(corpus, root, k=8, bands=2, n=3) is True
    assert ensure_dedup_index(corpus, root, k=8, bands=4, n=3) is True

    # append a twin of a batch doc, versioned commit, then probe:
    # the batch doc must pair with the appended id
    twin = spark.createDataFrame(
        [(999, base + " tail0")], "doc_id LONG, text STRING"
    )
    v2 = t.current_version()
    append_to_dedup_index(twin, root)
    assert t.current_version() != v2
    grown_corpus = corpus.unionByName(twin)
    after = probe_dedup_index(spark, root, batch, grown_corpus, threshold=0.5)
    assert any(r.corpus_id == 999 for r in after.collect())
    # grown corpus -> stale fingerprint -> ensure retrains
    assert ensure_dedup_index(grown_corpus, root, k=8, bands=4, n=3) is True


def test_hashed_logistic_learns_separable_classes(spark):
    """Two vocabularies that never overlap: after 3 rounds the
    classifier must score every positive above every negative and
    predict both classes correctly; weights are dim+1 with bias
    last."""
    from dax_ppdb_spark.llm.classify import (
        hashed_logistic_score,
        hashed_logistic_train,
    )

    pos = [(i, "good clean prose sentence here", 1.0) for i in range(20)]
    neg = [(100 + i, "zz9 qq8 xx7 vv6 kk5", 0.0) for i in range(20)]
    docs = spark.createDataFrame(
        pos + neg, "doc_id LONG, text STRING, label DOUBLE"
    )
    w = hashed_logistic_train(docs, "label", dim=32, rounds=3, lr=1.0)
    assert len(w) == 33
    rows = hashed_logistic_score(docs, w, dim=32).collect()
    s = {r.doc_id: r for r in rows}
    pos_scores = [s[i].score for i, _, _ in pos]
    neg_scores = [s[i].score for i, _, _ in neg]
    assert min(pos_scores) > max(neg_scores)
    assert all(s[i].predicted for i, _, _ in pos)
    assert not any(s[i].predicted for i, _, _ in neg)


def test_hashed_logistic_matches_bruteforce(spark):
    """Plain-Python replay of the full training: hashed features,
    left-fold dot product, round-6 residuals summed exactly (Decimal),
    identical IEEE weight updates — the learned weights and every
    score must match bit for bit."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from dax_ppdb_spark.llm.classify import (
        hashed_logistic_score,
        hashed_logistic_train,
    )

    data = [
        (0, "alpha beta gamma alpha", 1.0),
        (1, "delta beta", 0.0),
        (2, "gamma gamma epsilon", 1.0),
        (3, "zeta", 0.0),
        (4, "", 1.0),
    ]
    dim, rounds, lr = 8, 3, 0.5
    docs = spark.createDataFrame(data, "doc_id LONG, text STRING, label DOUBLE")
    w = hashed_logistic_train(docs, "label", dim=dim, rounds=rounds, lr=lr)

    def h(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim

    def r6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    feats = [(y, [h(t) for t in txt.split()]) for _, txt, y in data]
    want = [0.0] * (dim + 1)
    n = len(data)
    for _ in range(rounds):
        g = {}
        for y, hj in feats:
            wx = 0.0
            for j in hj:
                wx = wx + want[j]
            wx += want[dim]
            rd = Decimal(repr(r6(y - 1.0 / (1.0 + math.exp(-wx)))))
            for j in hj + [dim]:
                g[j] = g.get(j, Decimal(0)) + rd
        want = [
            want[j] + (lr * float(g.get(j, 0))) / n for j in range(dim + 1)
        ]
    assert w == want
    got = {
        r.doc_id: r.score
        for r in hashed_logistic_score(docs, w, dim=dim).collect()
    }
    for i, (y, hj) in enumerate(feats):
        wx = 0.0
        for j in hj:
            wx = wx + want[j]
        wx += want[dim]
        assert got[i] == r6(1.0 / (1.0 + math.exp(-wx))) + 0.0


def test_train_and_score_equals_separate_train_then_score(spark):
    """train_and_score scores from the checkpointed (doc_id, hj)
    training relation instead of re-tokenizing the corpus; the hashed
    features are deterministic, so it must be ROW-IDENTICAL to the
    two-call form (train, then score the raw relation)."""
    from dax_ppdb_spark.llm.classify import (
        hashed_logistic_score,
        hashed_logistic_train,
        train_and_score,
    )

    data = [
        (0, "alpha beta gamma alpha", 1.0),
        (1, "delta beta", 0.0),
        (2, "gamma gamma epsilon", 1.0),
        (3, "zeta", 0.0),
        (4, "", 1.0),
        (5, None, 0.0),  # NULL text: zero tokens, bias row only
    ]
    docs = spark.createDataFrame(data, "doc_id LONG, text STRING, label DOUBLE")
    fused = {
        r.doc_id: (r.score, r.predicted)
        for r in train_and_score(docs, "label", dim=8, rounds=3, lr=0.5).collect()
    }
    w = hashed_logistic_train(docs, "label", dim=8, rounds=3, lr=0.5)
    split = {
        r.doc_id: (r.score, r.predicted)
        for r in hashed_logistic_score(docs, w, dim=8).collect()
    }
    assert fused == split
    # the NULL-text doc is IN the training set (its bias row funds the
    # fused n) and scores sigmoid(bias), not NULL
    assert fused[5][0] is not None


def test_classifier_counts_null_text_docs_in_n(spark):
    """A NULL-text doc must count toward the training-set size n
    exactly like the pre-fusion tk.count() did: training on (doc with
    tokens, NULL-text doc) must differ from training on the token doc
    alone, and an all-NULL-text corpus must train (n = corpus size),
    not raise 'empty training set'."""
    from dax_ppdb_spark.llm.classify import hashed_logistic_train

    with_null = spark.createDataFrame(
        [(0, "alpha beta", 1.0), (1, None, 0.0)],
        "doc_id LONG, text STRING, label DOUBLE",
    )
    without = spark.createDataFrame(
        [(0, "alpha beta", 1.0)], "doc_id LONG, text STRING, label DOUBLE"
    )
    w2 = hashed_logistic_train(with_null, "label", dim=8, rounds=2, lr=0.5)
    w1 = hashed_logistic_train(without, "label", dim=8, rounds=2, lr=0.5)
    assert w2 != w1  # the NULL doc's bias residual and n both differ
    all_null = spark.createDataFrame(
        [(0, None, 1.0), (1, None, 0.0)], "doc_id LONG, text STRING, label DOUBLE"
    )
    w = hashed_logistic_train(all_null, "label", dim=8, rounds=1, lr=0.5)
    assert len(w) == 9  # trains; n = 2, no 'empty training set'


def test_embedding_neardup_target_recall_wiring(spark):
    """target_recall threads through to auto_bands: the banded run
    uses the model-derived band count (more bands than the default 8
    when the target demands it), and its output stays a cosine-exact
    subset of the brute-force truth — extra bands only ADD candidate
    coverage, never wrong pairs."""
    from dax_ppdb_spark.llm.dedup import auto_bands, embedding_neardup_pairs

    rows = []
    for i in range(120):
        base = [float((i * 5 + j) % 9) - 4.0 for j in range(16)]
        rows.append((i, base))
        if i % 10 == 0:  # a near-twin: same direction, tiny jitter
            rows.append((1000 + i, [x * 1.01 + 0.01 for x in base]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    n = emb.count()
    t, r = 0.98, 0.999
    derived = auto_bands(16, n, target_recall=r, threshold=t)
    got = embedding_neardup_pairs(
        emb, threshold=t, dim=16, corpus_count=n, target_recall=r
    ).collect()
    # exact truth by brute force on the driver (240 vectors)
    import math

    vecs = {i: v for i, v in rows}
    want = set()
    for a in vecs:
        for b in vecs:
            if a < b:
                va, vb = vecs[a], vecs[b]
                dot = sum(x * y for x, y in zip(va, vb))
                na = math.sqrt(sum(x * x for x in va))
                nb = math.sqrt(sum(x * x for x in vb))
                if na and nb and round(dot / (na * nb), 6) >= t:
                    want.add((a, b))
    got_pairs = {(r2.id_a, r2.id_b) for r2 in got}
    assert got_pairs <= want  # cosine-verified: no false pairs ever
    # the derived band count is the model's minimal B for the target
    # (at a 0.98 threshold that is FEWER than the default 8 — high
    # thresholds are easy; the target both adds and removes work)
    import math as _m

    q = 1.0 - _m.acos(t) / _m.pi
    per = q ** len(derived[0])
    assert 1.0 - (1.0 - per) ** len(derived) >= r
    if len(derived) > 1:
        assert 1.0 - (1.0 - per) ** (len(derived) - 1) < r
    # the near-twin pairs are exactly the high-cosine truth; the
    # derived banding must catch the overwhelming majority
    assert len(got_pairs) >= int(0.9 * len(want)) and want


def _knn_emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )


def test_knn_label_agreement_flags_flipped_label(spark):
    """Hand-checked golden: a tight 4-vector cluster with one flipped
    label.  The flipped row's 2 nearest neighbors carry the majority
    label (agreement 0 — the noise flag); every clean row scores 1.0;
    the vector alone in the opposite sign cell reports 0 neighbors and
    NULL agreement."""
    from dax_ppdb_spark.llm.similarity import knn_label_agreement

    emb = _knn_emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 0.1, 0.0, 0.0], 0),
            (3, [1.0, 0.2, 0.0, 0.0], 0),
            (4, [1.0, 0.9, 0.0, 0.0], 1),  # geometrically inside, label flipped
            (5, [-1.0, 0.0, 0.0, 0.0], 0),  # singleton cell
        ],
    )
    out = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(emb, k=2, dims=(1,)).collect()
    }
    assert out == {
        1: (2, 1.0),
        2: (2, 1.0),
        3: (2, 1.0),
        4: (2, 0.0),
        5: (0, None),
    }


def test_knn_label_agreement_max_bucket_empties_hot_cell(spark):
    """max_bucket mirrors embedding_neardup_pairs' degenerate-cell cap:
    an over-occupied cell contributes NO neighbor scans, but its
    members keep their output rows (0 neighbors, NULL agreement) — the
    relation stays total over the corpus."""
    from dax_ppdb_spark.llm.similarity import knn_label_agreement

    emb = _knn_emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 0.1, 0.0, 0.0], 0),
            (3, [1.0, 0.2, 0.0, 0.0], 0),
            (4, [1.0, 0.9, 0.0, 0.0], 1),
            (5, [-1.0, 0.0, 0.0, 0.0], 0),
            (6, [-1.0, 0.1, 0.0, 0.0], 1),
        ],
    )
    out = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(emb, k=2, dims=(1,), max_bucket=3).collect()
    }
    # positive cell (4 members) capped; negative cell (2 members) scores
    assert out[1] == (0, None)
    assert out[2] == (0, None)
    assert out[3] == (0, None)
    assert out[4] == (0, None)
    assert out[5] == (1, 0.0)
    assert out[6] == (1, 0.0)


def test_knn_label_agreement_caps_at_k_and_counts_short_cells(spark):
    """n_neighbors = min(k, cell occupancy - 1): a 2-member cell under
    k=5 reports 1 neighbor, and agreement averages over the available
    neighbors only."""
    from dax_ppdb_spark.llm.similarity import knn_label_agreement

    emb = _knn_emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 7),
            (2, [1.0, 0.1, 0.0, 0.0], 7),
        ],
    )
    out = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(emb, k=5, dims=(1,)).collect()
    }
    assert out == {1: (1, 1.0), 2: (1, 1.0)}


def test_knn_label_agreement_multiprobe_recovers_straddlers(spark):
    """Recall-vs-truth for the probes knob: vector 1 straddles plane 1
    (|margin| 0.05), so its TRUE nearest neighbors (2, 3 — cosine
    ~0.99, same label) land in the adjacent sign cell and single-probe
    scores it against only the dissimilar opposite-label cellmate 4 —
    agreement 0.0, a false noise flag.  probes=2 flips the
    smallest-margin bit, finds the true neighbors, and agreement
    matches the exact brute-force kNN truth (1.0).  Non-straddling
    rows keep total coverage, and extra probes never REMOVE true
    neighbors (candidates stay exact-scored; the merge keeps the
    global k-best)."""
    from dax_ppdb_spark.llm.similarity import knn_label_agreement

    emb = _knn_emb(
        spark,
        [
            (1, [0.05, 1.0, 0.0, 0.0], 0),  # straddler: cell "11"
            (2, [-0.05, 1.0, 0.0, 0.0], 0),  # true NN, cell "01"
            (3, [-0.1, 0.9, 0.0, 0.0], 0),  # true NN, cell "01"
            (4, [1.0, 0.2, 0.0, 0.0], 1),  # cellmate of 1, cos ~0.25
        ],
    )
    one = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(emb, k=2, dims=(1, 2)).collect()
    }
    two = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(emb, k=2, dims=(1, 2), probes=2).collect()
    }
    # single-probe: only cellmate 4 visible -> disagreement (false flag)
    assert one[1] == (1, 0.0)
    # 2-probe agreement == exact brute-force truth (2-NN = {2, 3})
    assert two[1] == (2, 1.0)
    # relation stays total over the corpus in both modes
    assert set(one) == set(two) == {1, 2, 3, 4}
    # straddler 2 likewise recovers vector 1 through its own probe
    assert two[2][0] >= one[2][0]


def test_knn_label_agreement_multiprobe_capped_cell_still_total(spark):
    """max_bucket composes with probes: a probe into an over-occupied
    cell contributes nothing (occupancy counted over HOME members),
    every vector keeps its output row, and a capped cell's members
    can still recover neighbors through their OWN probes into
    uncapped cells."""
    from dax_ppdb_spark.llm.similarity import knn_label_agreement

    emb = _knn_emb(
        spark,
        [
            (1, [0.05, 1.0, 0.0, 0.0], 0),  # home "11" (1 member)
            (2, [-0.05, 1.0, 0.0, 0.0], 0),  # home "01" (3 members)
            (3, [-0.1, 0.9, 0.0, 0.0], 0),
            (4, [-0.2, 0.8, 0.0, 0.0], 1),
        ],
    )
    out = {
        r.vec_id: (r.n_neighbors, r.agreement)
        for r in knn_label_agreement(
            emb, k=2, dims=(1, 2), probes=2, max_bucket=2
        ).collect()
    }
    # cell "01" (3 home members > max_bucket) contributes no
    # candidates: vector 1's probe into it comes back empty
    assert out[1] == (0, None)
    # but capped-cell members still probe OUT into "11" and score
    # against its single home member (vector 1, label 0)
    assert out[2] == (1, 1.0)
    assert out[3] == (1, 1.0)
    assert out[4] == (1, 0.0)
    assert set(out) == {1, 2, 3, 4}


def test_embedding_outlier_ranks_farthest_first(spark):
    """Two well-separated groups, k=2, deterministic init (lowest-id
    vectors): Lloyd converges to the group means, every vector gets a
    row, and within each cell the farthest member ranks 1 with ties
    broken by id."""
    from dax_ppdb_spark.llm.embeddings import embedding_outlier_ranks

    emb = _knn_emb(
        spark,
        [
            (1, [10.0, 0.0, 0.0, 0.0], 0),
            (2, [0.0, 10.0, 0.0, 0.0], 0),
            (3, [10.2, 0.0, 0.0, 0.0], 0),   # near group A mean
            (4, [14.0, 0.0, 0.0, 0.0], 0),   # far from group A mean -> rank 1
            (5, [0.0, 10.1, 0.0, 0.0], 0),
        ],
    )
    out = {
        r.vec_id: (r.cid, r.dist, r.cell_rank)
        for r in embedding_outlier_ranks(emb, n_clusters=2, iters=3).collect()
    }
    assert len(out) == 5  # total over the corpus
    # group A = {1,3,4} (cluster seeded by vec 1), group B = {2,5}
    cid_a = out[1][0]
    cid_b = out[2][0]
    assert cid_a != cid_b
    assert {out[3][0], out[4][0]} == {cid_a}
    assert out[5][0] == cid_b
    # farthest-first within each cell
    a_ranks = {vid: out[vid][2] for vid in (1, 3, 4)}
    assert a_ranks[4] == 1  # 14.0 is farthest from the ~11.4 mean
    assert sorted(a_ranks.values()) == [1, 2, 3]
    assert sorted(out[vid][2] for vid in (2, 5)) == [1, 2]
    # distances are round-6 non-negative
    assert all(v[1] >= 0 for v in out.values())


def test_embedding_outlier_ranks_deterministic(spark):
    from dax_ppdb_spark.llm.embeddings import embedding_outlier_ranks

    emb = _knn_emb(
        spark,
        [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0, 0.0], 0) for i in range(12)],
    )
    a = sorted(map(tuple, embedding_outlier_ranks(emb, n_clusters=3).collect()))
    b = sorted(map(tuple, embedding_outlier_ranks(emb, n_clusters=3).collect()))
    assert a == b


def test_audit_quarantine_error_stops_pool(spark, sf_dir, monkeypatch):
    """A failure while the audit capstone builds its plans, with the
    pool thread inside a Spark job, leaves no pool thread and no Spark
    job running: the error path cancels the pool's tagged jobs and
    joins its thread before the error reaches the caller."""
    import threading
    import time

    from dax_ppdb_spark import llm_queries
    from dax_ppdb_spark.llm import similarity

    sc = spark.sparkContext

    def slow_model(*args, **kwargs):
        return sc.parallelize([0], 1).map(lambda x: time.sleep(600) or x).collect()

    def failing_knn(*args, **kwargs):
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        raise RuntimeError("injected audit failure")

    def running():
        threads = [t for t in threading.enumerate() if t not in before and t.is_alive()]
        return threads, list(sc.statusTracker().getActiveJobsIds())

    monkeypatch.setattr(similarity, "ensure_centroid_model", slow_model)
    monkeypatch.setattr(similarity, "knn_label_agreement", failing_knn)
    before = set(threading.enumerate())
    try:
        with pytest.raises(RuntimeError, match="injected audit failure"):
            llm_queries.q_audit_quarantine_curate(spark, sf_dir)
        deadline = time.monotonic() + 60
        while running() != ([], []) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert running() == ([], [])
    finally:
        sc.cancelAllJobs()
