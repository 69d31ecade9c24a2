"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- **exact**: one hash-shuffle on ``md5(text)`` with map-side partial
  aggregation — the cheapest possible full-corpus dedup.
- **n-gram Jaccard**: exact pairwise similarity, but only for pairs
  that share a shingle (inverted-index self-join).  Quadratic in the
  worst case — at 100 TB it is the *verify* stage applied to LSH
  candidates, never the discovery stage.
- **MinHash+LSH**: the discovery stage.  k min-hashes per doc, banded
  into b buckets; candidate pairs come from an equi-join on
  ``(band_index, band_key)`` — shuffle cost ~O(docs * b), never
  all-pairs.  Hot buckets (boilerplate shingles) are the skew risk:
  cap bucket size / rely on AQE skew splitting.
- **SimHash**: per-row 16-bit signature (zero shuffle to compute);
  equal-signature grouping finds near-dups with single-bit tolerance
  handled by probing bit-flipped signatures.

All hashes derive from md5 hex (see ``text.md5_long`` /
``text.md5_wide_long``) so results are engine-identical and the DuckDB
oracle can replay them exactly.  Width rule: 32-bit ``md5_long`` for
bucketing and hash families (collisions only co-locate rows); 60-bit
``md5_wide_long`` wherever hash equality stands in for value equality
(gram/shingle fingerprints driving dedup decisions or span deletion).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_long, tokens

# Default-on skew guards.  At corpus scale a single degenerate key — a
# boilerplate shingle, an all-zeros embedding bucket, an LSH band key
# shared by empty documents — expands O(|bucket|^2) pairs inside ONE
# task and detonates the stage.  1000 caps that worst case at ~500k
# pairs per key (~tens of MB, well inside an executor) while being far
# above any honest near-dup cluster; pass ``None`` explicitly to
# disable for small exhaustive runs.
DEFAULT_MAX_BUCKET = 1000
DEFAULT_MAX_DOC_FREQ = 1000


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the
    representative (min id) and the duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document.

    Guarded for short documents: Spark's ``sequence(1, 0)`` counts
    *down*, so docs with fewer than n tokens get an explicit empty
    array instead.
    """
    toks = tokens(text)
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return grams


def _buckets(
    rows: DataFrame, keys: list[str], member, cap: int | None
) -> DataFrame:
    """One row per ``keys`` bucket with its sorted distinct ``member``
    array ``ids``, buckets of more than ``cap`` members dropped — the
    one bucket cap of every blocking step (``None`` disables it).

    A degenerate key (a boilerplate shingle, an LSH band key shared by
    empty documents, the all-zeros sign bucket) would expand
    O(|bucket|^2) pairs inside ONE task; a free size filter before
    any expansion drops it outright.

    The cap counts distinct members, ``size(ids)``.  Every caller's
    member occurs once per key (a doc has one key per band, one row
    per distinct shingle or fingerprint), so that is also the bucket's
    row count.  Where a caller's rows and members could differ, the
    set size is still the count it needs:

    - ``source_overlap_matrix``: the members are SOURCES, and many
      docs of one source share a shingle, so rows overcount.
      ``max_sources`` bounds sources per shingle — the fan-out the
      source-pair expansion pays — which is the set size.
    - ``embedding_neardup_pairs`` under ``id_pred``: the set holds
      every member and the sample restriction applies to the capped
      array afterwards, so the cap is the full-corpus occupancy, the
      same number as a row count beside a sample-only set.
    - ``probe_dedup_index``: it groups the index rows that survived
      the batch-key semi-join.  Every corpus row of a matched key
      survives it, so the set is the full bucket, the same number as
      a window count over those rows.
    """
    grouped = rows.groupBy(*keys).agg(
        F.sort_array(F.collect_set(member)).alias("ids")
    )
    return grouped if cap is None else grouped.filter(F.size("ids") <= cap)


def _bucket_pairs(buckets: DataFrame, *fields: tuple[str, str, str]) -> DataFrame:
    """Every member pair of each bucket's sorted ``ids`` array (see
    :func:`_buckets`), lower member first — the one in-bucket pair
    expansion of every blocking join (inverted index, LSH band, sign
    bucket, source set), in place so the index never shuffles twice.

    Each ``(src, out_a, out_b)`` field emits the lower member's
    ``src`` as ``out_a`` and the higher's as ``out_b``; ``src`` is
    ``""`` when the members are bare ids rather than structs.  The
    expansion is ONE SQL string: built Column by Column, each nested
    lambda op is a driver->JVM round trip (the Catalyst tree is the
    same either way).
    """

    def ref(v: str, src: str) -> str:
        return f"{v}.`{src}`" if src else v

    carry = ", ".join(
        f"{ref('x', s)} AS `{a}`, {ref('y', s)} AS `{b}`" for s, a, b in fields
    )
    return (
        buckets.filter(F.size("ids") > 1)
        .select(
            F.expr(
                "explode(flatten(transform(ids, (x, i) -> transform("
                f"slice(ids, i + 2, size(ids)), y -> struct({carry}))))) AS p"
            )
        )
        .select("p.*")
    )


def _batch_candidates(
    batch_keys: DataFrame, corpus_keys: DataFrame, cap: int | None
) -> DataFrame:
    """Distinct ``(new_id, corpus_id)`` candidates of a batch against
    a corpus: the corpus's ``(band, key, doc_id)`` rows grouped per
    band key under the one cap (:func:`_buckets`, corpus side only),
    joined to the batch's ``(new_id, band, key)`` rows.

    The join strategy is left to AQE: the batch is USUALLY the small
    side, but nothing bounds it (a caller may pass a quarter-corpus
    "batch"), and an unconditional broadcast of its band-key table is
    the OOM hazard the embedding variant removed in favor of runtime
    sizes.
    """
    grouped = _buckets(corpus_keys, ["band", "key"], "doc_id", cap)
    return (
        batch_keys.join(grouped, ["band", "key"])
        .select("new_id", F.explode("ids").alias("corpus_id"))
        .distinct()
    )


def _attach_text(
    cand: DataFrame, a: str, b: str, left: DataFrame, right: DataFrame
) -> DataFrame:
    """The one text-attach step of the text verify tails: each
    candidate pair ``(a, b)`` gains ``ta`` from ``left`` and ``tb``
    from ``right`` (two-column ``(id, text)`` relations) through two
    id-keyed joins.

    Attaching RAW text and computing the measure after the join keeps
    the verify stage's per-text work O(candidates); the O(corpus)
    shingle pass runs once, in the discovery lineage (Spark
    re-executes diverged lineage branches — there is no implicit
    caching).  The candidate side is small (LSH-pruned and
    bucket-capped) and carries the EXPLICIT broadcast hint on both
    joins: left to its own statistics Spark picked BuildRight on the
    second join — broadcasting the full corpus text table — because
    the post-agg pair side has no size estimate.  With the hints the
    corpus is scanned, never shuffled, never broadcast.
    """
    return F.broadcast(
        F.broadcast(cand).join(left.toDF(a, "ta"), a)
    ).join(right.toDF(b, "tb"), b)


def _jaccard(sa: Column, sb: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(sa, sb))
    return inter.cast("double") / (F.size(sa) + F.size(sb) - inter)


def _text_jaccard(
    cand: DataFrame,
    a: str,
    b: str,
    left: DataFrame,
    right: DataFrame,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard >= ``threshold`` over candidate pairs
    whose text :func:`_attach_text` fetched — the verify tail of the
    LSH discovery paths (self-join, batch, index probe): one code path,
    one semantics, one oracle."""
    pair_sh = _attach_text(cand, a, b, left, right).select(
        a,
        b,
        shingles(F.col("ta"), n).alias("shs_a"),
        shingles(F.col("tb"), n).alias("shs_b"),
    )
    return (
        pair_sh.withColumn("jaccard", _jaccard(F.col("shs_a"), F.col("shs_b")))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _shingle_sets(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """``(doc_id, shs, n_sh)`` for every doc with at least one shingle —
    the set relation the prefix-filtered joins rank, index and verify.

    The relation feeds several consumers (df aggregation, rarity
    ranking, both verification sides); a lazy localCheckpoint
    materializes the tokenize+shingle pass once instead of replaying
    it per lineage branch (the unigram_logprob_score pattern).
    ORDER MATTERS: checkpoint the bare projection and filter the
    LEAF.  With the filter below the checkpoint, the optimizer
    substitutes the whole shingle HOF tree into the predicate and
    the checkpoint's plan-to-RDD step walks it pathologically —
    measured 3.9 s of driver time per call at sf0.1 vs 0.3 s in
    this shape (identical rows; the filter applies on read).
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("shs"),
        )
        .localCheckpoint(eager=False)
        .filter(F.size("shs") > 0)
        .withColumn("n_sh", F.size("shs"))
    )


def _doc_freq(sh: DataFrame) -> DataFrame:
    """``(shingle, df)`` over a :func:`_shingle_sets` relation."""
    return (
        sh.select(F.explode("shs").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _length_ok(threshold: float) -> Column:
    """The lossless length filter on a pair's set sizes ``n_a``/``n_b``:
    Jaccard <= min/max, so a pair needs min >= ceil(t * max)."""
    return F.least("n_a", "n_b") >= _guarded_ceil(
        F.greatest("n_a", "n_b") * F.lit(threshold)
    )


def _set_jaccard(
    cand: DataFrame,
    a: str,
    b: str,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard >= ``threshold`` over candidate pairs ``(a, b)``,
    computed from the full shingle sets of two :func:`_shingle_sets`
    relations — the verify tail of the prefix-filtered joins.

    shuffle_hash: the set sides carry whole shingle ARRAYS — never
    broadcast them (AQE would happily ship the corpus to the driver
    when the candidate side looks bigger); candidates hash-join on
    the doc key instead.
    """
    sa = sets_a.select(F.col("doc_id").alias(a), F.col("shs").alias("__sa"))
    sb = sets_b.select(F.col("doc_id").alias(b), F.col("shs").alias("__sb"))
    return (
        cand.join(sa.hint("shuffle_hash"), a)
        .join(sb.hint("shuffle_hash"), b)
        .withColumn("jaccard", _jaccard(F.col("__sa"), F.col("__sb")))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _guarded_ceil(x) -> "Column":
    """``ceil`` with a RELATIVE downward guard: ``ceil(x·(1−2⁻⁴⁰))``.

    The prefix/length bounds compute ``ceil(threshold · n)`` from a
    double product; when the TRUE value is an exact integer, float
    rounding can land one ulp above it and a plain ceil would then
    SHORTEN a prefix — dropping a qualifying pair.  The guard must
    exceed the product's rounding error (~``x·2⁻⁵²``) at EVERY
    magnitude; the previous fixed absolute 1e-9 stopped doing that
    once ``x`` passed ~1e7, where one ulp is already larger.  A
    relative ``2⁻⁴⁰`` is ~4000 ulps at every magnitude, and
    over-guarding is safe by construction: pulling the value further
    down can only LENGTHEN a prefix or relax a length filter (a few
    more candidates verified exactly), never lose a pair.
    """
    return F.ceil(x * F.lit(1.0 - 2.0**-40))


def _rarity_prefix(
    sh: DataFrame,
    df_tbl: DataFrame,
    threshold: float,
    absent_df: int | None = None,
    with_pos: bool = False,
) -> DataFrame:
    """Keep each doc's prefix — its ``n_sh - ceil(t * n_sh) + 1``
    rarest shingles under the global (df, shingle) order — from a
    :func:`_shingle_sets` relation.  ``absent_df`` maps
    shingles missing from ``df_tbl`` (a new batch probing a standing
    corpus index) to that df; any consistent total order keeps the
    prefix bound lossless.  The guarded ``ceil`` (:func:`_guarded_ceil`)
    ensures a float product above an exact integer can only LENGTHEN a
    prefix, at any set size.

    ``with_pos=True`` additionally returns each kept shingle's ``df``
    and its 1-based rank ``__pos`` in the doc's global (df, shingle)
    order — the inputs of the PPJoin positional filter (every doc
    sorts by the SAME global key, so rank is monotone in that order
    across docs).
    """
    from pyspark.sql import Window

    inv = sh.select("doc_id", "n_sh", F.explode("shs").alias("shingle"))
    if absent_df is None:
        ranked = inv.join(df_tbl, "shingle")
    else:
        ranked = inv.join(df_tbl, "shingle", "left").withColumn(
            "df", F.coalesce(F.col("df"), F.lit(absent_df))
        )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    pref_len = (
        F.col("n_sh")
        - _guarded_ceil(F.col("n_sh") * F.lit(threshold)).cast("int")
        + 1
    )
    cols = ["doc_id", "n_sh", "shingle"] + (
        ["df", "__pos"] if with_pos else []
    )
    return (
        ranked.withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= pref_len)
        .select(*cols)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets, via an
    inverted-index self-join (only pairs sharing >=1 shingle are
    scored).

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs ("stop shingles": boilerplate that links everything to
    everything).  At corpus scale this caps the per-bucket pair
    fan-out from O(df²) on the hottest shingle to O(max_doc_freq²) —
    the standard skew guard for inverted-index joins.  It trades a
    slight Jaccard underestimate for docs whose overlap is pure
    boilerplate (the pairs worth keeping share rarer shingles too).
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    inv = sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    # Inverted index grouped per shingle, pairs expanded in-place — a
    # self-join would recompute the shingle explode for both sides and
    # shuffle the index twice.
    members = _buckets(inv, ["shingle"], F.struct("doc_id", "n_sh"), max_doc_freq)
    inter = (
        _bucket_pairs(members, ("doc_id", "doc_a", "doc_b"), ("n_sh", "n_a", "n_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard pairs >= ``threshold`` via PREFIX FILTERING — the
    lossless set-similarity join (SSJoin / All-Pairs / PPJoin family),
    the exact-threshold complement to :func:`ngram_jaccard_pairs`.

    Where the plain inverted index expands candidate pairs under EVERY
    shared shingle (and needs the lossy ``max_doc_freq`` stop-shingle
    cap to survive boilerplate skew), prefix filtering indexes only
    each document's *prefix*: its ``n_sh - ceil(t * n_sh) + 1`` rarest
    shingles under a global (document-frequency, shingle) order.  Two
    documents with Jaccard >= t MUST share a prefix shingle — with
    ``a = |x ∩ y| >= ceil(t * max(|x|, |y|))`` common elements, if the
    prefixes were disjoint then every common element would sit in one
    document's (a - 1)-element suffix — so the filter loses NOTHING,
    while the hottest (highest-df) shingles fall out of most prefixes
    automatically and candidate fan-out tracks rare-shingle df, not
    boilerplate df.  A length filter (min size >= ceil(t * max size))
    prunes further, and the PPJoin POSITIONAL filter (Xiao et al.,
    WWW 2008) prunes again at each pair's first common shingle in the
    global (df, shingle) order: overlap <= 1 + min(suffix lengths), so
    pairs that cannot reach ceil(t/(1+t) * (n_a+n_b)) common shingles
    never enter the verification joins — both filters lossless.
    Survivors are verified with an exact per-pair
    ``array_intersect``.

    Scale shape: df aggregation, one doc-partitioned window to rank
    shingles by rarity, candidate expansion grouped per prefix
    shingle, then two hash joins back to the shingle sets for
    verification — all linear shuffles, no quadratic stage, no lossy
    cap, so the output equals the brute-force pairwise Jaccard at any
    corpus size (pinned by test).  The oracle therefore states the
    PURE semantics (uncapped inverted-index pairwise Jaccard) with no
    prefix logic to mirror.

    Every bound ``ceil`` carries a RELATIVE downward guard
    (:func:`_guarded_ceil`) so a float product landing ulps ABOVE an
    exact integer can only lengthen a prefix (safe direction), never
    shorten it — at any set size, where a fixed absolute nudge would
    fall below one ulp.
    """
    sh = _shingle_sets(docs, n, text_col, id_col)
    prefix = _rarity_prefix(sh, _doc_freq(sh), threshold, with_pos=True)
    # Pair expansion carries both members' prefix ranks, feeding the
    # PPJoin POSITIONAL filter (Xiao et al., WWW 2008) below.
    members = _buckets(prefix, ["shingle"], F.struct("doc_id", "n_sh", "__pos"), None)
    pairs = _bucket_pairs(
        members,
        ("doc_id", "doc_a", "doc_b"),
        ("n_sh", "n_a", "n_b"),
        ("__pos", "pa", "pb"),
    ).filter(_length_ok(threshold))
    # One aggregation plays the old distinct's role AND accumulates the
    # pair's ENTIRE common-prefix evidence (PPJoin's positional filter
    # in its accumulated form).  Every doc lists its shingles in the
    # same global (df, shingle) order, so the pair's common prefix
    # entries are EXACTLY the common shingles ordered at or before the
    # LAST such entry: any common shingle ordered earlier sits at a
    # smaller rank than that entry in BOTH docs, both prefixes contain
    # the last entry's ranks, hence both contain it and it generated a
    # row of this group too.  With c = the group's row count and
    # (pa_max, pb_max) = the last entry's ranks (ranks are monotone in
    # the global order, so the per-column maxes are one entry's), the
    # total overlap is c + |common shingles after the last entry|
    #               <= c + min(n_a - pa_max, n_b - pb_max)
    # — uniformly at least as tight as the r14 single-entry bound
    # 1 + min(n_a - pa_min, n_b - pb_min), since the c entries occupy
    # c ranks of each suffix.  Dropping pairs whose bound cannot reach
    # the required overlap
    # alpha = ceil(t/(1+t) * (n_a+n_b))  (J >= t  <=>  I >= alpha)
    # is LOSSLESS (the guarded ceil errs downward: alpha can only
    # shrink, keeping more candidates).  Verification below stays the
    # exact per-pair intersection; this only shrinks how many pairs
    # ride the array-attach joins — and the aggregation input is now
    # four ints per row (the old min-struct carried df + the shingle
    # STRING through the exchange purely to locate the first entry).
    grp = (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("pa").alias("pa_max"),
            F.max("pb").alias("pb_max"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    alpha = _guarded_ceil(
        (F.col("n_a") + F.col("n_b")) * F.lit(threshold / (1.0 + threshold))
    )
    cand = grp.filter(
        F.col("c")
        + F.least(
            F.col("n_a") - F.col("pa_max"), F.col("n_b") - F.col("pb_max")
        )
        >= alpha
    ).select("doc_a", "doc_b")
    return _set_jaccard(cand, "doc_a", "doc_b", sh, sh, threshold)


def cdc_neardup_pairs(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 64,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Shift-robust near-dup pairs: documents sharing >= ``min_shared``
    content-defined chunk fingerprints (:func:`~..text.cdc_chunks`) —
    the composition CDC exists for.  A doc that gained a header, lost
    a footer, or had a paragraph edited keeps every chunk outside the
    edit region, so it still shares most fingerprints with its
    original; fixed-offset chunking would share none past the first
    edit.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — per-doc
    DISTINCT fingerprints, pairs expanded per fingerprint group, never
    all-pairs; ``max_fp_df`` drops universal chunks (empty-line runs,
    boilerplate) exactly like the stop-shingle cap.  Output:
    ``(doc_a, doc_b, n_shared, containment)`` with containment =
    shared / min(chunk counts) — the asymmetric measure that catches
    a small doc embedded in a large one.
    """
    from .text import cdc_fp_inverted

    # The plan is LINEAR (chunk -> per-doc sets -> inverted index ->
    # pairs), so no checkpoint is needed — the chunker runs exactly
    # once.  The per-doc DISTINCT fingerprint set is built IN-ROW and
    # exploded with its count stamped into each element
    # (cdc_fp_inverted) — the round-7 groupBy(doc_id).collect_set
    # exchange (a shuffle that only reassembled rows the chunker had
    # just exploded) is gone; the first exchange in the whole plan is
    # the inverted index's groupBy(chunk_fp).
    inv = cdc_fp_inverted(docs, window, divisor, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "n_ch", "chunk_fp"
    )
    members = _buckets(inv, ["chunk_fp"], F.struct("doc_id", "n_ch"), max_fp_df)
    pairs = (
        _bucket_pairs(members, ("doc_id", "doc_a", "doc_b"), ("n_ch", "n_a", "n_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    containment = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
    return pairs.select(
        "doc_a", "doc_b", "n_shared", containment.alias("containment")
    )


def incremental_jaccard_prefix(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental EXACT-threshold Jaccard: every (new doc, corpus
    doc) pair with shingle Jaccard >= ``threshold`` — the lossless
    counterpart to :func:`incremental_neardup_pairs` (whose LSH
    discovery misses pairs with banding probability) for pipelines
    whose dedup gate must be exact (compliance-grade "is this already
    in the training set" checks).

    Same prefix-filtering bound as :func:`jaccard_prefix_pairs`, with
    the global shingle order defined by the CORPUS document frequency
    (new-batch shingles absent from the corpus take df 0 — any total
    order on shingle values keeps the bound lossless as long as BOTH
    sides rank by the same key function, and corpus df is the one the
    standing index already has).  Candidates come from an equi-join of
    the two prefix inverted indexes; at scale the corpus prefix index
    is precomputed once and stored, making each batch O(batch +
    matched-bucket df).  Verification is exact per-pair
    ``array_intersect`` over the full shingle sets.

    Output: (new_id, corpus_id, jaccard >= threshold).
    """

    sh_new = _shingle_sets(new_docs, n, text_col, id_col)
    sh_corp = _shingle_sets(corpus, n, text_col, id_col)
    df_tbl = _doc_freq(sh_corp)
    pn = _rarity_prefix(sh_new, df_tbl, threshold, absent_df=0).select(
        F.col("doc_id").alias("new_id"),
        F.col("n_sh").alias("n_a"),
        "shingle",
    )
    pc = _rarity_prefix(sh_corp, df_tbl, threshold).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("n_sh").alias("n_b"),
        "shingle",
    )
    cand = (
        pn.join(pc, "shingle")
        .filter(_length_ok(threshold))
        .select("new_id", "corpus_id")
        .distinct()
    )
    return _set_jaccard(cand, "new_id", "corpus_id", sh_new, sh_corp, threshold)


def banded_minhash_keys(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, key) LSH band keys for every doc with >=1 shingle.

    The shared discovery primitive: self-join form
    (:func:`minhash_lsh_pairs`) groups it per (band, key); the
    incremental form (:func:`incremental_neardup_pairs`) equi-joins a
    new batch's keys against a corpus's.

    Signature via explode -> flat-column hash -> min-aggregate, NOT a
    higher-order array fold.  Lambda expressions (transform/aggregate/
    zip_with) are evaluated by Spark's *interpreted* expression path —
    measured ~500µs/shingle for the k-family fold at sf0.1 (3.9 s for
    250k shingles on 32 cores) — while the exploded shape keeps every
    hash inside WholeStageCodegen and the min-agg combines map-side,
    so the extra shuffle carries only k longs per doc.  Hash family i
    is an integer read from the i-th 3-char-stride window of one md5
    per shingle (``text.hex_window_long``), so ``k <= 9``.
    """
    from .text import hex_window_long

    rows_per_band = k // bands
    exploded = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(F.col(text_col), n)).alias("s"),
        )
        .withColumn("h", F.md5("s"))
    )
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min(hex_window_long(F.col("h"), 3 * i)).alias(f"mh{i}")
            for i in range(k)
        ]
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_keys).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on any LSH band.

    With k=8, bands=4 (rows r=2): P(candidate) = 1-(1-j^2)^4 — docs
    with Jaccard 0.8 are caught with ~97% probability.  Returns
    distinct (doc_a < doc_b) pairs; feed to ``ngram_jaccard_pairs``
    semantics for exact verification when needed.
    """
    banded = banded_minhash_keys(docs, k, bands, n, text_col, id_col)
    # One aggregation instead of a self-join: a self-join would
    # recompute the whole signature lineage for both sides (2x the
    # hashing cost) and shuffle twice; grouping to a sorted id array
    # and expanding in-bucket combinations shuffles the tiny banded
    # rows once.  A capped degenerate bucket's docs still pair through
    # their other bands.
    buckets = _buckets(banded, ["band", "key"], "doc_id", max_bucket)
    return _bucket_pairs(buckets, ("", "doc_a", "doc_b")).distinct()


def incremental_neardup_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup: near-duplicates of a NEW batch against an
    EXISTING corpus — the shape every rolling crawl-ingest pipeline
    runs (dedup today's batch against everything already kept), where
    re-running the full self-join would redo O(corpus) work per batch.

    Discovery is an equi-join of the batch's LSH band keys against the
    corpus's: shuffle O(batch x bands) + one pass banding the corpus
    (at scale the corpus keys are precomputed once and stored, making
    each batch O(batch); :func:`probe_dedup_index` is that store).
    ``max_bucket`` drops corpus-side degenerate buckets with the same
    cap as the self-join form (:func:`_batch_candidates`).
    Verification is the exact shingle-set Jaccard tail every LSH
    discovery path shares (:func:`_text_jaccard`).

    Output: (new_id, corpus_id, jaccard >= threshold); new docs absent
    from the output are novel and safe to append.
    """
    bn = banded_minhash_keys(new_docs, k, bands, n, text_col, id_col).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    bc = banded_minhash_keys(corpus, k, bands, n, text_col, id_col)
    cand = _batch_candidates(bn, bc, max_bucket)
    return _text_jaccard(
        cand,
        "new_id",
        "corpus_id",
        new_docs.select(id_col, text_col),
        corpus.select(id_col, text_col),
        n,
        threshold,
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    n-gram with an evaluation set.

    The standard pretraining hygiene pass (exclude train docs that
    leak eval content).  The benchmark side is tiny -> its distinct
    shingles broadcast, so the corpus side is a map-side semi-join on
    the exploded shingles: no corpus shuffle, scales to the full
    100 TB scan.  Returns distinct contaminated ``doc_id`` +
    ``n_hits`` (how many distinct eval shingles matched).
    """
    bench_sh = (
        benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hits"))
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """Per-document SimHash signature (``bits`` wide), zero-shuffle.

    Bit b is the sign of ``sum over tokens of (bit b of md5_long(tok)
    ? +1 : -1)``; near-duplicate docs differ in few bits.

    Single pass: one md5_long per token, with all ``bits`` counters
    carried in an array accumulator — a per-bit fold would re-evaluate
    the token-hash array ``bits`` times (expression trees are
    duplicated, not shared, across sibling aggregates).
    """
    hashes = F.transform(tokens(text), lambda t: md5_long(t))
    powers = F.array(*[F.lit(2**b).cast("long") for b in range(bits)])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        # md5_long is nonnegative, so bit b of h == (h & 2^b) != 0.
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda c, p: c
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def verified_neardup_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The full two-stage near-dup architecture in one operator:
    MinHash+LSH *discovery* (sub-quadratic candidate generation), then
    exact n-gram-Jaccard *verification* computed only for candidates.

    This is the composition the 100-TB design intends — the quadratic
    exact measure never touches non-candidate pairs, and LSH's false
    positives never survive to the output.  False negatives are LSH's
    recall (1-(1-j^r)^b); raise ``bands`` to tighten.  Output:
    (doc_a, doc_b, jaccard >= threshold).
    """
    cand = minhash_lsh_pairs(
        docs, k=k, bands=bands, n=n, text_col=text_col, id_col=id_col,
        max_bucket=max_bucket,
    )
    txt = docs.select(id_col, text_col)
    return _text_jaccard(cand, "doc_a", "doc_b", txt, txt, n, threshold)


def axis_planes(dim: int, n_planes: int) -> tuple[int, ...]:
    """Evenly-spaced axis hyperplanes (1-based component indexes) —
    the deterministic sign-LSH family.  Scale ``n_planes`` with the
    corpus: 2^n_planes buckets, so pick ``n_planes >= log2(N /
    target_bucket_size)`` to keep per-bucket all-pairs work bounded
    (e.g. 1e9 vectors at ~4k per bucket -> 18 planes)."""
    if not 0 < n_planes <= dim:
        raise ValueError(f"n_planes must be in (0, {dim}]")
    return tuple(int(i * dim / n_planes) + 1 for i in range(n_planes))


def banded_axis_planes(
    dim: int, planes_per_band: int, n_bands: int
) -> tuple[tuple[int, ...], ...]:
    """``n_bands`` disjoint sets of ``planes_per_band`` evenly-spaced
    axis hyperplanes — the OR-of-ANDs banding for sign LSH, same shape
    as MinHash banding.  A pair is a candidate if it agrees on EVERY
    plane of ANY band: recall = 1 - (1 - p^k)^L for per-plane agreement
    p, so low-threshold recall that a single band can never reach
    (p^k) becomes tunable via L.  Precision per band is unchanged, so
    bucket sizes stay bounded; candidate dedup happens before the
    cosine evaluation."""
    if planes_per_band <= 0 or n_bands <= 0:
        raise ValueError("planes_per_band and n_bands must be positive")
    if planes_per_band * n_bands > dim:
        raise ValueError(
            f"planes_per_band*n_bands must be <= {dim} for disjoint axes"
        )
    flat = axis_planes(dim, planes_per_band * n_bands)
    # round-robin so each band spans the whole vector, not one slice
    return tuple(
        tuple(flat[b + i * n_bands] for i in range(planes_per_band))
        for b in range(n_bands)
    )


def minhash_recall(threshold: float, k: int, bands: int) -> float:
    """Model recall of a (k, bands) MinHash LSH at Jaccard
    ``threshold``: ``1 - (1 - t^r)^b`` with ``r = k / bands`` rows per
    band — the classic S-curve, the number the ``dedup_recall``
    evaluation query measures empirically against exact truth."""
    r = k // bands
    return 1.0 - (1.0 - threshold**r) ** bands


def minhash_params_for_recall(
    threshold: float,
    target_recall: float,
    max_k: int = 8,
) -> tuple[int, int]:
    """Choose MinHash LSH parameters ``(k, bands)`` so the model
    recall at Jaccard ``threshold`` is at least ``target_recall`` —
    the miss rate becomes a CHOSEN number instead of an emergent one.

    Among all ``(rows, bands)`` with ``rows * bands <= max_k`` meeting
    the recall bound, picks the one with the HIGHEST S-curve midpoint
    ``(1/bands)^(1/rows)`` (the Jaccard level where candidacy
    probability crosses 50%): a higher midpoint admits fewer
    below-threshold false candidates into the exact-verify stage, so
    this maximizes precision within the hash budget; ties break to
    the smaller ``k``.  Raises if no parameterization within ``max_k``
    reaches the target (the caller must raise the budget).  The
    ``dedup_recall`` query is the empirical check of the same model
    this derivation inverts.
    """
    import math

    if not (0.0 < threshold < 1.0 and 0.0 < target_recall < 1.0):
        raise ValueError("threshold and target_recall must be in (0, 1)")
    best: tuple[float, int, int, int] | None = None
    for rows in range(1, max_k + 1):
        p_band = threshold**rows
        if p_band >= 1.0:
            continue
        need = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
        bands = max(need, 1)
        k = rows * bands
        if k > max_k:
            continue
        midpoint = (1.0 / bands) ** (1.0 / rows)
        cand = (-midpoint, k, rows, bands)
        if best is None or cand < best:
            best = cand
    if best is None:
        raise ValueError(
            f"no (rows, bands) with rows*bands <= {max_k} reaches recall "
            f"{target_recall} at threshold {threshold}; raise max_k"
        )
    _, k, rows, bands = best
    return (k, bands)


def auto_bands(
    dim: int,
    corpus_count: int,
    n_bands: int = 8,
    target_bucket_size: int = 32,
    target_recall: float | None = None,
    threshold: float | None = None,
) -> tuple[tuple[int, ...], ...]:
    """Corpus-scaled sign-LSH bands: ``planes_per_band ≈ log2(N /
    target_bucket_size)`` so the bucket count (2^planes per band)
    grows WITH the corpus and per-bucket occupancy — hence the
    in-bucket quadratic pair expansion — stays constant as N grows
    10x/100x.  A fixed plane count is the one measured superlinear
    scaling defect this module ever had (20.2x time under 10x data;
    1.3x with this rule applied).

    Axes are disjoint across bands while they fit (``dim >= planes *
    n_bands``); beyond that, bands reuse axes via a stride coprime
    with ``dim`` (planes within a band stay distinct; bands spanning
    overlapping axis sets only correlate recall, never correctness —
    candidates are always exact-verified by the cosine filter).

    With ``target_recall`` (and the cosine ``threshold`` it is to
    hold at), the BAND COUNT is derived instead of fixed: a random
    hyperplane separates a pair at cosine ``t`` with probability
    ``acos(t)/π``, so one ``p``-plane band catches it with
    ``q^p`` (``q = 1 - acos(t)/π``) and ``B`` bands with
    ``1 - (1 - q^p)^B`` — solve for the smallest ``B`` meeting the
    target.  (Axis planes are not iid random hyperplanes, so this is
    the calibrated model the recall-evaluation queries measure, not a
    guarantee; the miss rate is still a chosen number rather than an
    emergent one.)  Note the interaction with the corpus rule: ``p``
    grows with N to hold bucket sizes flat, which LOWERS per-band
    recall, so the derived ``B`` rises with corpus size — exactly the
    extra work scale requires to keep BOTH occupancy and recall
    constant.
    """
    import math

    n = max(int(corpus_count), 1)
    p = (
        math.ceil(math.log2(n / target_bucket_size))
        if n > target_bucket_size
        else 1
    )
    p = max(1, min(p, dim))
    if target_recall is not None:
        if threshold is None:
            raise ValueError(
                "target_recall needs the cosine threshold it must hold at"
            )
        q = 1.0 - math.acos(threshold) / math.pi
        per_band = q**p
        if per_band >= 1.0:
            n_bands = 1
        else:
            n_bands = max(
                1,
                math.ceil(
                    math.log(1.0 - target_recall) / math.log(1.0 - per_band)
                ),
            )
    if p * n_bands <= dim:
        return banded_axis_planes(dim, p, n_bands)
    stride = next(s for s in range(7, 7 + dim) if math.gcd(s, dim) == 1)
    return tuple(
        tuple((b * (dim // n_bands) + i * stride) % dim + 1 for i in range(p))
        for b in range(n_bands)
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sign_dims: tuple[int, ...] | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    bands: tuple[tuple[int, ...], ...] | None = None,
    dim: int = 64,
    n_bands: int = 8,
    target_bucket_size: int = 32,
    corpus_count: int | None = None,
    target_recall: float | None = None,
    id_pred=None,
) -> DataFrame:
    """Embedding-cosine near-duplicates with a sign-bucket LSH prefilter.

    Bucket key = sign pattern of hyperplane components (see
    :func:`axis_planes`); cosine is computed only within buckets, so
    the join fan-out is sum over buckets of |bucket|^2 — bounded by
    scaling the plane count with the corpus (2^planes buckets per
    band) and by ``max_bucket``, which drops degenerate buckets
    outright (e.g. the all-zeros-embedding bucket) exactly like
    ``minhash_lsh_pairs``' cap: a bucket bigger than the cap would do
    O(cap^2+) work for pairs that are overwhelmingly boilerplate.

    **Default = corpus-scaled OR-of-ANDs banding**: with neither
    ``sign_dims`` nor ``bands`` given, the plane count is derived from
    the corpus size via :func:`auto_bands` (``corpus_count`` if the
    caller already knows it — a production pipeline does — else one
    cheap ``count()``), so the operator keeps its sub-quadratic shape
    at ANY scale without hand-tuning.  Pass ``sign_dims`` for a fixed
    single band or ``bands`` (see :func:`banded_axis_planes`) for
    explicit multi-band control.  A single plane set's recall is p^k
    per-plane-agreement p; L bands lift it to 1 - (1-p^k)^L, with
    candidates deduped by id pair before the cosine evaluation so each
    surviving pair is scored once.  Recall floors vs brute force are
    pinned by test_llm.

    The cap (:func:`_buckets`) filters each bucket's id array by size
    *before* the pair expansion, so an oversized bucket never
    materializes its pairs.

    ``id_pred`` (a callable mapping the id Column to a boolean Column)
    restricts the OUTPUT pairs to ids satisfying the predicate while
    bucketing — bucket membership, occupancy counts, and the
    ``max_bucket`` cap — still runs over the FULL corpus: exactly
    ``result.filter(pred(id_a) & pred(id_b))``, but the non-qualifying
    ids never enter the quadratic pair expansion or the vector-attach
    joins.  This is the recall-evaluation lane (score a bounded sample
    against full-corpus banding) at sample cost instead of corpus
    cost.
    """
    from .similarity import dot

    v = F.col(vec_col).cast("array<double>")

    # Band keys are assembled as ONE SQL string -> F.expr instead of
    # hundreds of Column operations: every Column op is a driver->JVM
    # round trip, and at 8 bands x 6 planes the op-by-op build alone
    # cost ~0.5s of per-call latency (measured; the resulting Catalyst
    # tree is bit-identical either way).  The sign test reads the RAW
    # stored array — the old per-element `cast(vec as array<double>)`
    # re-materialized the whole 64-wide array once per plane per row
    # (48x per row at 8x6), which was ~80% of the banding stage's
    # runtime; comparing float directly against a double zero promotes
    # the scalar, not the array, and produces the identical sign.
    def _key(dims: tuple[int, ...]) -> str:
        bits = ",".join(
            f"cast(cast((element_at(`{vec_col}`,{d}) >= 0.0D) as int) as string)"
            for d in dims
        )
        return f"concat_ws('',{bits})"

    if bands is None:
        if sign_dims is not None:
            bands = (tuple(sign_dims),)
        else:
            n = corpus_count if corpus_count is not None else emb.count()
            # target_recall derives the BAND COUNT from the hyperplane
            # model at this operator's cosine threshold (auto_bands),
            # so the tier's miss rate is a chosen number
            bands = auto_bands(
                dim,
                n,
                n_bands,
                target_bucket_size,
                target_recall=target_recall,
                threshold=threshold if target_recall is not None else None,
            )
    keys = F.expr("array(" + ",".join(_key(b) for b in bands) + ")")
    # Candidate generation shuffles IDs ONLY — the same agg-and-expand
    # shape as minhash_lsh_pairs, but the 64-double vectors never ride
    # the (band x corpus) shuffle and each distinct pair is scored
    # exactly once (the previous shape shuffled full vectors per band
    # and computed the cosine once per agreeing band before deduping).
    # Hot buckets expand quadratically in one task — that is what
    # ``max_bucket`` (a free size filter before the expansion) and
    # corpus-scaled plane counts bound.
    e = emb.select(F.col(id_col).alias("id"), F.posexplode(keys).alias("band", "bucket"))
    grouped = _buckets(e, ["band", "bucket"], "id", max_bucket)
    if id_pred is not None:
        # restrict AFTER the cap, so the cap stays a full-corpus
        # property while only sample ids enter the pair expansion
        grouped = grouped.withColumn("ids", F.filter("ids", id_pred))
    cand = _bucket_pairs(grouped, ("", "id_a", "id_b"))
    if len(bands) > 1:
        # OR over bands: a pair is a candidate once per agreeing band.
        cand = cand.distinct()
    # Score once per candidate: attach both vectors (with squared
    # norms computed per VECTOR, a third of the per-pair array work)
    # via two joins whose strategy is left to AQE's runtime sizes —
    # unlike the text-LSH verify stage, the embedding candidate set is
    # quadratic in bucket occupancy, so an unconditional broadcast
    # hint here OOMs the moment the plane count lags the corpus
    # (measured: 25M candidates at 10x sf0.1 with 2k-tuned planes).
    # AQE broadcasts whichever side is actually small at runtime.
    ev = emb
    if id_pred is not None:
        # only qualifying ids can appear in candidates — prune the
        # vector-attach side to the sample too
        ev = ev.filter(id_pred(F.col(id_col)))
    ev = ev.select(F.col(id_col).alias("id"), v.alias("v"), dot(v, v).alias("n2"))
    joined = cand.join(
        ev.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("n2a")),
        "id_a",
    ).join(
        ev.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("n2b")),
        "id_b",
    )
    sim = F.round(dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("n2a") * F.col("n2b")), 6)
    return (
        joined.withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _gram_fp_relation(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    with_tokens: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """The span family's shared materialization: per doc, the ordered
    array of 60-bit n-gram fingerprints (``ga``;
    :func:`text.md5_wide_long` — 32 bits would birthday-collide at
    corpus scale), plus the token array when the caller rebuilds text.

    ``localCheckpoint`` truncates the lineage so the tokenize + gram
    + md5 pass — the span family's dominant per-byte cost — runs ONCE
    per corpus scan, no matter how many downstream branches (df pass,
    position explode, token rebuild) read it; the previous shape
    re-tokenized and re-hashed the corpus once per branch.
    """
    from .text import md5_wide_long, ngrams

    toks = tokens(F.col(text_col))
    cols = [
        F.col(id_col).alias("doc_id"),
        F.transform(ngrams(toks, n), lambda gm: md5_wide_long(gm)).alias("ga"),
    ]
    if with_tokens:
        cols.append(toks.alias("toks"))
    out = docs.select(*cols)
    # checkpoint=False exists for the plan tests, which pin the
    # fingerprint width on the expression the checkpoint would hide
    return out.localCheckpoint(eager=False) if checkpoint else out


def _dup_grams_from(rel: DataFrame, min_doc_freq: int) -> DataFrame:
    """Fingerprints occurring in >= ``min_doc_freq`` distinct docs —
    the document-frequency pass, over a :func:`_gram_fp_relation`.

    Positionless by construction: per-doc ``array_distinct`` over the
    already-computed fingerprint array, so the one gram-keyed exchange
    carries 8-byte keys for distinct (doc, gram) pairs only — position
    rows never enter.  count_distinct (not count over pre-distinct
    rows) keeps collision semantics identical to the oracle's
    ``COUNT(DISTINCT doc_id)``.
    """
    dg = rel.select(
        "doc_id", F.explode(F.array_distinct(F.col("ga"))).alias("gram")
    )
    return (
        dg.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("gram")
    )


def duplicated_span_stats(
    docs: DataFrame,
    n: int = 5,
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool = True,
) -> DataFrame:
    """Duplicated-span statistics: for every document, how much of it
    is made of word n-grams that also occur in OTHER documents — the
    n-gram-anchored approximation of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") that RefinedWeb/Dolma-style pipelines actually run
    at scale, where the signal drives span *removal* rather than
    whole-doc dropping.

    Per doc (only docs with at least one n-gram appear):

    - ``n_grams``  — total n-gram positions (tokens - n + 1),
    - ``n_dup``    — positions whose n-gram occurs in >= ``min_doc_freq``
      distinct documents,
    - ``max_run``  — longest run of CONSECUTIVE duplicated positions
      (~longest shared substring, in tokens: run + n - 1),
    - ``dup_frac`` — n_dup / n_grams, round 6.

    Scale shape: the document-frequency aggregation runs on a
    POSITIONLESS relation — per-doc ``array_distinct`` grams,
    fingerprinted to 60-bit md5 longs (``text.md5_wide_long``; 32
    bits would birthday-collide at corpus scale and falsely qualify
    grams) — so its gram-keyed exchange carries one 8-byte key per
    distinct (doc, gram), nothing more (a hash collision merges two
    grams' df counts identically on both engines — the oracle replays
    the same fingerprint, so the contract holds).  The qualifying
    grams (the duplicated subset — typically a small fraction of the
    distinct-gram table) then BROADCAST back onto the position
    explode, so the wide (doc, pos, gram) relation never shuffles at
    all: singleton grams — the vast majority — die at a map-side
    hash probe.  Per-doc windows run over only the duplicated
    positions.  Runs are grouped by the classic gap-and-islands key
    ``pos - row_number()`` — no self-join, no cartesian anywhere.
    Pass ``broadcast_dup=False`` for corpora whose duplicated-gram
    table exceeds the broadcast budget; the join falls back to
    shuffle (AQE still converts it back when the runtime size
    allows).  The tokenize+gram+hash pass runs ONCE
    (:func:`_gram_fp_relation`); every branch below reads the
    materialized fingerprint arrays.
    """
    from pyspark.sql import Window

    rel = _gram_fp_relation(docs, n, text_col, id_col)
    g = rel.select("doc_id", F.posexplode(F.col("ga")).alias("pos", "gram"))
    base = rel.select(
        "doc_id", F.size(F.col("ga")).alias("n_grams")
    ).filter(F.col("n_grams") >= 1)
    dup_grams = _dup_grams_from(rel, min_doc_freq)
    if broadcast_dup:
        dup_grams = F.broadcast(dup_grams)
    dup_pos = g.join(dup_grams, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    per_doc = (
        runs.groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.sum("run_len").alias("n_dup"), F.max("run_len").alias("max_run"))
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.coalesce("max_run", F.lit(0)).alias("max_run"),
            F.round(
                F.coalesce("n_dup", F.lit(0)).cast("double") / F.col("n_grams"), 6
            ).alias("dup_frac"),
        )
    )


# Per-row routing bound for the ExactSubstr fingerprint build: below
# it, per-offset substring(txt, i, L) — whose O(i) per-call char scan
# is quadratic per doc but with a constant so small it wins outright
# on short docs; at/above it, the split-once char-array path whose
# O(1)-positioned slices stay linear to MB-scale docs.  Measured at
# a7170d3 on a 4-vCPU host, local[4], 5 alternating pairs at sf0.1,
# where every document is shorter than the bound (44-577 chars; the
# 10x corpus reaches 676): forcing the char-array lane on every row
# moves `dup_substrings` from a median 3.55 s (IQR 0.95) to 4.96 s,
# slower beyond the IQR in 4 of 5 pairs, and `substring_span_removal`
# from 3.22 s (IQR 0.05) to 4.93 s, 5 of 5.  The round-14 measurement
# on constant 2M-char corpora put the crossover at 1.5-2k chars (at
# 16k chars the array lane took 0.73 s against 5.59 s and stayed flat).
_CHAR_ARRAY_CUTOFF = 1024


def _char_window_fps(rel: DataFrame, min_len: int, keep_text: bool = False) -> DataFrame:
    """Per-offset ``min_len``-char window fingerprints (60-bit
    ``md5_wide_long``) as ONE array column ``ga`` — the shared build
    of the ExactSubstr pair, hardened for long and non-ASCII
    documents.

    ``rel`` must expose ``doc_id`` and ``__text``.  Docs of length >=
    ``_CHAR_ARRAY_CUTOFF`` split to a per-char array ONCE per row
    (``split(txt, '')`` — code-point granular, O(len)) and every
    window is an O(1)-positioned array ``slice`` + ``array_join``, so
    their build is O(len * min_len) regardless of encoding; shorter
    docs keep the plain ``substring(txt, i, min_len)`` build, whose
    O(i)-scan quadratic term is cheaper than the array's allocation
    overhead below the measured crossover.  An unconditional
    substring build was quadratic per document — a single-task
    straggler on the MB-scale web-crawl docs this operator exists for
    (Lee et al. 2022 run ExactSubstr on raw bytes for the same
    reason).  Both lanes emit the SAME window strings, so the md5
    fingerprints and every downstream row are bit-identical whichever
    lane a doc takes.

    Cost law, measured at a7170d3 on a 4-vCPU host, local[4], min of 2
    noop writes over 4 mixed-UTF-8 documents with ~20% duplicated mass
    (200-char runs), ``min_len`` 30: as documents grow 16x from 12.5k
    to 200k chars, ``duplicate_substring_spans`` takes 3.38 s -> 3.21 s
    and ``remove_duplicate_substrings`` 2.58 s -> 2.40 s, so the
    per-Mchar cost falls (67.7 -> 4.0 s and 51.5 -> 3.0 s) where a
    quadratic build would grow it 16x.

    Plan-shape note: ``__ch`` is deliberately referenced more than
    once in the consuming projection (sequence bound + slice), so
    CollapseProject keeps the non-cheap ``split`` in its own project
    instead of inlining it into the lambda body, where the
    higher-order function would re-evaluate it per element.
    """
    from .text import md5_wide_long

    txt = F.col("__text")
    ch = rel.withColumn(
        "__ch",
        F.when(F.length(txt) >= _CHAR_ARRAY_CUTOFF, F.split(txt, "")).otherwise(
            F.expr("CAST(array() AS array<string>)")
        ),
    )
    short_ga = F.transform(
        F.sequence(F.lit(1), F.length(txt) - F.lit(min_len - 1)),
        lambda i: md5_wide_long(F.substring(txt, i, min_len)),
    )
    long_ga = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__ch")) - F.lit(min_len - 1)),
        lambda i: md5_wide_long(
            F.array_join(F.slice(F.col("__ch"), i, min_len), "")
        ),
    )
    ga = (
        F.when(F.length(txt) < min_len, F.expr("CAST(array() AS array<bigint>)"))
        .when(F.length(txt) < _CHAR_ARRAY_CUTOFF, short_ga)
        .otherwise(long_ga)
    )
    cols = ["doc_id"] + (["__text"] if keep_text else []) + [ga.alias("ga")]
    return ch.select(*cols)


def duplicate_substring_spans(
    docs: DataFrame,
    min_len: int = 30,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool = True,
) -> DataFrame:
    """Exact duplicate-substring spans — the suffix-array-class dedup
    pass of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", the ExactSubstr dedup), distributed as
    sorted gram-fingerprint ranges instead of one machine-wide suffix
    array: a substring of length >= ``min_len`` that occurs >=
    ``min_count`` times in the corpus contains a duplicated
    ``min_len``-char window at EVERY offset, so marking duplicated
    fixed-length windows and merging consecutive marks recovers each
    document's maximal duplicated spans of ANY length >= ``min_len``
    (the exact span set ExactSubstr's suffix array removes; a merged
    span's parts may match different partners, exactly as there).

    Differences from :func:`duplicated_span_stats` (the token-n-gram
    STATS pass): character-level windows (substring dedup is defined
    over bytes, not token boundaries), occurrence counting instead of
    distinct-doc df (a document repeating its own 30-char run is
    duplication — ExactSubstr counts suffix multiplicity, not document
    sets), and the output is the SPANS themselves — ``(doc_id,
    span_start 1-based, span_len)`` per maximal run — i.e. removal
    input, not a per-doc score.

    Scale shape (the ``dup_spans`` df-bounded discipline): the
    window fingerprints (60-bit ``md5_wide_long`` — hash equality
    stands in for value equality here, so 32 bits would falsely merge
    grams at corpus scale) are computed in ONE map pass per doc as an
    array; the occurrence count groupBy exchanges 8-byte keys once;
    the qualifying (duplicated) gram set — bounded by the corpus's
    duplicate mass, not its size — broadcasts back onto the position
    explode, so the wide (doc, pos) relation never shuffles and
    singleton grams die at a map-side hash probe.  The island merge
    (``pos - row_number()`` gap-and-islands) windows over duplicated
    positions only.  Pass ``broadcast_dup=False`` when the duplicated
    gram table exceeds the broadcast budget.  Reference semantics:
    Lee et al. 2022 §4.1 (ExactSubstr); 50-token spans there, char
    windows here.  Long/non-ASCII docs: the fingerprint build is the
    O(len * min_len) :func:`_char_window_fps` pass — see there.
    """
    from pyspark.sql import Window

    rel = _char_window_fps(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        min_len,
    ).localCheckpoint(eager=False)
    g = rel.select(
        "doc_id", F.posexplode(F.col("ga")).alias("pos0", "gram")
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gram")
    )
    if broadcast_dup:
        dup = F.broadcast(dup)
    dup_pos = g.join(dup, "gram").select(
        "doc_id", (F.col("pos0") + 1).alias("i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = dup_pos.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.count(F.lit(1)) + F.lit(min_len - 1))
            .cast("long")
            .alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


def remove_duplicate_substrings(
    docs: DataFrame,
    min_len: int = 30,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool = True,
) -> DataFrame:
    """ExactSubstr span REMOVAL — the transformation
    :func:`duplicate_substring_spans` exists to drive: rebuild each
    document with every CHARACTER covered by a corpus-duplicated
    ``min_len``-char window dropped (Lee et al. 2022 cut the span
    from all but one occurrence; dropping it everywhere keeps the
    operator embarrassingly parallel — no global winner election —
    exactly like the token-gram :func:`remove_duplicated_spans`).

    Output per doc: ``cleaned`` (surviving characters, original order,
    no separator — reconstruction is exact, unlike the token variant's
    whitespace normalization), ``n_chars`` (original), ``n_removed``.

    Scale shape: identical to :func:`duplicate_substring_spans` up to
    the match-position fold (one 8-byte-key exchange, duplicated-gram
    broadcast, position relation never shuffles); match positions
    aggregate to ONE sorted int array per doc, that model-per-row
    array joins back onto the (doc, text) relation, and the rebuild is
    INTERVAL-COMPLEMENT: the sorted match starts fold into merged
    covered intervals (an interval boundary is a match whose gap to
    its neighbor exceeds ``min_len`` — two index-guarded ``filter``
    passes, O(matches)), and the surviving text is the concat of the
    O(1)-positioned char-array slices BETWEEN those intervals —
    O(len + matches) per document.  The previous shape kept chars via
    a per-char array filtered with ``exists`` over every match start:
    O(len * matches) comparisons per row, O(len^2) on the heavily
    duplicated long docs this operator targets.
    """
    rel = _char_window_fps(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        min_len,
        keep_text=True,
    ).localCheckpoint(eager=False)
    g = rel.select("doc_id", F.posexplode(F.col("ga")).alias("pos0", "gram"))
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gram")
    )
    if broadcast_dup:
        dup = F.broadcast(dup)
    match_pos = (
        g.join(dup, "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos0")).alias("mp"))
    )
    joined = rel.join(match_pos, "doc_id", "left").withColumn(
        "mp", F.coalesce("mp", F.array().cast("array<int>"))
    )
    # Merged covered intervals [s, e) from the sorted 0-based match
    # starts: start ``p`` opens an interval iff it is first or its gap
    # to the previous start exceeds min_len (touching/overlapping
    # windows merge — same covered-char union either way); a start
    # closes one iff it is last or the NEXT start opens a new one.
    # The two filters are position-aligned by construction, so
    # zip_with pairs them without a join.  element_at is 1-based and
    # when() keeps it lazy at the array edges.
    L = F.lit(min_len)
    mp = F.col("mp")
    starts = F.filter(
        mp,
        lambda p, i: F.when(i == F.lit(0), F.lit(True)).otherwise(
            p - F.element_at(mp, i) > L
        ),
    )
    ends = F.filter(
        mp,
        lambda p, i: F.when(i == F.size(mp) - F.lit(1), F.lit(True)).otherwise(
            F.element_at(mp, i + F.lit(2)) - p > L
        ),
    )
    iv = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), (e + L).alias("e"))
    )
    st = joined.withColumn("__ch", F.split(F.col("__text"), "")).withColumn(
        "__iv", iv
    )
    # Rebuild = concat of the k+1 complement gaps around the k merged
    # intervals.  Each gap is one O(1)-positioned slice of the char
    # array; per-row cost is O(len + intervals), and __ch / __iv are
    # each referenced >= 2 times below so CollapseProject materializes
    # them as attributes instead of re-deriving them per lambda
    # element (see _char_window_fps).
    ch, ivc = F.col("__ch"), F.col("__iv")
    k = F.size(ivc)

    def _gap_start(j):
        return F.when(j == F.lit(0), F.lit(0)).otherwise(
            F.element_at(ivc, j).getField("e")
        )

    def _gap_end(j):
        return F.when(j == k, F.size(ch)).otherwise(
            F.element_at(ivc, j + F.lit(1)).getField("s")
        )

    cleaned = F.array_join(
        F.transform(
            F.sequence(F.lit(0), k),
            lambda j: F.array_join(
                F.slice(ch, _gap_start(j) + F.lit(1), _gap_end(j) - _gap_start(j)),
                "",
            ),
        ),
        "",
    )
    n_removed = F.aggregate(
        ivc,
        F.lit(0),
        lambda acc, x: acc + (x.getField("e") - x.getField("s")),
    )
    empty_doc = F.length(F.col("__text")) == 0
    return st.select(
        "doc_id",
        F.when(empty_doc, F.lit("")).otherwise(cleaned).alias("cleaned"),
        F.when(empty_doc, F.lit(0)).otherwise(F.size(ch)).cast("long").alias(
            "n_chars"
        ),
        n_removed.cast("long").alias("n_removed"),
    )


def edit_verified_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
    prefix: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Character-level near-dup verification: MinHash-LSH discovery,
    then Levenshtein similarity on LENGTH-CAPPED text prefixes —
    the complement of the token-level Jaccard verify in
    :func:`verified_neardup_pairs` (edit distance catches
    small-edit/boilerplate variants whose token sets already diverge).

    ``edit_sim = 1 - lev(a[:prefix], b[:prefix]) /
    max(len(a[:prefix]), len(b[:prefix]))``.  The prefix cap bounds
    the O(len^2) DP cell count per pair at ``prefix^2`` — without it
    one pathological pair of long documents detonates a task (the
    same reasoning as the bucket caps).  Candidates come from the
    same single-shuffle LSH as every other verify stage: the
    quadratic metric only ever touches the candidate set, never the
    corpus.  Levenshtein is exact-integer and engine-identical, so
    the oracle replays it directly.

    Output: (doc_a, doc_b, edit_sim round 6) with edit_sim >=
    ``threshold``.
    """
    cand = minhash_lsh_pairs(docs, k, bands, n, text_col, id_col, max_bucket)
    txt = docs.select(id_col, F.substring(F.col(text_col), 1, prefix))
    joined = _attach_text(cand, "doc_a", "doc_b", txt, txt)
    lev = F.levenshtein(F.col("ta"), F.col("tb"))
    sim = F.round(
        F.lit(1.0)
        - lev.cast("double") / F.greatest(F.length("ta"), F.length("tb")),
        6,
    )
    return (
        joined.withColumn("edit_sim", sim)
        .filter(F.col("edit_sim") >= threshold)
        .select("doc_a", "doc_b", "edit_sim")
    )


def source_overlap_matrix(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
    max_sources: int | None = 100,
) -> DataFrame:
    """Inter-source duplication matrix: for every pair of sources
    (crawl domains, dump snapshots, dataset providers), how many
    distinct word n-gram shingles they share — the corpus-analytics
    view that tells a datamix owner which sources are near-copies of
    each other before weighting them independently.

    ONE shingle-keyed aggregation — the shingle fingerprinted to a
    60-bit md5 long (``text.md5_wide_long``; 32 bits would
    birthday-collide at corpus scale and inflate every overlap count)
    at the scan, so the only shingle exchange shuffles 8-byte keys
    plus map-side-deduped source sets (``collect_set`` partials
    absorb a source's repeated shingles before the wire, playing the
    old ``distinct``'s role without its exchange).  Each surviving
    shingle expands its sorted source set to ordered pairs IN-ROW
    (``source_a < source_b`` by construction), so a pair row appears
    once per SHARED shingle and a plain count is the shared-shingle
    cardinality — row-identical to the former distinct + cap-count +
    self-join shape, which paid 4 parquet scans and ~9 exchanges for
    the same arithmetic.  ``max_sources`` is the usual skew guard — a
    shingle present in more than that many sources (universal
    boilerplate) is dropped before the pair expansion, bounding the
    per-shingle fan-out at ``max_sources^2`` instead of (number of
    domains)^2; the aggregation state for such a shingle is one
    source-id set, bounded by the DOMAIN count, never the corpus.
    """
    from .text import md5_wide_long

    fps = docs.select(
        F.col(source_col).alias("source"),
        F.explode(shingles(F.col(text_col), n)).alias("sh"),
    ).select("source", md5_wide_long(F.col("sh")).alias("sh"))
    srcs = _buckets(fps, ["sh"], "source", max_sources)
    return (
        _bucket_pairs(srcs, ("", "source_a", "source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 5,
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool = True,
) -> DataFrame:
    """Span REMOVAL — the transformation the substring-dedup signal
    (:func:`duplicated_span_stats`) exists to drive: rebuild each
    document with every token covered by a cross-document duplicated
    n-gram dropped (Lee et al. 2022 remove the shared substring from
    all but one occurrence; large pipelines commonly drop it
    everywhere, as here, which is also what keeps the operator
    embarrassingly parallel — no global "keep one winner" election).

    Output per doc: ``cleaned`` (kept tokens joined by single spaces —
    whitespace is normalized by reconstruction), ``n_tokens``
    (original), ``n_removed``.  Docs whose every token is covered
    clean to the empty string.

    Scale shape: the shared positionless df pass (``_dup_grams_from``,
    60-bit fingerprints — 32 bits would birthday-collide at corpus
    scale and this operator DELETES text on collision) finds
    duplicated grams, which broadcast back onto the position explode
    (``broadcast_dup=False`` falls back to a shuffle join); the MATCH
    POSITIONS aggregate per doc into one int array (no n-fold covered-
    index expansion, no exploded-token relation ever shuffles), that
    array joins back onto the materialized (doc, tokens) relation, and
    the rebuild is a single in-row pass — a token at index ``i`` is
    covered iff some match position ``p`` satisfies ``p <= i <
    p + n`` (``exists`` over the sorted match array, bounded by the
    doc's own match count).  The tokenize+gram+hash pass runs ONCE
    (:func:`_gram_fp_relation` with tokens carried for the rebuild).
    """
    rel = _gram_fp_relation(docs, n, text_col, id_col, with_tokens=True)
    g = rel.select("doc_id", F.posexplode(F.col("ga")).alias("pos", "gram"))
    dup_grams = _dup_grams_from(rel, min_doc_freq)
    if broadcast_dup:
        dup_grams = F.broadcast(dup_grams)
    match_pos = (
        g.join(dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("mp"))
    )
    joined = rel.join(match_pos, "doc_id", "left").withColumn(
        "mp", F.coalesce("mp", F.array().cast("array<int>"))
    )
    mp = F.col("mp")
    kept = F.filter(
        F.col("toks"),
        lambda tok, i: ~F.exists(mp, lambda p: (p <= i) & (i < p + n)),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("cleaned"),
        F.size(F.col("toks")).alias("n_tokens"),
        (F.size(F.col("toks")) - F.size(kept)).alias("n_removed"),
    )


def dedup_paragraphs(
    docs: DataFrame,
    sep: str = r"\n{2,}",
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool = True,
) -> DataFrame:
    """Paragraph-level exact dedup with a keep-first winner — the
    Dolma/CCNet-style boilerplate stripper: a paragraph that appears
    verbatim in >= ``min_doc_freq`` distinct documents (cookie
    banners, newsletter footers, license blurbs) survives only in its
    lowest-id document and is deleted everywhere else.  Coarser than
    :func:`remove_duplicated_spans` (exact paragraphs, not n-gram
    spans) and cheaper: no position arithmetic, one fingerprint per
    paragraph.

    The reference pipelines do this with a streaming Bloom filter
    ("seen before -> drop"); the deterministic batch analog elects the
    min-``id_col`` document as the single keeper, which re-runs and
    the DuckDB oracle reproduce exactly (a Bloom pass depends on
    arrival order and false-positive rate).

    Output per doc: ``cleaned`` (kept paragraphs joined by a blank
    line, original order), ``n_paragraphs``, ``n_removed``.  Empty /
    whitespace-only paragraphs are dropped before counting.

    Scale shape: paragraphs explode once with their position and
    fingerprint to 60-bit md5 longs (``text.md5_wide_long`` — hash
    equality stands in for value equality here and this operator
    DELETES text on collision); the document-frequency-and-owner
    aggregation groups the POSITIONLESS (fingerprint, doc) projection
    — its one exchange carries 8-byte keys with map-side partial
    min/count-distinct — and only the duplicated fingerprints (with
    their owner id) BROADCAST back onto the position relation, so the
    wide (doc, pos, para-text) relation never shuffles; the per-doc
    rebuild groups by ``doc_id`` over kept paragraphs only.
    ``broadcast_dup=False`` falls back to a shuffle join for corpora
    whose duplicated-paragraph table exceeds the broadcast budget.
    """
    from .text import md5_wide_long

    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.trim(F.col("para")) != "")
    keyed = paras.withColumn("fp", md5_wide_long(F.col("para")))
    owners = (
        keyed.groupBy("fp")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("df") >= min_doc_freq)
        .select("fp", "owner")
    )
    if broadcast_dup:
        owners = F.broadcast(owners)
    kept = (
        keyed.join(owners, "fp", "left")
        .filter(F.col("owner").isNull() | (F.col("owner") == F.col("doc_id")))
        .select("doc_id", "pos", "para")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s.para,
            ),
            "\n\n",
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paragraphs"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        "n_paragraphs",
        (F.col("n_paragraphs") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
    )


# ---------------------------------------------------------------------------
# Persisted dedup index — the serving tier for rolling-ingest dedup,
# completing the story the persisted ANN indexes (similarity.py)
# started: the corpus's MinHash band keys are computed ONCE and stored
# as a versioned ParquetTable, so each arriving batch pays
# O(batch) banding + one map-side join against the standing keys
# instead of re-hashing the whole corpus per call
# (incremental_neardup_pairs' documented "at scale the corpus keys are
# precomputed once and stored" — this is that store).  Same commit
# discipline as the ANN tiers: build meta (banding params + exact
# corpus fingerprint) rides a sidecar under the index's single CAS
# pointer; appends are versioned commits; ensure() rebuilds only when
# the corpus or the params moved.


def _dedup_index_meta(index_root: str) -> dict:
    """The committed generation's build meta (banding params live
    here so probes can NEVER band a batch differently from the
    index); driver-local read, zero Spark jobs."""
    from .similarity import (
        _BUILD_META_SIDECAR,
        _index_table,
        _read_sidecar_local,
    )

    tbl = _index_table(index_root)
    rows = _read_sidecar_local(tbl, _BUILD_META_SIDECAR).to_pylist()
    if not rows:
        raise FileNotFoundError(f"no build meta under {index_root}")
    return rows[0]


def build_dedup_index(
    docs: DataFrame,
    index_root: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    _meta: dict | None = None,
) -> None:
    """Build (or atomically rebuild) the persisted band index: one
    ``(band, key, doc_id)`` row per (document, band), partitioned by
    band, with the banding parameters recorded in the ``_build_meta``
    sidecar under the same pointer.  ~``bands`` 16-byte-ish rows per
    document — a tiny fraction of corpus bytes — and the expensive
    part of discovery (k md5 window parses per shingle) is paid once
    per corpus instead of once per probe."""
    import pyarrow as pa

    from .similarity import _index_table

    meta = {"k": int(k), "bands": int(bands), "n": int(n)}
    meta.update(_meta or {})
    rows = banded_minhash_keys(docs, k, bands, n, text_col, id_col).select(
        "band", "key", "doc_id"
    )
    tbl = _index_table(index_root)
    tbl.overwrite(
        rows,
        partition_by=("band",),
        sidecars={
            "_build_meta": pa.table({kk: [vv] for kk, vv in meta.items()})
        },
    )


def probe_dedup_index(
    spark: "SparkSession",
    index_root: str,
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicates of a NEW batch against the persisted index —
    bit-identical to :func:`incremental_neardup_pairs` run with the
    index's banding parameters (pinned by the shared oracle), but the
    corpus side never re-hashes and never shuffles:

    - the batch bands with the INDEX's own (k, bands, n) read from its
      meta sidecar (a probe cannot band differently from the store);
    - the batch's distinct band keys BROADCAST onto the index scan —
      a map-side hash semi-probe, the corpus keys stream from parquet;
    - the matched index rows then take the per-call form's own
      candidate step (:func:`_batch_candidates`): every corpus row of
      a matched key survives the semi-join, so the capped bucket size
      is the full bucket size;
    - verification fetches candidate text only (``corpus`` supplies
      text — the index stores derived keys, not a copy of the corpus)
      via the shared exact-Jaccard tail (:func:`_text_jaccard`).

    Output: (new_id, corpus_id, jaccard >= threshold); batch docs
    absent from the output are novel and safe to append
    (:func:`append_to_dedup_index`).
    """
    from .similarity import _index_table

    meta = _dedup_index_meta(index_root)
    k, bands, n = int(meta["k"]), int(meta["bands"]), int(meta["n"])
    bn = banded_minhash_keys(new_docs, k, bands, n, text_col, id_col).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    idx = _index_table(index_root).read(spark)
    keys = bn.select("band", "key").distinct()
    matched = idx.join(F.broadcast(keys), ["band", "key"])
    cand = _batch_candidates(bn, matched, max_bucket)
    return _text_jaccard(
        cand,
        "new_id",
        "corpus_id",
        new_docs.select(id_col, text_col),
        corpus.select(id_col, text_col),
        n,
        threshold,
    )


def append_to_dedup_index(
    new_docs: DataFrame,
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Extend the persisted index with a new batch's band keys — the
    ingest companion of :func:`probe_dedup_index` (probe first, then
    append what was kept).  Bands with the index's OWN parameters and
    publishes old+batch via a versioned commit (hardlink copy-on-write
    + CAS flip), so a concurrent probe never observes a partial batch.
    The original build's corpus fingerprint stays in the meta, so a
    later :func:`ensure_dedup_index` against the grown corpus
    correctly sees it as stale."""
    from .similarity import _index_table

    meta = _dedup_index_meta(index_root)
    k, bands, n = int(meta["k"]), int(meta["bands"]), int(meta["n"])
    rows = banded_minhash_keys(new_docs, k, bands, n, text_col, id_col).select(
        "band", "key", "doc_id"
    )
    _index_table(index_root).append_commit(rows, partition_by=("band",))


def ensure_dedup_index(
    docs: DataFrame,
    index_root: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """Build-if-stale over :func:`build_dedup_index`: rebuild only
    when the exact corpus fingerprint (count + summed
    xxhash64(id, text)) or the banding parameters differ from the
    committed generation's meta — the same serving contract as the
    persisted ANN tiers (``similarity._ensure_index``)."""
    from .similarity import _ensure_index

    params = {"k": int(k), "bands": int(bands), "n": int(n)}
    return _ensure_index(
        docs,
        index_root,
        text_col,
        id_col,
        params,
        lambda meta: build_dedup_index(
            docs, index_root, k, bands, n, text_col, id_col, _meta=meta
        ),
    )
