"""Dataset splitting, stratified sampling, and shard packing.

The operators a pretraining-data pipeline runs after dedup/quality:

- **hash_split**: deterministic train/val/test assignment from a salted
  document-id hash.  Assignment is a pure function of (salt, id) — re-
  running on new data never reshuffles old docs across splits, and no
  engine RNG is involved (reproducible everywhere, join-free).
- **stratified_sample**: per-stratum (e.g. per-language, per-source)
  keep-rates via the same hash — the "datamix weights" operator.  A
  map-side filter: no shuffle, scales embarrassingly.
- **pack_shards**: assign documents to fixed-token-budget training
  shards by cumulative size over a deterministic order.  One window
  cumsum — the Spark analog of the greedy sequential packer.  At 100 TB
  the single global ordering is the scale risk: partition the cumsum by
  a coarse bucket (e.g. split × language) so each partition packs
  independently — the ``partition_cols`` knob.

All hashes derive from md5 (``text.md5_long``) so the DuckDB oracle
replays them exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_df
from .text import md5_long

# Denominator for rate arithmetic: rates are exact in 1e6ths.
RATE_DENOM = 1_000_000


def split_bucket(id_col: Column, salt: str = "split") -> Column:
    """Stable bucket in [0, RATE_DENOM) from a salted id hash."""
    return md5_long(F.concat(F.lit(salt), id_col.cast("string"))) % RATE_DENOM


def hash_split(
    df: DataFrame,
    weights: Sequence[tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given weights.

    ``weights`` is ordered; cumulative thresholds partition the bucket
    space, so the same (salt, id) always lands in the same split.
    """
    bucket = split_bucket(F.col(id_col), salt)
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        cond = bucket < int(round(acc * RATE_DENOM))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    out = expr.otherwise(weights[-1][0])
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically.

    A map-side filter (no shuffle, no RNG): row kept iff
    ``hash(salt, id) % D < rate[stratum] * D``.  Rates are exact in
    millionths.  Strata missing from ``rates`` use ``default_rate``.
    """
    bucket = split_bucket(F.col(id_col), salt)
    rate = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        thr = F.lit(int(round(r * RATE_DENOM)))
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    rate = (
        rate.otherwise(F.lit(int(round(default_rate * RATE_DENOM))))
        if rate is not None
        else F.lit(int(round(default_rate * RATE_DENOM)))
    )
    return df.filter(bucket < rate)


def pack_shards(
    df: DataFrame,
    size_col: str,
    shard_tokens: int,
    order_cols: Sequence[str] = ("doc_id",),
    partition_cols: Sequence[str] = (),
    out_col: str = "shard_id",
) -> DataFrame:
    """Assign rows to consecutive shards of ~``shard_tokens`` budget.

    Shard id = floor(exclusive-prefix-sum(size) / budget) over the
    deterministic ``order_cols`` order (per ``partition_cols`` group
    when given — the scale path; a single global cumsum serializes into
    one task per sort range otherwise).  Oversized single docs get
    their own shard rather than splitting.
    """
    w = (
        Window.partitionBy(*partition_cols)
        if partition_cols
        else Window.partitionBy()
    ).orderBy(*order_cols)
    prefix = F.sum(size_col).over(w) - F.col(size_col)
    return df.withColumn(
        out_col, F.floor(prefix / F.lit(shard_tokens)).cast("long")
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows — the context-
    length prep step before tokenization/packing.

    Output: (id, chunk_id, chunk_text, n_tokens), one row per window of
    ``max_tokens`` whitespace tokens advancing by ``max_tokens -
    overlap``; the final window may be shorter (it is never dropped —
    tail loss is a real corpus-quality bug).  Empty docs produce no
    rows.  Explode-shaped with per-row array ops only: no shuffle, no
    UDF, scales with executors like every text operator here.
    """
    from .text import chunk_starts, tokens

    stride = max_tokens - overlap
    toks = tokens(F.col(text_col))
    t = docs.select(
        F.col(id_col), toks.alias("__toks"), F.explode(chunk_starts(toks, max_tokens, overlap)).alias("__s")
    ).filter(F.size("__toks") >= F.col("__s"))
    n = F.least(F.col("__s") + F.lit(max_tokens - 1), F.size("__toks")) - F.col("__s") + F.lit(1)
    return t.select(
        F.col(id_col),
        F.floor((F.col("__s") - 1) / F.lit(stride)).cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__s"), max_tokens)).alias("chunk_text"),
        n.cast("long").alias("n_tokens"),
    )


def dsir_logweights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram features are, for
    selecting a pretraining subset that matches a target distribution.

    Features are unigrams + word bigrams hashed into ``n_buckets``
    fixed buckets (``md5_long % n_buckets`` — engine-replayable).  Two
    add-one-smoothed unigram feature models are fit in ONE aggregation
    pass — the target model over rows where ``is_target`` holds, the
    raw model over everything — and the per-doc weight is the
    log-likelihood ratio summed over the doc's feature occurrences:

        w(doc) = sum_b c_b(doc) * [ln p_target(b) - ln p_raw(b)]

    High-weight docs look like the target set; resampling by weight is
    a downstream ``ORDER BY``/threshold.  Output: (doc_id,
    dsir_logweight round 6).

    Scale posture: the model is a FIXED ``n_buckets``-row table no
    matter the corpus size (that is the point of hashed features), so
    the broadcast never grows; the corpus is tokenized once into a
    (doc, bucket, count) relation whose lineage is truncated
    (``localCheckpoint``) and reused by both the fit and the scoring
    join — one explode + one shuffle total, same single-pass shape as
    ``text.unigram_logprob_score``.
    """
    from .text import ngrams, tokens

    toks = tokens(F.col(text_col))
    feats = F.concat(toks, ngrams(toks, 2))
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        is_target.alias("is_t"),
        F.explode(feats).alias("g"),
    ).select("doc_id", "is_t", (md5_long(F.col("g")) % n_buckets).alias("b"))
    dbkt = (
        ex.groupBy("doc_id", "is_t", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    model = dbkt.groupBy("b").agg(
        F.sum("c").alias("n_raw"),
        F.coalesce(F.sum(F.when(F.col("is_t"), F.col("c"))), F.lit(0)).alias("n_t"),
    )
    totals = model.agg(
        F.sum("n_raw").alias("z_raw"), F.sum("n_t").alias("z_t")
    )
    weights = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("n_t") + 1.0) / (F.col("z_t") + F.lit(float(n_buckets))))
            - F.log((F.col("n_raw") + 1.0) / (F.col("z_raw") + F.lit(float(n_buckets))))
        ).alias("lw"),
    )
    return (
        dbkt.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lw")), 6).alias("dsir_logweight"))
    )


def exact_stratified_k(
    df: DataFrame,
    strata: Sequence[str],
    k: int,
    id_col: str = "doc_id",
    salt: str = "exact-k",
    out_col: str = "rank",
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample — the balanced-subset
    builder (k docs per language/source for eval sets, annotation
    batches, per-domain probes), complementing the rate-based
    :func:`stratified_sample`.

    Rank within each stratum by a salted id hash (uniform, reproducible,
    engine-replayable; ties broken by id) and keep ``out_col <= k``.
    Strata with fewer than k rows keep everything.  One shuffle on the
    strata key; at 100 TB a hot stratum is a window over its own
    partition — bounded by the stratum's size, and the hash order
    means no sort by any data-dependent value.

    The per-stratum rank is part of the output under ``out_col``
    (default ``"rank"``); a collision with an existing input column is
    an error rather than a silent overwrite.
    """
    from .text import md5_long

    if out_col in df.columns:
        raise ValueError(
            f"exact_stratified_k: input already has a column named "
            f"{out_col!r}; pass a different out_col"
        )

    order = md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*[F.col(c) for c in strata]).orderBy(
        order.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn(out_col, F.row_number().over(w))
        .filter(F.col(out_col) <= k)
    )


def token_budget_mixture(
    df: DataFrame,
    budgets: dict[str, int],
    size_col: str = "n_chars",
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    coarse_buckets: int | None = None,
) -> DataFrame:
    """Greedy per-source token-budget sampling — the datamix assembly
    step (DoReMi / Dolma-style): given a target budget of tokens per
    source, walk each source in a deterministic salted-hash order and
    keep documents while the source's running total is under budget.

    A document is kept iff its EXCLUSIVE prefix sum (tokens taken
    before it, in hash order) is under the source's budget — so the
    document that crosses the line is included (budgets are "at
    least", matching the greedy sequential sampler) and sources
    absent from ``budgets`` are dropped.  The hash order makes the
    pick set a pure function of (salt, id): re-runs, retries, and the
    DuckDB oracle all reproduce it exactly, and adding new documents
    never evicts previously-picked ones ordered ahead of them.

    Scale: the naive shape is one window cumsum per source — a single
    hash-partition shuffle, but a hot source serializes into one sort
    range.  ``coarse_buckets > 0`` switches to a two-phase plan:
    documents land in ``coarse_buckets`` contiguous hash-range
    buckets; a tiny per-(source, bucket) aggregate (`sources x
    buckets` rows, broadcast back) locates each source's crossing
    bucket; buckets wholly under budget are kept with NO window at
    all, buckets past it are dropped at the scan, and the window
    cumsum runs only inside the one crossing bucket per source —
    1/``coarse_buckets`` of the data.  Both phases implement the same
    greedy order, so the simple single-window SQL remains the oracle.

    ``coarse_buckets=None`` (the default) derives the bucket count
    from the corpus (``max(32, n // 50_000)`` — constant ~50k-row
    buckets as N grows, the :func:`auto_bands` rule), so the
    scale-safe two-phase plan cannot silently degrade to a hot-source
    serial sort when a caller omits the parameter; the derivation
    costs one count.  ``coarse_buckets=0`` is the explicit
    single-window escape hatch (small inputs, plan comparisons).
    """
    if coarse_buckets is None:
        coarse_buckets = max(32, df.count() // 50_000)
    h = md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    budget = None
    for src, b in sorted(budgets.items()):
        cond = F.col(source_col) == src
        budget = F.when(cond, F.lit(b)) if budget is None else budget.when(cond, F.lit(b))
    budget = budget.otherwise(F.lit(0)) if budget is not None else F.lit(0)
    keep_cols = [F.col(c) for c in df.columns]

    if coarse_buckets <= 0:
        w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
        prefix = F.sum(size_col).over(w) - F.col(size_col)
        return (
            df.withColumn("__budget", budget)
            .withColumn("__prefix", prefix)
            .filter(F.col("__prefix") < F.col("__budget"))
            .select(*keep_cols)
        )

    # Two-phase: md5_long is uniform in [0, 2^32); contiguous ranges of
    # it are the coarse buckets, so bucket order == hash order.
    span = (1 << 32) // coarse_buckets + 1
    t = (
        df.withColumn("__budget", budget)
        .filter(F.col("__budget") > 0)
        .withColumn("__h", h)
        .withColumn("__b", (F.col("__h") / F.lit(span)).cast("long"))
    )
    bw = Window.partitionBy(source_col).orderBy("__b")
    btot = (
        t.groupBy(source_col, "__b")
        .agg(F.sum(size_col).alias("__bsz"))
        .withColumn("__bprefix", F.sum("__bsz").over(bw) - F.col("__bsz"))
    )
    j = t.join(F.broadcast(btot), [source_col, "__b"])
    # Bucket wholly under budget: every doc's exclusive prefix is under
    # it too — keep without any per-row window.
    whole = j.filter(F.col("__bprefix") + F.col("__bsz") <= F.col("__budget"))
    # Crossing bucket(s): window only here, offset by the bucket prefix.
    crossing = j.filter(
        (F.col("__bprefix") < F.col("__budget"))
        & (F.col("__bprefix") + F.col("__bsz") > F.col("__budget"))
    )
    cw = Window.partitionBy(source_col, "__b").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    picked = crossing.withColumn(
        "__prefix", F.col("__bprefix") + F.sum(size_col).over(cw) - F.col(size_col)
    ).filter(F.col("__prefix") < F.col("__budget"))
    return whole.select(*keep_cols).unionByName(picked.select(*keep_cols))


def sequence_pack(
    df: DataFrame,
    seq_len: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "seq",
    coarse_buckets: int | None = None,
) -> DataFrame:
    """Pretraining sequence packing: concatenate documents in a
    deterministic salted-hash order and cut the token stream into
    fixed-length sequences of ``seq_len`` tokens — documents CROSSING
    a boundary are split across both sequences (the standard
    pretraining batch-prep, complementing :func:`pack_shards`' whole-
    document shard assignment and :func:`chunk_documents`' per-doc
    windows).

    Output: one span row per (sequence, document) intersection —
    ``(seq_id, doc_id, doc_from, doc_to, seq_off)`` with
    ``doc_from``/``doc_to`` the token slice within the document
    (``doc_to`` exclusive) and ``seq_off`` the slice's start position
    inside the sequence.  Spans tile every sequence exactly (the last
    sequence may be short) and cover every document completely —
    pinned by tests.  Zero-token documents are dropped (they occupy
    no sequence positions).

    The hash order makes the layout a pure function of (salt, ids),
    so re-runs and both engines reproduce it exactly.  Scale shape:
    the global token-offset cumsum is the only nontrivial step; with
    ``coarse_buckets > 0`` it runs two-phase like
    :func:`token_budget_mixture` — contiguous md5-range buckets, a
    ``coarse_buckets``-row base-offset table computed on the driver
    and broadcast back, and the per-row window confined to one bucket
    — so no single task ever sorts the corpus.  Both phases compute
    the same integer offsets, so the simple single-window SQL remains
    the oracle.

    ``coarse_buckets=None`` (the default) derives the bucket count
    from the corpus (``max(32, n // 50_000)``, one count) so the
    partition-less global window cannot reappear when a caller omits
    the parameter; ``coarse_buckets=0`` is the explicit single-window
    escape hatch.
    """
    h = md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    base = df.filter(F.col(size_col) >= 1).withColumn("__h", h)
    if coarse_buckets is None:
        coarse_buckets = max(32, base.count() // 50_000)
    if coarse_buckets <= 0:
        w = Window.orderBy(F.col("__h").asc(), F.col(id_col).asc())
        t = base.withColumn(
            "__off", F.sum(size_col).over(w) - F.col(size_col)
        )
    else:
        t, bases, _ = _bucket_bases(base, size_col, coarse_buckets)
        bdf = local_df(df.sparkSession, bases, "__b LONG, __base LONG")
        wb = Window.partitionBy("__b").orderBy(
            F.col("__h").asc(), F.col(id_col).asc()
        )
        t = t.join(F.broadcast(bdf), "__b").withColumn(
            "__off",
            F.col("__base") + F.sum(size_col).over(wb) - F.col(size_col),
        )
    first = F.floor(F.col("__off") / seq_len).cast("long")
    last = F.floor((F.col("__off") + F.col(size_col) - 1) / seq_len).cast("long")
    spans = t.select(
        F.col(id_col),
        F.col(size_col).alias("__n"),
        "__off",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    sstart = F.col("seq_id") * seq_len
    return spans.select(
        "seq_id",
        id_col,
        F.greatest(F.lit(0).cast("long"), sstart - F.col("__off")).alias("doc_from"),
        F.least(
            F.col("__n").cast("long"), sstart + seq_len - F.col("__off")
        ).alias("doc_to"),
        F.greatest(F.lit(0).cast("long"), F.col("__off") - sstart).alias("seq_off"),
    )


def _bucket_bases(
    base: DataFrame, size_col: str, coarse_buckets: int
) -> tuple[DataFrame, list[tuple[int, int]], int]:
    """Contiguous md5-range buckets with driver-side exclusive base
    offsets — the shared core of the two-phase bucketed cumsum
    (:func:`sequence_pack`, :func:`weighted_sample_k`): bucket order
    equals hash order because ``md5_long`` is uniform in [0, 2^32),
    and the base table is bucket-count rows (model-sized).  ``base``
    must carry the ``__h`` order hash.  Returns
    ``(frame with __b, sorted [(bucket, exclusive_base)], total)``.
    """
    span = (1 << 32) // max(coarse_buckets, 1) + 1
    t = base.withColumn("__b", (F.col("__h") / F.lit(span)).cast("long"))
    sums = t.groupBy("__b").agg(F.sum(size_col).alias("__bsz")).collect()
    acc = 0
    bases: list[tuple[int, int]] = []
    for r in sorted(sums, key=lambda r: r["__b"]):
        bases.append((r["__b"], acc))
        acc += r["__bsz"]
    return t, bases, acc


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
    coarse_buckets: int | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITH replacement: draw ``k``
    documents with probability proportional to an integer weight
    (token count, byte size) — the datamix draw step when the unit of
    account is tokens, not documents (a 10k-token doc should be
    sampled 100x as often as a 100-token one).

    Pure integer arithmetic end to end, so both engines replay it
    exactly: documents line up in salted-hash order; each occupies the
    half-open interval ``[cum, cum + weight)`` of the exclusive
    prefix-sum axis; probe ``j`` targets position
    ``md5_60bit(salt-probe j) mod W`` on that axis and selects the one
    document whose interval contains it.  (The A-ES exponential-key
    scheme needs ``ln``/``pow`` whose last-ulp behavior differs
    between engines — this interval formulation trades without-
    replacement semantics for bit-exact reproducibility.)

    The probe target is a 60-BIT hash (15 md5 hex chars): a 32-bit
    target would cap the reachable axis at 2^32 — past ~4.3e9 total
    tokens every document beyond that cumulative point would silently
    have zero draw probability.  2^60 outruns any real corpus; the
    32-bit ORDER hash is fine (collisions only co-locate rows).

    Scale shape (the :func:`sequence_pack` two-phase pattern): the
    cumsum runs per contiguous md5-range bucket with a driver-computed
    bucket-base table (bucket count rows — model-sized, like the
    k-means centroids); each probe's bucket is located driver-side by
    bisect, and a semi join prunes the corpus to the <= k probed
    buckets BEFORE the only window — so the per-row sort touches
    ``k/coarse_buckets`` of the data and no task ever sorts the
    corpus.  Probes join by bucket equality (broadcast, k rows); the
    interval containment is a post-join filter, never a nested loop.

    Output: ``(sample_id, id_col, weight_col)`` — exactly one row per
    probe (k rows; duplicates across probes are the with-replacement
    semantics).  Zero-weight documents are dropped (they occupy no
    interval).
    """
    import hashlib
    from bisect import bisect_right

    spark = df.sparkSession
    h = md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    base = df.filter(F.col(weight_col) >= 1).withColumn("__h", h)
    if coarse_buckets is None:
        coarse_buckets = max(32, base.count() // 50_000)
    t, bases, total = _bucket_bases(base, weight_col, coarse_buckets)
    if total == 0:
        # schema-faithful empty result: the caller's id/weight types,
        # not a hardcoded LONG (a string-id batch must union cleanly)
        return (
            df.select(F.col(id_col), F.col(weight_col).cast("long").alias(weight_col))
            .limit(0)
            .select(F.lit(0).cast("long").alias("sample_id"), id_col, weight_col)
        )
    probes = []
    starts = [s for _, s in bases]
    for j in range(k):
        tgt = (
            int(hashlib.md5(f"{salt}-probe{j}".encode()).hexdigest()[:15], 16)
            % total
        )
        b = bases[bisect_right(starts, tgt) - 1][0]
        probes.append((j, tgt, b))
    pdf = local_df(spark, probes, "sample_id LONG, __target LONG, __b LONG")
    bdf = local_df(spark, bases, "__b LONG, __base LONG")
    wb = Window.partitionBy("__b").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    c = (
        t.join(F.broadcast(pdf.select("__b").distinct()), "__b", "left_semi")
        .join(F.broadcast(bdf), "__b")
        .withColumn(
            "__cum",
            F.col("__base") + F.sum(weight_col).over(wb) - F.col(weight_col),
        )
    )
    return (
        c.join(F.broadcast(pdf), "__b")
        .filter(
            (F.col("__target") >= F.col("__cum"))
            & (F.col("__target") < F.col("__cum") + F.col(weight_col))
        )
        .select("sample_id", id_col, F.col(weight_col).cast("long").alias(weight_col))
    )


def corpus_divergence(
    docs_a: DataFrame,
    docs_b: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora over hashed
    unigram buckets — the datamix drift monitor: compare this week's
    crawl against last week's, a candidate source against the current
    mixture, or pre- vs post-filter distributions, without shipping a
    vocabulary anywhere.

    Features are the DSIR hashed buckets (``md5_long % n_buckets`` —
    engine-replayable, model size fixed regardless of corpus scale).
    Each side's bucket distribution gets add-one smoothing, and the
    output is one row per OBSERVED bucket with both raw counts and the
    bucket's JS contribution (``0.5 * pa * ln(pa / m) + 0.5 * pb *
    ln(pb / m)``, m the midpoint, floored at 1e-9) — ``SUM(js_contrib)``
    is the divergence, per-bucket rows are the drill-down (WHICH
    buckets moved).  Buckets observed on neither side are omitted;
    their smoothed contribution is ~0 (identical add-one mass on both
    sides when the corpora are comparably sized).  All values are
    deterministic arithmetic on exact integer counts, so the DuckDB
    oracle replays them value for value.

    Scale shape: both corpora tokenize in one union pass with a side
    tag; the single exchange carries (bucket, side-tagged partial
    counts) — 8-byte keys, map-side combined — and the output is
    model-sized (``n_buckets`` rows).
    """
    from .text import tokens

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(
            F.lit(tag).alias("__side"),
            F.explode(tokens(F.col(text_col))).alias("t"),
        )

    ex = side(docs_a, 0).unionByName(side(docs_b, 1)).select(
        "__side", (md5_long(F.col("t")) % n_buckets).alias("b")
    )
    counts = ex.groupBy("b").agg(
        F.coalesce(
            F.sum(F.when(F.col("__side") == 0, F.lit(1))), F.lit(0)
        ).alias("ca"),
        F.coalesce(
            F.sum(F.when(F.col("__side") == 1, F.lit(1))), F.lit(0)
        ).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("za"), F.sum("cb").alias("zb")
    )
    k = F.lit(float(n_buckets))
    pa = (F.col("ca") + 1.0) / (F.col("za") + k)
    pb = (F.col("cb") + 1.0) / (F.col("zb") + k)
    m = (pa + pb) / F.lit(2.0)
    js = F.lit(0.5) * pa * F.log(pa / m) + F.lit(0.5) * pb * F.log(pb / m)
    # floor-at-1e-9 instead of decimal rounding: both engines compute
    # the identical double from identical integer counts, and floor of
    # an identical double is engine-exact (decimal rounding of doubles
    # can diverge on shortest-repr boundaries).  JS contributions are
    # nonnegative by construction, so floor is a pure truncation.
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.col("ca").cast("long").alias("ca"),
            F.col("cb").cast("long").alias("cb"),
            (F.floor(js * F.lit(1e9)) / F.lit(1e9)).alias("js_contrib"),
        )
    )
