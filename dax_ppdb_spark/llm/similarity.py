"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN is actually deployed on Spark:

- **brute-force top-k** — the exact baseline: broadcast the query set,
  cross-join against the corpus, JVM-side dot products, per-query
  window top-k.  Linear scan per query; right answer, and at 100 TB
  the fallback verify stage.
- **IVF-style bucketed top-k** — the scale path: partition the corpus
  by a deterministic coarse quantizer (sign-pattern buckets here;
  k-means centroids in a real deployment), probe only the query's
  bucket.  Turns the scan into a partition-pruned lookup.

The dot product is a sequential ``aggregate`` fold over ``zip_with``
products in double precision — deterministic and identical to a C++
sequential loop, which is what keeps the DuckDB oracle hash-equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def _pair_cosine(qv: str, cv: str, n2q: str = "n2q", n2c: str = "n2c") -> Column:
    """Round-6 cosine over a joined pair whose squared norms were
    computed per VECTOR before the join (columns ``n2q``/``n2c``).
    Same expression tree :func:`cosine_similarity` expands to —
    bit-identical doubles — at a third of the interpreted-fold work
    (HOFs never enter whole-stage codegen; the self-dots dominated
    every pair-scoring stage that used the in-place form)."""
    return F.round(
        dot(F.col(qv), F.col(cv)) / F.sqrt(F.col(n2q) * F.col(n2c)), 6
    )


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str
) -> DataFrame:
    """``(id_as, vec_as)``: the id and the vector cast to
    ``array<double>`` — the projection every top-k side, trainer and
    index writer starts from."""
    return df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).cast("array<double>").alias(vec_as)
    )


def _topk(joined: DataFrame, sim: Column, k: int) -> DataFrame:
    """The one top-k tail: score each (query, neighbor) pair with
    ``sim``, rank per query by (cosine desc, neighbor id asc) and keep
    ranks ``<= k`` as ``(query_id, rank, neighbor_id, cosine)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    precompute_n2: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` carries (id_col, vec_col); it is broadcast (query sets
    are small by construction), so the corpus side never shuffles —
    the window's partition key is the query id, whose cardinality is
    tiny, and AQE coalesces.

    ``precompute_n2`` moves the squared norms out of the per-pair
    cosine (see :func:`_pair_cosine` — a third of the interpreted-fold
    work, bit-identical result).  Callers whose ``vec_col`` is a
    DERIVED expression (:func:`topk_pq`'s reconstruction) pass False:
    CollapseProject inlines the defining expression into both ``dot``
    references, so the norm column would re-reconstruct every corpus
    row twice — costlier than the per-pair folds it saves whenever the
    query set is small (measured +0.8 s on ann_topk_pq at sf0.1).
    """
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    if precompute_n2:
        c = c.withColumn("n2c", dot(F.col("cv"), F.col("cv")))
        q = q.withColumn("n2q", dot(F.col("qv"), F.col("qv")))
        sim = _pair_cosine("qv", "cv")
    else:
        sim = F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return _topk(joined, sim, k)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the ``d`` dimensions into
    ``m`` contiguous subspaces of ``d/m`` dims and train one
    deterministic k-means codebook per subspace
    (:func:`kmeans_centroids` — same init/tie-break/round-6 rules, so
    the DuckDB oracle replays each subspace training as its own Lloyd
    CTE chain).  Returns ``books[s][cid]`` = centroid vector.

    PQ is the memory tier past SQ8: codes cost ``m * log2(k_cb)``
    bits per vector (vs 8 bits/dim for SQ8), which is what makes a
    10^11-vector index fit a cluster's RAM.  Training scans the
    hash sample once per subspace — at 100 TB each pass reads the
    same sampled GBs (the :func:`kmeans_centroids` contract).
    """
    # Every subspace trains on the SAME hash-sampled id set (the md5
    # filter does not depend on the subspace), so when the sample fits
    # the driver one collect of the FULL vectors funds all m Lloyd
    # chains (:func:`_pq_books_local`).
    X = _collect_id_sorted_sample(_sample(corpus, vec_col, id_col, sample_mod))
    if X is not None:
        return _pq_books_local(X, m, k_cb, iters)
    first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("pq_codebooks: empty corpus")
    sub = _pq_sub(first["d"], m)
    books = []
    for s in range(m):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"), s * sub + 1, sub).alias(
                "v"
            ),
        )
        book = kmeans_centroids(
            sliced, k_cb, iters, vec_col="v", id_col=id_col, sample_mod=sample_mod
        )
        if not book:
            raise ValueError("pq_codebooks: empty training sample")
        books.append(book)
    return books


def _pq_sub(d: int, m: int) -> int:
    """Subspace width of ``d`` dimensions split into ``m`` codebooks."""
    if d % m:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    return d // m


def _pq_books_local(X: "np.ndarray", m: int, k_cb: int, iters: int) -> list:
    """Driver-local :func:`pq_codebooks` on an id-sorted sample matrix:
    the bit-replayed :func:`_lloyd_local` on each subspace's column
    slice (the rows a per-subspace collect would see, in the same id
    order)."""
    import numpy as np

    if len(X) == 0:
        raise ValueError("pq_codebooks: empty training sample")
    sub = _pq_sub(X.shape[1], m)
    return [
        _lloyd_local(np.ascontiguousarray(X[:, s * sub : (s + 1) * sub]), k_cb, iters)
        for s in range(m)
    ]


def _pq_code(vec: Column, s: Column, sub: int) -> Column:
    """Code of subspace ``s`` (a 0-based index column): the nearest
    ``__books[s]`` centroid to ``vec``'s ``s``-th slice of ``sub``
    dims."""
    return _argmin_dist(
        F.slice(vec, s * sub + 1, sub), F.element_at(F.col("__books"), s + 1)
    )


def _pq_concat(m: int, code) -> Column:
    """Concatenation of ``__books[s][code(s)]`` over the ``m``
    subspaces: the reconstruction a PQ scorer compares against, from
    codes computed in place (:func:`pq_reconstruct`) or stored
    (:func:`topk_ivf_pq_index`)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(F.element_at(F.col("__books"), s + 1), code(s) + 1),
        )
    )


def pq_reconstruct(
    emb: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "rv",
) -> DataFrame:
    """Encode-and-reconstruct under PQ codebooks in ONE map-side pass:
    each subspace slice is assigned to its nearest codebook centroid
    (the code) and the reconstruction concatenates the chosen
    centroids — the vector an ADC/IVFPQ scorer actually compares
    against.  The codebooks ride in a one-row broadcast (data, not
    expression nodes — the :func:`assign_cells` contract, O(1) plan
    size in ``m * k_cb``); arithmetic is the same sequential fold +
    first-wins struct-min, so the oracle replays it value-for-value.
    """
    sub = len(books[0][0])
    v = F.col(vec_col).cast("array<double>")
    rv = _pq_concat(len(books), lambda s: _pq_code(v, s, sub))
    return (
        emb.crossJoin(F.broadcast(_model_row(emb.sparkSession, books=books)))
        .withColumn(out_col, rv)
        .drop("__books")
    )


def topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """Product-quantized top-k: full-precision queries scored against
    the PQ-reconstructed corpus (asymmetric scoring, FAISS ``PQx``):
    train per-subspace codebooks, encode+reconstruct the corpus
    map-side, then the broadcast-query scan of
    :func:`topk_bruteforce`.  The scan is still O(N) rows — PQ buys
    MEMORY (m*log2(k_cb) bits/vector), not scan count; compose with
    the IVF cell probe for both.
    """
    books = pq_codebooks(corpus, m, k_cb, iters, vec_col, id_col, sample_mod)
    rec = pq_reconstruct(corpus, books, vec_col, id_col).select(
        F.col(id_col), F.col("rv").alias(vec_col)
    )
    # scoring tail IS the brute-force scan over the reconstruction —
    # one convention (round-6 cosine, (desc, id) tie-break), one place.
    # precompute_n2=False: rv is a derived expression; a norm column
    # would inline the whole PQ reconstruction twice more per row.
    return topk_bruteforce(rec, queries, k, vec_col, id_col, precompute_n2=False)


def _train_ivfpq(
    corpus: DataFrame,
    n_clusters: int,
    m: int,
    k_cb: int,
    iters: int,
    pq_iters: int,
    vec_col: str,
    id_col: str,
    sample_mod: int | None,
):
    """The one IVF-PQ trainer, for :func:`topk_ivfpq` and
    :func:`build_ivf_pq_index`: coarse Lloyd centroids, then per-
    subspace codebooks of the RESIDUALS against them.  Returns
    ``(cents, books, t)``, ``t`` being the corpus assigned to its cells
    with residuals (:func:`_coarse_residual`) for the caller to encode.

    BOTH quantizer levels train on the same hash-sampled id set (the
    md5 filter is subspace- and level-independent), so when the sample
    fits the driver ONE collect funds the whole cascade: coarse Lloyd,
    coarse assignment, exact-IEEE residual subtraction and the m
    residual-subspace Lloyd chains, all bit-replayed.  Above
    :data:`LOCAL_TRAIN_ROWS` both levels train distributed, and ``t``
    is checkpointed: the m subspace trainings, the dim probe and the
    caller's encode then share one assignment pass.
    """
    import numpy as np

    c = _vectors(corpus, id_col, vec_col, "nid", "v")
    X = _collect_id_sorted_sample(_sample(c, "v", "nid", sample_mod))
    if X is not None:
        if len(X) == 0:
            raise ValueError(_EMPTY_TRAINING)
        cents = _lloyd_local(X, n_clusters, iters)
        C = np.array(cents, dtype=np.float64)
        books = _pq_books_local(X - C[_assign_local(X, C)], m, k_cb, pq_iters)
        return cents, books, _coarse_residual(c, cents)
    cents = kmeans_centroids(c, n_clusters, iters, "v", "nid", sample_mod)
    if not cents:
        raise ValueError(_EMPTY_TRAINING)
    t = _coarse_residual(c, cents).localCheckpoint(eager=False)
    books = pq_codebooks(t, m, k_cb, pq_iters, "r", "nid", sample_mod)
    return cents, books, t


def topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 3,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVFPQ — the production FAISS shape: a learned coarse quantizer
    prunes the scan to the query's cell, and product quantization of
    the RESIDUALS (vector minus its coarse centroid) compresses what
    the cell stores.  Residual PQ beats raw-vector PQ because residual
    magnitudes are a cell-diameter, not a corpus-diameter — the same
    codebook budget buys finer resolution.

    Everything deterministic end to end (sampled Lloyd for both
    quantizer levels, first-wins argmin, round-6 centroid means), so
    the DuckDB oracle replays the coarse chain, the residual
    construction, all m subspace chains, and the add-back
    reconstruction value-for-value.

    Scale shape: training scans a hash sample (:func:`_train_ivfpq`);
    assignment, residuals, PQ encode and reconstruction are ONE
    map-side pass with both codebook levels shipped as broadcast data;
    scoring joins the broadcast queries to their cell only (the IVF
    prune), never the full corpus.
    """
    cents, books, t = _train_ivfpq(
        corpus, n_clusters, m, k_cb, iters, pq_iters, vec_col, id_col, sample_mod
    )
    rec = pq_reconstruct(t, books, vec_col="r", id_col="nid", out_col="rres")
    # cv is DERIVED (coarse + residual reconstruction): no norm
    # precompute — CollapseProject would inline the reconstruction
    # into both self-dot references, re-running it twice per row for
    # a per-pair saving the small query side cannot repay.
    corpus_side = rec.select(
        F.col("nid").alias("neighbor_id"),
        "cid",
        F.zip_with("cc", "rres", lambda a, b: a + b).alias("cv"),
    )
    q = assign_cells(
        _vectors(queries, id_col, vec_col, "query_id", "qv"), cents, vec_col="qv"
    )
    joined = corpus_side.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (corpus_side["cid"] == q["cid"]),
    )
    return _topk(joined, F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6), k)


def sign_bucket(vec: Column, dims: tuple[int, ...] = (1, 17, 33, 49)) -> Column:
    """Deterministic coarse quantizer: sign pattern on fixed axes."""
    return F.concat_ws(
        "", *[(F.element_at(vec, d) >= 0).cast("int").cast("string") for d in dims]
    )


def _dist_tags(vec: Column, cents: Column) -> Column:
    """``(d, i)`` structs of the squared distance from ``vec`` to each
    centroid ``i``: a sequential zip_with fold per centroid
    (deterministic summation order — the DuckDB oracles replay it term
    for term).  Struct ordering compares ``d`` first, then ``i``, so
    equal distances resolve to the FIRST index in both a min and a
    sort; the distance array is evaluated once (higher-order folds see
    no common-subexpression elimination; a two-reference
    ``array_position(d, array_min(d))`` measured 1.5x slower).

    The index sequence bound comes from ``size(cents)``, NOT an
    inlined ``lit(k-1)``: integer literals are pasted into the
    generated code, so a k-dependent literal gives every distinct
    cluster count its own codegen unit and a multi-second compile —
    with the data-derived bound the generated source is byte-identical
    for ANY k and the bench warm-up at a different scale factor (hence
    different auto-k) warms this plan too."""
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.zip_with(
        dists,
        F.sequence(F.lit(0), F.size(cents) - 1),
        lambda d, i: F.struct(d.alias("d"), i.alias("i")),
    )


def _argmin_dist(vec: Column, cents: Column) -> Column:
    """0-based index of the nearest centroid, first index wins ties
    (struct-min of :func:`_dist_tags`)."""
    return F.array_min(_dist_tags(vec, cents))["i"].cast("int")


def _argmin_multi(vec: Column, cents: Column, probes: int) -> Column:
    """Indices of the ``probes`` nearest centroids, nearest first —
    ``array_sort`` of :func:`_dist_tags` (same first-index tie-break;
    the SQL oracle replays it as ``ROW_NUMBER() ... WHERE rn <=
    probes``)."""
    return F.transform(
        F.slice(F.array_sort(_dist_tags(vec, cents)), 1, probes),
        lambda s: s["i"].cast("int"),
    )


def _model_row(spark, cents=None, books=None) -> DataFrame:
    """One-row DataFrame carrying a quantizer as DATA — ``__cents``
    (centroids) and/or ``__books`` (per-subspace PQ codebooks) — for a
    broadcast cross join.  The row is k*dim doubles, bytes reused by
    every task, where a literal would be O(k*dim) expression nodes
    every job re-analyzes (1.4 s per job at k=45, dim=64)."""
    fields, vals = [], []
    if cents is not None:
        fields.append("__cents: array<array<double>>")
        vals.append([[float(x) for x in c] for c in cents])
    if books is not None:
        fields.append("__books: array<array<array<double>>>")
        vals.append([[[float(x) for x in c] for c in b] for b in books])
    return local_df(spark, [tuple(vals)], ", ".join(fields))


def assign_cells_multi(
    df: DataFrame,
    centroids: list[list[float]],
    probes: int,
    vec_col: str = "v",
    out_col: str = "cid",
) -> DataFrame:
    """Multi-probe :func:`assign_cells`: one output row per (input
    row, probe), ``out_col`` exploding over the ``probes`` nearest
    cells — the recall lever for product-quantized pair mining (a
    pair near a fine-cell boundary meets in the neighbor's cell).
    Same broadcast-data centroid shipping as the single-probe path.
    """
    return (
        df.crossJoin(F.broadcast(_model_row(df.sparkSession, centroids)))
        .withColumn(
            out_col,
            F.explode(_argmin_multi(F.col(vec_col), F.col("__cents"), probes)),
        )
        .drop("__cents")
    )


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "v",
    out_col: str = "cid",
) -> DataFrame:
    """Attach ``out_col`` = nearest-centroid index to every row, with
    the centroid table shipped as DATA (:func:`_model_row`), so the
    assignment expression is O(1) plan nodes regardless of k.
    Measured: 0.6 s per Lloyd iteration at k=45 AND k=90, flat in k
    (the literal-tree form cost 1.4 s per job at k=45).

    The crossJoin materializes as a BroadcastNestedLoopJoin whose
    build side is this ONE ROW of constant bytes — the benign kind
    (an equi-key dodge does not survive Catalyst anyway: any
    single-valued key gets constant-propagated into a build-side
    filter and the join degenerates back to condition-free).  The
    plan tests distinguish it from a real all-pairs loop by its
    ``__cents`` build column.
    """
    return (
        df.crossJoin(F.broadcast(_model_row(df.sparkSession, centroids)))
        .withColumn(out_col, _argmin_dist(F.col(vec_col), F.col("__cents")))
        .drop("__cents")
    )


def _coarse_residual(c: DataFrame, cents: list[list[float]]) -> DataFrame:
    """``c`` = ``(nid, v)`` assigned to its coarse cell ``cid``, with
    the cell centroid ``cc`` and the exact-IEEE residual ``r = v - cc``
    — the input of IVF-PQ training and encoding."""
    return (
        c.crossJoin(F.broadcast(_model_row(c.sparkSession, cents)))
        .withColumn("cid", _argmin_dist(F.col("v"), F.col("__cents")))
        .withColumn("cc", F.element_at(F.col("__cents"), F.col("cid") + 1))
        .drop("__cents")
        .withColumn("r", F.zip_with("v", "cc", lambda a, b: a - b))
    )


def _round6_half_up(x: float) -> float:
    """Spark's ``F.round(x, 6)`` on a double: HALF_UP on the decimal
    STRING of ``x`` (``BigDecimal.valueOf``, i.e. ``Double.toString``),
    not on its exact binary value — 0.7071065 is stored as
    0.70710649999..., yet rounds to 0.707107.  Python's ``repr`` is the
    shortest round-trip string, which JDK 17's ``Double.toString`` is
    not always; the property test against ``F.round`` pins that the
    two round alike on 7-decimal midpoints and their ulp neighbours.
    DuckDB's ``round`` follows neither rule (0.5000005 -> 0.5, 5e-07 ->
    1e-06), so the oracle can differ from the engine on a value that
    sits exactly on a 7-decimal midpoint."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _sq_dists_local(X: "np.ndarray", cents: "np.ndarray") -> "np.ndarray":
    """Driver-local twin of :func:`_dist_tags`' distances: squared
    distances accumulated SEQUENTIALLY over dimensions (``acc += (x_d -
    c_d)^2`` for d = 0..dim-1 — the same IEEE addition order as the
    zip_with fold, so distances are bit-identical)."""
    import numpy as np

    acc = np.zeros((X.shape[0], cents.shape[0]))
    for d in range(X.shape[1]):
        diff = X[:, d][:, None] - cents[:, d][None, :]
        acc += diff * diff
    return acc


def _assign_local(X: "np.ndarray", cents: "np.ndarray") -> "np.ndarray":
    """Driver-local twin of :func:`_argmin_dist` (``np.argmin``
    returns the first occurrence, matching the struct-min)."""
    import numpy as np

    return np.argmin(_sq_dists_local(X, cents), axis=1)


def _lloyd_local(X: "np.ndarray", n_clusters: int, iters: int) -> list[list[float]]:
    """Driver-local Lloyd on an id-sorted sample matrix: init = first
    ``n_clusters`` rows, per-iteration first-wins argmin assignment and
    round-6 (exact decimal HALF_UP) element-wise means, empty cells
    keeping their previous centroid — the same update rule as the
    DataFrame loop, so the DuckDB oracle replay holds unchanged.  (The
    mean's summation order differs between numpy, Spark partial
    aggregation, and DuckDB; the round-6 absorbs that last-ulp noise —
    the same tolerance the cross-engine gate has always relied on.)"""
    import numpy as np

    cents = X[: min(n_clusters, len(X))].astype(np.float64).copy()
    for _ in range(iters):
        cid = _assign_local(X, cents)
        new = []
        for j in range(len(cents)):
            members = X[cid == j]
            if len(members) == 0:
                new.append(cents[j])
            else:
                new.append(
                    np.array([_round6_half_up(v) for v in members.mean(axis=0)])
                )
        cents = np.stack(new)
    return [[float(x) for x in c] for c in cents]


# Below this many training rows the Lloyd loop runs driver-local on
# the collected sample: each distributed iteration is 2+ Spark jobs
# re-executing the sample's lineage, pure scheduling overhead once the
# sample fits in driver memory.  Big samples keep the distributed loop.
# Measured at a7170d3 on a 4-vCPU host, local[4], 5 alternating pairs
# of the `semdedup` row at sf0.1 (2,000 embeddings, 1,000-row sample;
# both levels train here): driver lane median 1.11 s (IQR 0.09),
# distributed lane 3.94 s, slower in 5 of 5 pairs.  sf0.01 (250-row
# sample) and the 10x corpus (100k embeddings, 50k-row sample) also
# take the driver lane.
LOCAL_TRAIN_ROWS = 100_000


def _collect_id_sorted_sample(c: DataFrame):
    """ONE-job gate-probe + collect for the driver-local training path.

    ``limit(LOCAL_TRAIN_ROWS + 1)`` either returns the ENTIRE sample
    (a limit past the end is a no-op, so <= LOCAL_TRAIN_ROWS rows means
    we already hold all of them) or proves the sample is big by
    returning one row more than the bound.  That replaces the previous
    persist + count + collect pair (two sequential Spark jobs, each
    paying scheduler latency) with a single job — and on the BIG-sample
    path the CollectLimit early-terminates after the first partitions,
    so the probe is far cheaper than the count it replaces.

    ``c`` must have columns ``(id, v)``.  Returns the id-sorted sample
    matrix (possibly 0 rows), or ``None`` when the sample exceeds
    :data:`LOCAL_TRAIN_ROWS` and the caller must run distributed.
    """
    import numpy as np

    rows = c.limit(LOCAL_TRAIN_ROWS + 1).collect()
    if len(rows) > LOCAL_TRAIN_ROWS:
        return None
    rows.sort(key=lambda r: r[0])
    return np.array([r[1] for r in rows], dtype=np.float64)


def _sample(
    corpus: DataFrame, vec_col: str, id_col: str, sample_mod: int | None
) -> DataFrame:
    """The training sample ``(id, v)``: rows with ``md5_long(id) %
    sample_mod == 0`` (every row when ``sample_mod`` is None)."""
    from .text import md5_long

    c = _vectors(corpus, id_col, vec_col, "id", "v")
    if sample_mod is not None:
        c = c.filter(md5_long(F.col("id").cast("string")) % sample_mod == 0)
    return c


_EMPTY_TRAINING = (
    "corpus (or its sample_mod sample) is empty — nothing to train the "
    "quantizer on"
)


def kmeans_centroids(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd iterations on DataFrames — the real IVF
    coarse quantizer (``sign_bucket`` is the model-free stand-in).

    ``sample_mod`` trains the quantizer on a deterministic hash sample
    of the corpus: rows with ``md5_long(id) % sample_mod == 0`` (a
    1/sample_mod systematic sample, engine-replayable — unlike
    ``DataFrame.sample``, whose per-partition RNG depends on the
    physical split layout).  Centroid quality needs only a
    statistically representative sample, so at 100 TB each Lloyd
    iteration scans GBs instead of the full corpus; assignment of the
    full corpus happens once, outside this function.

    Deterministic by construction: init = the ``n_clusters`` lowest-id
    training vectors, fixed iteration count, first-wins tie-break on
    assignment, and centroids rounded to 6 decimals each update so
    float partial-aggregation ulp noise cannot flip assignments
    between runs.  Each iteration is one assignment pass (centroids
    inlined as literals — no join, no shuffle) plus one element-wise
    mean (posexplode + groupBy over n_clusters*dim cells).  Only
    ``n_clusters * dim`` floats ever reach the driver.
    """
    c = _sample(corpus, vec_col, id_col, sample_mod)
    # Driver-local fast path: ONE limit-probe job both measures the
    # gate and collects the whole sample when it fits
    # (:func:`_collect_id_sorted_sample`) — vs the previous
    # persist+count+collect pair.  Every Lloyd iteration then runs on
    # the driver matrix.
    X = _collect_id_sorted_sample(c)
    if X is not None:
        if len(X) == 0:
            return []
        return _lloyd_local(X, n_clusters, iters)
    # Persist the projected training sample for the duration of the
    # loop: every Lloyd iteration is a fresh Spark job, and without
    # this each of the iters+1 jobs RE-EXECUTES the sample's entire
    # lineage — at 100 TB that is iters full corpus scans (and for the
    # two-level quantizer's fine pass, iters re-runs of the coarse
    # assignment).  The persisted set is bounded by construction
    # (sample_mod scales with the corpus), and training is eager, so
    # the unpersist below never invalidates caller-visible lineage.
    c = c.persist()
    try:
        cents = [r.v for r in c.orderBy("id").limit(n_clusters).collect()]
        for _ in range(iters):
            assigned = assign_cells(c, cents).select("cid", "v")
            cells = (
                assigned.select("cid", F.posexplode("v").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("val"), 6).alias("m"))
                .collect()
            )
            new = {cid: dict() for cid in range(len(cents))}
            for r in cells:
                new[r.cid][r.pos] = r.m
            cents = [
                [new[cid][p] for p in sorted(new[cid])] if new[cid] else cents[cid]
                for cid in range(len(cents))
            ]
    finally:
        c.unpersist()
    return cents


def canonical_residual(r: Column) -> Column:
    """Sign-canonicalized residual: multiply by the sign of the
    largest-|magnitude| component (first index wins ties).

    A near-dup pair straddling its coarse centroid gets residuals
    ``r`` and ``~-r`` — direction-sensitive fine quantization would
    split exactly the pairs SemDeDup exists to find.  Canonicalizing
    the sign folds the +-r symmetry away: both residuals map to (up
    to their tiny true difference) the same vector.  The multiply is
    by exactly +-1/0, so values stay bit-identical and the DuckDB
    oracle replays it with ``sign``/``list_position`` (both engines
    resolve abs ties to the FIRST index)."""
    la = F.transform(r, lambda x: F.abs(x))
    s = F.signum(F.element_at(r, F.array_position(la, F.array_max(la)).cast("int")))
    return F.transform(r, lambda x: x * s)


def with_canonical_residual(df: DataFrame, src: Column, out: str) -> DataFrame:
    """:func:`canonical_residual` with the intermediates HOISTED to
    columns, for hot full-corpus paths.

    As one inline Column expression the residual is pathological:
    higher-order functions are interpreted (never codegen'd), Spark
    does no common-subexpression elimination inside lambda bodies, and
    the final ``transform(r, x -> x * s)`` re-evaluates the whole sign
    expression — array abs + max + position over ``r``, with ``r``
    itself re-expanded — PER ARRAY ELEMENT.  For a 64-dim embedding
    that is ~25k interpreted ops per row against ~320 for the hoisted
    form (measured on the semdedup assignment pass: 3.3 s -> 2.0 s at
    sf0.1).  Hoisting each intermediate to its own column evaluates it
    once per row; the lambda bodies then reference plain bound columns.
    Arithmetic (and therefore every oracle replay) is bit-identical to
    :func:`canonical_residual`."""
    la = F.transform(F.col("__cr_r0"), lambda x: F.abs(x))
    return (
        df.withColumn("__cr_r0", src)
        .withColumn("__cr_la", la)
        .withColumn(
            "__cr_s",
            F.signum(
                F.element_at(
                    F.col("__cr_r0"),
                    F.array_position(
                        F.col("__cr_la"), F.array_max(F.col("__cr_la"))
                    ).cast("int"),
                )
            ),
        )
        .withColumn(out, F.transform(F.col("__cr_r0"), lambda x: x * F.col("__cr_s")))
        .drop("__cr_r0", "__cr_la", "__cr_s")
    )


def _canonical_residual_local(R: "np.ndarray") -> "np.ndarray":
    """Driver-local twin of :func:`canonical_residual` (np.argmax
    also resolves ties to the first index)."""
    import numpy as np

    if R.shape[0] == 0 or R.shape[1] == 0:
        return R
    idx = np.argmax(np.abs(R), axis=1)
    s = np.sign(R[np.arange(R.shape[0]), idx])
    return R * s[:, None]


def _assign_multi_local(
    X: "np.ndarray", cents: "np.ndarray", probes: int
) -> "np.ndarray":
    """Vectorized twin of :func:`_argmin_multi`: the ``probes``
    nearest per row of :func:`_sq_dists_local` —
    ``np.argsort(kind="stable")`` keeps equal distances in index order,
    exactly the (d, i) struct sort's first-index tie-break."""
    import numpy as np

    order = np.argsort(_sq_dists_local(X, cents), axis=1, kind="stable")
    return order[:, : min(probes, len(cents))]


def _list_matrix(col) -> "np.ndarray":
    """(n, dim) float64 matrix from a pyarrow list<double> array —
    zero-copy over the flattened child buffer.  The vectorized
    assignment lane requires DENSE, uniform-dimension vectors (the
    embedding-table contract); anything else fails LOUDLY rather than
    silently diverging from the interpreted :func:`assign_cells`."""
    import numpy as np

    if col.null_count:
        raise ValueError("arrow assignment lane: null embedding vector")
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("arrow assignment lane: null embedding element")
    vals = np.asarray(flat)
    n = len(col)
    if n == 0:
        return vals.reshape(0, 0)
    if len(vals) % n:
        raise ValueError("arrow assignment lane: ragged embedding dims")
    return vals.reshape(n, len(vals) // n)


def two_level_assign_arrow(
    e: DataFrame,
    cents1: list[list[float]],
    cents2: list[list[float]],
    probes: int,
    n_fine: int,
) -> DataFrame:
    """Vectorized (mapInArrow + NumPy) two-level assignment for
    ``semdedup_pairs_two_level``: coarse argmin,
    exact-IEEE residual, sign canonicalization, multi-probe fine
    argmin, ``cid = cid1 * n_fine + cid2`` — ONE Python-boundary
    crossing instead of four interpreted higher-order projections
    (guide §4.2; HOFs never enter codegen and cost ~25k interpreted
    ops/row at 64 dims).

    Bit-replay proof, step by step against the interpreted primitives
    (:func:`assign_cells`, :func:`with_canonical_residual`,
    :func:`assign_cells_multi`):
    distances accumulate per dimension in the zip_with fold's exact
    IEEE order (:func:`_assign_local` — the established `_lloyd_local`
    replay, which the TRAINING path already uses for this exact
    composite: ``_canonical_residual_local(X - c1[_assign_local(X,
    c1)])``); the residual subtraction is elementwise-exact; the sign
    canonicalization is :func:`_canonical_residual_local` (np.argmax
    resolves abs ties to the first index, like ``array_position`` of
    the max); the fine ranking is :func:`_assign_multi_local` (stable
    argsort == the (d, i) struct sort's first-index tie-break).  Only
    integer cell ids leave the stage — ``v`` passes through as the
    untouched input buffer — so the emitted rows are bit-identical to
    the primitives' (pinned by the SemDeDup reference test).

    ``e`` must be exactly ``(id, v)``; output is ``(cid, id, v)`` with
    ``probes`` rows per input row (like ``assign_cells_multi``).
    """
    import numpy as np

    C1 = np.array([[float(x) for x in c] for c in cents1], dtype=np.float64)
    C2 = np.array([[float(x) for x in c] for c in cents2], dtype=np.float64)
    id_field = e.schema["id"].dataType.simpleString()
    out_schema = f"cid int, id {id_field}, v array<double>"

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("id")
            vcol = batch.column("v")
            X = _list_matrix(vcol)
            cid1 = _assign_local(X, C1)
            rc = _canonical_residual_local(X - C1[cid1])
            fine = _assign_multi_local(rc, C2, probes)  # (n, p)
            p = fine.shape[1]
            cid = (cid1[:, None] * n_fine + fine).ravel().astype(np.int32)
            take = pa.array(np.repeat(np.arange(n, dtype=np.int64), p))
            yield pa.RecordBatch.from_arrays(
                [pa.array(cid), ids.take(take), vcol.take(take)],
                ["cid", "id", "v"],
            )

    return e.mapInArrow(fn, out_schema)


def flat_assign_arrow(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Vectorized twin of :func:`assign_cells` for the flat-quantizer
    SemDeDup tier — same bit-replay argument as
    :func:`two_level_assign_arrow`, single probe, no residual.
    ``e`` must be exactly ``(id, v)``; output is ``(cid, id, v)``."""
    import numpy as np

    C = np.array([[float(x) for x in c] for c in cents], dtype=np.float64)
    id_field = e.schema["id"].dataType.simpleString()
    out_schema = f"cid int, id {id_field}, v array<double>"

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            X = _list_matrix(batch.column("v"))
            cid = _assign_local(X, C).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cid), batch.column("id"), batch.column("v")],
                ["cid", "id", "v"],
            )

    return e.mapInArrow(fn, out_schema)


def two_level_centroids(
    corpus: DataFrame,
    n_coarse: int,
    n_fine: int,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> tuple[list[list[float]], list[list[float]]]:
    """Train the two-level (coarse + residual) quantizer: ``n_coarse``
    Lloyd centroids on the (sampled) corpus, then ``n_fine`` centroids
    on the sample's RESIDUALS against the final coarse centroids —
    the IVF+RQ training step behind
    :func:`..embeddings.semdedup_pairs_two_level`.

    Residuals are sign-canonicalized (:func:`canonical_residual`)
    before the fine training so near-dup pairs straddling their
    coarse centroid — whose residuals are ~opposite vectors — stay
    in one fine cell.

    Under :data:`LOCAL_TRAIN_ROWS` one collect funds BOTH trainings
    (coarse Lloyd, coarse assignment, exact-IEEE residual subtraction,
    fine Lloyd — all on the driver with the bit-replayed arithmetic of
    :func:`_assign_local`); above it, both run as distributed
    DataFrame loops sharing one persisted sample.
    """
    c = _sample(corpus, vec_col, id_col, sample_mod)
    # ONE limit-probe job gates AND collects (see
    # :func:`_collect_id_sorted_sample`); both trainings run local.
    X = _collect_id_sorted_sample(c)
    if X is not None:
        import numpy as np

        if len(X) == 0:
            return [], []
        cents1 = _lloyd_local(X, n_coarse, iters)
        c1 = np.array(cents1)
        resid = _canonical_residual_local(X - c1[_assign_local(X, c1)])
        return cents1, _lloyd_local(resid, n_fine, iters)
    c = c.persist()
    try:
        cents1 = kmeans_centroids(c, n_coarse, iters, vec_col="v", id_col="id")
        c1df = local_df(
            c.sparkSession,
            [(i, cent) for i, cent in enumerate(cents1)],
            "cid1 INT, __c1 array<double>",
        )
        res = with_canonical_residual(
            assign_cells(c, cents1, vec_col="v", out_col="cid1").join(
                F.broadcast(c1df), "cid1"
            ),
            F.zip_with("v", "__c1", lambda a, b: a - b),
            "r",
        ).select("id", "r")
        cents2 = kmeans_centroids(res, n_fine, iters, vec_col="r", id_col="id")
        return cents1, cents2
    finally:
        c.unpersist()


def topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF top-k with learned (k-means) centroids: train the coarse
    quantizer (on a deterministic hash sample when ``sample_mod`` is
    set — see :func:`kmeans_centroids`), assign corpus and queries to
    their nearest centroid, probe only the query's cell.  Same output
    shape as the other top-k variants.  At scale: train on a sample,
    write the corpus partitioned by ``cid``, and probes become
    partition-pruned reads.
    """
    cents = kmeans_centroids(corpus, n_clusters, iters, vec_col, id_col, sample_mod)
    c = assign_cells(
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"), cents, vec_col="cv"
    ).withColumn("n2c", dot(F.col("cv"), F.col("cv")))
    q = assign_cells(
        _vectors(queries, id_col, vec_col, "query_id", "qv"), cents, vec_col="qv"
    ).withColumn("n2q", dot(F.col("qv"), F.col("qv")))
    joined = c.join(F.broadcast(q), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(joined, _pair_cosine("qv", "cv"), k)


def _sq8_codes(vec: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantizer: ``(scale, codes)`` with
    ``scale = max|x|/127`` and ``codes = clamp(half-up(x/scale))`` as
    ``array<tinyint>`` (0 for a zero vector, without dividing by its
    zero scale).  ``|x/scale| <= 127`` by construction, so the tinyint
    cast never overflows.  The one SQ8 encoder: the per-call tier
    dequantizes it in place (:func:`sq8_reconstructed`), the persisted
    tier stores it (:func:`build_ivf_sq8_index`)."""
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0)
    codes = F.transform(
        vec,
        lambda x: F.when(scale == 0, F.lit(0).cast("tinyint")).otherwise(
            F.greatest(
                F.lit(-127).cast("tinyint"),
                F.least(
                    F.lit(127).cast("tinyint"),
                    F.floor(x / scale + F.lit(0.5)).cast("tinyint"),
                ),
            )
        ),
    )
    return scale, codes


def _sq8_decode(codes: Column, scale: Column) -> Column:
    return F.transform(codes, lambda q: q.cast("double") * scale)


def sq8_reconstructed(vec: Column) -> Column:
    """Symmetric per-vector int8 quantize-dequantize — the corpus-side
    code path of an IVF-SQ8 index (:func:`_sq8_codes`), reconstructed
    value = ``code * scale``.

    Same rule as :func:`..embeddings.quantize_int8` (which emits the
    summary scalars; this emits the reconstructed vector the probe
    scores against).  Every step is exact IEEE arithmetic on
    deterministic inputs, so the DuckDB oracle replays the codes and
    the reconstruction bit for bit."""
    scale, codes = _sq8_codes(vec)
    return _sq8_decode(codes, scale)


def topk_ivf_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF-SQ8 approximate top-k: learned coarse cells + int8
    scalar-quantized corpus vectors, asymmetric scoring (full-precision
    query against dequantized neighbor).

    This is the MEMORY tier of the ANN stack: at 100 TB the index
    stores ``(cid, scale, int8 codes)`` — 4x less IO and cache
    footprint than raw floats — and a probe reads one cell's codes,
    dequantizes on the fly, and never touches the full-precision
    corpus (here the reconstruction is fused into the scan
    expression; a deployment writes the codes table partitioned by
    ``cid`` so probes are partition-pruned reads).  Training/assign
    reuse the deterministic Lloyd machinery; same output shape as the
    other top-k variants, with the cosine being the SQ8-approximate
    score.
    """
    cents = kmeans_centroids(corpus, n_clusters, iters, vec_col, id_col, sample_mod)
    c = assign_cells(
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"), cents, vec_col="cv"
    ).select("cid", "neighbor_id", sq8_reconstructed(F.col("cv")).alias("rv"))
    # rv is DERIVED: no norm precompute (see topk_bruteforce's
    # precompute_n2 note — inlining would re-quantize twice per row).
    q = assign_cells(
        _vectors(queries, id_col, vec_col, "query_id", "qv"), cents, vec_col="qv"
    )
    joined = c.join(F.broadcast(q), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(joined, F.round(cosine_similarity(F.col("qv"), F.col("rv")), 6), k)


def probe_buckets(vec: Column, dims: tuple[int, ...] = (1, 17, 33, 49)) -> Column:
    """The query's bucket plus every Hamming-1 neighbor (one sign bit
    flipped) — 1 + len(dims) probes."""
    bits = [(F.element_at(vec, d) >= 0).cast("int") for d in dims]

    def key(flip: int | None) -> Column:
        parts = [
            (F.lit(1) - b if i == flip else b).cast("string")
            for i, b in enumerate(bits)
        ]
        return F.concat(*parts)

    return F.array(key(None), *[key(j) for j in range(len(dims))])


def topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: tuple[int, ...] = (1, 17, 33, 49),
) -> DataFrame:
    """Multi-probe bucketed top-k: probe the query's bucket and all
    Hamming-1 buckets.

    Recovers most of the recall a single probe loses to vectors
    sitting just across one hyperplane, at ~(1+len(dims))x the probe
    cost — still a tiny fraction of brute force.  Each corpus row has
    exactly one bucket, so a (query, neighbor) pair matches at most
    one probe: no post-dedup needed.  The probe fan-out lives on the
    broadcast (query) side; the corpus still never shuffles.
    """
    return _topk_sign_buckets(
        corpus, queries, k, vec_col, id_col, dims,
        lambda qv: F.explode(probe_buckets(qv, dims)),
    )


def topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: tuple[int, ...] = (1, 17, 33, 49),
) -> DataFrame:
    """IVF/LSH-style approximate top-k: probe only the query's bucket.

    Same output shape as :func:`topk_bruteforce`; recall is whatever
    the quantizer gives (single-probe).  At scale, write the corpus
    bucketed/partitioned by this key so a probe is a partition-pruned
    read instead of a shuffle."""
    return _topk_sign_buckets(
        corpus, queries, k, vec_col, id_col, dims, lambda qv: sign_bucket(qv, dims)
    )


def _topk_sign_buckets(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    dims: tuple[int, ...],
    probe,
) -> DataFrame:
    """The sign-bucket tiers: each corpus row in its one
    :func:`sign_bucket`, equi-joined to the broadcast queries in the
    bucket(s) ``probe(qv)`` names.  The query norm is taken before a
    multi-probe explode, once per query."""
    c = (
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
        .withColumn("bucket", sign_bucket(F.col("cv"), dims))
        .withColumn("n2c", dot(F.col("cv"), F.col("cv")))
    )
    q = (
        _vectors(queries, id_col, vec_col, "query_id", "qv")
        .withColumn("n2q", dot(F.col("qv"), F.col("qv")))
        .withColumn("bucket", probe(F.col("qv")))
    )
    joined = c.join(F.broadcast(q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(joined, _pair_cosine("qv", "cv"), k)


def knn_label_agreement(
    emb: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dims: tuple[int, ...] | None = None,
    dim: int = 64,
    corpus_count: int | None = None,
    target_bucket_size: int = 32,
    max_bucket: int | None = 1000,
    probes: int = 1,
) -> DataFrame:
    """Label-noise detection via in-bucket kNN label agreement: for
    every vector, the fraction of its k nearest same-bucket neighbors
    (cosine, sign-LSH cells — :func:`topk_bucketed`'s quantizer) that
    carry the SAME label.  Rows with low agreement are the mislabeled
    / out-of-distribution candidates a training-data pipeline
    quarantines before fitting a quality or domain classifier on the
    corpus (the kNN-agreement shape behind deep-kNN label-noise
    filtering and Confident-Learning-style audits).

    ``probes`` > 1 enables multi-probe LSH (the SemDeDup fine-probe
    idea applied to the sign quantizer): probe ``i`` additionally
    searches the adjacent cell that flips the vector's
    ``i``-th-smallest-|margin| plane bit — exactly the neighbors a
    plane-straddling vector loses to quantization, which are the
    borderline rows this audit exists to score.  Candidates stay
    exact-scored (cosine), so extra probes only ADD true neighbors;
    each vector's k-best merge across its probed cells is
    deterministic (probe cells are distinct by construction and every
    neighbor is a member of exactly one home cell, so no candidate
    dedup is needed).

    Output: one row per vector — ``(vec_id, label, n_neighbors,
    agreement)``; ``agreement`` is NULL when the vector has no
    neighbors (singleton bucket, or its buckets were dropped by
    ``max_bucket`` — the degenerate-bucket cap shared with
    :func:`~.dedup.embedding_neardup_pairs`: an over-occupied cell
    is boilerplate whose quadratic neighbor scan would dominate the
    job for rows the audit should flag by other means; occupancy is
    counted over a cell's HOME members, never probe visitors).

    Preconditions (oracle parity): embedding elements must be
    non-NULL (a NULL element would silently shorten the Spark-side
    ``concat_ws`` sign key where a SQL CASE emits a bit) and vectors
    must have non-zero norm (zero-norm cosine is NaN, whose sort
    placement is engine-specific).  Both hold for any L2-normalized
    embedding column; filter degenerate vectors first otherwise.

    Scale shape: the corpus shuffles ONCE on the cell key (vectors
    ride a single exchange; ``probes`` replicates each vector
    ``probes``-fold into that exchange — a constant factor, not a
    growth term); each cell's kNN runs inside one higher-order
    expression over the collected cell (occupancy is held
    ~``target_bucket_size`` by the corpus-scaled plane count, the
    :func:`~.dedup.auto_bands` rule, so per-cell work is constant as
    N grows).  Single-probe finishes agreement in the same pass — no
    candidate-pair relation, no per-row window, ZERO joins
    (plan-pinned); multi-probe adds ONE more exchange (k-capped
    per-cell candidate lists regrouped by vector id — k structs per
    probe per vector, model-sized) and still zero joins.  With
    ``dims`` given the quantizer is fixed (the unit-test lane);
    default derives the plane count from ``corpus_count`` (pass it
    from footer metadata for a zero-job plan, else one ``count()``
    runs).
    """
    from .dedup import auto_bands

    if dims is None:
        n = corpus_count if corpus_count is not None else emb.count()
        dims = auto_bands(dim, n, 1, target_bucket_size)[0]
    probes = max(1, min(probes, len(dims) + 1))
    # Sign key on the RAW stored array — one expr string, scalar-only
    # promotion (the embedding_neardup_pairs key shape: a per-plane
    # array cast re-materializes the vector 2x per plane per row).
    bits = ",".join(
        f"cast(cast((element_at(`{vec_col}`,{d}) >= 0.0D) as int) as string)"
        for d in dims
    )
    key = F.expr(f"concat_ws('',{bits})")
    # Squared norm per VECTOR, before the groupBy: higher-order folds
    # are interpreted (never codegen'd), so a cosine that re-folds
    # dot(x,x) and dot(y,y) per PAIR costs 3x the lambda evaluations
    # of a dot-only pair scan (measured 5.5s -> ~2s at sf0.1).  Same
    # fold, same value — dividing by sqrt(n2a * n2b) is bit-identical
    # to computing the self-dots in place.
    vd = F.col(vec_col).cast("array<double>")

    def _neigh_structs(x, members):
        # candidate structs for x, sorted best-first by (1 - cosine,
        # neighbor id): 1 - cosine never produces -0.0 (cosine 0 ->
        # 1.0, cosine 1 -> +0.0), so the struct sort orders
        # identically in both engines.
        return F.transform(
            members,
            lambda y: F.struct(
                (
                    F.lit(1.0)
                    - F.round(
                        dot(x["v"], y["v"]) / F.sqrt(x["n2"] * y["n2"]), 6
                    )
                ).alias("d"),
                y["id"].alias("ib"),
                (y["label"] == x["label"]).cast("int").alias("same"),
            ),
        )

    def _finish(top):
        # (n_neighbors, agreement) from a sorted k-capped struct list
        n_nb = F.size(top)
        agree = F.when(
            n_nb > 0,
            F.round(
                F.aggregate(top, F.lit(0), lambda acc, s: acc + s["same"]).cast(
                    "double"
                )
                / n_nb,
                6,
            ),
        )
        return n_nb.cast("long").alias("n_neighbors"), agree.alias("agreement")

    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        vd.alias("v"),
        dot(vd, vd).alias("n2"),
        key.alias("bucket"),
    )

    if probes == 1:
        cells = base.groupBy("bucket").agg(
            F.collect_list(F.struct("id", "label", "v", "n2")).alias("ms")
        )
        ms = F.col("ms")
        cap = (
            F.size(ms) <= F.lit(max_bucket)
            if max_bucket is not None
            else F.lit(True)
        )

        def _one(x):
            # neighbors of x: every other cell member, scored once;
            # the cap predicate empties the list for over-occupied
            # cells without dropping x's output row.
            neigh = _neigh_structs(
                x, F.filter(ms, lambda y: (y["id"] != x["id"]) & cap)
            )
            top = F.slice(F.sort_array(neigh), 1, k)
            n_nb, agree = _finish(top)
            return F.struct(
                x["id"].alias("vec_id"),
                x["label"].alias("label"),
                n_nb,
                agree,
            )

        return cells.select(
            F.explode(F.transform(ms, _one)).alias("r")
        ).select("r.*")

    # Multi-probe: replicate each vector into its home cell (member +
    # query) and the probes-1 adjacent bit-flip cells (query only),
    # rank plane margins once per vector (|element| ascending, plane
    # position tie-break — the same first-position argmin rule the
    # oracle's CASE chain replays).
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.element_at(F.col("v"), d)).alias("m"),
                    F.lit(j + 1).alias("p"),
                )
                for j, d in enumerate(dims)
            ]
        )
    )
    home = base.withColumn("is_home", F.lit(True))
    reps = [home]
    withrk = base.withColumn("rk", ranked)
    for i in range(1, probes):
        flipped = F.expr(
            f"concat(substr(bucket, 1, rk[{i - 1}].p - 1),"
            f" case when substr(bucket, rk[{i - 1}].p, 1) = '1'"
            f" then '0' else '1' end,"
            f" substr(bucket, rk[{i - 1}].p + 1))"
        )
        reps.append(
            withrk.withColumn("bucket", flipped)
            .drop("rk")
            .withColumn("is_home", F.lit(False))
        )
    rows = reps[0]
    for r in reps[1:]:
        rows = rows.unionByName(r)

    cells = rows.groupBy("bucket").agg(
        F.collect_list(F.struct("id", "label", "v", "n2", "is_home")).alias(
            "ms"
        )
    )
    ms = F.col("ms")
    # Hoist the home-member array and the occupancy-cap predicate into
    # per-cell COLUMNS: referenced as expression trees inside the
    # per-candidate lambda below, `filter(ms, is_home)` re-materialized
    # per (x, y) evaluation — the cap alone cost O(m) per candidate,
    # O(m^3) per cell (measured ~1.3 s of the 2-probe audit's exec at
    # sf0.1).  As projected columns both evaluate once per cell row and
    # bind as O(1) references; values are bit-identical.
    cells = cells.withColumn(
        "__members", F.filter(ms, lambda y: y["is_home"])
    ).withColumn(
        "__cap",
        F.size(F.col("__members")) <= F.lit(max_bucket)
        if max_bucket is not None
        else F.lit(True),
    )
    members = F.col("__members")
    cap = F.col("__cap")

    def _partial(x):
        # per-(vector, probed-cell) k-best candidates vs the cell's
        # HOME members; k-capping before the regroup bounds the
        # second exchange at k structs per probe per vector.
        neigh = _neigh_structs(
            x, F.filter(members, lambda y: (y["id"] != x["id"]) & cap)
        )
        return F.struct(
            x["id"].alias("vec_id"),
            x["label"].alias("label"),
            F.slice(F.sort_array(neigh), 1, k).alias("cand"),
        )

    partials = cells.select(
        F.explode(F.transform(ms, _partial)).alias("r")
    ).select("r.*")
    merged = partials.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("cand"))), 1, k
        ).alias("top"),
    )
    n_nb, agree = _finish(F.col("top"))
    return merged.select("vec_id", "label", n_nb, agree)


# Session cache of persisted-index models keyed by index root:
# ``(version, centroids, codebooks or None)``.  Entries carry the
# committed version they were read under, so any rebuild or append
# (both flip the version pointer) invalidates naturally; a cache hit
# makes the probe path's model load ZERO Spark jobs (build primes it,
# so build→query in one session never re-reads what the driver just
# computed).
_MODEL_CACHE: dict[str, tuple[str, list, list | None]] = {}

# Sidecars inside the index table's version dir (underscore prefix =
# invisible to the main relation's scan): the coarse centroids
# ``(cid, centroid)``, the per-subspace PQ codebooks ``(s, cid,
# centroid)``, and what corpus/parameters a generation was built from
# (the staleness witness for the ensure-if-stale builders).
_CENTROIDS_SIDECAR = "_centroids"
_PQ_CODEBOOKS_SIDECAR = "_codebooks"
_BUILD_META_SIDECAR = "_build_meta"

# The format of what the build code writes, recorded in ``_build_meta``
# beside the corpus fingerprint.  Bump it with any change to the build
# or encoding code, so an index an older build wrote is rebuilt even
# when its corpus and parameters still match.
INDEX_FORMAT = 1


def _index_table(index_root: str):
    """The single-pointer table of a persisted index (ANN cells, a
    centroid model, or the dedup band index)."""
    import os

    from ..io.table import ParquetTable

    return ParquetTable(os.path.join(index_root, "index"))


def _read_sidecar_local(tbl, name: str):
    """Read a sidecar as a pyarrow Table on the DRIVER — zero Spark
    jobs; sidecars are model-sized by construction."""
    import os

    import pyarrow.parquet as pq

    d = tbl.data_dir()
    if d is None:
        raise FileNotFoundError(f"table has no committed version: {tbl.path}")
    return pq.read_table(os.path.join(d, name))


def _model_table(vecs, **ints):
    """A model sidecar: int32 key columns ``ints`` plus the
    ``centroid`` vectors as ``list<double>``."""
    import pyarrow as pa

    cols = {k: pa.array(list(v), type=pa.int32()) for k, v in ints.items()}
    cols["centroid"] = pa.array(
        [[float(x) for x in c] for c in vecs], type=pa.list_(pa.float64())
    )
    return pa.table(cols)


def _load_model(index_root: str):
    """``(centroids, codebooks or None)`` of the CURRENT index
    generation, cache-first; a cold cache reads the sidecars
    driver-locally (still zero Spark jobs)."""
    import os

    tbl = _index_table(index_root)
    ver = tbl.current_version()
    if ver is None:
        raise FileNotFoundError(f"no committed index under {index_root}")
    hit = _MODEL_CACHE.get(index_root)
    if hit is not None and hit[0] == ver:
        return hit[1], hit[2]
    t = _read_sidecar_local(tbl, _CENTROIDS_SIDECAR).to_pylist()
    cents = [list(r["centroid"]) for r in sorted(t, key=lambda r: r["cid"])]
    books = None
    if os.path.exists(os.path.join(tbl.data_dir(), _PQ_CODEBOOKS_SIDECAR)):
        t = _read_sidecar_local(tbl, _PQ_CODEBOOKS_SIDECAR).to_pylist()
        books = [[] for _ in range(1 + max(r["s"] for r in t))]
        for r in sorted(t, key=lambda r: (r["s"], r["cid"])):
            books[r["s"]].append(list(r["centroid"]))
    _MODEL_CACHE[index_root] = (ver, cents, books)
    return cents, books


def _commit_index(
    index_root: str,
    rows,
    cents: list[list[float]],
    books: list | None = None,
    meta: dict | None = None,
) -> None:
    """Commit a persisted index generation: ``rows`` partitioned by
    ``cid`` with the model as sidecars UNDER THE SAME POINTER — no
    reader can pair one generation's codes with another's centroids
    (two separately-committed tables had exactly that race between
    their commits).  The sidecars are pyarrow tables, written with
    zero Spark jobs.  ``rows=None`` commits a model-only generation
    whose main relation is the centroid table itself
    (:func:`ensure_centroid_model`)."""
    import pyarrow as pa

    sidecars = {_CENTROIDS_SIDECAR: _model_table(cents, cid=range(len(cents)))}
    if books is not None:
        sidecars[_PQ_CODEBOOKS_SIDECAR] = _model_table(
            [c for b in books for c in b],
            s=[s for s, b in enumerate(books) for _ in b],
            cid=[i for b in books for i in range(len(b))],
        )
    if meta is not None:
        sidecars[_BUILD_META_SIDECAR] = pa.table({k: [v] for k, v in meta.items()})
    tbl = _index_table(index_root)
    if rows is None:
        tbl.overwrite(sidecars[_CENTROIDS_SIDECAR], sidecars=sidecars)
    else:
        tbl.overwrite(rows, partition_by=("cid",), sidecars=sidecars)
    _cache_model(index_root, tbl, cents, books)


def _cache_model(index_root: str, tbl, cents, books=None) -> None:
    """Prime :data:`_MODEL_CACHE` with the model a write just
    committed (a build's, or the unchanged one of an append)."""
    ver = tbl.current_version()
    if ver is not None:
        _MODEL_CACHE[index_root] = (
            ver,
            [list(c) for c in cents],
            None if books is None else [[list(c) for c in b] for b in books],
        )


# Assigned query rows up to this count are collected to the driver by
# the persisted-index probes (see :func:`_guarded_query_side`); a
# bigger batch takes the distributed lane.  Measured at a7170d3 on a
# 4-vCPU host, local[4], 5 alternating pairs at sf0.1 (a 10-query
# batch, as at every scale): `ann_index_pq` collect lane median 1.03 s
# (IQR 0.03) vs distributed 1.40 s, slower in 5 of 5 pairs;
# `ann_index_persisted` 0.93 s (IQR 0.10) vs 1.17 s, slower in 3 of 5.
MAX_COLLECT_QUERIES = 8192


def _guarded_query_side(spark: "SparkSession", q: DataFrame):
    """Size-guarded query side for the persisted-index probes.

    Interactive top-k batches (queries ≪ corpus) take the collect fast
    path: one ``limit(MAX_COLLECT_QUERIES + 1)`` job whose rows serve
    both the probed-cell literal (parquet partition pruning needs
    literals) and the scoring join's broadcast side — bit-identical
    results.  A batch-scoring call whose assigned query rows EXCEED
    the guard never serializes through the driver: the assignment is
    local-checkpointed (computed once, and never pinned in the
    session's cache manager), the prune literal comes from ``distinct
    cid`` (bounded by the CENTROID count — model-sized — regardless of
    query rows), and the scoring join runs as a regular distributed
    equi-join on ``cid`` (AQE picks the strategy).  Both lanes read
    only the probed cells' partitions.

    Returns ``(query_side_df, probed_cells)``.
    """
    qrows = q.limit(MAX_COLLECT_QUERIES + 1).collect()
    if len(qrows) <= MAX_COLLECT_QUERIES:
        # qv doubles round-trip bit-exactly through collect (Python
        # floats ARE IEEE doubles)
        return (
            F.broadcast(local_df(spark, qrows, q.schema)),
            sorted({r.cid for r in qrows}),
        )
    big = q.localCheckpoint(eager=False)
    return big, sorted(r.cid for r in big.select("cid").distinct().collect())


def _probe_index(
    spark: "SparkSession",
    index_root: str,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    probes: int,
    decode,
) -> DataFrame:
    """The persisted-index probe: assign each query to its nearest
    persisted centroid(s) (``probes > 1`` explodes it over its nearest
    cells — :func:`assign_cells_multi`), read ONLY the probed cells'
    partitions (the cid list is a literal ``isin``, so pruning happens
    at parquet metadata — plan-pinned), reconstruct each stored vector
    as ``cv`` in the scan (``decode(idx, cents, books)``), and window
    the asymmetric cosine to the top ``k``.

    Driver round trips: the model load is cache-first (ZERO jobs when
    this session built or already probed this generation —
    :data:`_MODEL_CACHE`), then :func:`_guarded_query_side`: one small
    assignment job + the scoring job."""
    cents, books = _load_model(index_root)
    qsel = _vectors(queries, id_col, vec_col, "query_id", "qv")
    if probes > 1:
        q = assign_cells_multi(qsel, cents, probes, vec_col="qv")
    else:
        q = assign_cells(qsel, cents, vec_col="qv")
    qside, probed_cells = _guarded_query_side(spark, q)
    idx = _index_table(index_root).read(spark).filter(F.col("cid").isin(probed_cells))
    # cv is DERIVED (decoded in the scan): no norm precompute — see
    # topk_bruteforce's precompute_n2 note.
    joined = (
        decode(idx, cents, books)
        .join(qside, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _topk(joined, F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6), k)


def corpus_fingerprint(
    corpus: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> tuple[int, int]:
    """Exact, order-insensitive corpus identity: ``(row count,
    sum of xxhash64(id, vector))`` — one cheap aggregate job.  Any
    added/removed/changed vector changes the sum (up to 64-bit hash
    collision); partitioning and row order do not.  This is what lets
    :func:`ensure_ivf_sq8_index` prove an existing index generation
    was built from THIS corpus without re-reading it."""
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a plain long sum of 64-bit hashes
        # overflows under ANSI after a handful of rows
        F.sum(
            F.xxhash64(F.col(id_col), F.col(vec_col)).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    return (int(row.n), int(row.h) if row.h is not None else 0)


def _ensure_index(
    corpus: DataFrame,
    index_root: str,
    vec_col: str,
    id_col: str,
    params: dict,
    build,
) -> bool:
    """Build-if-stale core shared by the persisted index tiers:
    rebuild (via ``build(meta)``) only when the corpus fingerprint or
    the build parameters differ from what the current generation
    records in its ``_build_meta`` sidecar, or when that sidecar has
    no or another :data:`INDEX_FORMAT`.  Returns True iff a rebuild
    happened.

    This is the build-once/query-many contract made literal: a serving
    deployment calls ``ensure`` + probe, paying one fingerprint
    aggregate (exact — see :func:`corpus_fingerprint`) on the hot
    path and the full train+assign+write only when the corpus actually
    moved.  Appends flip the version pointer but keep the ORIGINAL
    build's meta, so a later ensure() against the grown corpus
    correctly sees a stale fingerprint and retrains.
    """
    n, h = corpus_fingerprint(corpus, vec_col, id_col)
    # corpus_hash stringified: the summed 64-bit hashes exceed int64
    meta = {
        "n_rows": n,
        "corpus_hash": str(h),
        "index_format": INDEX_FORMAT,
        **params,
    }
    tbl = _index_table(index_root)
    if tbl.current_version() is not None:
        try:
            got = _read_sidecar_local(tbl, _BUILD_META_SIDECAR).to_pylist()
        except Exception:
            # no/unreadable meta (e.g. a pre-meta generation): rebuild
            got = []
        if got and all(got[0].get(k) == v for k, v in meta.items()):
            return False
    build(meta)
    return True


def ensure_ivf_sq8_index(
    corpus: DataFrame,
    index_root: str,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> bool:
    """:func:`_ensure_index` over :func:`build_ivf_sq8_index`."""
    params = {
        "n_clusters": int(n_clusters),
        "iters": int(iters),
        "sample_mod": -1 if sample_mod is None else int(sample_mod),
    }
    return _ensure_index(
        corpus,
        index_root,
        vec_col,
        id_col,
        params,
        lambda meta: build_ivf_sq8_index(
            corpus, index_root, n_clusters, iters, vec_col, id_col,
            sample_mod, _meta=meta,
        ),
    )


def ensure_centroid_model(
    corpus: DataFrame,
    model_root: str,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Train-once/reuse-many coarse quantizer WITHOUT a per-vector
    payload: the :func:`_ensure_index` fingerprint gate over bare
    :func:`kmeans_centroids`, returning the model.

    The persisted ANN tiers (:func:`ensure_ivf_sq8_index`,
    :func:`ensure_ivf_pq_index`) store the quantizer alongside a
    corpus-sized code table because probes read the codes.  The audit
    consumers (:func:`..embeddings.embedding_outlier_ranks` under the
    ``audit_quarantine_curate`` capstone) need only the CENTROIDS —
    assignment happens inline against the live corpus — so persisting
    codes would be pure write amplification.  This tier commits just
    the model-sized centroid table (as the main relation AND the
    standard ``_centroids`` sidecar, both pyarrow writes with zero
    Spark jobs, so :func:`_load_model` serves warm calls with zero
    Spark jobs) under the usual ``_build_meta`` fingerprint; the warm
    path costs one :func:`corpus_fingerprint` aggregate instead of the
    full sampled-Lloyd training, and a changed corpus retrains exactly
    as the serving contract requires.  Training is deterministic
    (:func:`kmeans_centroids`), so a cold build, a warm load, and an
    oracle replaying the training from SQL all yield bit-identical
    centroids."""
    params = {
        "kind": "centroid_model",
        "n_clusters": int(n_clusters),
        "iters": int(iters),
        "sample_mod": -1 if sample_mod is None else int(sample_mod),
    }

    def _build(meta: dict) -> None:
        cents = kmeans_centroids(
            corpus, n_clusters, iters, vec_col, id_col, sample_mod
        )
        if not cents:
            raise ValueError(f"ensure_centroid_model: {_EMPTY_TRAINING}")
        _commit_index(model_root, None, cents, meta=meta)

    _ensure_index(corpus, model_root, vec_col, id_col, params, _build)
    return _load_model(model_root)[0]


def _sq8_rows(vectors: DataFrame, cents, vec_col: str, id_col: str) -> DataFrame:
    """``(cid, neighbor_id, scale, codes)`` rows of an IVF-SQ8 index:
    each vector assigned to its cell and int8-encoded
    (:func:`_sq8_codes`)."""
    assigned = assign_cells(
        _vectors(vectors, id_col, vec_col, "neighbor_id", "cv"), cents, vec_col="cv"
    )
    scale, codes = _sq8_codes(F.col("cv"))
    return assigned.select(
        "cid", "neighbor_id", scale.alias("scale"), codes.alias("codes")
    )


def build_ivf_sq8_index(
    corpus: DataFrame,
    index_root: str,
    n_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
    _meta: dict | None = None,
) -> None:
    """Build a PERSISTED IVF-SQ8 index: train the deterministic Lloyd
    quantizer, assign every corpus vector to its cell, scalar-quantize
    to int8 codes, and write the index PARTITIONED BY ``cid`` — the
    build-once/query-many separation every 100 TB ANN deployment needs
    (the per-call variants :func:`topk_kmeans`/:func:`topk_ivf_sq8`
    re-train and re-assign on every query batch, which is the right
    shape for one-shot analytics and the wrong one for serving).

    Layout under ``index_root``: ONE :class:`..io.table.ParquetTable`
    ``index`` holding ``(cid, neighbor_id, scale, codes
    array<tinyint>)`` partitioned by ``cid``, with the centroid
    relation ``(cid, centroid array<double>)`` committed as a SIDECAR
    inside the same version directory (:func:`_commit_index`).
    Rebuilds are atomic swaps; retention/vacuum/time travel apply to
    index generations like any other managed table.

    The int8 tier stores ~4x less than raw doubles; a probe reads one
    cell's partition (pruned at the parquet-metadata level — pinned by
    plan test) and dequantizes in the scan expression.
    """
    cents = kmeans_centroids(corpus, n_clusters, iters, vec_col, id_col, sample_mod)
    if not cents:
        # an empty quantizer would "build" an index every later query
        # crashes on — fail at build time with the actionable message
        raise ValueError(f"build_ivf_sq8_index: {_EMPTY_TRAINING}")
    # partitionBy(cid) from the input's own task layout: each task
    # contributes one file per cell it touches, so files-per-cell
    # scales with the corpus (a deliberate NON-repartition — one task
    # per cell would serialize a 100 TB build on its biggest cell,
    # and the probe prunes at the directory level either way)
    rows = _sq8_rows(corpus, cents, vec_col, id_col)
    _commit_index(index_root, rows, cents, meta=_meta)


def topk_ivf_sq8_index(
    spark: "SparkSession",
    index_root: str,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Query a :func:`build_ivf_sq8_index` index (:func:`_probe_index`):
    the probed cells' int8 codes are dequantized in the scan
    expression.  With ``probes=1``, bit-identical results to
    :func:`topk_ivf_sq8` run with the same parameters — pinned by the
    shared oracle.  ``probes > 1`` reads that many partitions per
    query for recall near a cell boundary; results are a
    superset-derived refinement (never worse recall, pinned by test).
    Query batches over :data:`MAX_COLLECT_QUERIES` assigned rows take
    the distributed lane with identical results (pytest-pinned).
    """
    return _probe_index(
        spark, index_root, queries, k, vec_col, id_col, probes,
        lambda idx, cents, books: idx.select(
            "cid",
            "neighbor_id",
            _sq8_decode(F.col("codes"), F.col("scale")).alias("cv"),
        ),
    )


def append_to_ivf_sq8_index(
    new_vectors: DataFrame,
    index_root: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a persisted :func:`build_ivf_sq8_index`
    index: assign the NEW vectors against the already-trained
    centroids (the current generation's sidecar, cache-first — no
    retraining, no touch of existing cells' data) and append their
    int8 codes to the cid partitions.  The ingest-path companion of
    the atomic rebuild: a 100 TB deployment appends each arriving
    batch and schedules full retrains on drift, exactly like
    :func:`..dedup.incremental` skips re-hashing the existing corpus.

    The append is a VERSIONED commit (``ParquetTable.append_commit``:
    hardlink copy-on-write of the current generation + CAS pointer
    flip), so concurrent readers see either the old generation or
    old+batch, never a partial batch — in-place ``append`` could not
    make that promise.  Quantizer drift is the operator's documented
    trade: new vectors land in the nearest EXISTING cell; recall
    degrades only as the data distribution moves, which the recall@k
    evaluation query measures.
    """
    cents, _ = _load_model(index_root)
    tbl = _index_table(index_root)
    rows = _sq8_rows(new_vectors, cents, vec_col, id_col)
    tbl.append_commit(rows, partition_by=("cid",))
    _cache_model(index_root, tbl, cents)


# ---------------------------------------------------------------------------
# Persisted IVFPQ index — the 100 TB memory tier of the serving story:
# coarse cells prune the scan (like SQ8) but each cell stores m
# log2(k_cb)-bit PQ codes of the RESIDUAL instead of 8 bits/dim, the
# FAISS IVFPQ layout.  Same single-pointer commit discipline as the
# SQ8 index: codes + coarse centroids + per-subspace codebooks +
# build meta all live in ONE version directory.


def _pq_rows(t: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """``(cid, neighbor_id, codes)`` rows of an IVFPQ index from the
    assigned residuals ``t`` (:func:`_coarse_residual`): ``codes[s]``
    is :func:`_pq_code` of the residual — the argmin
    :func:`pq_reconstruct` uses, so a probe reconstructing
    ``books[s][codes[s]]`` is bit-identical to the per-call
    reconstruction."""
    sub = len(books[0][0])
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(len(books) - 1)),
        lambda s: _pq_code(F.col("r"), s, sub),
    )
    return (
        t.crossJoin(F.broadcast(_model_row(t.sparkSession, books=books)))
        .withColumn("codes", codes)
        .select("cid", F.col("nid").alias("neighbor_id"), "codes")
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    index_root: str,
    n_clusters: int = 8,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 3,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
    _meta: dict | None = None,
) -> None:
    """Build a PERSISTED IVFPQ index: train the coarse quantizer,
    assign every vector, PQ-train on the RESIDUALS (cell-diameter
    magnitudes — finer resolution per codebook bit than raw-vector
    PQ), and store only ``(cid, neighbor_id, codes array<int>)``
    partitioned by ``cid`` — m·log2(k_cb) bits of payload per vector,
    the compression that fits a 1e11-vector index in cluster RAM
    (vs 8 bits/dim for the SQ8 tier).

    One CAS pointer governs everything: codes (main relation), coarse
    centroids, per-subspace codebooks, and build meta (sidecars inside
    the same version directory), so a probe can never mix quantizer
    generations.  Training is :func:`topk_ivfpq`'s own
    (:func:`_train_ivfpq`), so the probe path is bit-identical to it
    with the same parameters, pinned by the shared oracle.
    """
    cents, books, t = _train_ivfpq(
        corpus, n_clusters, m, k_cb, iters, pq_iters, vec_col, id_col, sample_mod
    )
    _commit_index(index_root, _pq_rows(t, books), cents, books, _meta)


def topk_ivf_pq_index(
    spark: "SparkSession",
    index_root: str,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Query a :func:`build_ivf_pq_index` index (:func:`_probe_index`):
    each stored vector is reconstructed IN the scan expression
    (``cents[cid] + concat_s books[s][codes[s]]`` — both model levels
    ride one broadcast data row).  With ``probes=1``, bit-identical to
    :func:`topk_ivfpq` run with the same parameters — pinned by the
    shared oracle.
    """

    def decode(idx, cents, books):
        if books is None:
            raise FileNotFoundError(f"no PQ codebooks under {index_root}")
        mdf = _model_row(spark, cents, books)
        cc = F.element_at(F.col("__cents"), F.col("cid") + 1)
        rres = _pq_concat(len(books), lambda s: F.element_at(F.col("codes"), s + 1))
        cv = F.zip_with(cc, rres, lambda a, b: a + b)
        return idx.crossJoin(F.broadcast(mdf)).select(
            "cid", "neighbor_id", cv.alias("cv")
        )

    return _probe_index(
        spark, index_root, queries, k, vec_col, id_col, probes, decode
    )


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    index_root: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a persisted IVFPQ index: assign the NEW
    vectors against the frozen coarse centroids, encode their
    residuals against the frozen codebooks, and publish old+batch via
    a versioned commit (``append_commit`` — hardlink copy-on-write,
    never a reader-visible partial batch).  Quantizer drift is the
    documented trade, exactly as for the SQ8 tier."""
    cents, books = _load_model(index_root)
    if books is None:
        raise FileNotFoundError(f"no PQ codebooks under {index_root}")
    t = _coarse_residual(_vectors(new_vectors, id_col, vec_col, "nid", "v"), cents)
    tbl = _index_table(index_root)
    tbl.append_commit(_pq_rows(t, books), partition_by=("cid",))
    _cache_model(index_root, tbl, cents, books)


def ensure_ivf_pq_index(
    corpus: DataFrame,
    index_root: str,
    n_clusters: int = 8,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 3,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> bool:
    """:func:`_ensure_index` over :func:`build_ivf_pq_index`."""
    params = {
        "n_clusters": int(n_clusters),
        "pq_m": int(m),
        "pq_k_cb": int(k_cb),
        "iters": int(iters),
        "pq_iters": int(pq_iters),
        "sample_mod": -1 if sample_mod is None else int(sample_mod),
    }
    return _ensure_index(
        corpus,
        index_root,
        vec_col,
        id_col,
        params,
        lambda meta: build_ivf_pq_index(
            corpus, index_root, n_clusters, m, k_cb, iters, pq_iters,
            vec_col, id_col, sample_mod, _meta=meta,
        ),
    )
