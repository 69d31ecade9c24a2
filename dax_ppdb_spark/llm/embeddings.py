"""Embedding-column preprocessing: int8 quantization and
cluster-scoped semantic dedup (SemDeDup — flat and two-level tiers).

All operators here treat the embedding column (``array<float>``) the way a
100 TB training-data pipeline has to: per-row work stays in JVM-side
array expressions (zero shuffle for quantization), and anything
pairwise is confined to a partition key (the k-means cell) so the
candidate fan-out is bounded by cluster occupancy, never the corpus.

Cross-engine determinism follows the module convention: double
arithmetic in deterministic order, outputs rounded to 6 decimals so
last-ulp engine differences cannot flip the oracle hash.
"""

from __future__ import annotations

# Module globals on purpose: applyInArrow picks the streamed iterator
# form from the pair function's type hints, and under postponed
# annotations those resolve only against this module's namespace.
from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from .similarity import kmeans_centroids


def _pair_cells_arrow(
    assigned: DataFrame, threshold: float, max_cell: int
) -> DataFrame:
    """In-cell pair mining as ONE grouped Arrow stage over the
    ``(cid, id, v)`` assignment relation: per cell, enforce the
    occupancy cap, order members by id, score all ``id_a < id_b``
    pairs, and emit ``(cid, vec_a, vec_b, cosine)`` for those with
    round-6 cosine >= ``threshold``.  Cells are independent, so the
    only exchange is the hash partitioning on ``cid`` and no pair ever
    crosses a cell (partition-local work, as in REPOSE).

    The cell streams in as record batches: rows are counted as they
    arrive, and once a cell exceeds ``max_cell`` the held batches are
    dropped and the rest is drained unread.  A hot cell (all-zero or
    duplicated embeddings) therefore costs one linear read in one task
    and never holds more than ``max_cell`` rows in the worker.

    Arithmetic, step by step: the pair dot and both squared norms
    accumulate per DIMENSION in sequential IEEE order (``acc += x_d *
    y_d`` for d = 0..dim-1, the :func:`~.similarity.dot` fold's
    order); ``dot / sqrt(n2a * n2b)`` is
    exact IEEE division/sqrt; the raw-value prefilter keeps every pair
    with ``raw >= threshold - 1e-6`` (round-6 moves a value by at most
    0.5e-6 + one double ulp, so no pair whose ROUNDED cosine reaches
    the threshold is dropped); survivors are rounded with
    :func:`~.similarity._round6_half_up` (Spark's ``round(x, 6)``) and
    re-filtered on the rounded value.  A zero-NORM embedding (outside
    the embedding-table contract) yields NaN and never pairs.
    """
    import numpy as np

    from .similarity import _list_matrix, _round6_half_up

    id_t = assigned.schema["id"].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        held, m = [], 0
        for b in batches:
            m += b.num_rows
            if m > max_cell:
                held.clear()
                for _ in batches:
                    pass
                return
            held.append(b)
        if m < 2:
            return
        tbl = pa.Table.from_batches(held)
        cid = tbl.column("cid")[0].as_py()
        ids_col = tbl.column("id").combine_chunks()
        order = np.argsort(ids_col.to_numpy(zero_copy_only=False), kind="stable")
        ids_col = ids_col.take(pa.array(order))
        V = _list_matrix(tbl.column("v").combine_chunks())[order]
        n2 = np.zeros(m)
        G = np.zeros((m, m))
        for d in range(V.shape[1]):
            col = V[:, d]
            n2 += col * col
            G += col[:, None] * col[None, :]
        ia, ib = np.triu_indices(m, 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            raw = G[ia, ib] / np.sqrt(n2[ia] * n2[ib])
        keep = np.flatnonzero(raw >= threshold - 1e-6)
        cos = np.array([_round6_half_up(x) for x in raw[keep]], dtype=np.float64)
        ok = cos >= threshold
        final, cos = keep[ok], cos[ok]
        if len(final):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(final), cid, np.int32)),
                    ids_col.take(pa.array(ia[final])),
                    ids_col.take(pa.array(ib[final])),
                    pa.array(cos),
                ],
                ["cid", "vec_a", "vec_b", "cosine"],
            )

    return assigned.groupBy("cid").applyInArrow(
        fn, f"cid int, vec_a {id_t}, vec_b {id_t}, cosine double"
    )


def _id_vec(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """The ``(id, v)`` relation the Arrow assignment stages take."""
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def _no_pairs(emb: DataFrame, id_col: str) -> DataFrame:
    """The pair stage's empty result, typed like a real one: an empty
    centroid model (empty training sample) assigns no cells."""
    id_t = emb.schema[id_col].dataType.simpleString()
    return local_df(
        emb.sparkSession, [], f"cid int, vec_a {id_t}, vec_b {id_t}, cosine double"
    )


def _check_max_cell(max_cell: int) -> None:
    """The cell cap is the pair stage's only bound on per-task memory
    and quadratic work, so it is required: an uncapped hot cell would
    be unbounded."""
    if max_cell is None or max_cell < 1:
        raise ValueError(f"max_cell must be a positive int, got {max_cell!r}")


def _half_up(x: Column) -> Column:
    """round-half-toward-+inf as ``floor(x + 0.5)`` — exact and
    engine-identical (both Spark's and DuckDB's ``round`` are
    half-away-from-zero, but ``floor`` is the one primitive with no
    rounding-mode ambiguity at all)."""
    return F.floor(x + F.lit(0.5))


def quantize_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction
    error — the standard 4x memory/IO compression step before ANN
    serving or shipping embeddings to a training job.

    Per vector: ``scale = max(|x|)/127``; ``q_i = clamp(round(x_i /
    scale), -127, 127)``; the all-zero vector quantizes to zeros with
    ``scale = 0``.  Emits per-row summary scalars rather than the
    quantized array itself (the array is trivially reconstructed;
    scalars keep the driver-compare engine-portable):

    - ``dim`` — vector length,
    - ``scale`` — the dequantization step, UNROUNDED: it is produced
      by exact IEEE ops only (max of abs, one division — no
      summation whose order could differ between engines), so it is
      bit-identical everywhere, and rounding it would destroy the
      ability to dequantize small-magnitude vectors (a 1e-7-norm
      vector's scale rounds to 0.0 at 6 decimals while its codes are
      non-zero — caught by the property suite),
    - ``qnorm_sq`` — sum of squared int8 codes (exact int64, an
      order-insensitive content anchor for the whole code vector),
    - ``rmse`` — root-mean-square reconstruction error (round 6).

    Scale posture: pure map-side column expressions inside whole-stage
    codegen — zero shuffle, linear in bytes scanned, embarrassingly
    parallel at any corpus size.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(F.lit(127).cast("long"), _half_up(x / scale).cast("long")),
            )
        ),
    )
    qnorm_sq = F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    err2 = F.aggregate(
        F.zip_with(v, q, lambda x, qi: (x - qi * scale) * (x - qi * scale)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    dim = F.size(v)
    return emb.select(
        F.col(id_col),
        dim.alias("dim"),
        scale.alias("scale"),
        qnorm_sq.alias("qnorm_sq"),
        F.round(F.sqrt(err2 / F.greatest(dim, F.lit(1))), 6).alias("rmse"),
    )


def auto_semdedup_clusters(n: int) -> int:
    """Cluster count for :func:`semdedup_pairs` from the corpus size:
    ``max(8, ceil(sqrt(n)))`` — the cost optimum for a FLAT quantizer,
    where assignment work is ``N*k`` and expected in-cell pair work is
    ``N^2/(2k)``; ``k ~ sqrt(N)`` balances them at ``O(N^1.5)`` total.
    Same design as ``dedup.auto_bands``: the parameter tracks the
    corpus so growth has no silent quadratic term, and the rule is
    trivially replayable by the SQL oracle.  (The O(N) tier at 100 TB
    is a hierarchical two-level quantizer or the banded sign-LSH path
    in ``dedup.embedding_neardup_pairs``; flat Lloyd with inlined
    centroid literals is honest up to a few hundred cells.)
    """
    import math

    return max(8, math.isqrt(max(n, 1) - 1) + 1)


def auto_semdedup_levels(n: int) -> tuple[int, int]:
    """Two-level (coarse, fine) cluster counts from the corpus size:
    ``k1 = k2 = max(4, round(n^(1/4)))``.

    ``k1 * k2 ~ sqrt(N)`` — the SAME effective cell count as the flat
    quantizer's ``k ~ sqrt(N)`` optimum, so the pair stage sees the
    same granularity (that granularity is the SemDeDup semantic, not
    an implementation cost), but assignment is ``N*(k1+k2) =
    O(N^1.25)`` distance evaluations instead of the flat tier's
    ``N*sqrt(N) = O(N^1.5)`` — at N = 1e9 that is ~356 multiplies per
    row instead of ~31623.  Product cells are geometrically cruder
    than one learned flat partition of equal count; the default
    2-probe fine assignment (see :func:`semdedup_pairs_two_level`)
    recovers that and then some — measured at sf0.01: flat 211,
    single-probe 97, 2-probe 254 of 990 diffuse (cosine>=0.3) pairs —
    and near-identical pairs (the actual SemDeDup target) co-locate
    in all designs thanks to residual sign canonicalization.  The
    rule runs driver-side in plain Python for BOTH the engine and the
    oracle-SQL builder, so replay is exact.
    """
    k = max(4, round(max(n, 1) ** 0.25))
    return k, k


def semdedup_pairs_two_level(
    emb: DataFrame,
    n_coarse: int,
    n_fine: int,
    threshold: float = 0.3,
    iters: int = 3,
    sample_mod: int | None = None,
    max_cell: int = 1000,
    probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup with a TWO-LEVEL (coarse x residual) quantizer — the
    O(N^(4/3)) scale tier that replaces the flat k~sqrt(N) Lloyd
    (O(N^1.5) assignment) documented as :func:`semdedup_pairs`'
    ceiling.

    Standard IVF+RQ bucketing: train ``n_coarse`` Lloyd centroids on
    the (sampled) corpus as usual, then train ``n_fine`` centroids on
    the RESIDUALS ``v - c1[cid1]`` of the same sample; the pair key
    is the product cell ``cid = cid1 * n_fine + cid2``.  Two
    near-identical vectors share both the coarse cell and the
    residual cell, so near-dup recall concentrates exactly as in the
    flat quantizer, but with ``k1*k2`` effective cells for only
    ``k1 + k2`` assignment distance evaluations per row.

    ``probes`` (default 2) assigns each vector to its ``probes``
    nearest FINE cells, so a pair straddling a fine-cell boundary
    still meets in the neighbor's cell — measured at sf0.01 this
    lifts diffuse-pair recall ABOVE the flat tier (254 vs 211 of 990
    cosine>=0.3 pairs; single-probe found 97) for probes x the
    assignment rows and a bounded pair fan-out (``max_cell`` applies
    to the probe-expanded cells; it is required, and ``None`` or a
    value below 1 raises ``ValueError``).

    Every step reuses the deterministic machinery the oracle already
    replays: lowest-id init, first-wins argmin (multi-probe = the
    same distance fold ranked, ``rn <= probes`` in SQL), round-6
    means, and residuals are exact IEEE subtractions so the DuckDB
    replay is bit-identical.  Assignment is one vectorized map stage
    (:func:`~.similarity.two_level_assign_arrow`) and pair scoring one
    grouped Arrow stage per product cell (:func:`_pair_cells_arrow`).
    ``n_coarse``/``n_fine`` are required — derive them with
    :func:`auto_semdedup_levels` from a corpus count the caller
    already has (no hidden eager ``count()`` action here).

    Output: DISTINCT (vec_a, vec_b, cosine round 6) with ``vec_a <
    vec_b`` and cosine >= ``threshold`` (a pair can meet in several
    probed cells; the cell id is an implementation detail and is not
    exposed).
    """
    from .similarity import two_level_assign_arrow, two_level_centroids

    _check_max_cell(max_cell)
    # Both quantizer levels train off ONE persisted (and, under the
    # LOCAL_TRAIN_ROWS threshold, ONE collected) hash sample; the md5
    # sample rule is the same one the oracle replays as a WHERE over
    # its residual CTE.
    cents1, cents2 = two_level_centroids(
        emb, n_coarse, n_fine, iters, vec_col, id_col, sample_mod
    )
    if not cents1:
        return _no_pairs(emb, id_col).drop("cid")
    # Full-corpus assignment fuses coarse argmin, exact-IEEE residual,
    # sign canonicalization and multi-probe fine argmin into ONE
    # vectorized map stage (similarity.two_level_assign_arrow); a pair
    # can meet in several probed cells, hence the distinct.
    assigned = two_level_assign_arrow(
        _id_vec(emb, vec_col, id_col), cents1, cents2, probes, n_fine
    )
    return (
        _pair_cells_arrow(assigned, threshold, max_cell)
        .select("vec_a", "vec_b", "cosine")
        .distinct()
    )


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_clusters: int | None = None,
    iters: int = 3,
    sample_mod: int | None = None,
    max_cell: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus_count: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs
    found WITHIN k-means cells only — cluster the corpus with the
    deterministic sampled Lloyd quantizer, then score cosine pairs
    inside each cell.

    This is the other scale path to embedding dedup, complementary to
    the sign-LSH bands in :func:`..dedup.embedding_neardup_pairs`:
    instead of hash buckets, the partition key is a LEARNED cell, so
    near-dup recall concentrates where the data actually clusters.
    ``n_clusters`` defaults to :func:`auto_semdedup_clusters` of the
    corpus count (k ~ sqrt(N), the flat-quantizer cost optimum) so the
    in-cell pair expansion can never go quadratic behind a fixed
    default — NOTE that this default triggers an EAGER ``emb.count()``
    Spark action at plan-construction time; callers that already know
    the corpus size (as ``q_semdedup`` does) should pass ``n_clusters``
    explicitly.  ``max_cell`` is the required skew guard (a
    degenerate cell — all-zero embeddings — is capped out rather than
    detonating one task; ``None`` or a value below 1 raises
    ``ValueError``).  Assignment is one vectorized map stage
    (:func:`~.similarity.flat_assign_arrow`); the pair stage shuffles
    ids+vectors once on ``cid`` and scores each cell in one grouped
    Arrow task (:func:`_pair_cells_arrow`) — never an all-pairs cross
    join (pinned by tests).

    Output: (cid, vec_a, vec_b, cosine round 6) with ``vec_a <
    vec_b`` and cosine >= ``threshold``.
    """
    from .similarity import flat_assign_arrow

    _check_max_cell(max_cell)
    if n_clusters is None:
        if corpus_count is None:
            corpus_count = emb.count()
        n_clusters = auto_semdedup_clusters(corpus_count)
    cents = kmeans_centroids(emb, n_clusters, iters, vec_col, id_col, sample_mod)
    if not cents:
        return _no_pairs(emb, id_col)
    assigned = flat_assign_arrow(_id_vec(emb, vec_col, id_col), cents)
    return _pair_cells_arrow(assigned, threshold, max_cell)


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Upper-triangle sample covariance of the embedding columns:
    ``(i, j, cov)`` with 0-based ``i <= j``, round 6 — the statistics
    pass feeding PCA/whitening (:func:`pca_whiten`), duplicate-axis
    detection, and per-dimension drift monitors.

    Shape: one pass computes the per-dimension means (d values to the
    driver), a second pass aggregates the centered cross-products —
    exploded to (i, j, x_i*x_j) pairs and SUMmed with map-side partial
    aggregation, so the shuffle carries at most d*(d+1)/2 rows per
    map task regardless of corpus size.  The d^2 fan-out per row is
    the intrinsic cost of covariance; at 100 TB you bound it by
    computing on a hash sample (the quantizer-training pattern) —
    the operator takes whatever DataFrame it is given.

    Divisor is ``n`` (population covariance) — one fewer branch for
    the oracle to mirror and the difference vanishes at corpus scale.

    With the default ``round_to``, each centered product is cast to
    ``DECIMAL(38,12)`` BEFORE the SUM: decimal addition is exact and
    associative, so the aggregate is invariant under shuffle-merge
    order — a plain double SUM can flip a cell sitting within an ulp
    of the 0.5e-6 rounding boundary between runs (the CORRECTNESS_r05
    flake).  ``round_to=None`` skips rounding and the decimal detour
    (float sum) for internal consumers like :func:`pca_whiten` that
    need full precision and tolerate 1e-12 run-to-run noise.
    """
    v = F.col(vec_col).cast("array<double>")
    n = emb.count()
    means = (
        emb.select(F.posexplode(v).alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    mean = {r["i"]: r["s"] / n for r in means}
    dim = len(mean)
    mdf = local_df(
        emb.sparkSession,
        [([mean[i] for i in range(dim)],)], "__mean array<double>"
    )
    centered = (
        emb.crossJoin(F.broadcast(mdf))
        .select(F.zip_with(v, F.col("__mean"), lambda x, m: x - m).alias("c"))
    )
    pairs = centered.select(
        F.posexplode(F.col("c")).alias("i", "xi"), F.col("c").alias("c2")
    ).select(
        "i",
        F.posexplode(F.col("c2")).alias("j", "xj"),
        F.col("xi"),
    ).filter(F.col("j") >= F.col("i"))
    prod = F.col("xi") * F.col("xj")
    if round_to is None:
        agg = (F.sum(prod) / n).alias("cov")
    else:
        # exact, order-insensitive decimal sum; + 0.0 flushes any -0.0
        agg = (
            F.round(F.sum(prod.cast("decimal(38,12)")).cast("double") / n, round_to)
            + F.lit(0.0)
        ).alias("cov")
    return pairs.groupBy("i", "j").agg(agg)


def pca_whiten(
    emb: DataFrame,
    k: int | None = None,
    eps: float = 1e-9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PCA whitening: project embeddings onto the top-``k`` principal
    axes and scale each to unit variance — the decorrelation step that
    makes cosine/L2 behave before ANN or embedding dedup (FAISS's
    ``PCAW`` preprocessing).

    The d x d covariance aggregates distributedly
    (:func:`embedding_covariance` shape), its eigendecomposition runs
    on the DRIVER (d x d is model-sized, like the k-means centroids),
    and the projection matrix broadcasts back as data — the corpus
    never shuffles; the transform is one map-side expression.
    Deterministic given the input (numpy ``eigh`` on the exact same
    symmetric matrix; eigenvector sign fixed by forcing the
    largest-|component| positive).  No SQL oracle — eigendecomposition
    is not expressible in the oracle dialect; the covariance feeding
    it is the oracle-checked part, and the whitening contract
    (identity covariance out) is pinned by pytest.

    Output: (id_col, whitened array<double> of length k).
    """
    import numpy as np

    v = F.col(vec_col).cast("array<double>")
    n = emb.count()
    rows = embedding_covariance(emb, vec_col, id_col, round_to=None).collect()
    dim = max(r["j"] for r in rows) + 1
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    mean_rows = (
        emb.select(F.posexplode(v).alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    mean = np.zeros(dim)
    for r in mean_rows:
        mean[r["i"]] = r["s"] / n
    w, vecs = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    k = dim if k is None else min(k, dim)
    w, vecs = w[order[:k]], vecs[:, order[:k]]
    # sign convention: largest-|component| of each axis positive
    for c in range(vecs.shape[1]):
        m = np.argmax(np.abs(vecs[:, c]))
        if vecs[m, c] < 0:
            vecs[:, c] = -vecs[:, c]
    proj = vecs / np.sqrt(np.maximum(w, eps))  # (dim, k)
    pdf = local_df(
        emb.sparkSession,
        [([list(map(float, row)) for row in proj],
          [float(x) for x in mean])],
        "__proj array<array<double>>, __mean array<double>",
    )
    centered = F.zip_with(v, F.col("__mean"), lambda x, m: x - m)
    # project: out_k = sum_d centered[d] * proj[d][k] — a sequential
    # fold per output axis, deterministic like every dot product here
    out = F.transform(
        F.sequence(F.lit(1), F.lit(k)),
        lambda kk: F.aggregate(
            F.zip_with(
                centered,
                F.transform(F.col("__proj"), lambda row: F.element_at(row, kk)),
                lambda x, p: x * p,
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    return (
        emb.crossJoin(F.broadcast(pdf))
        .select(F.col(id_col), out.alias("whitened"))
    )


def embedding_outlier_ranks(
    emb: DataFrame,
    n_clusters: int | None = None,
    iters: int = 3,
    sample_mod: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Intra-cluster outlier scoring — the pruning complement of
    SemDeDup: where :func:`semdedup_pairs` drops the redundant CENTER
    of each learned cell (near-duplicate mass), this ranks each cell's
    members by distance from their centroid so a curation pipeline can
    quarantine the far TAIL (junk, OOD rows, encoder failures — the
    centroid-distance screen used alongside dedup in embedding-based
    data curation).

    Output: one row per vector — ``(vec_id, cid, dist, cell_rank)``
    with ``dist`` = round-6 Euclidean distance to the vector's own
    (deterministic k-means) centroid and ``cell_rank`` = 1 for the
    farthest member of its cell (ties broken by id).  Total over the
    corpus; consumers cut at a rank or distance threshold.

    Scale shape: training scans a hash sample (``sample_mod`` — the
    100-TB shape), the assignment + distance is ONE map pass over the
    corpus against a broadcast model-sized centroid table (same
    :func:`~.similarity.assign_cells` discipline: centroids ride as
    data, O(1) plan nodes), and the only exchange is the per-cell
    ranking window keyed by ``cid`` (~sqrt(N) cells via
    :func:`auto_semdedup_clusters`, so cells stay balanced as N
    grows).  Fully deterministic: sampled Lloyd init/tie-breaks are
    the replayable :func:`~.similarity.kmeans_centroids` rules, so
    the DuckDB oracle chains the identical training.

    ``centroids`` supplies a pre-trained quantizer (e.g. a persisted
    :func:`~.similarity.ensure_centroid_model` generation) and skips
    the training entirely; training is deterministic, so a persisted
    model is bit-identical to training in place.
    """
    from pyspark.sql import Window

    from .similarity import assign_cells, kmeans_centroids

    if centroids is not None:
        cents = centroids
    else:
        if n_clusters is None:
            n_clusters = auto_semdedup_clusters(emb.count())
        cents = kmeans_centroids(
            emb, n_clusters, iters, vec_col, id_col, sample_mod
        )
    assigned = assign_cells(
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        cents,
    )
    cdf = local_df(
        emb.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid INT, __c array<double>",
    )
    # Sequential fold, same element order as the oracle's
    # list_sum(list_transform(...)): (v_i - c_i)^2 accumulated left to
    # right; round-6 output bridges the engines' last-ulp differences
    # exactly like every cosine output in this package.
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("__c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("cid").orderBy(F.col("dist").desc(), F.col("vec_id"))
    return (
        assigned.join(F.broadcast(cdf), "cid")
        .withColumn("dist", F.round(F.sqrt(d2), 6))
        .withColumn("cell_rank", F.row_number().over(w))
        .select("vec_id", "cid", "dist", "cell_rank")
    )
