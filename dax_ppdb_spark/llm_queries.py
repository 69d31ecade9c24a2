"""Driver-contract queries for the LLM-data operators.

Registered into the same registry as ``driver_queries``; every oracle
is exact DuckDB SQL replaying the identical hash arithmetic (see
``llm.text.md5_long`` — md5-hex window parses are engine-
independent).  Cosine similarities are rounded to 6 decimals on both
sides before ranking/output so last-ulp engine differences cannot
flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver_queries import _read, register, table_rows_meta
from .llm.dedup import (
    DEFAULT_MAX_BUCKET,
    DEFAULT_MAX_DOC_FREQ,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from .llm.multimodal import decode_features, documents_as_media, sample_frames
from .llm.similarity import topk_bruteforce, topk_bucketed
from .llm.text import (
    HASH_PRIME,
    STOPWORDS,
    cdc_poly_sql,
    doc_fingerprint,
    hex_window_long_sql,
    language_id,
    md5_long_sql,
    md5_wide_long_sql,
    quality_metrics,
    redact_pii,
    repetition_ratio,
)

def _read_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read + spread across cores.

    The test tables arrive as a single parquet file -> one input split
    -> one task, which serializes the CPU-heavy hash/shingle operators.
    An explicit round-robin repartition to the cluster's parallelism
    costs one tiny shuffle and parallelizes everything downstream; on
    a real corpus the source already has thousands of splits and this
    is a no-op knob.
    """
    return _read(spark, sf_dir, table).repartition(
        spark.sparkContext.defaultParallelism
    )


# DuckDB fragments shared by several oracles.
_TOKS = r"regexp_extract_all(text, '\S+')"
_SHINGLES3 = (
    "list_distinct(list_transform("
    f"range(1, greatest(len({_TOKS}) - 1, 1)), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' ')))"
)

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM documents GROUP BY md5(text)
"""


@register("dedup_exact", _DEDUP_EXACT_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, map-side combinable — the cheapest
    full-corpus pass."""
    return exact_dedup(_read_spread(spark, sf_dir, "documents"))


_DEDUP_NGRAM_SQL = f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES3} AS shs FROM documents
    WHERE len({_TOKS}) >= 3
),
inv0 AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh),
-- default-on stop-shingle cap (mirrors llm.dedup.DEFAULT_MAX_DOC_FREQ)
inv AS (
    SELECT inv0.* FROM inv0
    JOIN (SELECT shingle FROM inv0 GROUP BY shingle
          HAVING COUNT(*) <= {DEFAULT_MAX_DOC_FREQ}) ok USING (shingle)
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS n_inter
    FROM inv a JOIN inv b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
"""


@register("dedup_ngram_jaccard", _DEDUP_NGRAM_SQL)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.5 via inverted-index self-join."""
    return ngram_jaccard_pairs(_read_spread(spark, sf_dir, "documents"), n=3, threshold=0.5)


# Prefix filtering is LOSSLESS, so the oracle states the pure
# semantics — uncapped pairwise Jaccard — with no prefix logic.
def _pairwise_jaccard_sql(threshold: float) -> str:
    return f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES3} AS shs FROM documents
    WHERE len({_TOKS}) >= 3
),
inv AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS n_inter
    FROM inv a JOIN inv b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= {threshold}
"""


_DEDUP_PREFIX_SQL = _pairwise_jaccard_sql(0.6)


@register("dedup_jaccard_prefix", _DEDUP_PREFIX_SQL)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.6 via PREFIX FILTERING (SSJoin /
    PPJoin family): only each doc's rarest ``n - ceil(t*n) + 1``
    shingles enter the inverted index — a lossless candidate filter
    (unlike ``max_doc_freq``, which trades recall for skew safety), so
    the result equals brute-force pairwise Jaccard at any scale."""
    from .llm.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(
        _read_spread(spark, sf_dir, "documents"), n=3, threshold=0.6
    )


def _minhash_band_sql(src: str = "documents", max_bucket: int | None = DEFAULT_MAX_BUCKET) -> str:
    mins = ", ".join(
        f"list_min(list_transform(shs, s -> {hex_window_long_sql('md5(s)', 3 * i)}))"
        for i in range(8)
    )
    bands = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(sig[{2 * b + 1}] AS VARCHAR) || '|' || "
        f"CAST(sig[{2 * b + 2}] AS VARCHAR) AS key FROM sig"
        for b in range(4)
    )
    cap = (
        f"""
-- default-on hot-bucket cap (mirrors llm.dedup.DEFAULT_MAX_BUCKET)
banded AS (
    SELECT banded0.* FROM banded0
    JOIN (SELECT band, key FROM banded0 GROUP BY band, key
          HAVING COUNT(*) <= {max_bucket}) ok USING (band, key)
)"""
        if max_bucket is not None
        else """
banded AS (SELECT * FROM banded0)"""
    )
    return f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES3} AS shs FROM {src}
    WHERE len({_TOKS}) >= 3
),
sig AS (SELECT doc_id, [{mins}] AS sig FROM sh WHERE len(shs) > 0),
banded0 AS (
    {bands}
),{cap}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band, key)
WHERE a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", _minhash_band_sql())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate pairs — the discovery stage that
    replaces the quadratic self-join at scale.  The banding is
    RECALL-DERIVED, not hand-picked: minhash_params_for_recall
    inverts the S-curve for >= 97% model recall at Jaccard 0.8 within
    an 8-hash budget, which resolves to (k=8, bands=4: 4 bands x 2
    rows) — the miss rate is a chosen number the dedup_recall query
    then measures empirically."""
    from .llm.dedup import minhash_params_for_recall

    k, bands = minhash_params_for_recall(0.8, 0.97, max_k=8)
    assert (k, bands) == (8, 4)  # the oracle replays this banding
    return minhash_lsh_pairs(
        _read_spread(spark, sf_dir, "documents"), k=k, bands=bands, n=3
    )


def _verified_neardup_sql() -> str:
    """Discovery + verify composed: the minhash candidate CTEs with an
    exact shingle-set Jaccard computed only for candidate pairs."""
    base = _minhash_band_sql().strip()
    head, select = base.rsplit("SELECT DISTINCT", 1)
    return f"""{head.rstrip()},
cand AS (
    SELECT DISTINCT{select}
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
           AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
      / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.5
"""


@register("dedup_verified", _verified_neardup_sql())
def q_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage near-dup pipeline as one query: LSH discovery,
    exact Jaccard verification on candidates only (see
    ``llm.dedup.verified_neardup_pairs``).  Discovery banding is the
    same recall-derived (8, 4) as dedup_minhash_lsh."""
    from .llm.dedup import minhash_params_for_recall, verified_neardup_pairs

    k, bands = minhash_params_for_recall(0.8, 0.97, max_k=8)
    return verified_neardup_pairs(
        _read_spread(spark, sf_dir, "documents"),
        k=k,
        bands=bands,
        n=3,
        threshold=0.5,
    )


def _incremental_sql() -> str:
    """Oracle for incremental (batch-vs-corpus) near-dup: band keys
    from the shared minhash CTEs, batch/corpus split on doc_id % 4,
    corpus-side buckets capped, exact Jaccard on candidates."""
    base = _minhash_band_sql().strip()
    head, _ = base.rsplit("SELECT DISTINCT", 1)
    return f"""{head.rstrip().rstrip(',')},
bn AS (SELECT doc_id AS new_id, band, key FROM banded0 WHERE doc_id % 4 = 0),
bc AS (SELECT doc_id AS corpus_id, band, key FROM banded0 WHERE doc_id % 4 != 0),
ok AS (SELECT band, key FROM bc GROUP BY band, key
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
cand AS (
    SELECT DISTINCT bn.new_id, bc.corpus_id
    FROM bn JOIN bc USING (band, key) JOIN ok USING (band, key)
)
SELECT c.new_id, c.corpus_id,
       CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
           AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.new_id
JOIN sh sb ON sb.doc_id = c.corpus_id
WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
      / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.5
"""


@register("dedup_incremental", _incremental_sql())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: today's batch (doc_id % 4 == 0) LSH-joined
    against the standing corpus, exact-verified on candidates — the
    rolling crawl-ingest shape where each batch costs O(batch), not
    O(corpus^2) (see ``llm.dedup.incremental_neardup_pairs``)."""
    from .llm.dedup import incremental_neardup_pairs

    docs = _read_spread(spark, sf_dir, "documents")
    return incremental_neardup_pairs(
        docs.filter(F.col("doc_id") % 4 == 0),
        docs.filter(F.col("doc_id") % 4 != 0),
        k=8, bands=4, n=3, threshold=0.5,
    )


def _classifier_sql(dim: int = 64, rounds: int = 3, lr: float = 0.5) -> str:
    """Oracle for the hashed logistic classifier: replays the FULL
    training (per-round left-fold dot product, round-6 decimal
    residuals, exact per-feature gradient sums via a j->g map, the
    identical IEEE weight update) and the final scoring pass.  The
    weight vector rides each round as a one-row list CTE."""
    hj = (
        f"list_transform({_TOKS}, tk -> "
        f"CAST({md5_long_sql('tk')} % {dim} AS INT))"
    )
    # left fold, bias at w[dim+1]; empty token lists fold to 0.0
    def wx(wrel: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(hj, j -> {wrel}.w[j + 1])), (a, b) -> a + b) "
            f"+ {wrel}.w[{dim + 1}]"
        )

    sql = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           {hj} AS hj
    FROM documents
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
w0 AS (SELECT list_transform(range(1, {dim + 2}), j -> CAST(0.0 AS DOUBLE)) AS w)"""
    for r in range(1, rounds + 1):
        sql += f""",
p{r} AS (
    SELECT doc_id, hj,
           CAST(round(y - 1.0 / (1.0 + exp(-({wx(f"w{r-1}")}))), 6)
                AS DECIMAL(16,6)) AS rd
    FROM t, w{r - 1}
),
g{r} AS (
    SELECT map(coalesce(list(j), []), coalesce(list(g), [])) AS gm
    FROM (SELECT j, SUM(rd) AS g
          FROM (SELECT rd, unnest(list_append(hj, {dim})) AS j FROM p{r})
          GROUP BY j)
),
w{r} AS (
    SELECT list_transform(range(0, {dim + 1}), j ->
        w{r - 1}.w[j + 1]
        + ({lr} * CAST(coalesce(gm[j][1], 0) AS DOUBLE)) / nn.n) AS w
    FROM w{r - 1}, g{r}, nn
)"""
    sql += f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({wx(f"w{rounds}")}))), 6) + 0.0 AS score,
       (round(1.0 / (1.0 + exp(-({wx(f"w{rounds}")}))), 6) + 0.0) >= 0.5
           AS predicted
FROM t, w{rounds}
"""
    return sql


@register("quality_classifier", _classifier_sql())
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality/domain filter, trained IN the engine: a
    fasttext-style hashed bag-of-tokens logistic regression (dim-64
    features, 3 GD rounds) fit against the is-English label, then
    scored over the corpus in one map pass — the CCNet/LLaMA
    classifier-gate shape.  Per round: one map-side residual pass
    under broadcast-literal weights + one decimal-exact per-feature
    gradient aggregation; the model (65 doubles) is the only thing
    that leaves the executors.  The oracle replays the entire
    training, so the learned weights — not just the scores — are
    cross-engine exact."""
    from .llm.classify import train_and_score

    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").cast("double").alias("y")
    )
    return train_and_score(
        docs, label_col="y", dim=64, rounds=3, lr=0.5
    )


@register("dedup_index_probe", _incremental_sql())
def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-dedup-index serving path: ensure the standing corpus
    band index is current (exact corpus fingerprint gate), then probe
    today's batch against it — the batch's distinct band keys
    broadcast onto the stored keys (the corpus never re-hashes and
    never shuffles), candidates exact-verify through the same tail as
    dedup_incremental.  Bit-identical to incremental_neardup_pairs
    with the index's banding, so the SAME oracle replays it; what
    this adds is the store: at 100 TB each batch costs O(batch), not
    O(corpus) re-banding per call."""
    import os
    import tempfile

    from .llm.dedup import ensure_dedup_index, probe_dedup_index

    # spread like dedup_incremental: the BATCH banding (the probe's
    # only per-byte cost) is md5-dense and must parallelize; the
    # ensure fingerprint is order-insensitive so the spread is safe
    docs = _read_spread(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    root = os.path.join(
        tempfile.gettempdir(),
        "dax_ppdb_spark_dedup_index",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    ensure_dedup_index(corpus, root, k=8, bands=4, n=3)
    return probe_dedup_index(spark, root, batch, corpus, threshold=0.5)


# Exact incremental dedup: the oracle states pure new-x-corpus
# pairwise Jaccard — no banding, no caps (prefix filtering is
# lossless, see llm.dedup.incremental_jaccard_prefix).
_INCR_PREFIX_SQL = f"""
WITH shn AS (
    SELECT doc_id, {_SHINGLES3} AS shs FROM documents
    WHERE doc_id % 4 = 0 AND len({_TOKS}) >= 3
),
shc AS (
    SELECT doc_id, {_SHINGLES3} AS shs FROM documents
    WHERE doc_id % 4 != 0 AND len({_TOKS}) >= 3
),
invn AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM shn),
invc AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM shc),
inter AS (
    SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
           MAX(a.n_sh) AS n_a, MAX(b.n_sh) AS n_b, COUNT(*) AS n_inter
    FROM invn a JOIN invc b USING (shingle)
    GROUP BY a.doc_id, b.doc_id
)
SELECT new_id, corpus_id,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
"""


@register("dedup_incr_prefix", _INCR_PREFIX_SQL)
def q_dedup_incr_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental dedup via prefix filtering: every batch-vs-
    corpus pair with Jaccard >= 0.5, same split and params as
    `dedup_incremental` — whose LSH discovery can MISS pairs with
    banding probability; this lossless variant is the compliance-grade
    gate.  The corpus prefix index is the precomputable side."""
    from .llm.dedup import incremental_jaccard_prefix

    docs = _read_spread(spark, sf_dir, "documents")
    return incremental_jaccard_prefix(
        docs.filter(F.col("doc_id") % 4 == 0),
        docs.filter(F.col("doc_id") % 4 != 0),
        n=3,
        threshold=0.5,
    )


def _dedup_recall_sql() -> str:
    """Both chains replayed end to end: LSH candidates (band keys,
    default bucket cap) vs the exact >= 0.5 pairwise-Jaccard truth —
    the measurement every dedup deployment runs before trusting the
    probabilistic tier."""
    return f"""
WITH truth AS ({_pairwise_jaccard_sql(0.5)}),
cand AS ({_minhash_band_sql()}),
hit AS (
    SELECT t.doc_a, t.doc_b FROM truth t
    JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM truth), 1), 6) AS recall,
       round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM cand), 1), 6) AS precision
"""


@register("dedup_recall", _dedup_recall_sql)
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier evaluation: recall and precision of the MinHash-LSH
    discovery stage against the EXACT >= 0.5 Jaccard truth (the
    lossless prefix join) — the banding-miss measurement a deployment
    makes before trusting the probabilistic tier at scale.  Composes
    two registered operators; the oracle replays both chains."""
    from .llm.dedup import jaccard_prefix_pairs, minhash_lsh_pairs

    docs = _read_spread(spark, sf_dir, "documents")
    # each side feeds both the hit join and its own count — checkpoint
    # so the prefix-join / LSH chains run once, not twice
    truth = (
        jaccard_prefix_pairs(docs, n=3, threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    cand = (
        minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return counts.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_cand"), F.lit(1)), 6
        ).alias("precision"),
    )


def _dedup_clusters_sql() -> str:
    """Cluster assignment for every document: near-dup pairs grouped
    into components via a recursive min-label walk (DuckDB), singleton
    docs assigned to themselves."""
    pairs = _verified_neardup_sql().strip().rstrip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.component, d.doc_id) AS cluster_id,
       COALESCE(cc.component, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
"""


def neardup_cluster_map(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: the canonical near-dup
    cluster relation — verified pairs (k=8, bands=4, n=3, threshold
    0.5) grouped by connected components, singletons labeled by their
    own id.  ONE definition shared by ``dedup_clusters``,
    ``dedup_keep_best`` and ``leak_safe_split``, so the leakage guard
    and the dedup pipeline can never disagree about what a cluster is.
    """
    from .llm.dedup import verified_neardup_pairs
    from .ops.graph import connected_components

    pairs = verified_neardup_pairs(docs, k=8, bands=4, n=3, threshold=0.5)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # Plain left join: the component map can be a large fraction of the
    # corpus (dup-heavy crawls), so don't force a broadcast — AQE picks
    # one at runtime when the map is actually small.
    return docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        docs["doc_id"], F.coalesce("component", docs["doc_id"]).alias("cluster_id")
    )


@register("dedup_clusters", _dedup_clusters_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup deliverable: verified near-dup pairs grouped into
    transitive clusters (``ops.graph.connected_components``, the
    large-star/small-star MapReduce algorithm), every document assigned
    a cluster id, representative = smallest doc_id per cluster.

    The oracle replays the clustering as a DuckDB recursive CTE —
    feasible at sf0.01, while the Spark side's O(log n) star rounds are
    the shape that survives a 100-TB corpus (the oracle's reachability
    walk is quadratic in component size).
    """
    cmap = neardup_cluster_map(_read_spread(spark, sf_dir, "documents"))
    return cmap.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("keep"),
    )


def _simhash_sql(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        bit = f"(({md5_long_sql('t')} // {2**b}) % 2) * 2 - 1"
        terms.append(
            f"CASE WHEN list_sum(list_transform({_TOKS}, t -> {bit})) > 0 "
            f"THEN {2**b} ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM documents"


@register("dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash signature (zero-shuffle compute)."""
    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), bits=16).alias("simhash"))


_EMB_NEARDUP_SQL = f"""
WITH e0 AS (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(CAST(embedding[1] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[17] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[33] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[49] >= 0 AS INT) AS VARCHAR) AS bucket
    FROM embeddings
),
-- default-on hot-bucket cap (mirrors llm.dedup.DEFAULT_MAX_BUCKET)
e AS (
    SELECT e0.* FROM e0
    JOIN (SELECT bucket FROM e0 GROUP BY bucket
          HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}) ok USING (bucket)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b USING (bucket)
WHERE a.id < b.id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


@register("dedup_embedding", _EMB_NEARDUP_SQL)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs behind a sign-bucket LSH
    prefilter (16 buckets bound the pair fan-out).  Fixed single-band
    plane set — the legacy shape; the corpus-scaled default lives in
    ``dedup_embedding_banded``."""
    from .llm.dedup import axis_planes

    return embedding_neardup_pairs(
        _read_spread(spark, sf_dir, "embeddings"),
        threshold=0.3,
        sign_dims=axis_planes(64, 4),
    )


def _emb_banded_sql(
    bands: tuple[tuple[int, ...], ...], threshold: float = 0.3
) -> str:
    """Oracle for the OR-of-ANDs banded sign-LSH: per-band bucket
    self-joins, DISTINCT candidate pairs, cosine scored once."""
    keyed = "\n    UNION ALL ".join(
        "SELECT vec_id AS id, {b} AS band, {key} AS bucket FROM embeddings".format(
            b=b,
            key=" || ".join(
                f"CAST(CAST(embedding[{d}] >= 0 AS INT) AS VARCHAR)" for d in dims
            ),
        )
        for b, dims in enumerate(bands)
    )
    return f"""
WITH keyed0 AS (
    {keyed}
),
-- default-on hot-bucket cap (mirrors llm.dedup.DEFAULT_MAX_BUCKET)
keyed AS (
    SELECT keyed0.* FROM keyed0
    JOIN (SELECT band, bucket FROM keyed0 GROUP BY band, bucket
          HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}) ok USING (band, bucket)
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM keyed a JOIN keyed b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.id < b.id
),
e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
FROM cand c
JOIN e ea ON ea.id = c.id_a
JOIN e eb ON eb.id = c.id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
"""


def _emb_banded_auto_sql() -> str:
    """Lazily-resolved oracle: replay the SAME corpus-scaled band
    derivation (``auto_bands`` on the oracle corpus's row count, read
    from parquet footer metadata) so the Spark side's runtime-derived
    plane count and the DuckDB oracle's SQL stay in lockstep at any
    verification scale."""
    from .driver_queries import oracle_table_rows
    from .llm.dedup import auto_bands

    return _emb_banded_sql(auto_bands(64, oracle_table_rows("embeddings")))


def _emb_recall_sql() -> str:
    """Lazily-resolved oracle for the sign-LSH recall evaluation:
    exact truth from a capped deterministic sample (vec_id < 256 —
    bounded at ANY corpus size), the recall-derived banded tier over
    the full corpus, and the hyperplane-model prediction computed by
    the SAME Python expression the Spark side embeds (a literal, so
    the hash compares it exactly)."""
    import math

    from .driver_queries import oracle_table_rows
    from .llm.dedup import auto_bands

    n = oracle_table_rows("embeddings")
    bands = auto_bands(64, n)
    q = 1.0 - math.acos(0.32) / math.pi
    p, nb = len(bands[0]), len(bands)
    model = round(1.0 - (1.0 - q**p) ** nb, 6)
    return f"""
WITH s AS (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id < 256
),
truth AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM s a JOIN s b ON a.id < b.id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.32
),
cand AS (
    SELECT id_a, id_b FROM ({_emb_banded_sql(bands, 0.32)})
    WHERE id_a < 256 AND id_b < 256
),
hit AS (SELECT t.id_a, t.id_b FROM truth t JOIN cand c USING (id_a, id_b))
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM truth), 1), 6) AS recall,
       CAST({model!r} AS DOUBLE) AS model_recall,
       CAST({nb} AS BIGINT) AS n_bands
"""


@register("embedding_recall", _emb_recall_sql)
def q_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH tier evaluation — the embedding twin of dedup_recall:
    measured recall of the default corpus-scaled banded tier against
    exact cosine >= 0.32 truth on a capped deterministic sample
    (vec_id < 256, so the quadratic truth stays bounded at any corpus
    size), reported next to the hyperplane model's prediction for the
    SAME band structure.  This is the calibration check behind
    auto_bands(target_recall=): the axis planes are not iid random
    hyperplanes, so the model is a calibrated approximation, and this
    query measures how calibrated — at a mid-similarity threshold the
    banded tier is EXPECTED to miss most pairs (it is built for
    near-dup-grade cosines; the model says so too, which is the
    point).  (Candidates are cosine-verified, so the banded tier's
    precision is 1 by construction; recall is the only free number.)
    """
    import math

    from .llm.dedup import auto_bands, embedding_neardup_pairs
    from .llm.similarity import dot

    # Raw read (no spread): same reasoning as dedup_embedding_banded —
    # the banding groupBy distributes everything downstream.
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = table_rows_meta(sf_dir, "embeddings")
    bands = auto_bands(64, n)
    q = 1.0 - math.acos(0.32) / math.pi
    p, nb = len(bands[0]), len(bands)
    model = round(1.0 - (1.0 - q**p) ** nb, 6)

    # Squared norm per VECTOR in the collected sample (interpreted
    # HOF folds: in-place self-dots cost 3x the dot-only pair scan;
    # dot/sqrt(n2a*n2b) is the identical round-6 expression tree).
    s = emb.filter(F.col("vec_id") < 256)
    one = s.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("id"),
                    F.col("v"),
                    dot(F.col("v"), F.col("v")).alias("n2"),
                )
            )
        ).alias("ms")
    )
    ms = F.col("ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.round(
                        dot(x["v"], y["v"]) / F.sqrt(x["n2"] * y["n2"]), 6
                    ).alias("c"),
                ),
            ),
        )
    )
    truth = (
        one.select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.c") >= 0.32)
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .localCheckpoint(eager=False)
    )
    # Candidate chain at SAMPLE cost: id_pred restricts the quadratic
    # pair expansion and the vector-attach joins to the evaluation
    # sample while bucketing and the occupancy cap still see the full
    # corpus — identical pairs to filtering the full banded output to
    # the sample (the oracle's formulation), without materializing the
    # corpus-wide candidate base this query immediately discards.
    cand = (
        embedding_neardup_pairs(
            emb,
            threshold=0.32,
            vec_col="v",
            corpus_count=n,
            id_pred=lambda c: c < 256,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    counts = truth.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
        hit.agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return counts.select(
        "n_true",
        "n_hit",
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)), 6
        ).alias("recall"),
        F.lit(model).alias("model_recall"),
        F.lit(nb).cast("long").alias("n_bands"),
    )


@register("dedup_embedding_banded", _emb_banded_auto_sql)
def q_dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: OR-of-ANDs banded sign LSH —
    recall 1-(1-p^k)^L vs a single band's p^k, with per-(band,bucket)
    joins bounding the fan-out.  Plane count is DERIVED from the
    corpus size by default (``llm.dedup.auto_bands``: k ~
    log2(N/target_bucket_size)) — 4 planes/band at the 500-vector
    oracle scale, 6 at sf0.1's 2k, ~10 at 10x sf0.1, ~18 at 1e9 —
    keeping per-bucket occupancy, and therefore the candidate
    expansion, constant as N grows.  This closed the one measured
    superlinear plan in the repo (20.2x time under 10x data with a
    fixed plane count; 1.3x with the rule).

    The corpus count that funds the rule comes from parquet FOOTER
    metadata (``driver_queries.table_rows_meta`` — zero Spark jobs,
    the exact number a count() job returns), so the query schedules
    ONLY the banding pipeline; the count job this used to pay was pure
    fixed overhead at every scale."""
    n = table_rows_meta(sf_dir, "embeddings")
    # Raw read, no spread: the banding groupBy is the FIRST shuffle
    # and already distributes the expansion/scoring stages; a
    # round-robin repartition in front of it is a pure extra
    # shuffle+stage here (measured ~25% of this query's wall clock).
    return embedding_neardup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.3, corpus_count=n
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

_TEXT_STATS_SQL = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
           / greatest(len({_TOKS}), 1) AS avg_token_len,
       CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
           / greatest(len({_TOKS}), 1) AS stopword_ratio,
       CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio
FROM documents
"""


_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                ELSE list_transform(generate_series(1, len(toks) - 1),
                                    i -> array_to_string(list_slice(toks, i, i + 1), ' '))
           END AS grams
    FROM t
)
SELECT doc_id,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
       END AS rep_ratio
FROM g
"""


@register("repetition_ratio", _REPETITION_SQL)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-bigram fraction per doc (Gopher/RefinedWeb repetition
    quality signal) — array expressions only, embarrassingly parallel."""
    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", repetition_ratio(F.col("text"), n=2).alias("rep_ratio")
    )


def _pii_sql() -> str:
    """Oracle twin of redact_pii over deterministically PII-augmented
    text (the synthetic corpus has no natural PII)."""
    from .llm.text import PII_PATTERNS

    aug = (
        "substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or +1 (415) 555-01' ||"
        " lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||"
        " ' at 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end'"
    )
    cur, counts = aug, []
    for tag, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({cur}, '{pat}'))")
        cur = f"regexp_replace({cur}, '{pat}', '[{tag}]', 'g')"
    total = " + ".join(counts)
    return (
        f"SELECT doc_id, {cur} AS redacted, CAST({total} AS BIGINT) AS n_redacted "
        "FROM documents"
    )


@register("pii_redact", _pii_sql())
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/IPv4/phone masking with per-doc redaction counts — chained
    regexp_replace, pure codegen.  PII spans are synthesized into the
    text identically on both engines (the corpus has none naturally)."""
    docs = _read_spread(spark, sf_dir, "documents")
    aug = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (415) 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" at 10.2."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 end"),
    )
    redacted, n = redact_pii(aug)
    return docs.select(
        "doc_id", redacted.alias("redacted"), n.alias("n_redacted")
    )


_LM_SCORE_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
-- min-count prune to an OOV bucket (mirrors unigram_logprob_score)
kept AS (SELECT t, n FROM freq WHERE n >= 2),
oov AS (SELECT SUM(n) AS n_oov FROM freq WHERE n < 2),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS z FROM freq)
SELECT tok.doc_id, AVG(ln(COALESCE(kept.n, oov.n_oov) / tot.z)) AS avg_logprob
FROM tok LEFT JOIN kept USING (t), oov, tot
GROUP BY tok.doc_id
"""


@register("lm_score", _LM_SCORE_SQL)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (CCNet shape: fit over the corpus,
    broadcast, score per doc) — low scores flag rare-token-heavy docs."""
    from .llm.text import unigram_logprob_score

    return unigram_logprob_score(_read_spread(spark, sf_dir, "documents"))


@register("text_stats", _TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals: token count, avg token length,
    stopword ratio, punctuation ratio — all JVM-side expressions."""
    docs = _read_spread(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["avg_token_len"].alias("avg_token_len"),
        m["stopword_ratio"].alias("stopword_ratio"),
        m["punct_ratio"].alias("punct_ratio"),
    )


_LANG_ID_SQL = f"""
WITH r AS (
    SELECT doc_id,
           CAST(len(list_filter({_TOKS},
                t -> lower(t) IN ('the','a','of','and','is','to'))) AS DOUBLE)
               / greatest(len({_TOKS}), 1) AS en,
           CAST(len(list_filter({_TOKS},
                t -> lower(t) IN ('der','die','das','und','ist'))) AS DOUBLE)
               / greatest(len({_TOKS}), 1) AS de,
           CAST(len(list_filter({_TOKS},
                t -> lower(t) IN ('le','la','les','et','est'))) AS DOUBLE)
               / greatest(len({_TOKS}), 1) AS fr
    FROM documents
)
SELECT doc_id,
       CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'unk' END AS lang_pred
FROM r
"""


@register("lang_id", _LANG_ID_SQL)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID heuristic (fastText stand-in)."""
    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


_BPE_RE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({_TOKS}) AS n_ws_tokens,
       CAST(COALESCE(list_sum(list_transform(
            regexp_extract_all(text, '{_BPE_RE_SQL}'),
            t -> 1 + (len(t) - 1) // 6)), 0) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


@register("token_count_bpe", _TOKEN_COUNT_SQL)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (the per-doc cost metric of
    every pretraining pipeline); pure JVM regex, no tokenizer model."""
    from .llm.text import bpe_token_count, token_count

    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       CAST(list_sum(list_transform({_TOKS},
            (t, i) -> i * ({md5_long_sql('t')} % {HASH_PRIME}))) % {HASH_PRIME}
            AS BIGINT) AS fingerprint
FROM documents
"""


@register("doc_fingerprint", _FINGERPRINT_SQL)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling-hash document fingerprint."""
    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_ANN_BRUTE_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id,
           round(list_cosine_similarity(qv, cv), 6) AS cosine
    FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


@register("ann_topk_bruteforce", _ANN_BRUTE_SQL)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors: broadcast queries,
    corpus never shuffles."""
    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


_ANN_IVF_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(CAST(embedding[1] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[17] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[33] >= 0 AS INT) AS VARCHAR) ||
           CAST(CAST(embedding[49] >= 0 AS INT) AS VARCHAR) AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
    FROM q JOIN e USING (bucket)
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


_ANN_MULTIPROBE_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(embedding[1] >= 0 AS INT) AS b1,
           CAST(embedding[17] >= 0 AS INT) AS b2,
           CAST(embedding[33] >= 0 AS INT) AS b3,
           CAST(embedding[49] >= 0 AS INT) AS b4
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, b1, b2, b3, b4
      FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
    FROM q JOIN e
      ON (CASE WHEN q.b1 = e.b1 THEN 0 ELSE 1 END
        + CASE WHEN q.b2 = e.b2 THEN 0 ELSE 1 END
        + CASE WHEN q.b3 = e.b3 THEN 0 ELSE 1 END
        + CASE WHEN q.b4 = e.b4 THEN 0 ELSE 1 END) <= 1
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


@register("ann_topk_multiprobe", _ANN_MULTIPROBE_SQL)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe bucketed top-5: probe the query bucket plus all
    Hamming-1 buckets (recall recovery at 5x probe cost, corpus still
    unshuffled).  Oracle expresses the same probe set as a
    Hamming-distance <= 1 join condition."""
    from .llm.similarity import topk_multiprobe

    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_multiprobe(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("ann_topk_ivf", _ANN_IVF_SQL)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed approximate top-5: probe only the query's
    sign-bucket — partition-pruned lookup at scale."""
    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_bucketed(emb, emb.filter(F.col("vec_id") < 10), k=5)


# ---------------------------------------------------------------------------
# Multimodal (binary columns; codec stubbed, plumbing real)
# ---------------------------------------------------------------------------

_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       unnest(range(0, ((n_chars * 10 - 1) // 1000) + 1)) * 1000 AS frame_ts_ms,
       length(text) AS n_bytes
FROM documents WHERE doc_id % 3 = 0
"""


@register("multimodal_frame_sample", _FRAME_SAMPLE_SQL)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled timestamp."""
    media = documents_as_media(_read(spark, sf_dir, "documents"))
    return sample_frames(media, every_ms=1000).withColumn(
        "frame_ts_ms", F.col("frame_ts_ms").cast("long")
    )


# The driver documents are pure ASCII (verified: octet_length(encode(text))
# == length(text) for every row), so byte values equal character code
# points and the stubbed byte-histogram feature is exactly replayable in
# SQL over ord() of each character.
_MEDIA_TYPE_SQL = """CASE WHEN doc_id % 3 = 0 THEN 'video'
            WHEN doc_id % 3 = 1 THEN 'image'
            ELSE 'audio' END"""

_MULTIMODAL_DECODE_SQL = f"""
SELECT doc_id AS media_id,
       {_MEDIA_TYPE_SQL} AS media_type,
       CAST(length(text) AS BIGINT) AS n_bytes,
       round(CAST(len(list_filter(
                 list_transform(regexp_extract_all(text, '.', 0, 's'),
                                c -> ord(c)),
                 x -> x % 8 = 0)) AS DOUBLE)
             / greatest(length(text), 1), 6) AS f0
FROM documents
"""


@register("multimodal_decode", _MULTIMODAL_DECODE_SQL)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (mapInPandas; codec stubbed deterministically).  The stub's byte
    histogram is replayed by the oracle over character code points
    (payloads are ASCII text bytes by construction)."""
    media = documents_as_media(_read(spark, sf_dir, "documents"))
    feats = decode_features(media, dim=8)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


# ---------------------------------------------------------------------------
# Sampling / splitting / shard packing
# ---------------------------------------------------------------------------

_BUCKET_SQL = md5_long_sql("'split' || CAST(doc_id AS VARCHAR)") + " % 1000000"
_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN {_BUCKET_SQL} < 900000 THEN 'train'
            WHEN {_BUCKET_SQL} < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("split_assign", _SPLIT_SQL)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/val/test assignment — rerunning
    on grown data never moves an old doc across splits."""
    from .llm.sampling import hash_split

    docs = _read_spread(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split")


_SAMPLE_BUCKET_SQL = md5_long_sql("'mix' || CAST(doc_id AS VARCHAR)") + " % 1000000"
_STRATIFIED_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_SAMPLE_BUCKET_SQL} <
      CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 1000000
                WHEN 'fr' THEN 250000 ELSE 100000 END
"""


@register("stratified_sample", _STRATIFIED_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language datamix rates as a map-side hash filter (no RNG,
    no shuffle)."""
    from .llm.sampling import stratified_sample

    docs = _read_spread(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs,
        rates={"en": 0.5, "de": 1.0, "fr": 0.25},
        strata_col="lang",
        salt="mix",
        default_rate=0.1,
    )
    return kept.select("doc_id", "lang")


def _bpe_cte(n_merges: int = 8) -> str:
    """Shared BPE training CTE chain: the word-frequency vocabulary,
    then one round per merge — weighted pair counts (self-pairs
    excluded), deterministic argmax, position-local greedy application
    (sound because the winning pair's symbols differ; see
    ``llm.text.bpe_learn_merges``).  Ends at ``w{n_merges}``, the
    fully-merged vocabulary; round ``t``'s winner is ``b{t}``."""
    sql = f"""
WITH w0 AS (
    SELECT w, COUNT(*) AS freq,
           list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS s
    FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w
)"""
    for t in range(1, n_merges + 1):
        sql += f""",
p{t} AS (
    SELECT a, b, SUM(freq) AS cnt FROM (
        SELECT freq, s[i] AS a, s[i + 1] AS b
        FROM (SELECT freq, s, unnest(range(1, len(s))) AS i
              FROM w{t - 1} WHERE len(s) >= 2)
    ) WHERE a <> b GROUP BY a, b
),
b{t} AS (SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1),
w{t} AS (
    SELECT w, freq,
           list_filter(
               list_transform(range(1, len(s) + 1), i ->
                   CASE WHEN i > 1 AND s[i - 1] = b{t}.a AND s[i] = b{t}.b
                             THEN NULL
                        WHEN s[i] = b{t}.a AND i < len(s) AND s[i + 1] = b{t}.b
                             THEN s[i] || s[i + 1]
                        ELSE s[i] END),
               x -> x IS NOT NULL) AS s
    FROM w{t - 1} LEFT JOIN b{t} ON TRUE
)"""
    return sql


def _bpe_sql(n_merges: int = 8) -> str:
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS rank, a AS lhs, b AS rhs,"
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return _bpe_cte(n_merges) + "\n" + rows


def _bpe_batched_cte(n_merges: int, batch: int) -> tuple[str, int]:
    """BATCHED BPE training chain (``llm.text.bpe_learn_merges`` with
    ``batch_size > 1``): each round takes the top ``8*batch`` pairs by
    (cnt DESC, a, b) and replays the operator's ordered GREEDY
    DISJOINT selection as a bounded recursive CTE (state = claimed
    symbols + picked count), then applies the accepted batch in one
    position-local pass via a lhs→rhs map (DuckDB map subscript yields
    a one-element list; ``[1]`` extracts the scalar, NULL when absent
    — the non-match).  Exactly ``ceil(n_merges / batch)`` rounds,
    mirroring the Spark loop round for round."""
    import math

    rounds = math.ceil(n_merges / batch)
    top_k = 8 * batch
    sql = f"""
WITH RECURSIVE w0 AS (
    SELECT w, COUNT(*) AS freq,
           list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS s
    FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w
)"""
    for t in range(1, rounds + 1):
        sql += f""",
p{t} AS (
    SELECT a, b, SUM(freq) AS cnt FROM (
        SELECT freq, s[i] AS a, s[i + 1] AS b
        FROM (SELECT freq, s, unnest(range(1, len(s))) AS i
              FROM w{t - 1} WHERE len(s) >= 2)
    ) WHERE a <> b GROUP BY a, b
),
cand{t} AS (
    SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS idx
    FROM p{t} QUALIFY idx <= {top_k}
),
sel{t} AS (
    SELECT 0 AS i, CAST([] AS VARCHAR[]) AS used, 0 AS npicked,
           CAST(NULL AS VARCHAR) AS pa, CAST(NULL AS VARCHAR) AS pb,
           CAST(NULL AS BIGINT) AS pcnt
    UNION ALL
    SELECT c.idx,
           CASE WHEN g.ok THEN list_append(list_append(s.used, c.a), c.b)
                ELSE s.used END,
           s.npicked + CASE WHEN g.ok THEN 1 ELSE 0 END,
           CASE WHEN g.ok THEN c.a END, CASE WHEN g.ok THEN c.b END,
           CASE WHEN g.ok THEN CAST(c.cnt AS BIGINT) END
    FROM sel{t} s JOIN cand{t} c ON c.idx = s.i + 1,
    LATERAL (SELECT (NOT list_contains(s.used, c.a))
                    AND (NOT list_contains(s.used, c.b))
                    AND s.npicked < {batch} AS ok) g
),
b{t} AS (SELECT pa AS a, pb AS b, pcnt AS cnt FROM sel{t} WHERE pa IS NOT NULL),
bm{t} AS (SELECT map(coalesce(list(a), []), coalesce(list(b), [])) AS mm
          FROM b{t}),
w{t} AS (
    SELECT w, freq,
           list_filter(
               list_transform(range(1, len(s) + 1), i ->
                   CASE WHEN i > 1 AND bm{t}.mm[s[i - 1]][1] = s[i]
                             THEN NULL
                        WHEN i < len(s) AND bm{t}.mm[s[i]][1] = s[i + 1]
                             THEN s[i] || s[i + 1]
                        ELSE s[i] END),
               x -> x IS NOT NULL) AS s
    FROM w{t - 1} LEFT JOIN bm{t} ON TRUE
)"""
    return sql, rounds


def _bpe_batched_sql(n_merges: int, batch: int) -> str:
    cte, rounds = _bpe_batched_cte(n_merges, batch)
    union = "\n      UNION ALL ".join(
        f"SELECT {t} AS t, a, b, cnt FROM b{t}" for t in range(1, rounds + 1)
    )
    return (
        cte
        + f"""
SELECT rank, lhs, rhs, merged, pair_count FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY t, cnt DESC, a, b) AS BIGINT)
               AS rank,
           a AS lhs, b AS rhs, a || b AS merged,
           CAST(cnt AS BIGINT) AS pair_count
    FROM ({union})
) WHERE rank <= {n_merges}
"""
    )


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """Encoding oracle: the fully-merged vocabulary from the training
    chain joined back onto the exploded corpus tokens."""
    return f"""{_bpe_cte(n_merges)},
wf AS (SELECT w, len(s) AS np FROM w{n_merges}),
d AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(np) AS BIGINT) AS n_pieces,
       round(CAST(SUM(np) AS DOUBLE) / COUNT(*), 6) + 0.0 AS fertility
FROM d JOIN wf USING (w) GROUP BY doc_id
"""


@register("bpe_encode", _bpe_encode_sql())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding statistics under the learned 8-merge vocabulary:
    per-doc word count, piece count, and fertility (pieces per word) —
    the numbers that drive token budgets and packing.  Encoding is a
    vocab join, not a per-document merge replay."""
    from .llm.text import bpe_piece_counts

    return bpe_piece_counts(_read_spread(spark, sf_dir, "documents"), n_merges=8)


@register("bpe_merges_batched", _bpe_batched_sql(8, 4))
def q_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training (8 merges in 2 rounds of <=4): each round
    accepts the locally-maximal pairs — first under (count, lhs, rhs)
    among all pairs touching either symbol, hence pairwise-disjoint
    supports — and applies the whole batch in one position-local map
    pass.  The scale shape for a real 32k-merge vocabulary, where
    one-job-per-merge training would serialize into 32k jobs; the
    oracle replays the batched rule round for round."""
    from .llm.text import bpe_learn_merges

    return bpe_learn_merges(
        _read_spread(spark, sf_dir, "documents"), n_merges=8, batch_size=4
    )


@register("bpe_merges", _bpe_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning (8 merge rounds) — tokenizer training
    over the corpus: ONE corpus scan builds the word-frequency vocab;
    each round aggregates weighted pair counts over the VOCAB (bounded
    by distinct words, not corpus size), the argmax merge applies
    map-side as literals.  Deterministic tie-breaks and position-local
    application make the whole training oracle-replayable."""
    from .llm.text import bpe_learn_merges

    return bpe_learn_merges(_read_spread(spark, sf_dir, "documents"), n_merges=8)


# Content-defined chunking: both engines evaluate the identical
# boundary predicate — the unrolled codepoint polynomial
# Σ cs[i+j]·37^j % divisor over a once-per-document codepoint list
# (exact int64 on both sides; see llm.text.cdc_chunks).
_CDC_BOUND_HASH = cdc_poly_sql(8)

_CDC_CHUNKS_SQL = f"""
WITH d AS (
    SELECT doc_id, text, len(text) AS L,
           list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS cs
    FROM documents WHERE len(text) >= 1),
b AS (
    SELECT doc_id, text,
           [CAST(1 AS BIGINT)]
           || list_filter(
                  list_transform(
                      range(2, greatest(L - 8 + 2, 2)),
                      i -> CASE WHEN ({_CDC_BOUND_HASH}) % 64 = 0
                                THEN CAST(i AS BIGINT) END),
                  x -> x IS NOT NULL)
           || [CAST(L + 1 AS BIGINT)] AS bs
    FROM d
),
s AS (
    SELECT doc_id, text, bs, unnest(range(0, len(bs) - 1)) AS j FROM b
)
SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
       bs[j + 1] AS start,
       bs[j + 2] - bs[j + 1] AS n_chars,
       md5(substr(text, CAST(bs[j + 1] AS INT),
                  CAST(bs[j + 2] - bs[j + 1] AS INT))) AS chunk_fp
FROM s
"""


_CDC_NEARDUP_SQL = f"""
WITH ch0 AS ({_CDC_CHUNKS_SQL}),
ch AS (SELECT DISTINCT doc_id, chunk_fp FROM ch0),
cnt AS (SELECT doc_id, COUNT(*) AS n_ch FROM ch GROUP BY doc_id),
inv0 AS (SELECT ch.doc_id, cnt.n_ch, ch.chunk_fp FROM ch JOIN cnt USING (doc_id)),
-- default-on universal-chunk cap (mirrors llm.dedup.DEFAULT_MAX_DOC_FREQ)
inv AS (
    SELECT inv0.* FROM inv0
    JOIN (SELECT chunk_fp FROM inv0 GROUP BY chunk_fp
          HAVING COUNT(*) <= {DEFAULT_MAX_DOC_FREQ}) ok USING (chunk_fp)
),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           MAX(a.n_ch) AS n_a, MAX(b.n_ch) AS n_b, COUNT(*) AS n_shared
    FROM inv a JOIN inv b USING (chunk_fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared AS DOUBLE) / least(n_a, n_b) AS containment
FROM p WHERE n_shared >= 2
"""


@register("dedup_cdc", _CDC_NEARDUP_SQL)
def q_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-robust near-dup pairs: docs sharing >= 2 content-defined
    chunk fingerprints — catches edited/prefixed near-copies whose
    fixed-offset chunks would all shift; containment (shared / min
    chunk count) flags a small doc embedded in a larger one."""
    from .llm.dedup import cdc_neardup_pairs

    return cdc_neardup_pairs(_read_spread(spark, sf_dir, "documents"))


@register("cdc_chunks", _CDC_CHUNKS_SQL)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (window 8, expected ~64-char chunks):
    boundaries where the per-position codepoint polynomial % 64 == 0,
    so chunk fingerprints survive prefix edits — the shift-robust
    dedup unit.  Pure per-row array arithmetic; zero shuffles."""
    from .llm.text import cdc_chunks

    return cdc_chunks(_read_spread(spark, sf_dir, "documents"))


_DOC_CHUNKS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, greatest(len(toks), 1), 48)) AS s
    FROM t
)
SELECT doc_id,
       CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' ') AS chunk_text,
       CAST(least(s + 63, len(toks)) - s + 1 AS BIGINT) AS n_tokens
FROM st
WHERE len(toks) >= s
"""


@register("doc_chunks", _DOC_CHUNKS_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows advancing by 48
    (16-token overlap), tail window kept — explode-shaped, no shuffle."""
    from .llm.sampling import chunk_documents

    docs = _read_spread(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=64, overlap=16)


_SHARD_PACK_SQL = """
SELECT doc_id, source,
       CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
                   - n_chars) / 20000.0) AS BIGINT) AS shard_id
FROM documents
"""


@register("shard_pack", _SHARD_PACK_SQL)
def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: per-source cumulative-size window —
    each source packs independently (the 100 TB-safe shape)."""
    from .llm.sampling import pack_shards

    docs = _read(spark, sf_dir, "documents")
    return pack_shards(
        docs,
        size_col="n_chars",
        shard_tokens=20000,
        order_cols=("doc_id",),
        partition_cols=("source",),
    ).select("doc_id", "source", "shard_id")


# The fake resize scales payload length by the pixel-count ratio
# (320*240)/(640*480) = 0.25 exactly, so the resized byte count is
# max(1, len // 4) for images and a passthrough otherwise.
_MULTIMODAL_RESIZE_SQL = f"""
SELECT doc_id AS media_id,
       {_MEDIA_TYPE_SQL} AS media_type,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 320 ELSE 640 END AS INT) AS meta_width,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 240 ELSE 480 END AS INT) AS meta_height,
       CAST(CASE WHEN doc_id % 3 = 1 THEN
                 CASE WHEN length(text) = 0 THEN 0
                      ELSE greatest(length(text) // 4, 1) END
            ELSE length(text) END AS INT) AS n_bytes
FROM documents
"""


@register("multimodal_resize", _MULTIMODAL_RESIZE_SQL)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image resize plumbing (mapInPandas; pixel codec
    stubbed, size-tracking semantics real).  The oracle replays the
    stub's deterministic length rule (pixel-ratio-scaled byte count)."""
    from .llm.multimodal import resize_images

    media = documents_as_media(_read(spark, sf_dir, "documents"))
    out = resize_images(media, 320, 240)
    return out.select(
        "media_id", "media_type", "meta_width", "meta_height",
        F.length("payload").alias("n_bytes"),
    )


_CURATE_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang, text,
           least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3
               AS quality_score
    FROM documents
),
quality AS (SELECT * FROM scored WHERE quality_score >= 0.4),
deduped AS (
    SELECT * FROM quality
    WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(text))
)
SELECT doc_id, lang, round(quality_score, 6) AS quality_score,
       CASE WHEN {md5_long_sql("'split' || CAST(doc_id AS VARCHAR)")} % 1000000 < 900000
            THEN 'train'
            WHEN {md5_long_sql("'split' || CAST(doc_id AS VARCHAR)")} % 1000000 < 950000
            THEN 'val'
            ELSE 'test' END AS split
FROM deduped
"""


@register("corpus_curate", _CURATE_SQL)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship curation pipeline: quality filter -> exact dedup (keep
    min doc_id per text) -> deterministic split assignment, composed
    from the individual operators.  ONE shuffle total (the dedup's
    hash partition on md5(text)) and ONE pass over the text: the
    min-id-per-text keep rule is a window aggregate over that
    partitioning, not a groupBy + semi-join back — the join shape made
    Spark re-execute the quality-scoring (tokenize-heavy) lineage once
    per branch.  Quality scoring and splitting are map-side."""
    from pyspark.sql import Window

    from .llm.sampling import hash_split

    docs = _read_spread(spark, sf_dir, "documents")
    quality = docs.withColumn(
        "quality_score", quality_metrics(F.col("text"))["quality_score"]
    ).filter(F.col("quality_score") >= 0.4)
    w = Window.partitionBy(F.md5("text"))
    deduped = (
        quality.withColumn("__keep", F.min("doc_id").over(w) == F.col("doc_id"))
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    return hash_split(deduped).select(
        "doc_id", "lang", F.round("quality_score", 6).alias("quality_score"), "split"
    )


def _curate_incr_sql() -> str:
    """One-shot replay of the INCREMENTAL curation chain: quality ->
    global exact keep-min -> verified near-dup drop-doc_b (uncapped —
    the bucket cap is the documented bit-equivalence breaker, and the
    exact stage has already collapsed identical texts, so buckets are
    genuine near-dup groups).  The minhash CTEs run over the
    exact-survivor relation ``ex``, exactly as the engine's
    curate_oneshot shingles survivors, not raw documents."""
    base = _minhash_band_sql(src="ex", max_bucket=None).strip()
    head, select = base.rsplit("SELECT DISTINCT", 1)
    body = head.rstrip()[len("WITH") :].rstrip().rstrip(",")
    jac = (
        "CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)"
        " / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))"
    )
    return f"""
WITH scored AS (
    SELECT doc_id, text,
           least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3
               AS q
    FROM documents
),
qual AS (SELECT doc_id, text FROM scored WHERE q >= 0.4),
ex AS (
    SELECT * FROM qual
    WHERE doc_id IN (SELECT MIN(doc_id) FROM qual GROUP BY md5(text))
),
{body},
cand AS (SELECT DISTINCT{select}),
ver AS (
    SELECT c.doc_a, c.doc_b FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {jac} >= 0.5
),
bound AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS b FROM documents)
SELECT ex.doc_id,
       CASE WHEN ex.doc_id < (SELECT b FROM bound) THEN 0 ELSE 1 END AS batch
FROM ex WHERE ex.doc_id NOT IN (SELECT doc_b FROM ver)
"""


@register("curate_incr", _curate_incr_sql())
def q_curate_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL curation driven end to end: the corpus arrives as
    two id-ascending batches, each curated against the standing state
    (persisted md5 seen-set + MinHash band index,
    ``llm.curate.curate_batch``).  The state lives at a
    corpus-fingerprinted standing location — the same serving
    contract as the persisted ANN/dedup index tiers: the first run
    pays the build, repeat runs are batch REDELIVERIES against the
    standing state, which curate_batch's idempotence contract
    (tests/test_curate_incremental.py) maps to the same output rows
    via the warm probe path.  The oracle replays the ONE-SHOT chain,
    which the batch composition provably equals; ``batch`` records
    which batch each survivor arrived in."""
    import hashlib
    import os
    import tempfile

    from .llm.curate import curate_batch

    docs = _read_spread(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx, n, fp = docs.agg(
        F.min("doc_id"),
        F.max("doc_id"),
        F.count(F.lit(1)),
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # under ANSI (same rule as similarity._corpus_fingerprint)
        F.sum(F.xxhash64("doc_id", "text").cast("decimal(38,0)")),
    ).first()
    boundary = (int(mn) + int(mx)) // 2
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{n}|{fp}".encode()
    ).hexdigest()[:16]
    state = os.path.join(
        tempfile.gettempdir(), f"dax_ppdb_curate_incr_{key}"
    )
    b0 = curate_batch(
        spark, docs.filter(F.col("doc_id") < boundary), state,
        max_bucket=None,
    )
    b1 = curate_batch(
        spark, docs.filter(F.col("doc_id") >= boundary), state,
        max_bucket=None,
    )
    return (
        b0.withColumn("batch", F.lit(0))
        .unionByName(b1.withColumn("batch", F.lit(1)))
        .select("doc_id", "batch")
    )


@register("stream_curated", _curate_incr_sql())
def q_stream_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 streaming curation path driven FOR REAL: the corpus
    lands as two id-ascending parquet files, a Structured Streaming
    file source (``Trigger.AvailableNow``, one file per micro-batch —
    modification-time order pins batch identity) runs each micro-batch
    through the standing-state curation (``streaming.stream_curated``:
    foreachBatch -> ``curate_batch`` -> dynamic-partition-overwrite
    sink keyed by batch id), and the query returns the SINK.

    Shares ``curate_incr``'s oracle by design — the one-shot curation
    chain the id-ascending batch composition provably equals — but is
    NOT a driver-folded twin: ``curate_incr`` calls ``curate_batch``
    directly, while this row exercises the actual streaming machinery
    (file-source listing order, checkpoint commit log, foreachBatch
    epoch ids, sink partition overwrite), which is exactly the §2.9c/e
    surface the oracle row exists to pin.  Exactly-once shape: the
    sink is complete once the stream drains; a crash mid-stream leaves
    the checkpoint, so the re-run re-delivers only unprocessed files
    and overwrites only their own sink partitions (idempotent by
    ``curate_batch``'s redelivery contract); the marker commits the
    drained state, and later calls skip straight to the sink read —
    the standing-location serving contract of ``curate_incr``/the
    persisted ANN tiers."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming import stream_curated

    docs = _read_spread(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx, n, fp = docs.agg(
        F.min("doc_id"),
        F.max("doc_id"),
        F.count(F.lit(1)),
        F.sum(F.xxhash64("doc_id", "text").cast("decimal(38,0)")),
    ).first()
    boundary = (int(mn) + int(mx)) // 2
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{n}|{fp}|stream".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"dax_ppdb_stream_curated_{key}")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    marker = os.path.join(root, "_DRAINED")
    if not os.path.exists(marker):
        if not os.path.isdir(src):
            # Stage the two landing files with strictly increasing
            # mtimes: the file source batches in modification-time
            # order, so batch 0 is the low-id file — the id-ascending
            # arrival the one-shot oracle composition requires.
            # Crash-atomic: BOTH files land under _stage/src first and
            # the completed directory renames into place in one
            # os.rename (same filesystem — both under root), so a rerun
            # after a crash mid-staging never sees a half-populated
            # src: it sees no src at all and restages from scratch
            # (the leftover _stage is cleared up front).
            stage = os.path.join(root, "_stage")
            shutil.rmtree(stage, ignore_errors=True)
            stage_src = os.path.join(stage, "src")
            os.makedirs(stage_src, exist_ok=True)
            for i, part in enumerate(
                (
                    docs.filter(F.col("doc_id") < boundary),
                    docs.filter(F.col("doc_id") >= boundary),
                )
            ):
                d = os.path.join(stage, str(i))
                part.coalesce(1).write.mode("overwrite").parquet(d)
                (pf,) = [
                    f for f in os.listdir(d)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                ]
                dst = os.path.join(stage_src, f"batch{i}.parquet")
                shutil.copyfile(os.path.join(d, pf), dst)
                os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
            os.rename(stage_src, src)
            shutil.rmtree(stage, ignore_errors=True)
        stream_curated(
            spark,
            src,
            docs.schema,
            os.path.join(root, "ckpt"),
            os.path.join(root, "state"),
            sink,
            max_files_per_trigger=1,
            max_bucket=None,
        )
        with open(marker, "w") as fh:
            fh.write("drained\n")
    return spark.read.parquet(sink).select(
        "doc_id", F.col("__batch").cast("int").alias("batch")
    )


def _lloyd_dist2(vcol: str, ccol: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({vcol}) + 1), "
        f"i -> ({vcol}[i] - {ccol}[i]) * ({vcol}[i] - {ccol}[i])))"
    )


def _lloyd_chain(tr: str, full: str, pfx: str,
                 n_clusters: int, iters: int,
                 final_probes: int = 1) -> str:
    """CTE suffix (leading comma) replaying one deterministic Lloyd
    training: init = lowest-id vectors of CTE ``tr`` (vec_id, v),
    per-iteration argmin assignment (lowest-cid tie break, matching
    Spark's first-wins struct-min) and a round-6 element-wise mean
    (kills partial-agg ulp noise on both engines), ending at
    ``{pfx}asg`` — CTE ``full`` (vec_id, v) assigned to the final
    centroids (``final_probes`` rows per vector for multi-probe
    assignment: the same ranked distances, ``rn <= probes``).
    ``pfx`` namespaces the chain so the two-level (coarse + residual)
    oracle can stack two trainings in one query.
    """
    dist2 = _lloyd_dist2
    sql = f""",
{pfx}c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
    FROM {tr} ORDER BY vec_id LIMIT {n_clusters}
)"""
    prev = f"{pfx}c0"
    for it in range(1, iters + 1):
        sql += f""",
{pfx}a{it} AS (
    SELECT vec_id, v, cid FROM (
        SELECT {tr}.vec_id, {tr}.v, {prev}.cid,
               ROW_NUMBER() OVER (PARTITION BY {tr}.vec_id
                                  ORDER BY {dist2(tr + '.v', prev + '.c')},
                                           {prev}.cid) AS rn
        FROM {tr} CROSS JOIN {prev}
    ) WHERE rn = 1
),
{pfx}m{it} AS (
    SELECT cid, list(m ORDER BY pos) AS c FROM (
        SELECT cid, pos, round(avg(val), 6) AS m FROM (
            SELECT cid, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS val
            FROM {pfx}a{it}
        ) GROUP BY cid, pos
    ) GROUP BY cid
),
{pfx}c{it} AS (
    SELECT p.cid, COALESCE(m.c, p.c) AS c
    FROM {prev} p LEFT JOIN {pfx}m{it} m USING (cid)
)"""
        prev = f"{pfx}c{it}"
    sql += f""",
{pfx}asg AS (
    SELECT vec_id, v, cid FROM (
        SELECT {full}.vec_id, {full}.v, {prev}.cid,
               ROW_NUMBER() OVER (PARTITION BY {full}.vec_id
                                  ORDER BY {dist2(full + '.v', prev + '.c')},
                                           {prev}.cid) AS rn
        FROM {full} CROSS JOIN {prev}
    ) WHERE rn <= {final_probes}
)"""
    return sql


def _kmeans_cte(n_clusters: int = 8, iters: int = 3,
                sample_mod: int | None = None) -> str:
    """The single-level Lloyd replay over ``embeddings``: training CTEs
    see only the md5 hash sample when ``sample_mod`` is set (mirroring
    ``kmeans_centroids``); the final ``asg`` assignment still covers
    the full corpus.  Shared by every oracle that needs the learned
    quantizer (IVF top-k probe, flat SemDeDup)."""
    tr_filter = (
        f"WHERE {md5_long_sql('CAST(vec_id AS VARCHAR)')} % {sample_mod} = 0"
        if sample_mod is not None
        else ""
    )
    return (
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
tr AS (SELECT vec_id, v FROM e {tr_filter})"""
        + _lloyd_chain("tr", "e", "", n_clusters, iters)
    )


def _kmeans_sql(n_clusters: int = 8, iters: int = 3, k: int = 5,
                sample_mod: int | None = None) -> str:
    """The IVF top-k probe over the shared Lloyd CTE chain."""
    return f"""{_kmeans_cte(n_clusters, iters, sample_mod)}
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.v), 6) AS cosine
        FROM asg q JOIN asg c USING (cid)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
) WHERE rank <= {k}
"""


def _ivf_sq8_sql(n_clusters: int = 8, iters: int = 3, k: int = 5,
                 sample_mod: int | None = None) -> str:
    """IVF-SQ8 probe oracle: the shared Lloyd chain, then the int8
    quantize-dequantize rule of ``embedding_quantize`` applied to the
    corpus side, asymmetric cosine against full-precision queries."""
    return f"""{_kmeans_cte(n_clusters, iters, sample_mod)},
sq AS (
    SELECT vec_id, cid, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM asg
),
rec AS (
    SELECT vec_id, cid,
           list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
               ELSE greatest(-127, least(127, floor(x / scale + 0.5)))
               END AS BIGINT) * scale) AS rv
    FROM sq
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.rv), 6) AS cosine
        FROM asg q JOIN rec c USING (cid)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
) WHERE rank <= {k}
"""


@register("ann_topk_ivf_sq8", _ivf_sq8_sql(sample_mod=2))
def q_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 top-5: learned coarse cells + int8 scalar-quantized
    corpus, asymmetric full-precision-query scoring — the 4x-smaller
    index tier of the ANN stack.  Training, assignment, quantization
    and reconstruction are all deterministic, so the oracle replays
    the whole chain value-for-value."""
    from .llm.similarity import topk_ivf_sq8

    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_ivf_sq8(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_clusters=8, sample_mod=2
    )


def _pq_sql(m: int = 4, sub: int = 16, k_cb: int = 8, iters: int = 2,
            k: int = 5, sample_mod: int = 2) -> str:
    """Product-quantization oracle: one Lloyd chain per subspace slice
    (namespaced ``s{i}``), reconstruction = concatenated assigned
    centroids, asymmetric cosine against full-precision queries."""
    tr_filter = f"WHERE {md5_long_sql('CAST(vec_id AS VARCHAR)')} % {sample_mod} = 0"
    sql = "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        sql += f""",
s{s}e AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e),
s{s}tr AS (SELECT vec_id, v FROM s{s}e {tr_filter})"""
        sql += _lloyd_chain(f"s{s}tr", f"s{s}e", f"s{s}", k_cb, iters)
    joins = f"FROM s0asg a0 JOIN s0c{iters} b0 ON a0.cid = b0.cid"
    for s in range(1, m):
        joins += (
            f"\n    JOIN s{s}asg a{s} ON a{s}.vec_id = a0.vec_id"
            f" JOIN s{s}c{iters} b{s} ON a{s}.cid = b{s}.cid"
        )
    rv = " || ".join(f"b{s}.c" for s in range(m))
    sql += f""",
rec AS (SELECT a0.vec_id, {rv} AS rv {joins})
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.rv), 6) AS cosine
        FROM e q CROSS JOIN rec c
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
) WHERE rank <= {k}
"""
    return sql


def _ivfpq_sql(n_clusters: int = 8, iters: int = 3, m: int = 4, sub: int = 16,
               k_cb: int = 8, pq_iters: int = 2, k: int = 5,
               sample_mod: int = 2) -> str:
    """IVFPQ oracle: the coarse Lloyd chain, residual construction,
    one namespaced Lloyd chain per residual subspace, add-back
    reconstruction, and the in-cell top-k probe."""
    sql = _kmeans_cte(n_clusters, iters, sample_mod)
    sql += f""",
cc AS (SELECT a.vec_id, a.v, a.cid, c.c FROM asg a JOIN c{iters} c USING (cid)),
rz AS (SELECT vec_id, list_transform(range(1, len(v) + 1), i -> v[i] - c[i]) AS v
       FROM cc)"""
    tr_filter = f"WHERE {md5_long_sql('CAST(vec_id AS VARCHAR)')} % {sample_mod} = 0"
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        sql += f""",
p{s}e AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM rz),
p{s}tr AS (SELECT vec_id, v FROM p{s}e {tr_filter})"""
        sql += _lloyd_chain(f"p{s}tr", f"p{s}e", f"p{s}", k_cb, pq_iters)
    joins = f"FROM p0asg a0 JOIN p0c{pq_iters} b0 ON a0.cid = b0.cid"
    for s in range(1, m):
        joins += (
            f"\n    JOIN p{s}asg a{s} ON a{s}.vec_id = a0.vec_id"
            f" JOIN p{s}c{pq_iters} b{s} ON a{s}.cid = b{s}.cid"
        )
    rres = " || ".join(f"b{s}.c" for s in range(m))
    sql += f""",
prec AS (SELECT a0.vec_id, {rres} AS rr {joins}),
rec AS (
    SELECT cc.vec_id, cc.cid,
           list_transform(range(1, len(cc.c) + 1), i -> cc.c[i] + prec.rr[i]) AS rv
    FROM cc JOIN prec USING (vec_id)
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.rv), 6) AS cosine
        FROM cc q JOIN rec c ON q.cid = c.cid AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
    )
) WHERE rank <= {k}
"""
    return sql


@register("ann_topk_ivfpq", _ivfpq_sql())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ top-5 — the production FAISS shape: learned coarse cells
    prune the scan, product quantization of the RESIDUALS compresses
    the cell contents (residual magnitudes are cell-diameter, so the
    codebook budget buys finer resolution than raw-vector PQ).  Both
    quantizer levels, the residuals, and the add-back reconstruction
    are deterministic; the oracle replays the full chain."""
    from .llm.similarity import topk_ivfpq

    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_ivfpq(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_clusters=8,
        m=4,
        k_cb=8,
        iters=3,
        pq_iters=2,
        sample_mod=2,
    )


@register("ann_topk_pq", _pq_sql())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized top-5 (4 subspaces x 16 dims, 8-centroid
    codebooks): the memory tier past SQ8 — m*log2(k) bits per vector
    instead of 8 bits per dim, the compression that fits a 1e11-vector
    index in cluster RAM.  Per-subspace training, encoding, and
    reconstruction are all deterministic, so the oracle replays every
    subspace's Lloyd chain and the concatenated reconstruction
    value-for-value."""
    from .llm.similarity import topk_pq

    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_pq(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        m=4,
        k_cb=8,
        iters=2,
        sample_mod=2,
    )


@register("ann_topk_kmeans", _kmeans_sql(sample_mod=2))
def q_ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a learned k-means coarse quantizer (3 Lloyd
    iterations, deterministic init/tie-breaks/rounding), trained on a
    1/2 md5-hash sample of the corpus — the 100-TB shape, where Lloyd
    passes scan a sample and only the final assignment sees every
    vector.  The training loop is fully deterministic, so the oracle
    replays the identical sampled iterations as chained SQL CTEs — a
    real value-checked row, not a rows-only pass."""
    from .llm.similarity import topk_kmeans

    emb = _read_spread(spark, sf_dir, "embeddings")
    return topk_kmeans(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_clusters=8, sample_mod=2
    )


_SHINGLES5 = (
    "list_distinct(list_transform("
    f"range(1, greatest(len({_TOKS}) - 3, 1)), "
    f"i -> array_to_string(({_TOKS})[i:i+4], ' ')))"
)

_DECONTAMINATE_SQL = f"""
WITH bench AS (
    SELECT DISTINCT unnest({_SHINGLES5}) AS shingle
    FROM documents WHERE doc_id >= 490 AND len({_TOKS}) >= 5
),
doc_sh AS (
    SELECT doc_id, unnest({_SHINGLES5}) AS shingle
    FROM documents WHERE len({_TOKS}) >= 5
)
SELECT doc_id, COUNT(DISTINCT shingle) AS n_hits
FROM doc_sh JOIN bench USING (shingle)
GROUP BY doc_id
"""


@register("decontaminate", _DECONTAMINATE_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 5-gram with the
    held-out set (docs with id >= 490 stand in for the benchmark).
    Benchmark shingles broadcast; the corpus side never shuffles."""
    from .llm.dedup import contaminated_docs

    docs = _read_spread(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") >= 490)
    return contaminated_docs(docs, bench, n=5)


_QUALITY_QUANTILES_SQL = f"""
WITH scored AS (
    SELECT least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3
               AS q
    FROM documents
)
SELECT round(quantile_cont(q, 0.25), 6) AS p25,
       round(quantile_cont(q, 0.50), 6) AS p50,
       round(quantile_cont(q, 0.75), 6) AS p75,
       round(quantile_cont(q, 0.95), 6) AS p95
FROM scored
"""


_GOPHER_STOP_LIST = "'the','be','to','of','and','that','have','with'"

_GOPHER_SQL = f"""
WITH m AS (
    SELECT doc_id,
           len({_TOKS}) AS n_words,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
               / greatest(len({_TOKS}), 1) AS mean_word_len,
           CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
               / greatest(len({_TOKS}), 1) AS symbol_ratio,
           CAST(len(list_filter({_TOKS}, t -> regexp_matches(t, '[A-Za-z]')))
                AS DOUBLE) / greatest(len({_TOKS}), 1) AS alpha_ratio,
           len(list_intersect(list_distinct(list_transform({_TOKS}, t -> lower(t))),
                              [{_GOPHER_STOP_LIST}])) AS n_stop_kinds
    FROM documents
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       n_stop_kinds,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio < 0.1 AND alpha_ratio >= 0.8
        AND n_stop_kinds >= 2) AS keep
FROM m
"""


@register("gopher_quality", _GOPHER_SQL)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 heuristics): per-doc
    rule signals and the conjunction ``keep`` flag — a zero-shuffle
    map-side scan filter, the first stage of a 100 TB curation funnel."""
    from .llm.text import gopher_flags

    docs = _read_spread(spark, sf_dir, "documents")
    g = gopher_flags(F.col("text"))
    return docs.select(
        "doc_id",
        g["n_words"].alias("n_words"),
        F.round(g["mean_word_len"], 6).alias("mean_word_len"),
        F.round(g["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(g["alpha_ratio"], 6).alias("alpha_ratio"),
        g["n_stop_kinds"].alias("n_stop_kinds"),
        g["keep"].alias("keep"),
    )


_TOP_NGRAMS_SQL = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
g AS (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i, i + 1), ' ')))
        AS gram
    FROM t WHERE len(toks) >= 2
)
SELECT gram, COUNT(*) AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram
LIMIT 100
"""


@register("top_ngrams", _TOP_NGRAMS_SQL)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 bigrams (tokenizer-training / boilerplate-
    spotting statistic).  Explode -> hash-agg with map-side combine ->
    global top-k, which Spark plans as TakeOrderedAndProject: each
    partition keeps only its local top-100, so the driver merges
    O(partitions x k) rows no matter the corpus size — the distributed
    top-k shape, never a global sort."""
    from .llm.text import ngrams, tokens

    docs = _read_spread(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(ngrams(tokens(F.col("text")), 2)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(100)
    )


def _keep_best_sql() -> str:
    """Oracle for the best-of-cluster representative: the dedup-cluster
    recursive CTEs plus the quality blend, argmax per cluster."""
    base = _dedup_clusters_sql().strip()
    head, _ = base.rsplit("SELECT d.doc_id,", 1)
    quality = f"""least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3"""
    return f"""{head.rstrip().rstrip(',')},
assigned AS (
    SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS cluster_id,
           {quality} AS q
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
)
SELECT cluster_id, doc_id AS rep_id, n_docs, round(q, 6) AS best_quality
FROM (
    SELECT cluster_id, doc_id, q,
           ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
    FROM assigned
) WHERE rn = 1
"""


@register("dedup_keep_best", _keep_best_sql())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention policy real dedup pipelines actually apply: per
    near-dup cluster, keep the HIGHEST-QUALITY member (not the lowest
    id) — the shared ``neardup_cluster_map`` relation joined to the
    quality blend.  One extra shuffle beyond dedup_clusters (the
    per-cluster window); representative = argmax(quality, tie -> min
    doc_id)."""
    from pyspark.sql import Window

    docs = _read_spread(spark, sf_dir, "documents")
    cmap = neardup_cluster_map(docs)
    scored = docs.select(
        "doc_id", quality_metrics(F.col("text"))["quality_score"].alias("q")
    )
    assigned = scored.join(cmap, "doc_id")
    w = Window.partitionBy("cluster_id")
    ranked = assigned.withColumn(
        "rn", F.row_number().over(w.orderBy(F.desc("q"), "doc_id"))
    ).withColumn("n_docs", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("rep_id"),
        "n_docs",
        F.round("q", 6).alias("best_quality"),
    )


@register("quality_quantiles", _QUALITY_QUANTILES_SQL)
def q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of the quality score — how the
    "drop the bottom X%" threshold is chosen.  Exact ``percentile``
    here (sort-based, engine-identical); at 100 TB swap in
    ``approx_percentile`` (t-digest sketch, single pass, mergeable)
    and accept the epsilon."""
    docs = _read_spread(spark, sf_dir, "documents")
    scored = docs.select(quality_metrics(F.col("text"))["quality_score"].alias("q"))
    return scored.select(
        *[
            F.round(F.expr(f"percentile(q, {p})"), 6).alias(name)
            for name, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95))
        ]
    )


# ---------------------------------------------------------------------------
# Round 4 additions: embedding compression, substring-level dedup
# signal, DSIR importance weights, SemDeDup
# ---------------------------------------------------------------------------

_EMB_QUANT_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
    SELECT vec_id, e,
           list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
    FROM v
),
q AS (
    SELECT vec_id, e, scale,
           list_transform(e, x -> CAST(CASE WHEN scale = 0 THEN 0
               ELSE greatest(-127, least(127, floor(x / scale + 0.5)))
               END AS BIGINT)) AS qv
    FROM s
)
SELECT vec_id,
       len(e) AS dim,
       scale,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm_sq,
       round(sqrt(list_sum(list_transform(range(1, len(e) + 1),
             i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale)))
             / greatest(len(e), 1)), 6) AS rmse
FROM q
"""


@register("embedding_quantize", _EMB_QUANT_SQL)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with reconstruction
    error — zero-shuffle map-side compression (4x memory/IO) ahead of
    ANN serving or training-data export."""
    from .llm.embeddings import quantize_int8

    return quantize_int8(_read_spread(spark, sf_dir, "embeddings"))


# 5-gram positions: i in 1..len-4 (0-based pos = i-1).
_DUP_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g0 AS (
    SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - 3, 1))) AS i
    FROM t
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           {md5_wide_long_sql("array_to_string(toks[i:i+4], ' ')")} AS gram
    FROM g0
),
base AS (SELECT doc_id, len(toks) - 4 AS n_grams FROM t WHERE len(toks) >= 5),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
dup_pos AS (SELECT doc_id, pos FROM g JOIN dupg USING (gram)),
runs AS (
    SELECT doc_id,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM dup_pos
),
rl AS (SELECT doc_id, grp, COUNT(*) AS run_len FROM runs GROUP BY doc_id, grp),
pd AS (
    SELECT doc_id, SUM(run_len) AS n_dup, MAX(run_len) AS max_run
    FROM rl GROUP BY doc_id
)
SELECT base.doc_id, n_grams,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
       CAST(COALESCE(max_run, 0) AS BIGINT) AS max_run,
       round(CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_grams, 6) AS dup_frac
FROM base LEFT JOIN pd USING (doc_id)
"""


@register("dup_spans", _DUP_SPANS_SQL)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span statistics (5-gram anchored): per-doc count and
    longest run of n-gram positions shared with other documents — the
    substring-level dedup signal (suffix-array dedup's practical
    approximation)."""
    from .llm.dedup import duplicated_span_stats

    return duplicated_span_stats(_read_spread(spark, sf_dir, "documents"), n=5)


_DUP_SUBSTR_LEN = 30

# Char-window offsets: i in 1..len-L+1, so the exclusive range end is
# len-L+2; greatest(..., 1) empties the range for sub-L docs.
_DUP_SUBSTRINGS_SQL = f"""
WITH g0 AS (
    SELECT doc_id,
           unnest(range(1, greatest(length(text) - {_DUP_SUBSTR_LEN - 2}, 1))) AS i,
           text
    FROM documents
),
g AS (
    SELECT doc_id, i,
           {md5_wide_long_sql(f"substr(text, i, {_DUP_SUBSTR_LEN})")} AS gram
    FROM g0
),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
dup_pos AS (SELECT doc_id, i FROM g JOIN dupg USING (gram)),
runs AS (
    SELECT doc_id, i,
           i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM dup_pos
)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(COUNT(*) + {_DUP_SUBSTR_LEN - 1} AS BIGINT) AS span_len
FROM runs GROUP BY doc_id, grp
"""


_SUBSTR_REMOVAL_SQL = f"""
WITH t AS (SELECT doc_id, text FROM documents),
ch AS (
    SELECT doc_id, j, substr(text, j, 1) AS c
    FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j FROM t)
),
g AS (
    SELECT doc_id, i,
           {md5_wide_long_sql(f"substr(text, i, {_DUP_SUBSTR_LEN})")} AS gram
    FROM (SELECT doc_id, text,
                 unnest(range(1, greatest(length(text) - {_DUP_SUBSTR_LEN - 2}, 1))) AS i
          FROM t)
),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
covered AS (
    SELECT DISTINCT doc_id, i + unnest(range(0, {_DUP_SUBSTR_LEN})) AS j
    FROM g JOIN dupg USING (gram)
),
kept AS (SELECT ch.* FROM ch ANTI JOIN covered USING (doc_id, j)),
rebuilt AS (
    SELECT doc_id, string_agg(c, '' ORDER BY j) AS cleaned,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, length(text) AS n_chars FROM t)
SELECT base.doc_id, COALESCE(cleaned, '') AS cleaned,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_chars - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
FROM base LEFT JOIN rebuilt USING (doc_id)
"""


@register("substring_span_removal", _SUBSTR_REMOVAL_SQL)
def q_substring_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup as a TRANSFORMATION: drop every character
    covered by a corpus-duplicated {_DUP_SUBSTR_LEN}-char window and
    rebuild the text exactly (no whitespace normalization — the char
    rebuild is lossless outside the cut spans), the removal stage of
    Lee et al. 2022 that ``dup_substrings`` emits the spans for."""
    from .llm.dedup import remove_duplicate_substrings

    return remove_duplicate_substrings(
        _read_spread(spark, sf_dir, "documents"), min_len=_DUP_SUBSTR_LEN
    )


@register("dup_substrings", _DUP_SUBSTRINGS_SQL)
def q_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-class EXACT substring dedup (Lee et al. 2022's
    ExactSubstr): every maximal character span of length >=
    {_DUP_SUBSTR_LEN} that occurs at least twice in the corpus
    (including a document repeating itself), as (doc_id, span_start,
    span_len) removal input — the operator family the fixed-n-gram
    ``dup_spans`` stats and CDC chunking approximate, here exact at
    the window granularity and emitting the spans themselves."""
    from .llm.dedup import duplicate_substring_spans

    return duplicate_substring_spans(
        _read_spread(spark, sf_dir, "documents"), min_len=_DUP_SUBSTR_LEN
    )


_DSIR_BUCKETS = 1024

_DSIR_SQL = f"""
WITH t AS (SELECT doc_id, (lang = 'en') AS is_t, {_TOKS} AS toks FROM documents),
f0 AS (
    SELECT doc_id, is_t,
           unnest(list_concat(toks,
               list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' ')))) AS g
    FROM t
),
ex AS (
    SELECT doc_id, is_t, {md5_long_sql('g')} % {_DSIR_BUCKETS} AS b FROM f0
),
dbkt AS (
    SELECT doc_id, is_t, b, COUNT(*) AS c FROM ex GROUP BY doc_id, is_t, b
),
model AS (
    SELECT b, SUM(c) AS n_raw,
           COALESCE(SUM(c) FILTER (WHERE is_t), 0) AS n_t
    FROM dbkt GROUP BY b
),
tot AS (SELECT SUM(n_raw) AS z_raw, SUM(n_t) AS z_t FROM model),
w AS (
    SELECT b,
           ln((n_t + 1.0) / (z_t + {_DSIR_BUCKETS}.0))
           - ln((n_raw + 1.0) / (z_raw + {_DSIR_BUCKETS}.0)) AS lw
    FROM model CROSS JOIN tot
)
SELECT doc_id, round(SUM(c * lw), 6) AS dsir_logweight
FROM dbkt JOIN w USING (b)
GROUP BY doc_id
"""


@register("dsir_weights", _DSIR_SQL)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights against the English subset as the
    target distribution: hashed unigram+bigram features, add-one
    smoothed log-likelihood ratio per doc.  The model is a fixed
    1024-row broadcast regardless of corpus size."""
    from .llm.sampling import dsir_logweights

    docs = _read_spread(spark, sf_dir, "documents")
    return dsir_logweights(docs, F.col("lang") == "en", n_buckets=_DSIR_BUCKETS)


_SEQ_LEN = 128

_SEQUENCE_PACK_SQL = f"""
WITH d AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
t AS (
    SELECT doc_id, n,
           {md5_long_sql("'seq' || CAST(doc_id AS VARCHAR)")} AS h
    FROM d WHERE n >= 1
),
o AS (
    SELECT doc_id, n,
           COALESCE(SUM(n) OVER (ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS off
    FROM t
),
x AS (
    SELECT doc_id, n, off,
           unnest(range(CAST(off // {_SEQ_LEN} AS BIGINT),
                        CAST((off + n - 1) // {_SEQ_LEN} + 1 AS BIGINT))) AS seq_id
    FROM o
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(0, seq_id * {_SEQ_LEN} - off) AS BIGINT) AS doc_from,
       CAST(least(n, seq_id * {_SEQ_LEN} + {_SEQ_LEN} - off) AS BIGINT) AS doc_to,
       CAST(greatest(0, off - seq_id * {_SEQ_LEN}) AS BIGINT) AS seq_off
FROM x
"""


@register("sequence_pack", _SEQUENCE_PACK_SQL)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: the corpus token stream (docs in
    deterministic salted-hash order) cut into 128-token sequences,
    documents split across boundaries — one span row per
    (sequence, document) intersection.  The engine runs the two-phase
    bucketed cumsum (no single global sort task); the oracle is the
    equivalent single-window SQL, which the two-phase integer offsets
    reproduce exactly."""
    from .llm.sampling import sequence_pack
    from .llm.text import token_count

    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return sequence_pack(docs, seq_len=_SEQ_LEN, coarse_buckets=32)


# same pattern string the engine's urls.TRACKING_PARAM_RE uses —
# anchored and alternation-only, so Java regex and RE2 agree
TRACKING_PARAM_RE_SQL = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="

_URL_SYNTH_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
    || source || '.Example.COM'
    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
    || '/p/' || CAST(doc_id % 40 AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
    || '?utm_source=feed&x=' || CAST(doc_id % 5 AS VARCHAR)
    || '#sec' || CAST(doc_id AS VARCHAR)
"""

_URL_DEDUP_SQL = f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u),
s2 AS (
    SELECT doc_id,
           lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
           regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
    FROM s1
),
s3 AS (
    SELECT doc_id, scheme, rest,
           regexp_extract(rest, '^([^/?]*)', 1) AS hostport
    FROM s2
),
s4 AS (
    SELECT doc_id, scheme,
           substr(rest, len(hostport) + 1) AS tail,
           CASE
               WHEN scheme = 'http'
                   THEN regexp_replace(regexp_replace(lower(hostport), '^www\\.', ''), ':80$', '')
               WHEN scheme = 'https'
                   THEN regexp_replace(regexp_replace(lower(hostport), '^www\\.', ''), ':443$', '')
               ELSE regexp_replace(lower(hostport), '^www\\.', '')
           END AS host
    FROM s3
),
s5 AS (
    SELECT doc_id, scheme, host,
           regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/+$', '') AS path,
           array_to_string(list_filter(
               string_split(regexp_replace(tail, '^[^?]*\\??', ''), '&'),
               p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE_SQL}')
           ), '&') AS qs
    FROM s4
),
n AS (
    SELECT doc_id,
           scheme || '://' || host || path
           || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS norm_url
    FROM s5
)
SELECT norm_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM n GROUP BY norm_url
"""


@register("url_dedup", _URL_DEDUP_SQL)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over a deterministically synthesized noisy URL
    per document (case/``www.``/default-port/fragment/tracking-param/
    trailing-slash variants of ``https://<source>.example.com/p/<id%40>
    ?x=<id%5>``) — the Common-Crawl canonical-URL collapse.  Both
    engines synthesize the same URLs, normalize with the same rules,
    and keep the lowest doc id per canonical form; one map-side
    expression + one hash aggregation, no join."""
    from .llm.urls import url_dedup

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        (d % 40).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&x="),
        (d % 5).cast("string"),
        F.lit("#sec"),
        d.cast("string"),
    )
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )
    return url_dedup(docs)


_CORPUS_CUBE_SQL = f"""
SELECT COALESCE(source, 'ALL') AS source,
       COALESCE(lang, 'ALL') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY CUBE (source, lang)
"""


@register("corpus_cube", _CORPUS_CUBE_SQL)
def q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (source, lang): every marginal of the
    corpus-composition report in ONE shuffle (grouping-set expansion
    is map-side) — the datamix dashboard query.  NULL grouping levels
    label as 'ALL' for null-safe hash compare."""
    from .llm.text import token_count

    docs = _read_spread(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "n_tokens",
            "n_chars",
        )
    )


def _ann_recall_sql() -> str:
    """Recall@5 of the IVF-SQ8 index against the exact scan, replayed
    end to end: both top-k chains (the Lloyd CTEs + SQ8 reconstruction
    vs brute force), joined per query."""
    return f"""{_kmeans_cte(8, 3, 2)},
sq AS (
    SELECT vec_id, cid, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM asg
),
rec AS (
    SELECT vec_id, cid,
           list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
               ELSE greatest(-127, least(127, floor(x / scale + 0.5)))
               END AS BIGINT) * scale) AS rv
    FROM sq
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, c.rv), 6) DESC,
                            c.vec_id) AS rank
        FROM asg q JOIN rec c USING (cid)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ) WHERE rank <= 5
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                            c.vec_id) AS rank
        FROM e q CROSS JOIN e c
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ) WHERE rank <= 5
)
SELECT e.query_id,
       round(COUNT(a.neighbor_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""


@register("ann_recall", _ann_recall_sql)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the IVF-SQ8 index against
    the exact scan, per query — the measurement loop a 100 TB ANN
    deployment runs on a sampled query set before trusting an index
    tier.  Composes the registered operators; the oracle replays BOTH
    chains end to end."""
    from .llm.similarity import topk_bruteforce, topk_ivf_sq8

    emb = _read_spread(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, k=5)
    approx = topk_ivf_sq8(emb, q, k=5, n_clusters=8, sample_mod=2)
    hit = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(
            hit.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.round(F.coalesce("n_hit", F.lit(0)) / 5.0, 6).alias("recall_at_5"),
        )
    )


_EMB_COV_SQL = """
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nn AS (SELECT COUNT(*) AS n FROM e),
m AS (
    SELECT i, SUM(x) AS s FROM (
        SELECT unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM e
    ) GROUP BY i
),
ma AS (SELECT list(s / (SELECT n FROM nn) ORDER BY i) AS mean FROM m),
c AS (
    SELECT list_transform(range(1, len(v) + 1), i -> v[i] - mean[i]) AS cv
    FROM e CROSS JOIN ma
),
pi AS (SELECT cv, unnest(range(1, len(cv) + 1)) AS i FROM c),
pj AS (SELECT cv, i, unnest(range(i, len(cv) + 1)) AS j FROM pi),
p AS (
    SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
           cv[i] * cv[j] AS prod
    FROM pj
)
SELECT i, j,
       round(CAST(SUM(CAST(prod AS DECIMAL(38,12))) AS DOUBLE)
             / (SELECT n FROM nn), 6) + 0.0 AS cov
FROM p GROUP BY i, j
"""


@register("embedding_covariance", _EMB_COV_SQL)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle embedding covariance (population divisor): two
    aggregation passes — per-dimension means to the driver, then
    centered cross-products with map-side partial aggregation bounding
    the shuffle at d*(d+1)/2 rows per task."""
    from .llm.embeddings import embedding_covariance

    cov = embedding_covariance(_read_spread(spark, sf_dir, "embeddings"))
    return cov.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "cov",
    )


_EMB_WHITEN_SQL = """
WITH axes AS (SELECT unnest(range(0, 8)) AS a)
SELECT CAST(i.a AS BIGINT) AS i, CAST(j.a AS BIGINT) AS j,
       CAST(CASE WHEN i.a = j.a THEN 1.0 ELSE 0.0 END AS DOUBLE) AS cov
FROM axes i JOIN axes j ON j.a >= i.a
"""


@register("embedding_whiten", _EMB_WHITEN_SQL)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening to 8 axes (FAISS-style PCAW preprocessing): the
    d x d covariance aggregates distributedly, the eigendecomposition
    runs driver-side (model-sized), and the projection broadcasts back
    — map-side transform, corpus never shuffles.

    The registered row set is the whitening CONTRACT, not the vectors:
    the covariance of the whitened output, rounded to 4 decimals, must
    equal the identity — which the oracle states literally.  (The raw
    ``array<double>`` output is deliberately NOT registered: the
    driver's canonicalizer sorts columns with pandas and an array
    column is unhashable there — the CORRECTNESS_r05 ``err`` row.)
    Both passes reuse unrounded float covariance internally, so the
    contract holds to ~1e-10 and the round-4 cells are run-stable;
    ``+ 0.0`` flushes -0.0 from off-diagonal noise."""
    from .llm.embeddings import embedding_covariance, pca_whiten

    emb = _read_spread(spark, sf_dir, "embeddings")
    white = pca_whiten(emb, k=8)
    cov = embedding_covariance(
        white, vec_col="whitened", id_col="vec_id", round_to=None
    )
    return cov.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        (F.round("cov", 4) + F.lit(0.0)).alias("cov"),
    )


def _text_clean_sql() -> str:
    from .llm.text import clean_text_sql

    # deterministic dirt: typographic quotes/dash, NBSP, zero-width,
    # a control char and ragged whitespace wrapped around every text
    dirty = (
        "chr(8220) || 'q' || chr(8221) || chr(160) || '  ' || text"
        " || '  ' || chr(8212) || ' tail' || chr(8203) || chr(9) || chr(1)"
    )
    return f"""
WITH d AS (SELECT doc_id, {dirty} AS dirty FROM documents)
SELECT doc_id,
       {clean_text_sql('dirty')} AS cleaned,
       CAST(len(dirty) - len({clean_text_sql('dirty')}) AS BIGINT)
           AS n_removed
FROM d
"""


@register("text_clean", _text_clean_sql())
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning over deterministically dirtied documents (both
    engines wrap every text in the same typographic-quote/NBSP/
    zero-width/control-char/ragged-whitespace noise, then normalize):
    chained map-side regexp_replace, zero shuffle."""
    from .llm.text import clean_text

    dirty = F.concat(
        F.lit("\u201Cq\u201D\u00A0  "),
        F.col("text"),
        F.lit("  \u2014 tail\u200B\t\x01"),
    )
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", dirty.alias("dirty")
    )
    cleaned = clean_text(F.col("dirty"))
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        (F.length("dirty") - F.length(cleaned)).cast("long").alias("n_removed"),
    )


_BLOCKED_DOMAINS = (
    "src1-site.org",
    "src3-site.org",
    "src12-site.org",
    "www.src5-site.org",  # subdomain-scoped entry: suffix match only
)

_URL_BLOCK_SQL = f"""
WITH u AS (
    SELECT doc_id, lang,
           'https://www.' || source || '-site.org/p/'
           || CAST(doc_id % 7 AS VARCHAR) AS url
    FROM documents
),
d AS (
    -- port strip + trailing-root-dot strip, mirroring the operator
    SELECT doc_id, lang, url,
           regexp_replace(regexp_replace(
               lower(regexp_extract(
                   regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
                   '^([^/?#]*)', 1)),
               ':\\d+$', ''), '\\.$', '') AS host
    FROM u
)
SELECT doc_id, lang FROM d
WHERE {" AND ".join(
    f"(host <> '{b}' AND host NOT LIKE '%.{b}')" for b in _BLOCKED_DOMAINS
)}
"""


@register("url_block_filter", _URL_BLOCK_SQL)
def q_url_block_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist domain filtering: drop documents whose URL host
    matches a blocklist entry at a label boundary (host == entry or
    host endswith '.' + entry — subdomain-scoped entries block exactly
    their subtree).  One broadcast LEFT ANTI equi-join per blocklist
    label depth; the corpus never shuffles (plan-pinned)."""
    from .llm.urls import filter_blocked_domains

    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit("-site.org/p/"),
        (F.col("doc_id") % 7).cast("string"),
    )
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", url.alias("url")
    )
    bl = spark.createDataFrame(
        [(b,) for b in _BLOCKED_DOMAINS], "domain STRING"
    )
    return filter_blocked_domains(docs, bl).select("doc_id", "lang")


# Corpus size above which `semdedup_flat` routes to the two-level
# quantizer: the flat lane's N*sqrt(N) assignment law is the worst
# growth row in the 10x scale study (7.3x), so a naive caller must
# not get it by default on a large corpus.  Pinned by a measured
# same-box sweep (tools/semdedup_sweep.py, identical replicated
# corpora, both lanes per size):
#   N= 4000  flat  16.0s  two-level 18.0s
#   N= 8000  flat  32.8s  two-level 35.5s
#   N=16000  flat 137.8s  two-level 74.3s
#   N=20000  flat 138.3s  two-level 88.2s
# Two-level overtakes between 8k and 16k rows; 10k splits the gap
# with margin before flat's blow-up.  Same exact/approx split shape
# as column_histograms: small corpora keep the flat lane (simplest,
# oracle-bit-exact at driver scales), large corpora get the
# O(N^(4/3)) tier — and the lazily-resolved ORACLE switches on the
# same row count, so both lanes stay oracle-green.
# The sweep passes no corpus_count, so these timings were taken on the
# since-deleted re-scan pair shape (a broadcast cell-count filter
# feeding a cell self-join), not on today's grouped Arrow pair stage;
# the crossover has not been re-measured on the current shape.
SEMDEDUP_FLAT_MAX_ROWS = 10_000


def _semdedup_flat_sql() -> str:
    """Lazily-resolved oracle: replay the corpus-scaled cluster count
    (``auto_semdedup_clusters`` of the oracle corpus's row count) and
    the shared Lloyd CTE chain, then in-cell pairs.  Above
    :data:`SEMDEDUP_FLAT_MAX_ROWS` this oracle IS the two-level
    oracle, mirroring the engine-side default-swap."""
    from .driver_queries import oracle_table_rows
    from .llm.embeddings import auto_semdedup_clusters

    n = oracle_table_rows("embeddings")
    if n > SEMDEDUP_FLAT_MAX_ROWS:
        return _semdedup_sql()
    k = auto_semdedup_clusters(n)
    return f"""{_kmeans_cte(n_clusters=k, iters=3, sample_mod=2)},
cell AS (SELECT cid FROM asg GROUP BY cid HAVING COUNT(*) <= 1000)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM asg a
JOIN asg b USING (cid)
JOIN cell USING (cid)
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


@register("semdedup_flat", _semdedup_flat_sql)
def q_semdedup_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-quantizer SemDeDup: embedding near-dup pairs confined to
    learned k-means cells, with the cluster count derived from the
    corpus size (k ~ sqrt(N), the flat-quantizer cost optimum) and the
    default-on cell cap.  Training runs on a 1/2 md5-hash sample.

    The flat tier is O(N^1.5); above
    :data:`SEMDEDUP_FLAT_MAX_ROWS` (measured crossover — see the
    constant) this query DEFAULT-SWAPS to the two-level O(N^(4/3))
    quantizer, so the naive caller never rides the N*sqrt(N) law on a
    large corpus.  Output schema is (vec_a, vec_b, cosine) in both
    lanes; ``semdedup`` is the always-two-level production tier."""
    from .llm.embeddings import (
        auto_semdedup_clusters,
        auto_semdedup_levels,
        semdedup_pairs,
        semdedup_pairs_two_level,
    )

    n = table_rows_meta(sf_dir, "embeddings")
    emb = _read_spread(spark, sf_dir, "embeddings")
    if n > SEMDEDUP_FLAT_MAX_ROWS:
        k1, k2 = auto_semdedup_levels(n)
        return semdedup_pairs_two_level(emb, k1, k2, threshold=0.3, sample_mod=2)
    return semdedup_pairs(
        emb,
        threshold=0.3,
        n_clusters=auto_semdedup_clusters(n),
        sample_mod=2,
        corpus_count=n,
    ).select("vec_a", "vec_b", "cosine")


def _semdedup_sql() -> str:
    """Two-level (coarse x residual) SemDeDup oracle: stack two Lloyd
    chains — the coarse one over the hash-sampled corpus, the fine one
    over the sign-canonicalized RESIDUALS against the final coarse
    centroids — then pair within the product cell ``cid1 * k2 +
    cid2``, with each vector probing its 2 nearest fine cells
    (``rn <= 2`` in the fine assignment) and pairs deduped.  Every
    arithmetic step (exact IEEE residual subtraction, exact +-1 sign
    canonicalization with first-index abs-tie breaks, round-6 means,
    first-index ranked-distance ties) mirrors the engine term for
    term."""
    from .driver_queries import oracle_table_rows
    from .llm.embeddings import auto_semdedup_levels

    k1, k2 = auto_semdedup_levels(oracle_table_rows("embeddings"))
    iters = 3
    probes = 2
    hash_filter = f"{md5_long_sql('CAST(vec_id AS VARCHAR)')} % 2 = 0"
    return (
        f"""{_kmeans_cte(n_clusters=k1, iters=iters, sample_mod=2)},
res0 AS (
    SELECT a.vec_id, a.cid AS cid1,
           list_transform(range(1, len(a.v) + 1), i -> a.v[i] - c.c[i]) AS r
    FROM asg a JOIN c{iters} c ON a.cid = c.cid
),
res AS (
    SELECT vec_id, cid1,
           list_transform(r, x -> x * sign(r[list_position(
               list_transform(r, y -> abs(y)),
               list_max(list_transform(r, y -> abs(y))))])) AS v
    FROM res0
),
ftr AS (SELECT vec_id, v FROM res WHERE {hash_filter})"""
        + _lloyd_chain("ftr", "res", "f", k2, iters, final_probes=probes)
        + f""",
casg AS (
    SELECT e.vec_id, e.v, r.cid1 * {k2} + f.cid AS cid
    FROM e
    JOIN res r ON e.vec_id = r.vec_id
    JOIN fasg f ON e.vec_id = f.vec_id
),
cell AS (SELECT cid FROM casg GROUP BY cid HAVING COUNT(*) <= 1000)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM casg a
JOIN casg b USING (cid)
JOIN cell USING (cid)
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""
    )


@register("semdedup", _semdedup_sql)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on the two-level (coarse x residual) quantizer — the
    O(N^(4/3)) tier that replaces the flat k~sqrt(N) Lloyd's O(N^1.5)
    assignment ceiling.  Cluster counts derive from the corpus size
    (``auto_semdedup_levels``: k1 = k2 ~ (N/2)^(1/3)), training runs
    on a 1/2 md5-hash sample, and the default-on cell cap bounds any
    degenerate product cell.

    The corpus count feeds the rule from the RAW scan, like
    ``dedup_embedding_banded``; it is the ONE eager action, and it
    funds both level sizes."""
    from .llm.embeddings import auto_semdedup_levels, semdedup_pairs_two_level

    n = table_rows_meta(sf_dir, "embeddings")
    k1, k2 = auto_semdedup_levels(n)
    return semdedup_pairs_two_level(
        _read_spread(spark, sf_dir, "embeddings"),
        n_coarse=k1,
        n_fine=k2,
        threshold=0.3,
        sample_mod=2,
    )


_TFIDF_SQL = f"""
WITH dtok AS (
    SELECT doc_id, g AS t, COUNT(*) AS c FROM (
        SELECT doc_id, unnest({_TOKS}) AS g FROM documents
    ) GROUP BY doc_id, g
),
dfv AS (SELECT t, COUNT(*) AS df FROM dtok GROUP BY t),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dtok),
scored AS (
    SELECT doc_id, t,
           round(c * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM dtok JOIN dfv USING (t) CROSS JOIN nd
)
SELECT doc_id, rank, t AS token, tfidf FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, t) AS rank
    FROM scored
) WHERE rank <= 5
"""


@register("tfidf_keywords", _TFIDF_SQL)
def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 keywords by tf-idf: one tokenize pass feeds
    both the document-frequency model and the scoring; the unprunable
    vocab join is left to AQE (broadcast when small, skew-split when
    hot)."""
    from .llm.text import tfidf_topk

    return tfidf_topk(_read_spread(spark, sf_dir, "documents"), k=5)


_EXACT_K_SALT_HASH = md5_long_sql("'exact-k' || CAST(doc_id AS VARCHAR)")

_SAMPLE_EXACT_K_SQL = f"""
SELECT lang, doc_id, rank FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY {_EXACT_K_SALT_HASH}, doc_id) AS rank
    FROM documents
) WHERE rank <= 30
"""


@register("sample_exact_k", _SAMPLE_EXACT_K_SQL)
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 30 docs per language by salted-hash rank — the
    balanced-subset builder (eval sets, annotation batches)."""
    from .llm.sampling import exact_stratified_k

    docs = _read_spread(spark, sf_dir, "documents")
    return exact_stratified_k(docs, ["lang"], k=30).select("lang", "doc_id", "rank")


# Weighted sampling: pure integer interval arithmetic (cumsum of
# token counts in salted-hash order; probe j lands at md5 % W), so
# the oracle replays the draw bit-exactly with one window.  The probe
# target is the 60-bit hash — a 32-bit target cannot reach past the
# first 2^32 tokens of the cumulative axis.
_WSAMPLE_SALT_HASH = md5_long_sql("'wsample' || CAST(doc_id AS VARCHAR)")
_WSAMPLE_PROBE_HASH = md5_wide_long_sql("'wsample-probe' || CAST(j AS VARCHAR)")

_WEIGHTED_SAMPLE_SQL = f"""
WITH d AS (
    SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS weight,
           {_WSAMPLE_SALT_HASH} AS h
    FROM documents WHERE len({_TOKS}) >= 1
),
c AS (
    SELECT doc_id, weight,
           SUM(weight) OVER (ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - weight AS cum
    FROM d
),
tot AS (SELECT SUM(weight) AS w_total FROM d),
p AS (
    SELECT CAST(j AS BIGINT) AS sample_id,
           {_WSAMPLE_PROBE_HASH} % (SELECT w_total FROM tot) AS target
    FROM (SELECT unnest(range(0, 40)) AS j)
)
SELECT p.sample_id, c.doc_id, c.weight
FROM p JOIN c ON p.target >= c.cum AND p.target < c.cum + c.weight
"""


@register("weighted_sample", _WEIGHTED_SAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted sampling with replacement (40 draws): each doc
    occupies a [cum, cum+weight) interval of the token axis and probe
    j picks the interval containing md5(j) mod total — exact integer
    semantics both engines replay bit-for-bit, unlike the ln/pow of
    exponential-key (A-ES) sampling.  The cumsum is two-phase
    bucketed; only probed buckets are sorted."""
    from .llm.sampling import weighted_sample_k
    from .llm.text import tokens

    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("weight")
    )
    # bucket count from footer metadata (zero jobs) — the corpus count
    # only SIZES the coarse buckets, so the unfiltered footer total is
    # a harmless upper bound and the operator's eager count() is
    # skipped
    nb = max(32, table_rows_meta(sf_dir, "documents") // 50_000)
    return weighted_sample_k(docs, k=40, weight_col="weight", coarse_buckets=nb)


def _edit_verified_sql() -> str:
    return f"""
WITH cand AS ({_minhash_band_sql()}),
txt AS (SELECT doc_id, substr(text, 1, 200) AS t FROM documents)
SELECT c.doc_a, c.doc_b,
       round(1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
             / greatest(length(a.t), length(b.t)), 6) AS edit_sim
FROM cand c
JOIN txt a ON a.doc_id = c.doc_a
JOIN txt b ON b.doc_id = c.doc_b
WHERE round(1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
            / greatest(length(a.t), length(b.t)), 6) >= 0.4
"""


@register("dedup_edit", _edit_verified_sql())
def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verified near-dup: MinHash-LSH candidates
    scored by Levenshtein similarity on 200-char prefixes (the DP
    cost cap).  Complements the token-level Jaccard verify."""
    from .llm.dedup import edit_verified_pairs

    return edit_verified_pairs(
        _read_spread(spark, sf_dir, "documents"), threshold=0.4, prefix=200
    )


_HYBRID_SEARCH_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang,
           least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3
               AS quality_score
    FROM documents
),
keep AS (SELECT doc_id FROM scored WHERE lang = 'en' AND quality_score >= 0.4),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
corpus AS (SELECT e.* FROM e JOIN keep ON keep.doc_id = e.vec_id),
qs AS (SELECT vec_id, v FROM e WHERE vec_id < 10)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                                       c.vec_id) AS rank
    FROM qs q JOIN corpus c ON c.vec_id <> q.vec_id
) WHERE rank <= 5
"""


@register("hybrid_search", _HYBRID_SEARCH_SQL)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid filtered vector search: restrict the ANN corpus to
    documents passing a metadata + quality predicate (lang='en',
    quality >= 0.4 — the doc table joins the embedding table on id),
    then exact cosine top-5 per query vector.  The RAG-retrieval
    shape: predicate pushdown on the doc side, ids-only semi join
    onto the vector side, scan confined to the filtered corpus."""
    from .llm.similarity import topk_bruteforce

    docs = _read_spread(spark, sf_dir, "documents")
    keep = docs.withColumn(
        "q", quality_metrics(F.col("text"))["quality_score"]
    ).filter((F.col("lang") == "en") & (F.col("q") >= 0.4)).select("doc_id")
    emb = _read_spread(spark, sf_dir, "embeddings")
    corpus = emb.join(
        keep.withColumnRenamed("doc_id", "vec_id"), "vec_id", "semi"
    )
    return topk_bruteforce(corpus, emb.filter(F.col("vec_id") < 10), k=5)


_SOURCE_OVERLAP_SQL = f"""
WITH ss AS (
    SELECT DISTINCT source, {md5_wide_long_sql('sh')} AS sh FROM (
        SELECT source, unnest({_SHINGLES3}) AS sh FROM documents
    )
),
ok AS (SELECT sh FROM ss GROUP BY sh HAVING COUNT(*) <= 100)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM ss a
JOIN ss b USING (sh)
JOIN ok USING (sh)
WHERE a.source < b.source
GROUP BY a.source, b.source
"""


@register("source_overlap", _SOURCE_OVERLAP_SQL)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source shared-shingle matrix — which sources duplicate
    each other (the datamix-weighting prerequisite)."""
    from .llm.dedup import source_overlap_matrix

    return source_overlap_matrix(_read_spread(spark, sf_dir, "documents"), n=3)


_SPAN_REMOVAL_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tk AS (
    SELECT doc_id, i - 1 AS idx, toks[i] AS tok
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           {md5_wide_long_sql("array_to_string(toks[i:i+4], ' ')")} AS gram
    FROM (SELECT doc_id, toks,
                 unnest(range(1, greatest(len(toks) - 3, 1))) AS i FROM t)
),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
    SELECT DISTINCT doc_id, pos + unnest(range(0, 5)) AS idx
    FROM g JOIN dupg USING (gram)
),
kept AS (SELECT tk.* FROM tk ANTI JOIN covered USING (doc_id, idx)),
rebuilt AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
SELECT base.doc_id, COALESCE(cleaned, '') AS cleaned, n_tokens,
       n_tokens - COALESCE(n_kept, 0) AS n_removed
FROM base LEFT JOIN rebuilt USING (doc_id)
"""


@register("dedup_span_removal", _SPAN_REMOVAL_SQL)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup as a TRANSFORMATION: drop every token covered
    by a cross-document duplicated 5-gram and rebuild the text."""
    from .llm.dedup import remove_duplicated_spans

    return remove_duplicated_spans(_read_spread(spark, sf_dir, "documents"), n=5)


_MIX_BUDGET_CASE = (
    "CASE WHEN source IN ('src0','src1','src2','src3','src4',"
    "'src5','src6','src7','src8','src9') THEN 4000 "
    "WHEN source IN ('src10','src11','src12','src13','src14',"
    "'src15','src16','src17','src18') THEN 1500 ELSE 0 END"
)

_MIXTURE_SQL = f"""
WITH h AS (
    SELECT doc_id, source, n_chars,
           {md5_long_sql("'mix' || CAST(doc_id AS VARCHAR)")} AS hv,
           {_MIX_BUDGET_CASE} AS budget
    FROM documents
), c AS (
    SELECT *, SUM(n_chars) OVER (
        PARTITION BY source ORDER BY hv, doc_id
    ) - n_chars AS prefix
    FROM h
)
SELECT doc_id, source, n_chars FROM c WHERE prefix < budget
"""


@register("mixture_sample", _MIXTURE_SQL)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget datamix assembly: greedy per-source sampling in
    salted-hash order until each source's budget is filled.  Runs the
    two-phase scalable plan (coarse hash-range buckets; the window
    cumsum touches only each source's crossing bucket) and is checked
    against the simple single-window oracle — both implement the same
    greedy order, so agreement proves the phase split."""
    from .llm.sampling import token_budget_mixture

    budgets = {f"src{i}": 4000 for i in range(10)}
    budgets.update({f"src{i}": 1500 for i in range(10, 19)})
    docs = _read_spread(spark, sf_dir, "documents")
    return token_budget_mixture(
        docs, budgets, coarse_buckets=8
    ).select("doc_id", "source", "n_chars")


_PPLX_BUCKETS_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
kept AS (SELECT t, n FROM freq WHERE n >= 2),
oov AS (SELECT SUM(n) AS n_oov FROM freq WHERE n < 2),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS z FROM freq),
score AS (
    SELECT tok.doc_id,
           round(AVG(ln(COALESCE(kept.n, oov.n_oov) / tot.z)), 6) AS avg_logprob
    FROM tok LEFT JOIN kept USING (t), oov, tot
    GROUP BY tok.doc_id
)
SELECT s.doc_id, d.lang, s.avg_logprob,
       CAST(NTILE(3) OVER (
           PARTITION BY d.lang ORDER BY s.avg_logprob DESC, s.doc_id
       ) AS INTEGER) AS tier,
       CASE NTILE(3) OVER (
           PARTITION BY d.lang ORDER BY s.avg_logprob DESC, s.doc_id
       ) WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS tier_name
FROM score s JOIN documents d USING (doc_id)
"""


@register("perplexity_buckets", _PPLX_BUCKETS_SQL)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: corpus-LM score every doc, then NTILE
    each language into three equal-count fluency tiers (scores rounded
    before ranking so float ulps cannot flip a boundary)."""
    from .llm.text import perplexity_buckets

    return perplexity_buckets(_read_spread(spark, sf_dir, "documents"))


def _leak_safe_split_sql() -> str:
    """Oracle: the dedup_clusters recursive-CTE component map feeds the
    same salted-hash split rule, keyed on the CLUSTER id."""
    pairs = _verified_neardup_sql().strip()
    key_bucket = md5_long_sql("'split' || CAST(split_key AS VARCHAR)") + " % 1000000"
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
keyed AS (
    SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS split_key
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
)
SELECT doc_id, split_key,
       CASE WHEN {key_bucket} < 900000 THEN 'train'
            WHEN {key_bucket} < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
"""


@register("leak_safe_split", _leak_safe_split_sql())
def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS are
    assigned to splits atomically, so no pair of near-dup documents
    can straddle train and test (the standard guard against
    train/test contamination that a per-document hash split cannot
    give).  Composition: the shared ``neardup_cluster_map`` relation
    (the SAME cluster definition the dedup pipeline uses) -> salted-
    hash split keyed on the cluster id (every singleton keys on its
    own doc_id, reproducing split_assign for unduplicated docs).
    Scale shape: inherits the O(log n) star rounds of
    ``ops.graph.connected_components`` plus one map-side hash — no
    new shuffle beyond the cluster map join."""
    from .llm.sampling import hash_split

    keyed = neardup_cluster_map(
        _read_spread(spark, sf_dir, "documents")
    ).withColumnRenamed("cluster_id", "split_key")
    return hash_split(keyed, id_col="split_key").select(
        "doc_id", "split_key", "split"
    )


# Deterministic paragraph structure for the paragraph-dedup probe:
# every occurrence of the (common) token "table" becomes a paragraph
# break, and every document gains the SAME trailing boilerplate
# paragraph — the cookie-banner/newsletter-footer case the operator
# exists to strip.  The dedup must keep the boilerplate only in the
# lowest-id document.
_PARA_BOILERPLATE = "subscribe to our newsletter today"

_DEDUP_PARAGRAPHS_SQL = f"""
WITH d AS (
    SELECT doc_id,
           regexp_replace(text, ' table ', chr(10) || chr(10), 'g')
           || chr(10) || chr(10) || '{_PARA_BOILERPLATE}' AS t
    FROM documents
),
p AS (
    SELECT doc_id, i AS pos, parts[i] AS para
    FROM (SELECT doc_id, string_split_regex(t, '\\n{{2,}}') AS parts FROM d),
         unnest(range(1, len(parts) + 1)) AS u(i)
    WHERE trim(parts[i]) <> ''
),
k AS (
    SELECT doc_id, pos, para,
           {md5_wide_long_sql('para')} AS fp
    FROM p
),
owners AS (
    SELECT fp, MIN(doc_id) AS owner
    FROM k GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
    SELECT k.doc_id, k.pos, k.para
    FROM k LEFT JOIN owners USING (fp)
    WHERE owners.owner IS NULL OR owners.owner = k.doc_id
),
rebuilt AS (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, COUNT(*) AS n_paragraphs FROM p GROUP BY doc_id)
SELECT base.doc_id, COALESCE(cleaned, '') AS cleaned,
       CAST(n_paragraphs AS BIGINT) AS n_paragraphs,
       CAST(n_paragraphs - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
FROM base LEFT JOIN rebuilt USING (doc_id)
"""


@register("dedup_paragraphs", _DEDUP_PARAGRAPHS_SQL)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (Dolma/CCNet boilerplate stripping):
    paragraphs appearing verbatim in >= 2 documents survive only in
    their lowest-id document.  Both engines synthesize the same
    paragraph structure (every " table " token becomes a break; every
    doc gains an identical trailing boilerplate paragraph), so the
    keep-first election is exercised on a real cross-corpus duplicate.
    Positionless df+owner aggregation, duplicated fingerprints
    broadcast back, wide relation never shuffles (plan-pinned)."""
    from .llm.dedup import dedup_paragraphs

    dirty = F.concat(
        F.regexp_replace(F.col("text"), " table ", "\n\n"),
        F.lit("\n\n" + _PARA_BOILERPLATE),
    )
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", dirty.alias("text")
    )
    out = dedup_paragraphs(docs)
    return out.select(
        "doc_id",
        "cleaned",
        F.col("n_paragraphs").cast("long").alias("n_paragraphs"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


@register("ann_index_persisted", _ivf_sq8_sql(sample_mod=2))
def q_ann_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/query-many ANN: ensure the persisted IVF-SQ8 index
    is current (an EXACT corpus fingerprint — count + summed
    xxhash64(id, vector) — gates the rebuild, so the train+assign+
    write runs only when the corpus actually changed; that gate IS the
    serving contract, not a bench shortcut) then answer the query
    batch from it — probes read ONLY the probed cells' partitions
    (plan-pinned partition pruning).  Bit-identical to ann_topk_ivf_sq8
    with the same parameters, so the SAME oracle replays the whole
    chain; what this query adds is the persisted index path, which is
    how a 100 TB deployment actually serves ANN (the per-call variant
    re-trains and re-assigns per batch)."""
    import os
    import tempfile

    from .llm.similarity import ensure_ivf_sq8_index, topk_ivf_sq8_index

    # raw read, NOT _read_spread: every branch of the build+probe
    # chain (training sample, assignment, query batch) would re-pay
    # the spread shuffle, and the chain's own partitionBy write is
    # the layout that matters; a real corpus arrives pre-split
    emb = _read(spark, sf_dir, "embeddings")
    # deterministic per-corpus location; rebuilds are atomic swaps
    root = os.path.join(
        tempfile.gettempdir(),
        "dax_ppdb_spark_ann_index",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    ensure_ivf_sq8_index(emb, root, n_clusters=8, sample_mod=2)
    return topk_ivf_sq8_index(
        spark, root, emb.filter(F.col("vec_id") < 10), k=5
    )


@register("ann_index_pq", _ivfpq_sql())
def q_ann_index_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVFPQ serving path: ensure the index is current (the
    exact corpus-fingerprint gate), then answer the batch from stored
    m-code payloads — probes read only the probed cells' partitions
    and reconstruct cents[cid] + books[s][codes[s]] inside the scan.
    Bit-identical to ann_topk_ivfpq with the same parameters, so the
    SAME oracle replays the full two-level chain; what this adds is
    the m*log2(k_cb)-bits-per-vector persisted tier — the layout that
    fits a 1e11-vector index in cluster RAM."""
    import os
    import tempfile

    from .llm.similarity import ensure_ivf_pq_index, topk_ivf_pq_index

    emb = _read(spark, sf_dir, "embeddings")
    root = os.path.join(
        tempfile.gettempdir(),
        "dax_ppdb_spark_ann_index_pq",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    ensure_ivf_pq_index(
        emb, root, n_clusters=8, m=4, k_cb=8, iters=3, pq_iters=2,
        sample_mod=2,
    )
    return topk_ivf_pq_index(
        spark, root, emb.filter(F.col("vec_id") < 10), k=5
    )


_BIGRAM_LM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bp AS (
    SELECT doc_id, toks[i] AS v, toks[i + 1] AS w
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
          FROM t WHERE len(toks) >= 2)
),
dbig AS (SELECT doc_id, v, w, COUNT(*) AS c FROM bp GROUP BY doc_id, v, w),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
freq AS (SELECT tk, COUNT(*) AS n FROM tok GROUP BY tk),
totals AS (
    SELECT SUM(n) AS z, SUM(CASE WHEN n < 2 THEN n END) AS n_oov FROM freq
),
big AS (SELECT v, w, SUM(c) AS c2 FROM dbig GROUP BY v, w HAVING SUM(c) >= 2)
SELECT dbig.doc_id,
       SUM(c * CASE WHEN big.c2 IS NOT NULL THEN ln(big.c2 / ctx.n)
                    ELSE ln(0.4 * COALESCE(ku.n, totals.n_oov) / totals.z)
               END) / SUM(c) AS avg_bigram_logprob
FROM dbig
LEFT JOIN big USING (v, w)
JOIN freq ctx ON ctx.tk = dbig.v
LEFT JOIN (SELECT tk, n FROM freq WHERE n >= 2) ku ON ku.tk = dbig.w
CROSS JOIN totals
GROUP BY dbig.doc_id
"""


@register("bigram_lm_score", _BIGRAM_LM_SQL)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM quality score (Brants et al. 2007) —
    the tier above the unigram lm_score: each token scored given its
    predecessor, pruned bigrams backing off to alpha * the pooled-OOV
    unigram model.  Single-tokenize checkpointed relation feeds fit
    and scoring; the bigram model join is left to AQE (it grows with
    the corpus, unlike the pooled unigram vocab)."""
    from .llm.text import bigram_logprob_score

    return bigram_logprob_score(_read_spread(spark, sf_dir, "documents"))


_CORPUS_DRIFT_SQL = f"""
WITH tok AS (
    SELECT doc_id % 2 AS side, unnest({_TOKS}) AS t FROM documents
),
ex AS (
    SELECT side, {md5_long_sql('t')} % 1024 AS b FROM tok
),
counts AS (
    SELECT b,
           COALESCE(SUM(CASE WHEN side = 0 THEN 1 END), 0) AS ca,
           COALESCE(SUM(CASE WHEN side = 1 THEN 1 END), 0) AS cb
    FROM ex GROUP BY b
),
totals AS (SELECT SUM(ca) AS za, SUM(cb) AS zb FROM counts)
SELECT b, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
       floor((0.5 * ((ca + 1.0) / (za + 1024.0))
                  * ln(((ca + 1.0) / (za + 1024.0))
                       / ((((ca + 1.0) / (za + 1024.0))
                           + ((cb + 1.0) / (zb + 1024.0))) / 2.0))
            + 0.5 * ((cb + 1.0) / (zb + 1024.0))
                  * ln(((cb + 1.0) / (zb + 1024.0))
                       / ((((ca + 1.0) / (za + 1024.0))
                           + ((cb + 1.0) / (zb + 1024.0))) / 2.0)))
             * 1e9) / 1e9 AS js_contrib
FROM counts CROSS JOIN totals
"""


@register("corpus_drift", _CORPUS_DRIFT_SQL)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: per-bucket Jensen-Shannon contributions
    between two sub-corpora (here the even/odd doc_id halves — the
    deterministic stand-in for this-week-vs-last-week) over 1024
    hashed unigram buckets.  One union tokenize pass, one 8-byte-keyed
    exchange, model-sized output; SUM(js_contrib) is the divergence,
    rows are the which-buckets-moved drill-down."""
    from .llm.sampling import corpus_divergence

    docs = _read_spread(spark, sf_dir, "documents")
    return corpus_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _knn_label_noise_sql() -> str:
    """Lazily-resolved oracle for the kNN label-agreement audit: the
    sign-bucket assignment (plane count corpus-derived, the same
    auto_bands rule the Spark side applies), the 2-probe rule (each
    vector ALSO queries the cell flipping its smallest-|margin| plane
    bit — argmin with first-position tie-break, replayed here as a
    least()+CASE chain and string surgery on the home key), the
    max_bucket cell cap counted over HOME members, in/cross-cell
    pairwise cosine at round-6, row_number top-k with the (cosine
    DESC, neighbor id ASC) tie-break, and the agreement average —
    every vector keeps its output row via the LEFT JOIN (singleton or
    capped cells report 0 neighbors, NULL agreement)."""
    from .driver_queries import oracle_table_rows
    from .llm.dedup import auto_bands

    dims = auto_bands(64, oracle_table_rows("embeddings"), 1)[0]
    key = " || ".join(
        f"(CASE WHEN embedding[{d}] >= 0 THEN '1' ELSE '0' END)" for d in dims
    )
    least = "least(" + ", ".join(f"abs(v[{d}])" for d in dims) + ")"
    argmin = (
        "CASE "
        + " ".join(
            f"WHEN abs(v[{d}]) = mm THEN {j + 1}" for j, d in enumerate(dims)
        )
        + " END"
    )
    return f"""
WITH c0 AS (
    SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v,
           {key} AS bucket
    FROM embeddings
),
c1 AS (SELECT *, {least} AS mm FROM c0),
c AS (SELECT id, label, v, bucket, {argmin} AS fp FROM c1),
pr AS (
    SELECT id, label, v, bucket FROM c
    UNION ALL
    SELECT id, label, v,
           substr(bucket, 1, fp - 1)
           || (CASE WHEN substr(bucket, fp, 1) = '1' THEN '0' ELSE '1' END)
           || substr(bucket, fp + 1) AS bucket
    FROM c
),
bs AS (SELECT bucket, COUNT(*) AS cnt FROM c GROUP BY bucket),
p AS (
    SELECT a.id AS ia, a.label AS la, b.label AS lb, b.id AS ib,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM pr a JOIN c b ON a.bucket = b.bucket AND a.id <> b.id
    JOIN bs ON bs.bucket = b.bucket AND bs.cnt <= 1000
),
r AS (
    SELECT ia, la, lb, ib,
           row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rk
    FROM p
),
agg AS (
    SELECT ia, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           round(CAST(SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS agreement
    FROM r WHERE rk <= 5 GROUP BY ia
)
SELECT c.id AS vec_id, c.label,
       COALESCE(agg.n_neighbors, CAST(0 AS BIGINT)) AS n_neighbors,
       agg.agreement
FROM c LEFT JOIN agg ON c.id = agg.ia
"""


@register("knn_label_noise", _knn_label_noise_sql)
def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit over the embeddings table: per-vector kNN
    label agreement (``llm.similarity.knn_label_agreement``) — the
    fraction of each vector's 5 nearest neighbors sharing its label,
    the deep-kNN / Confident-Learning-shaped screen a pipeline runs
    before trusting a labeled corpus (low-agreement rows are the
    mislabel / out-of-distribution quarantine feed).  2-probe: each
    vector also searches the adjacent sign-cell flipping its
    smallest-margin plane bit, so plane-straddling vectors — exactly
    the borderline rows the audit targets — see their true neighbors
    (single-probe's known bias; the oracle replays the probe rule).
    Raw read: the cell-key groupBy distributes everything downstream,
    and the corpus count that sizes the quantizer comes from parquet
    footer metadata (zero extra jobs)."""
    from .llm.similarity import knn_label_agreement

    emb = _read(spark, sf_dir, "embeddings")
    return knn_label_agreement(
        emb, k=5, corpus_count=table_rows_meta(sf_dir, "embeddings"), probes=2
    )


def _embedding_outliers_sql() -> str:
    """Lazily-resolved oracle for the intra-cluster outlier ranking:
    the shared sampled-Lloyd replay (``_kmeans_cte`` — identical
    init/tie-break/round-6 rules at the corpus-scaled k), then each
    vector's round-6 Euclidean distance to its final centroid and the
    per-cell farthest-first rank."""
    from .driver_queries import oracle_table_rows
    from .llm.embeddings import auto_semdedup_clusters

    k = auto_semdedup_clusters(oracle_table_rows("embeddings"))
    cents_final = "c3"
    return f"""{_kmeans_cte(k, 3, sample_mod=2)}
SELECT vec_id, cid, dist, cell_rank FROM (
    SELECT a.vec_id, a.cid,
           round(sqrt({_lloyd_dist2('a.v', 'f.c')}), 6) AS dist,
           ROW_NUMBER() OVER (
               PARTITION BY a.cid
               ORDER BY round(sqrt({_lloyd_dist2('a.v', 'f.c')}), 6) DESC,
                        a.vec_id
           ) AS cell_rank
    FROM asg a JOIN {cents_final} f USING (cid)
)
"""


@register("embedding_outliers", _embedding_outliers_sql)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier audit over the embeddings table
    (``llm.embeddings.embedding_outlier_ranks``) — the pruning
    complement of SemDeDup: per-cell farthest-first ranking of every
    vector's distance to its learned centroid, the screen that
    quarantines junk / OOD / encoder-failure rows in embedding-based
    curation.  Corpus-scaled k (~sqrt N), training on a 1/2 md5-hash
    sample (the 100-TB shape), corpus count from parquet footers
    (zero extra jobs)."""
    from .llm.embeddings import auto_semdedup_clusters, embedding_outlier_ranks

    n = table_rows_meta(sf_dir, "embeddings")
    return embedding_outlier_ranks(
        _read_spread(spark, sf_dir, "embeddings"),
        n_clusters=auto_semdedup_clusters(n),
        sample_mod=2,
    )


def _audit_quarantine_curate_sql() -> str:
    """Lazily-resolved oracle for the audit->quarantine->curate
    capstone: the three audit oracles (constraint violations, 2-probe
    kNN label noise, intra-cluster outliers) embedded verbatim as
    derived tables, their flagged ids folded to one quarantine
    relation (sorted-csv reasons), and the flagship curation chain
    (quality filter -> exact keep-min dedup -> hash split) replayed
    over the NON-quarantined documents only."""
    from .driver_queries import _CONSTRAINT_VIOLATIONS_SQL

    return f"""
WITH viol AS (
    SELECT DISTINCT doc_id, 'constraint' AS reason
    FROM ({_CONSTRAINT_VIOLATIONS_SQL}) v
),
noise AS (
    SELECT vec_id AS doc_id, 'label_noise' AS reason
    FROM ({_knn_label_noise_sql()}) n
    WHERE n_neighbors >= 3 AND agreement <= 0.2
),
outl AS (
    SELECT vec_id AS doc_id, 'outlier' AS reason
    FROM ({_embedding_outliers_sql()}) o
    WHERE cell_rank = 1
),
quar AS (
    SELECT doc_id,
           string_agg(DISTINCT reason, ',' ORDER BY reason) AS reason
    FROM (SELECT * FROM viol UNION ALL SELECT * FROM noise
          UNION ALL SELECT * FROM outl) u
    GROUP BY doc_id
),
clean AS (
    SELECT d.* FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM quar)
),
scored AS (
    SELECT doc_id, text,
           least(len({_TOKS}) / 100.0, 1.0) * 0.4
           + (CAST(len(list_filter({_TOKS}, t -> lower(t) IN ({_STOP_LIST}))) AS DOUBLE)
              / greatest(len({_TOKS}), 1)) * 0.3
           + 1.0 / (1.0 + (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)) * 10.0) * 0.3
               AS quality_score
    FROM clean
),
quality AS (SELECT * FROM scored WHERE quality_score >= 0.4),
deduped AS (
    SELECT * FROM quality
    WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(text))
)
SELECT doc_id, 'quarantined' AS disposition, reason,
       CAST(NULL AS DOUBLE) AS quality_score,
       CAST(NULL AS VARCHAR) AS split
FROM quar
UNION ALL
SELECT doc_id, 'kept', CAST(NULL AS VARCHAR),
       round(quality_score, 6),
       CASE WHEN {md5_long_sql("'split' || CAST(doc_id AS VARCHAR)")} % 1000000 < 900000
            THEN 'train'
            WHEN {md5_long_sql("'split' || CAST(doc_id AS VARCHAR)")} % 1000000 < 950000
            THEN 'val'
            ELSE 'test' END
FROM deduped
"""


# Row bound under which the audit capstone may localCheckpoint the
# shared embeddings relation: the checkpoint lands on NON-reliable
# executor-local disk, so it must provably fit (at ~0.5 KB/row for a
# 64-dim double embedding + label this is ~25 GB) and the job must
# tolerate its loss-on-executor-failure blast radius.  Above the bound
# the two audit consumers re-scan the columnar source instead —
# strictly safer, and only one extra parquet scan.
_AUDIT_CHECKPOINT_ROWS = 50_000_000


@register("audit_quarantine_curate", _audit_quarantine_curate_sql)
def q_audit_quarantine_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the audit family wired into the curation chain as a
    quarantine stage — the audit -> quarantine -> curate shape a real
    training-data pipeline runs before a corpus snapshot is blessed.

    Stage 1 (audit): declarative row-level constraint violations on
    ``documents`` (``ops.constraints``), 2-probe kNN label-noise
    screening (confident disagreement: >=3 neighbors, agreement
    <=0.2) and intra-cluster centroid-distance outliers (per-cell
    farthest member) on ``embeddings`` (1:1 with documents by id).
    Stage 2 (quarantine): flagged ids fold to one relation carrying a
    sorted-csv reason set; the corpus anti-joins it (broadcast — the
    quarantine is audit-sized, never corpus-sized).  Stage 3
    (curate): the flagship chain (quality filter -> exact keep-min
    dedup -> deterministic hash split) runs over the clean remainder
    only.

    Output is total over dispositions: one 'quarantined' row per
    flagged id (reason, NULL score/split) plus one 'kept' row per
    curated survivor (score + split); quality/dup drops vanish as in
    ``corpus_curate``.  Scale shape: each audit keeps its own plan
    (single-exchange kNN cells, broadcast centroid map pass, one-scan
    constraint fuse); the only new wiring is the model-sized
    reason-fold groupBy and the broadcast anti-join."""
    from pyspark.sql import Window

    from .llm.embeddings import auto_semdedup_clusters, embedding_outlier_ranks
    from .llm.sampling import hash_split
    from .llm.similarity import knn_label_agreement
    from .ops.constraints import (
        AcceptedValues,
        Check,
        NotNull,
        InRange,
        constraint_violations,
    )

    docs = _read_spread(spark, sf_dir, "documents")
    n_emb = table_rows_meta(sf_dir, "embeddings")
    # Both embedding audits (kNN label noise, centroid outliers)
    # consume the same (vec_id, label, v) relation; a lazy checkpoint
    # materializes the scan once for the pair (the
    # jaccard_prefix_pairs shared-scan pattern).  The checkpoint is
    # corpus-sized and lives on NON-reliable executor-local disk, so
    # it is gated on footer metadata like every other adaptive choice:
    # above the bound the audits simply re-scan the source (columnar
    # parquet reads twice beat one local-disk spill that may not fit
    # and dies with any executor).
    emb = _read_spread(spark, sf_dir, "embeddings")
    if n_emb <= _AUDIT_CHECKPOINT_ROWS:
        emb = emb.localCheckpoint(eager=False)

    # The outlier audit's coarse quantizer is a PERSISTED model (the
    # ann_index_persisted ensure-gate): the ~N/2-sample Lloyd training
    # was the dominant fixed cost of every audit run, and it only
    # changes when the corpus does.  Warm calls pay one exact
    # corpus-fingerprint aggregate instead; training is deterministic,
    # so the stored centroids are bit-identical to training in place
    # and the DuckDB oracle keeps replaying the training from SQL.
    #
    # The ensure job runs on a DRIVER THREAD while the constraint and
    # kNN plans build below (guide-§2.6 overlap: actions are only
    # sequential because the driver calls them sequentially).  The
    # fingerprint aggregate is the first rung of the call's serial job
    # ladder and nothing before the outlier branch needs its result —
    # joined exactly where the centroids become plan inputs.  Spark
    # job state (descriptions, groups) is thread-local, so the
    # concurrent job cannot leak into the caller's.
    import os
    import tempfile
    import uuid
    from concurrent.futures import ThreadPoolExecutor, wait

    from .llm.similarity import ensure_centroid_model

    model_root = os.path.join(
        tempfile.gettempdir(),
        "dax_ppdb_spark_audit_quantizer",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    # Every job the pool thread launches carries ``tag``: an error
    # path cancels them until the thread is idle, then joins it, so no
    # pool thread or Spark job outlives the call.
    sc = spark.sparkContext
    tag = f"audit-quarantine-{uuid.uuid4().hex}"

    def tagged(fn, *args, **kwargs):
        sc.addJobTag(tag)
        try:
            return fn(*args, **kwargs)
        finally:
            sc.removeJobTag(tag)

    pool = ThreadPoolExecutor(max_workers=1)
    cents_fut = quar_fut = None
    try:
        cents_fut = pool.submit(
            tagged,
            ensure_centroid_model,
            emb,
            model_root,
            n_clusters=auto_semdedup_clusters(n_emb),
            iters=3,
            sample_mod=2,
        )

        rules = [
            AcceptedValues("lang", ("en", "zh", "es")),
            InRange("n_chars", 1, 500),
            Check("n_chars_consistent", "length(text) = n_chars"),
            NotNull("text"),
        ]
        viol = (
            constraint_violations(docs, rules, ["doc_id"])
            .select("doc_id", F.lit("constraint").alias("reason"))
            .distinct()
        )
        noise = (
            knn_label_agreement(emb, k=5, corpus_count=n_emb, probes=2)
            .filter((F.col("n_neighbors") >= 3) & (F.col("agreement") <= 0.2))
            .select(F.col("vec_id").alias("doc_id"), F.lit("label_noise").alias("reason"))
        )
        cents = cents_fut.result()
        outl = (
            embedding_outlier_ranks(emb, sample_mod=2, centroids=cents)
            .filter(F.col("cell_rank") == 1)
            .select(F.col("vec_id").alias("doc_id"), F.lit("outlier").alias("reason"))
        )
        # The quarantine relation feeds TWO consumers — the broadcast
        # anti-join under the curation chain AND the 'quarantined' side of
        # the final union.  Without a checkpoint the whole audit subtree
        # (kNN cell exchange, Lloyd assignment, constraint scan) re-runs
        # once per consumer; the checkpoint is audit-sized (flagged ids
        # only), so it stays O(flagged) at any corpus scale.  The
        # checkpoint call truncates the plan to a leaf the moment it is
        # built (a LogicalRDD, eager or not — without it the audit DAG
        # rides inside the logical plan of every one of the ~10 downstream
        # curation steps and per-transformation analysis re-walks it each
        # time, measured 3.5 s/call at sf0.1), and the audit JOB — the
        # second rung of the call's serial job ladder — runs on the pool
        # thread WHILE those downstream plans build (guide §2.6), joined
        # before the DataFrame is handed back so the caller never races
        # the materialization.
        quar = (
            viol.unionByName(noise)
            .unionByName(outl)
            .groupBy("doc_id")
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_set("reason"))).alias("reason")
            )
            .localCheckpoint(eager=False)
        )
        quar_fut = pool.submit(tagged, quar.count)
        clean = docs.join(F.broadcast(quar.select("doc_id")), "doc_id", "left_anti")
        quality = clean.withColumn(
            "quality_score", quality_metrics(F.col("text"))["quality_score"]
        ).filter(F.col("quality_score") >= 0.4)
        w = Window.partitionBy(F.md5("text"))
        deduped = (
            quality.withColumn("__keep", F.min("doc_id").over(w) == F.col("doc_id"))
            .filter(F.col("__keep"))
            .drop("__keep")
        )
        kept = hash_split(deduped).select(
            "doc_id",
            F.lit("kept").alias("disposition"),
            F.lit(None).cast("string").alias("reason"),
            F.round("quality_score", 6).alias("quality_score"),
            "split",
        )
        quarantined = quar.select(
            "doc_id",
            F.lit("quarantined").alias("disposition"),
            "reason",
            F.lit(None).cast("double").alias("quality_score"),
            F.lit(None).cast("string").alias("split"),
        )
        quar_fut.result()
    finally:
        pool.shutdown(wait=False, cancel_futures=True)
        pending = [f for f in (cents_fut, quar_fut) if f is not None and not f.done()]
        while pending:
            sc.cancelJobsWithTag(tag)
            pending = wait(pending, timeout=1).not_done
        pool.shutdown(wait=True)
    return quarantined.unionByName(kept)
