"""Distributed connected components — the graph operator Spark core
lacks (GraphFrames lives outside the base distribution).

Near-duplicate *pairs* are only half of a dedup pipeline: to actually
drop duplicates you must group pairs into clusters and keep one
representative per cluster.  Transitive closure is a graph problem, and
at corpus scale the graph (one node per document, one edge per
candidate pair) does not fit on the driver.

The implementation is the alternating **large-star / small-star**
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): each round is two shuffle-bounded DataFrame
aggregations that monotonically re-wire edges toward each component's
minimum node id, converging in O(log n) rounds on any graph shape —
unlike plain min-label propagation, whose round count is the graph
*diameter* (a 1M-doc chain of pairwise near-dups would need 1M
propagation rounds but only ~20 star rounds).

Scale notes:
- Per round the edge set only shrinks or re-targets; shuffle volume is
  O(|E|) per round with map-side combine on the groupBys.
- The convergence probe is a driver-side count comparison (two longs
  per round), not a data collect.
- Hot nodes (a boilerplate document near-dup to millions) concentrate
  into one group key; that is ordinary agg skew — AQE splits it, and
  upstream `max_bucket` caps in the LSH stage bound it structurally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df

__all__ = ["connected_components"]


def _materialize(df: DataFrame) -> DataFrame:
    """Arrange for ``df`` to be computed once and its lineage truncated.

    Each star round references its input DataFrame 2-4 times (the
    neighborhood-min join), so carrying lineage across rounds grows the
    logical plan *exponentially* — by round ~10 the driver OOMs just
    materializing the plan tree.  Checkpointing resets the plan to a
    scan of the materialized blocks, keeping every round's plan O(1).
    Uses the reliable checkpoint dir when the caller configured one
    (survives executor loss on a real cluster; eager, since a lazy
    reliable checkpoint recomputes the RDD in a second job); local
    checkpoint otherwise, LAZY so the caller's immediately-following
    fingerprint action materializes the blocks in the same Spark job —
    one job per round instead of two.
    """
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint(eager=False)


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both orientations of each edge.

    Precondition (held by every call site): ``edges`` is distinct and
    canonically oriented ``src > dst`` — so the union of the two
    orientations is already duplicate- and self-loop-free, and no
    distinct shuffle is needed here.
    """
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to the minimum of u's
    closed neighborhood: emit (v, m) for v in N(u), v > u, where
    m = min(N(u) + {u}).  Neighborhoods are undirected, so the input
    is symmetrized here regardless of its orientation."""
    sym = _symmetric(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    # No trailing distinct: the small-star stage that always follows
    # canonicalizes + distincts first thing, so deduping here would be
    # a redundant shuffle of the same rows.
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large->small, then connect every smaller
    neighbor (and u itself) to the minimum: for u with smaller
    neighbors N, m = min(N), emit (u, m) and (v, m) for v in N-{m}."""
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    to_u = mins.select(F.col("src"), F.col("m").alias("dst"))
    to_v = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return to_u.unionByName(to_v).distinct()


def _driver_components(spark, pdf, node_type: str) -> DataFrame:
    """Min-root union-find over an edge set already on the driver —
    the hybrid fast path for graphs the size probe measured as tiny
    (the usual case: LSH-capped near-dup edges are a sliver of the
    corpus).

    The count fingerprint that decides the lane has already
    materialized the checkpointed edge blocks, so collecting them and
    running the union-find HERE costs one cheap cached read: the star
    loop would pay
    ~log(n) rounds of 3-4 shuffle stages each plus a driver
    convergence probe per round, and the earlier executor variant
    (``coalesce(1).mapInPandas``) still paid a Python-worker stage
    with no parallelism in it.  Same (node, min-id component) output,
    same determinism (depends only on the edge *set* — duplicate or
    reordered edges union identically, and the min-id root rule keeps
    each tree's root at the component minimum throughout).  As a local
    relation the result also broadcasts into downstream joins at plan
    time instead of riding a one-partition shuffle.

    Type-preserving like the star path: node ids may be any orderable
    type (long doc ids, string content hashes) — the output schema
    mirrors the edge column type and values are never coerced (the
    collected longs/strings go into an Arrow local relation as they
    are, and Python's code-point string order equals Spark's UTF-8
    binary order, so the min-id labels match the executor lanes
    exactly).
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root so the final label IS the component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return local_df(
        spark,
        [(n, find(n)) for n in sorted(parent)],
        f"node {node_type}, component {node_type}",
    )


# Deduped edge counts up to this bound label components on the driver
# (:func:`_driver_components`); bigger graphs run the star rounds.  The
# measurements that pin it are in :func:`connected_components`.
LOCAL_COMPONENT_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Component assignment for every node appearing in ``edges``.

    Returns ``(node, component)`` where ``component`` is the smallest
    node id in the node's connected component.  Isolated nodes never
    appear in an edge list, so callers join the result back to their
    entity table and ``coalesce`` to the node's own id.

    Hybrid execution: the deduped edge count (the one-job fingerprint
    probe the star loop needs anyway) picks the strategy — at or below
    :data:`LOCAL_COMPONENT_EDGES` the materialized blocks collect to
    the driver and a union-find labels them there
    (:func:`_driver_components`); above it, the large-star/small-star
    rounds.  Both produce identical output.

    Measured at a7170d3 on a 4-vCPU host, local[4], min of 2 runs on
    synthetic graphs of 8-node chains plus one 1,000-link chain: the
    driver lane takes 1.56 s at 10k edges (star rounds 18.49 s), 2.04 s
    at 100k (19.93 s) and 14.30 s at 1M (78.13 s).  On the registry's
    ``dedup_clusters`` at sf0.1, 5 alternating pairs: driver lane
    median 5.98 s (IQR 1.55), star rounds 8.29 s, slower in 5 of 5.
    The bound stays at 1M although the star rounds are still 5x slower
    there: a 1M-edge union-find dict is already some 200-400 MB of
    Python heap on the driver.

    Deterministic: output depends only on the edge *set*.  Raises if
    the star rounds have not converged after ``max_iterations`` (at
    O(log n) convergence, 30 rounds covers any realistic graph).
    """
    # Canonical large->small orientation; the loop state is always the
    # small-star output in this same orientation, so successive-state
    # equality is a valid fixpoint test.
    def _fingerprint(df: DataFrame) -> tuple[int, int]:
        """(count, order-insensitive checksum) in ONE job over the
        already-materialized blocks — the cheap per-round convergence
        probe.  Matching fingerprints are *confirmed* with an exact
        set comparison before declaring a fixpoint, so a checksum
        collision can cost one wasted comparison but never a wrong
        answer."""
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            # XOR, not SUM: order-insensitive like sum but cannot
            # overflow under ANSI arithmetic (edge rows are distinct,
            # so no two rows cancel each other).
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    # The candidate-pair graphs this feeds on are usually TINY relative
    # to the corpus (LSH-capped near-dup edges).  Once the measured
    # edge count — already on the driver from the fingerprint probe, no
    # data collected — fits comfortably in one task, squeeze the loop
    # state to a single partition: every star round is 3-4 shuffle
    # stages, and at 32 inherited partitions each stage pays ~32 task
    # launches for microscopic splits.  Same decision AQE makes between
    # stages; doing it on the loop state makes EVERY later round cheap.
    # Big graphs (count above the threshold) keep full parallelism.
    one_task_edges = 100_000

    def _squeeze(df: DataFrame, count: int) -> DataFrame:
        return df.coalesce(1) if count <= one_task_edges else df

    cur = _materialize(
        edges.select(
            F.greatest(src, dst).alias("src"), F.least(src, dst).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    cur_fp = _fingerprint(cur)
    if cur_fp[0] == 0:
        # No edges at all: every node is isolated; return the empty
        # mapping without paying any star rounds.
        return cur.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        )
    if cur_fp[0] <= LOCAL_COMPONENT_EDGES:
        # The fingerprint already materialized the checkpoint blocks,
        # so this collect is a cheap cached read (~16 MB of (src, dst)
        # pairs at the 1M bound — model-sized, like every trainer
        # collect).  NOT a limit() probe: CollectLimit's incremental
        # take (1, 4, 16... partitions) re-runs the pair pipeline's
        # reduce stages once per escalation on a lazily-checkpointed
        # input — measured 1.9 s -> 6.2 s build on dedup_clusters.
        # node type from the COMPUTED frame, not the caller's src
        # column: greatest/least(src, dst) type-coerces when the two
        # dtypes differ, and createDataFrame's declared schema must
        # match the collected values (the old _local_components read
        # the type from the computed frame for the same reason).
        return _driver_components(
            edges.sparkSession,
            cur.toPandas(),
            cur.schema["src"].dataType.simpleString(),
        )
    cur = _squeeze(cur, cur_fp[0])
    # Same metadata-driven sizing for the rounds' SHUFFLES: each star
    # round is 4-5 shuffle stages, and on a small graph 32-partition
    # exchanges pay 32 task launches per stage for splits of a few KB.
    # The narrowed shuffle-partition count lives in a CLONED session
    # (own SQLConf, shared SparkContext) — the caller's session conf
    # is never touched, so concurrent queries (including another CC
    # call on a big graph) keep their parallelism; loop state crosses
    # sessions zero-copy through uuid-named global temp views over the
    # checkpointed blocks.  Big graphs run the loop in the caller's
    # session untouched.
    import uuid as _uuid

    session = edges.sparkSession
    views: list[str] = []

    def _to_session(df: DataFrame, target) -> DataFrame:
        name = f"cc_state_{_uuid.uuid4().hex}"
        df.createOrReplaceGlobalTempView(name)
        views.append(name)
        return target.table(f"global_temp.{name}")

    exec_spark = session
    if cur_fp[0] <= one_task_edges:
        exec_spark = session.newSession()
        exec_spark.conf.set("spark.sql.shuffle.partitions", "4")
        cur = _to_session(cur, exec_spark)
    converged = False
    try:
        for _ in range(max_iterations):
            nxt = _materialize(_small_star(_large_star(cur)))
            nxt_fp = _fingerprint(nxt)
            if nxt_fp == cur_fp and nxt.exceptAll(cur).isEmpty():
                converged = True
                break
            cur, cur_fp = _squeeze(nxt, nxt_fp[0]), nxt_fp
        if exec_spark is not session:
            # Bring the fixpoint home: materialize the (small by
            # construction) final state under the caller's session so
            # the returned plan joins freely with caller DataFrames
            # and no view outlives this call.
            cur = _to_session(cur, session).localCheckpoint(eager=True)
    finally:
        for name in views:
            session.catalog.dropGlobalTempView(name)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # Fixpoint edges are stars oriented child->root; each child's only
    # neighbor is its root, and each root's neighbors are all larger.
    # ``cur`` is checkpointed, so this reads materialized blocks, not
    # the iteration lineage.
    sym = _symmetric(cur)
    return sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("component")
    ).select(F.col("src").alias("node"), "component")
