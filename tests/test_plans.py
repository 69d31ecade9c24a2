"""Physical-plan audit: the properties that matter at 100 TB.

Asserts, for the registered driver queries, that:
- filters reach the parquet scan (``PushedFilters``) and projections
  prune the read schema;
- small build sides broadcast (semi/anti joins never shuffle the big
  probe side);
- no row-at-a-time Python UDF (``BatchEvalPython``) appears anywhere —
  only Arrow-batched evaluation is acceptable, and only in the
  explicitly-Pandas multimodal path;
- no driver-built relation scans a pickled Python RDD: those run
  Python-worker tasks, where an Arrow local relation runs none.

These are regression guards: a refactor that silently turns a
broadcast prune into a shuffled join, or drops a pushed filter, fails
here long before it would show up as a bench regression.
"""

from __future__ import annotations

import pytest

from dax_ppdb_spark import driver_queries


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def python_rdd_scans(df) -> list[str]:
    """The RDD scans of ``df``'s plan (subqueries included) whose
    lineage holds a ``PythonRDD`` — a list-built ``createDataFrame``
    or an RDD mapped in Python.  A ``localCheckpoint`` of a JVM plan
    also scans an RDD, but runs no Python task."""
    plan = df._jdf.queryExecution().analyzed()
    plans = [plan]
    subs = plan.subqueriesAll().iterator()
    while subs.hasNext():
        plans.append(subs.next())
    found = []
    for p in plans:
        leaves = p.collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            seen, stack = set(), [leaf.rdd()]
            while stack:
                rdd = stack.pop()
                if rdd.id() in seen:
                    continue
                seen.add(rdd.id())
                if rdd.getClass().getSimpleName() == "PythonRDD":
                    found.append(leaf.simpleString(10))
                    break
                deps = rdd.dependencies().iterator()
                while deps.hasNext():
                    stack.append(deps.next().rdd())
    return found


@pytest.fixture(scope="module")
def registry():
    # all_queries: plan pins cover the driver-folded twins too
    return driver_queries.all_queries()


@pytest.fixture(scope="module")
def registry_walk(spark, sf_dir, registry):
    """Every registry query built once: ``{name: (plan, python_rdd_scans)}``."""
    walk = {}
    for name, fn in registry.items():
        df = fn(spark, sf_dir)
        walk[name] = (plan_of(df), python_rdd_scans(df))
    return walk


def test_ledger_scan_pushes_range_filter(spark, sf_dir, registry):
    plan = plan_of(registry["ledger_scan"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderkey" in plan


def test_semi_prune_broadcasts_build_side(spark, sf_dir, registry):
    plan = plan_of(registry["semi_prune"](spark, sf_dir))
    assert "BroadcastHashJoin LeftSemi" in plan
    # the probe side must not be exchanged before the join
    probe = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning(l_orderkey" not in probe


def test_replication_diff_is_broadcast_anti_join(spark, sf_dir, registry):
    plan = plan_of(registry["replication_diff"](spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_scan_schema_is_pruned(spark, sf_dir, registry):
    plan = plan_of(registry["distinct_ids"](spark, sf_dir))
    # distinct over one column must read exactly that column
    for line in plan.splitlines():
        if line.startswith("ReadSchema"):
            assert line.count(":") <= 3, line  # struct<one field>
            assert "o_custkey" in line


def test_no_row_python_udfs_anywhere(registry_walk):
    for name, (plan, _) in registry_walk.items():
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
        if "ArrowEvalPython" in plan or "MapInPandas" in plan or "MapInArrow" in plan:
            # Arrow-batched Python is allowed in exactly three places:
            # the multimodal codec path (inherently Python), the
            # connected-components local fast path (single-task
            # union-find, fires only under the measured size
            # threshold; the distributed star rounds are pure SQL) —
            # which both cluster-consuming queries inherit — and
            # semdedup's Arrow assignment and grouped Arrow pair stage
            # (bit-replayed NumPy over whole batches, pinned against a
            # reference built from the interpreted primitives).
            assert name.startswith("multimodal") or name in (
                "dedup_clusters",
                "dedup_keep_best",
                "leak_safe_split",
                "semdedup",
                "semdedup_flat",
            ), f"{name} uses Pandas evaluation outside the allowed paths"


def test_no_python_rdd_scans_anywhere(registry_walk):
    """Driver-built relations are Arrow local relations
    (``session.local_df``): a scan over a Python RDD costs a
    Python-worker task per slice.  ``localCheckpoint`` scans stay
    allowed (``lm_score`` and ``column_histograms`` pin theirs)."""
    bad = {name: scans for name, (_, scans) in registry_walk.items() if scans}
    assert not bad, f"queries scanning a Python RDD: {bad}"
    for name in ("ann_topk_ivfpq", "url_block_filter"):
        assert "LocalTableScan" in registry_walk[name][0], name


def test_semdedup_rows_take_the_raw_read(registry_walk):
    """The SemDeDup Arrow assignment runs on the raw read: a
    round-robin spread below it would fan it out to one Python-worker
    task per core; the ``groupBy("cid")`` exchange spreads the pair
    stage."""
    for name in ("semdedup", "semdedup_flat"):
        plan = registry_walk[name][0]
        assert "MapInArrow" in plan, name
        assert "RoundRobinPartitioning" not in plan, name


def test_validity_fill_single_window_exchange(spark, sf_dir, registry):
    """The SCD-2 fill shuffles once on the partition key; a second
    hash exchange would mean the window spec and the write layout
    disagree."""
    plan = plan_of(registry["validity_fill"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ann_queries_broadcast_query_side(spark, sf_dir, registry):
    for name in (
        "ann_topk_bruteforce",
        "ann_topk_ivf",
        "ann_topk_multiprobe",
        "ann_topk_ivf_sq8",
        "ann_topk_pq",
        "ann_topk_ivfpq",
    ):
        plan = plan_of(registry[name](spark, sf_dir))
        assert "BroadcastExchange" in plan, f"{name}: query side not broadcast"
        # corpus must not hash-shuffle before the join
        probe = plan.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in probe, f"{name}: corpus shuffled"


def test_sessionize_single_shuffle(spark, sf_dir, registry):
    """lag-window, cumsum-window, and the session aggregation all key
    on user_id: one exchange must serve all three."""
    plan = plan_of(registry["sessionize"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_multiway_join_broadcasts_all_dims(spark, sf_dir, registry):
    """Q5-shaped join tree: four broadcast hash joins, and the fact
    side reaches the partial aggregation without a single shuffle."""
    plan = plan_of(registry["revenue_by_nation"](spark, sf_dir))
    # formatted explain prints each node twice (tree + detail)
    assert plan.count("BroadcastHashJoin") == 8
    assert "SortMergeJoin" not in plan
    before_first_broadcast = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in before_first_broadcast


def test_cone_search_sorted_prunes_storage(spark, sf_dir, registry):
    """The stored-clustering cone search must show BOTH pruning layers:
    partition pruning on the coarse geo_cell and geo_point range
    predicates pushed into the parquet scan (row-group skipping)."""
    plan = plan_of(registry["cone_search_sorted"](spark, sf_dir))
    assert "PartitionFilters" in plan and "geo_cell" in plan
    assert "GreaterThanOrEqual(geo_point" in plan
    assert "LessThan(geo_point" in plan


def test_range_join_has_no_nested_loop(spark, sf_dir, registry):
    """The bucketed range join must hash-join on the bucket id — a
    BETWEEN theta-join would appear as BroadcastNestedLoopJoin and
    do O(P x I) compares."""
    plan = plan_of(registry["range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_crossmatch_is_hash_join(spark, sf_dir, registry):
    """Crossmatch must equi-join on the grid pair, never nested-loop
    over the catalogs."""
    plan = plan_of(registry["crossmatch"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must sort-merge join with
    zero Exchange nodes — the write-once-shuffle-never contract that
    makes repeated fact-to-fact joins viable at 100 TB."""
    from dax_ppdb_spark.io.bucketed import write_bucketed

    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "t_bucket_a", "k", 8)
    write_bucketed(b, "t_bucket_b", "k", 8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
            plan = plan_of(joined)
            assert "Exchange" not in plan
            assert joined.count() == 10_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir, registry):
    """The as-of join is a union-merge window: both sides shuffle ONCE
    on the key and the nearest right row rides a last(ignorenulls)
    frame.  A Join node (the old equi-join + max_by shape) would mean
    per-key candidate pairs materialize again — the plan that grew
    5.7x under 10x data."""
    plan = plan_of(registry["asof_attribution"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_lm_score_tokenizes_corpus_once(spark, sf_dir, registry):
    """Model fit and per-doc scoring must share ONE materialized
    (doc, token, count) relation: a Generate (explode) node in the
    final plan means a branch re-tokenizes the corpus — the diverged
    lineage Spark re-executes per branch."""
    plan = plan_of(registry["lm_score"](spark, sf_dir))
    assert "Generate" not in plan
    assert "ExistingRDD" in plan  # the shared checkpointed token relation


def test_corpus_curate_single_shuffle_no_join(spark, sf_dir, registry):
    """The curation composition dedups via min-over-window on the
    md5(text) partitioning — one shuffle, no join-back, and the
    tokenize-heavy quality lineage evaluated once."""
    plan = plan_of(registry["corpus_curate"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_audit_quarantine_curate_broadcast_quarantine(spark, sf_dir, registry):
    """The capstone's quarantine must anti-join the corpus as a
    BROADCAST (the quarantine is audit-sized, never corpus-sized) —
    a shuffled anti-join would re-exchange the whole documents table
    for a model-sized id list.  No cartesian anywhere, and the kNN
    audit's zero-join property survives the composition (the only
    Join nodes are the broadcast anti-join and the audits' own
    broadcast model joins)."""
    plan = plan_of(registry["audit_quarantine_curate"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # every join in the composition is a broadcast build — no
    # shuffle-weight join shape anywhere, so the anti-join (the only
    # LeftAnti) is necessarily the broadcast one
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_column_histograms_codegen_unpivot_no_hof(spark, sf_dir, registry):
    """Histogram cost shape: the unpivot is explode-of-structs
    (GenerateExec codegens explode; stack is interpreted), cut
    derivation and bucket assignment both ride the checkpointed
    per-value count relation (InMemory/checkpoint scan — never a
    second corpus scan), the per-cell cumsum windows are
    cell-partitioned (no per-column single partition), and bucket
    assignment is an explicit comparison sum (no interpreted
    ArrayFilter lambda in the hot path)."""
    plan = plan_of(registry["column_histograms"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    # the explode+groupBy ran once, eagerly, in the checkpoint job;
    # the returned plan must read ONLY the checkpointed count
    # relation — a parquet scan here would mean a pass re-reads the
    # corpus
    assert tree.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in tree
    assert "array_filter" not in plan.lower()
    assert "BatchEvalPython" not in plan


def test_count_anomalies_two_exchanges(spark, sf_dir, registry):
    """The volume monitor reduces the corpus with ONE map-side-combined
    groupBy and runs its trailing-window statistics over the
    model-sized count series only: one hashpartitioning exchange (the
    bucket groupBy) + the single-partition window exchange — nothing
    else touches the events table."""
    plan = plan_of(registry["count_anomalies"](spark, sf_dir))
    hashes = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hashes) == 1, hashes
    assert "SinglePartition" in plan  # the series window
    assert "BatchEvalPython" not in plan


def test_neardup_verify_joins_broadcast_pair_side(spark, sf_dir, registry):
    """The text verify-stage joins must broadcast the (small,
    LSH-sparse) candidate side, never the corpus text table: without
    the explicit hint Spark picked BuildRight on the second join and
    shipped the whole corpus to every executor (measured 3x
    wall-clock at 10x sf0.1).  The embedding variant is deliberately
    NOT pinned: its candidate set is quadratic in bucket occupancy,
    so the strategy is left to AQE's runtime sizes (a forced
    broadcast OOMs when the plane count lags the corpus).  The
    incremental form's batch-vs-corpus band-key DISCOVERY join is
    also optimizer-chosen (an unconditional batch broadcast was an
    OOM hazard for large batches), so only the id-keyed verify joins
    are pinned here.  All four text-verified rows share one
    text-attach step, so all four must show it.

    The index probe's band-key semi-join is pinned too: a broadcast
    hash join that builds the batch-key side, with the index scan
    streaming into it unexchanged."""
    verify_keys = ("doc_a", "doc_b", "new_id", "corpus_id")
    for name in ("dedup_verified", "dedup_incremental", "dedup_edit", "dedup_index_probe"):
        df = registry[name](spark, sf_dir)
        simple = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        lines = simple.splitlines()
        pinned = 0
        for line in lines:
            if "BroadcastHashJoin" in line and any(
                f"[{k}#" in line for k in verify_keys
            ):
                assert "BuildLeft" in line, f"{name} broadcasts the corpus side: {line}"
                pinned += 1
        assert pinned >= 2, f"{name} lost its verify-stage broadcast joins"
        if name != "dedup_index_probe":
            continue
        # the index scan is the one Parquet scan reading band keys;
        # its nearest join ancestor must be the BuildRight band-key
        # join, with no Exchange on the path between them
        scan = next(
            i for i, li in enumerate(lines)
            if "FileScan parquet" in li and "key#" in li and "band#" in li
        )
        above = lines[:scan][::-1]
        join = next(li for li in above if "Join" in li)
        assert "BroadcastHashJoin [band#" in join and "BuildRight" in join, join
        path = above[: above.index(join)]
        assert not any("Exchange" in li for li in path), path


@pytest.mark.parametrize("qname", ["semdedup", "semdedup_flat"])
def test_semdedup_is_equi_join_on_cell(spark, sf_dir, registry, qname):
    """SemDeDup's pair stage must be ONE grouped Arrow stage keyed by
    the cluster id — the pair fan-out is bounded by cell occupancy
    (corpus-derived level sizes + required cell cap), never an
    all-pairs scan, and no cell self-join shape comes back."""
    plan = plan_of(registry[qname](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # The ONLY nested-loop joins allowed are the one-row broadcast
    # centroid attaches (assign_cells ships the centroid table as a
    # single broadcast row of constant bytes).  A BNLJ's build side is
    # the one BroadcastExchange in IdentityBroadcastMode (hash joins
    # broadcast HashedRelations), so the audit is: every
    # IdentityBroadcastMode exchange carries the __cents column, and
    # their count equals the BNLJ count — a rogue all-pairs nested
    # loop would need an identity-mode build WITHOUT __cents.
    blocks = [b for b in plan.split("\n\n") if b.startswith("(")]
    bnlj = sum("BroadcastNestedLoopJoin" in b.splitlines()[0] for b in blocks)
    identity = [
        b
        for b in blocks
        if "BroadcastExchange" in b.splitlines()[0]
        and "IdentityBroadcastMode" in b
    ]
    for b in identity:
        assert "__cents" in b, b
    assert bnlj == len(identity), f"{bnlj} BNLJs vs {len(identity)} centroid builds"
    # ...and audit the BNLJ nodes THEMSELVES.  The count equality alone
    # had a blind spot — a rogue all-pairs nested loop paired with a
    # removed centroid build keeps the counts equal.  Every BNLJ must
    # be a centroid attach: either a condition referencing __cents, or
    # a condition-less Cross (the one-row broadcast attach — whose
    # build is one of the identity-mode __cents exchanges counted
    # above, so a rogue Cross would break the count equality).
    for b in blocks:
        if "BroadcastNestedLoopJoin" in b.splitlines()[0]:
            assert "__cents" in b or "Join condition: None" in b, (
                f"nested loop without centroid attach:\n{b}"
            )
    # The pair stage itself is the grouped Arrow stage on cid, fed by
    # one hash exchange on cid; no shuffled join on cid (the deleted
    # cell self-join shapes) may appear.
    groups = [b for b in blocks if "FlatMapGroupsInArrow" in b.splitlines()[0]]
    assert len(groups) == 1, groups
    assert "Arguments: [cid#" in groups[0], groups[0]
    assert "Arguments: hashpartitioning(cid#" in plan
    for b in blocks:
        head = b.splitlines()[0]
        if "SortMergeJoin" in head or "ShuffledHashJoin" in head:
            assert "keys [1]: [cid#" not in b, b


def test_dup_spans_no_cartesian_single_gram_shuffle(spark, sf_dir, registry):
    """The duplicated-span join is gram-equi (inverted index); a
    nested loop here would be O(docs x grams).  The qualifying grams
    must BROADCAST back onto the position explode (the wide relation
    never shuffles on gram), and the df pass must aggregate the
    positionless per-doc-distinct relation — so the only gram-keyed
    exchange is the df aggregation's."""
    plan = plan_of(registry["dup_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(gram") <= 1
    # 60-bit fingerprints: hash-equality stands in for value equality
    # here; the 32-bit window would birthday-collide at corpus scale.
    # The registered plan's lineage is truncated at the shared
    # fingerprint materialization (localCheckpoint), so the width is
    # pinned on the SAME relation built uncheckpointed.
    from dax_ppdb_spark.llm.dedup import _gram_fp_relation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp_plan = plan_of(
        _gram_fp_relation(docs, 5, "text", "doc_id", checkpoint=False)
    )
    assert "md5(" in fp_plan and ", 1, 15)" in fp_plan
    assert ", 1, 8)" not in fp_plan


def test_embedding_quantize_is_map_only(spark, sf_dir, registry):
    """int8 quantization must stay a pure scan-side map: no join, no
    hash shuffle, no Python evaluation — linear in bytes at any
    corpus size."""
    plan = plan_of(registry["embedding_quantize"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_model_broadcasts(spark, sf_dir, registry):
    """The DSIR scoring join must broadcast the fixed-size bucket
    model, never shuffle the (doc, bucket, count) relation by
    bucket."""
    plan = plan_of(registry["dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_search_filters_reach_doc_scan(spark, sf_dir, registry):
    """The metadata predicate must push into the documents scan, and
    the corpus restriction must be a semi join — the vector side
    carries ids only, never a cartesian."""
    plan = plan_of(registry["hybrid_search"](spark, sf_dir))
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_no_cartesian(spark, sf_dir, registry):
    plan = plan_of(registry["source_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_no_full_outer_shuffle(spark, sf_dir, registry):
    """MERGE upsert must not be a full-outer join: Spark cannot
    broadcast-build full outer, the hint is silently dropped, and the
    whole target shuffles.  The split form pins (a) a broadcast LEFT
    join for the update branch (zero target shuffle) and (b) an
    existence probe that reads ONLY the key column of the target."""
    plan = plan_of(registry["merge_upsert"](spark, sf_dir))
    assert "FullOuter" not in plan
    assert "BroadcastHashJoin LeftOuter" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def test_url_block_filter_is_broadcast_anti(spark, sf_dir, registry):
    """The blocklist must broadcast; the corpus side never exchanges."""
    plan = plan_of(registry["url_block_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_funnel_single_exchange(spark, sf_dir, registry):
    """Every funnel window and the final per-user aggregate must share
    one hashpartitioning(user_id) exchange."""
    plan = plan_of(registry["funnel"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan


def test_sequence_pack_default_is_two_phase(spark):
    """A partition-less Window.orderBy moves the corpus into ONE task
    (Exchange SinglePartition).  The corpus-derived coarse_buckets
    default must keep the cumsum two-phase so omitting the parameter
    can never reintroduce the global sort; token_budget_mixture's
    default must likewise window by (source, bucket), not source."""
    from dax_ppdb_spark.llm.sampling import sequence_pack, token_budget_mixture

    docs = spark.createDataFrame(
        [(i, 5) for i in range(200)], "doc_id LONG, n_tokens LONG"
    )
    plan = plan_of(sequence_pack(docs, seq_len=32))
    assert "SinglePartition" not in plan
    # explicit escape hatch still exists (and IS the global sort)
    plan0 = plan_of(sequence_pack(docs, seq_len=32, coarse_buckets=0))
    assert "SinglePartition" in plan0

    mix_in = spark.createDataFrame(
        [(i, f"s{i % 3}", 5) for i in range(200)],
        "doc_id LONG, source STRING, n_chars LONG",
    )
    mplan = plan_of(token_budget_mixture(mix_in, {"s0": 100, "s1": 100}))
    assert "__b" in mplan  # bucketed windows, not one range per source


def test_dedup_paragraphs_broadcasts_owner_map(spark, sf_dir, registry):
    """The duplicated-fingerprint owner map must broadcast back onto
    the paragraph explode (the wide relation never shuffles on fp);
    the only fp-keyed exchange is the df/owner aggregation's, and the
    fingerprint is the 60-bit window."""
    plan = plan_of(registry["dedup_paragraphs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(fp") <= 1
    assert ", 1, 15)" in plan


def test_ann_persisted_index_probes_prune_partitions(spark, sf_dir, registry):
    """The persisted IVF index is partitioned by cid; a probe must
    read only the probed cells' partitions — PartitionFilters on cid
    at the index scan, never a full-index read or a nested loop."""
    plan = plan_of(registry["ann_index_persisted"](spark, sf_dir))
    assert "PartitionFilters" in plan and "cid" in plan
    assert "cid#" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "CartesianProduct" not in plan
    # the only nested loops allowed are the one-row centroid attaches
    # (condition-less Cross or a condition referencing __cents) — the
    # same audit rule as the semdedup pin above
    for b in (x for x in plan.split("\n\n") if x.startswith("(")):
        if "BroadcastNestedLoopJoin" in b.splitlines()[0]:
            assert "__cents" in b or "Join condition: None" in b, b


def test_ann_persisted_pq_index_probes_prune_partitions(spark, sf_dir, registry):
    """Same pruning contract for the persisted IVFPQ tier: the probe
    reads only the probed cid partitions and reconstructs from codes
    inside the scan — no full-index read, no cartesian."""
    plan = plan_of(registry["ann_index_pq"](spark, sf_dir))
    assert "PartitionFilters" in plan and "cid" in plan
    assert "cid#" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "CartesianProduct" not in plan
    # allowed nested loops: the one-row model attaches only
    for b in (x for x in plan.split("\n\n") if x.startswith("(")):
        if "BroadcastNestedLoopJoin" in b.splitlines()[0]:
            assert (
                "__cents" in b or "__books" in b or "Join condition: None" in b
            ), b


def test_scan_hot_paths_are_whole_stage_codegen(spark, sf_dir, registry):
    """The scan-and-aggregate hot paths must run inside whole-stage
    codegen — a CodegenFallback expression in the per-row path turns
    a JVM-fused pipeline into interpreted evaluation, a silent ~10x
    CPU regression the bench only shows as drift.  AQE's formatted
    explain hides codegen annotation until execution, so this reads
    the executed-plan string, where ``*(n)`` marks each fused stage."""
    hot = (
        "pricing_summary",
        "text_stats",
        "gopher_quality",
        "repetition_ratio",
        "lm_score",
        "token_count_bpe",
        "dedup_exact",
        "url_dedup",
        "embedding_quantize",
    )
    for name in hot:
        df = registry[name](spark, sf_dir)
        df.collect()  # AQE materializes codegen per stage at runtime
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "*(" in plan, f"{name} has no whole-stage codegen span:\n{plan}"


def test_jaccard_prefix_no_cartesian(spark, sf_dir, registry):
    """Prefix-filtered Jaccard must stay equi-join shaped end to end:
    candidates expand per prefix-shingle group (no pair enumeration
    via nested loop), and verification joins back to the shingle sets
    by doc id.  A cartesian/BNLJ here would be the quadratic all-pairs
    scan the prefix filter exists to avoid."""
    plan = plan_of(registry["dedup_jaccard_prefix"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # rarity ranking runs per doc, candidate index groups per shingle
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(shingle" in plan


def test_weighted_sample_window_only_on_probed_buckets(spark, sf_dir, registry):
    """The weighted draw must prune the corpus to the probed buckets
    (broadcast semi join) BEFORE its only window — never a global
    sort — and the probe join must be broadcast equi on the bucket,
    never a nested-loop interval join."""
    plan = plan_of(registry["weighted_sample"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "BroadcastExchange" in plan
    # the one window must be bucket-partitioned (never a global sort)
    assert plan.count("Window") >= 1
    for line in plan.splitlines():
        if line.strip().startswith("Arguments") and "windowspecdefinition" in line:
            assert "__b" in line, f"window not bucket-partitioned: {line}"


def test_cdc_chunks_is_map_only(spark, sf_dir, registry):
    """Content-defined chunking must stay a pure scan-side map: the
    boundary predicate, chunk slicing, and fingerprints are per-row
    array arithmetic — no join, no aggregation, no hash exchange
    (only the input-spreading round-robin repartition)."""
    plan = plan_of(registry["cdc_chunks"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_cdc_neardup_no_inferred_generator_filter(spark, sf_dir, registry):
    """dedup_cdc's inverted index explodes the in-row fingerprint
    EXPRESSION, never a projected fps attribute: explode-of-attribute
    makes InferFiltersFromGenerate add a ``size(fps) > 0`` filter that
    predicate pushdown inlines below the ``__cs``/``__bs`` projections,
    re-evaluating the O(L) codepoint transform per element_at —
    measured 84 s vs 0.3 s on 50 docs.  The inference signature is an
    array_distinct inside a Filter condition; the intended plan has
    exactly two hash exchanges (inverted-index groupBy(chunk_fp) +
    pair groupBy), with the chunker map-side."""
    plan = plan_of(registry["dedup_cdc"](spark, sf_dir))
    for line in plan.splitlines():
        if line.strip().startswith("Condition"):
            assert "array_distinct" not in line, f"inferred filter: {line[:200]}"
    n_hash = sum(
        1
        for li in plan.splitlines()
        if li.strip().startswith("Arguments: hashpartitioning")
    )
    assert n_hash == 2, f"expected 2 hash exchanges, saw {n_hash}"


def test_incremental_prefix_no_cartesian(spark, sf_dir, registry):
    """Batch-vs-corpus prefix join: candidates must come from the
    shingle equi-join of the two prefix indexes — a cartesian/BNLJ
    would be the O(batch x corpus) scan the prefix filter avoids."""
    plan = plan_of(registry["dedup_incr_prefix"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(shingle" in plan


def test_retention_cohorts_no_event_self_join(spark, sf_dir, registry):
    """Retention must never self-join the events relation: the only
    joins are the user-keyed cohort attach and the cohort-size attach
    (both equi), and day bucketing is integer DIV riding the scan."""
    plan = plan_of(registry["retention_cohorts"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(user_id" in plan


def test_dedup_index_probe_corpus_never_shuffles(spark, sf_dir, registry):
    """The persisted-dedup-index probe's whole point: the stored
    corpus band keys STREAM out of their parquet scan into a broadcast
    hash join against the batch's key set — no cartesian, no nested
    loop, and every hash exchange in the plan is batch-driven (batch
    signature aggregation, batch key distinct, matched-bucket
    grouping, candidate distinct), never a re-partition of the full
    index."""
    plan = plan_of(registry["dedup_index_probe"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the index scan is the streamed side of a broadcast join
    assert "BroadcastHashJoin Inner BuildRight" in plan
    # batch-driven exchanges only (sig agg, key distinct, matched
    # buckets, candidate distinct — a handful of small relations); the
    # full index is never among them: it streams into the BuildRight
    # join pinned above, and a re-partition of the corpus would add
    # an exchange keyed on the index columns BELOW that join, pushing
    # the count past this bound
    assert plan.count("Arguments: hashpartitioning") <= 8, plan.count(
        "Arguments: hashpartitioning"
    )


def test_constraint_audit_scale_shape(spark, sf_dir, registry):
    """The audit's three table passes must each be column-pruned to
    exactly what the rule reads, and the FK probe must broadcast the
    DIMENSION side (never shuffle-join the pre-aggregated fact keys
    against it)."""
    plan = plan_of(registry["constraint_audit"](spark, sf_dir))
    # unique(o_orderkey) branch reads only the key column
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan
    # fused row-rule branch reads exactly the three rule columns
    assert (
        "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string,"
        "o_totalprice:double>" in plan
    )
    # FK parent (customer distinct keys) broadcasts
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan


def test_constraint_violations_single_pass(spark, sf_dir, registry):
    """All row-level rules fuse into ONE scan + Generate — k rules is
    one pass over the table, not k scan branches unioned."""
    df = registry["constraint_violations"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.lower().count("union") == 0
    assert opt.count("Relation") == 1


def test_knn_label_noise_two_shuffles_no_join(spark, sf_dir, registry):
    """The 2-probe kNN label-agreement audit stays join-free: the
    corpus (home + probe replicas, a constant 2x) rides ONE cell-key
    exchange where each cell's candidate scoring happens in a
    higher-order expression, and the k-capped per-cell candidate
    lists regroup on vec_id in ONE more exchange (k structs per probe
    per vector — model-sized).  A Join node (bucket self-join +
    per-id window, the naive shape) would shuffle full vectors twice
    more."""
    plan = plan_of(registry["knn_label_noise"](spark, sf_dir))
    assert "Join" not in plan
    # formatted mode prints exchange keys on Arguments: lines
    hashes = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hashes) == 2, hashes
    assert any("bucket" in h for h in hashes)
    assert any("vec_id" in h for h in hashes)


def test_embedding_outliers_broadcast_model_single_cid_exchange(spark, sf_dir, registry):
    """The outlier audit is a map pass over the corpus against the
    broadcast centroid table plus ONE exchange for the per-cell
    ranking window: a hashpartitioning exchange on anything but cid
    (or a second one) would mean the corpus is shuffling for the
    model-sized join."""
    plan = plan_of(registry["embedding_outliers"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    # formatted mode prints exchange keys on Arguments: lines
    hashes = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hashes) == 1, hashes
    assert "hashpartitioning(cid" in hashes[0]


def test_table_stats_branch_union_no_expand(spark, sf_dir, registry):
    """Exact-NDV cost shape (round 11): one column-pruned
    single-distinct branch PER COLUMN, unioned — Catalyst's native
    two-level distinct rewrite, so the plan has NO Expand node
    anywhere (the fused multi-count-distinct expands every input row
    k ways before the shuffle; measured 2.5s -> 0.8s at sf0.1).
    The 6-column registry query (4 fixed-width + 2 string) plans 8
    scans: one per fixed branch, two per var-len branch (string
    min/max splits to its own pruned scan — fusing it with the
    distinct forces a SortAggregate chain that sorts the FULL column
    at every level).  The distinct branches must stay HashAggregate;
    SortAggregate may appear only in the keyless string-min/max
    branches, which join their distinct branch in a trivial one-row
    cross join."""
    plan = plan_of(registry["table_stats"](spark, sf_dir))
    # assert on the tree section only — node detail formatting is
    # Spark-version-sensitive (each node prints again below the tree)
    tree = plan.split("\n\n")[0]
    assert "Expand" not in tree
    assert tree.count("Scan parquet") == 8
    assert "HashAggregate" in tree
    assert "BroadcastNestedLoopJoin Cross" in tree  # one-row min/max join
    # every SortAggregate (string min/max branch) sits directly on a
    # scan — no shuffle-weight operator feeds it
    lines = tree.splitlines()
    for i, l in enumerate(lines):
        if "SortAggregate" in l and "Scan parquet" not in lines[i + 1]:
            assert "SortAggregate" in lines[i + 1] or "Exchange" in lines[i + 1]
