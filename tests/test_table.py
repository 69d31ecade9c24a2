"""ParquetTable version/partition plumbing, especially the
touched-partition commit (``replace_partitions``) that keeps promotion
IO O(batch): untouched partitions must be hardlinked (zero bytes
copied), touched ones rewritten, and the swap atomic."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dax_ppdb_spark.io.table import ParquetTable


def _mk(spark, tmp_path, rows):
    t = ParquetTable(str(tmp_path / "t"))
    df = spark.createDataFrame(rows, "k INT, v STRING")
    t.overwrite(df, partition_by=("k",))
    return t


def _content(spark, t):
    return {(r.k, r.v) for r in t.read(spark).collect()}


def test_replace_partitions_rewrites_only_named(spark, tmp_path):
    t = _mk(spark, tmp_path, [(0, "a"), (1, "b"), (2, "c")])
    patch = spark.createDataFrame([(1, "B"), (1, "B2")], "k INT, v STRING")
    t.replace_partitions(patch, "k", [1])
    assert _content(spark, t) == {(0, "a"), (1, "B"), (1, "B2"), (2, "c")}


def test_replace_partitions_untouched_are_hardlinks(spark, tmp_path):
    t = _mk(spark, tmp_path, [(0, "a"), (1, "b")])
    old_dir = t.data_dir()
    old_inodes = {
        f: os.stat(os.path.join(old_dir, "k=0", f)).st_ino
        for f in os.listdir(os.path.join(old_dir, "k=0"))
        if f.endswith(".parquet")
    }
    patch = spark.createDataFrame([(1, "B")], "k INT, v STRING")
    t.replace_partitions(patch, "k", [1])
    new_dir = t.data_dir()
    assert new_dir != old_dir
    new_inodes = {
        f: os.stat(os.path.join(new_dir, "k=0", f)).st_ino
        for f in os.listdir(os.path.join(new_dir, "k=0"))
        if f.endswith(".parquet")
    }
    # same inodes: the untouched partition was linked, not copied
    assert new_inodes == old_inodes


def test_replace_partitions_can_empty_a_partition(spark, tmp_path):
    t = _mk(spark, tmp_path, [(0, "a"), (1, "b")])
    empty = spark.createDataFrame([], "k INT, v STRING")
    t.replace_partitions(empty, "k", [1])
    assert _content(spark, t) == {(0, "a")}
    assert not os.path.exists(os.path.join(t.data_dir(), "k=1"))


def test_replace_partitions_on_missing_table_is_overwrite(spark, tmp_path):
    t = ParquetTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(0, "a")], "k INT, v STRING")
    t.replace_partitions(df, "k", [0])
    assert _content(spark, t) == {(0, "a")}


def test_replace_partitions_filter_prunes_partitions(spark, tmp_path):
    """Reading back with a bucket filter must show PartitionFilters —
    the read half of the touched-partition contract."""
    t = _mk(spark, tmp_path, [(0, "a"), (1, "b"), (2, "c")])
    q = t.read(spark).filter(F.col("k") == 1)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "k" in plan.split("PartitionFilters", 1)[1].split("\n")[0]


def test_interleaved_promoters_loser_raises(spark, tmp_path):
    """Two promoters racing one table: the writer whose pointer
    snapshot went stale must fail LOUDLY (ConcurrentWriteError), its
    orphan version must be cleaned up, and the winner's commit must
    survive untouched."""
    import pytest

    from dax_ppdb_spark.io.table import ConcurrentWriteError

    t_a = _mk(spark, tmp_path, [(0, "base")])
    t_b = ParquetTable(t_a.path)

    df_a = spark.createDataFrame([(1, "from_a")], "k INT, v STRING")
    df_b = spark.createDataFrame([(2, "from_b")], "k INT, v STRING")

    # Interleave: once A has opened its draft (snapshotting the
    # pointer), B completes a full overwrite and wins the commit.
    orig_draft = ParquetTable.draft

    def draft_with_intruder(self, *args, **kwargs):
        draft = orig_draft(self, *args, **kwargs)
        if self is t_a:  # the intruder (t_b) writes un-intruded
            t_b.overwrite(df_b)
        return draft

    ParquetTable.draft = draft_with_intruder
    try:
        with pytest.raises(ConcurrentWriteError, match="concurrent promoter"):
            t_a.overwrite(df_a)
    finally:
        ParquetTable.draft = orig_draft

    # B's commit survives; A's orphan version directory was removed.
    assert _content(spark, t_a) == {(2, "from_b")}
    versions = [d for d in os.listdir(t_a.path) if d.startswith("_v")]
    assert versions == [t_a.current_version()]


def test_failed_writes_leave_no_orphans(spark, tmp_path, monkeypatch):
    """A versioned write whose job fails aborts its draft: the pointer
    stays where it was and no ``_v*``/``_tmp*`` directory is left
    besides the current version — for ``overwrite``,
    ``append_commit``, ``replace_partitions`` and the ledger's
    compaction commit."""
    import pytest

    from dax_ppdb_spark.ledger import Ledger

    def assert_clean(t, version):
        assert t.current_version() == version
        assert [
            n for n in os.listdir(t.path) if n.startswith(("_v", "_tmp"))
        ] == [version]

    t = _mk(spark, tmp_path, [(0, "a"), (1, "b")])
    v = t.current_version()
    bad = spark.createDataFrame([(1, "x")], "k INT, v STRING").withColumn(
        "v", F.raise_error(F.lit("injected write failure")).cast("string")
    )
    for write in (
        lambda: t.overwrite(bad, partition_by=("k",)),
        lambda: t.append_commit(bad, partition_by=("k",)),
        lambda: t.replace_partitions(bad, "k", [1]),
    ):
        with pytest.raises(Exception, match="injected write failure"):
            write()
        assert_clean(t, v)
    assert _content(spark, t) == {(0, "a"), (1, "b")}

    ledger = Ledger(spark, str(tmp_path / "ledger"), auto_compact_files=1)
    ledger.insert_chunks([{"apdb_replica_chunk": 1}])
    ledger.insert_chunks([{"apdb_replica_chunk": 2}])
    v = ledger.table.current_version()

    def fail(rows, dst):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(Ledger, "_write_archive_run", staticmethod(fail))
    with pytest.raises(RuntimeError, match="injected write failure"):
        ledger.update_chunks([1], status="STAGED")
    assert_clean(ledger.table, v)
    monkeypatch.undo()
    ledger.update_chunks([1], status="STAGED")
    assert ledger.table.current_version() != v
    assert {r.apdb_replica_chunk: r.status for r in ledger.read().collect()} == {
        1: "STAGED",
        2: "EXPORTED",
    }


def test_compact_rewrites_only_fragmented_partitions(spark, tmp_path):
    """Micro-batch appends fragment a partition; compact() must
    rewrite only partitions over the file threshold (hardlinking the
    rest), preserve every row, and leave few files behind."""
    t = ParquetTable(str(tmp_path / "t"))
    base = spark.createDataFrame([(0, "a0"), (1, "b0")], "k INT, v STRING")
    t.overwrite(base.repartition(1), partition_by=("k",))
    # five tiny appends into partition k=1 only
    for i in range(1, 6):
        t.append_commit(
            spark.createDataFrame([(1, f"b{i}")], "k INT, v STRING").repartition(1),
            partition_by=("k",),
        )

    def files_in(part):
        d = os.path.join(t.data_dir(), f"k={part}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in(1)) == 6 and len(files_in(0)) == 1
    inode_k0 = os.stat(os.path.join(t.data_dir(), "k=0", files_in(0)[0])).st_ino

    compacted = t.compact(spark, "k", max_files_per_partition=4)
    assert compacted == ["1"]
    assert len(files_in(1)) == 1
    # untouched partition carried over as a hardlink (same inode)
    assert os.stat(os.path.join(t.data_dir(), "k=0", files_in(0)[0])).st_ino == inode_k0
    assert _content(spark, t) == {(0, "a0")} | {(1, f"b{i}") for i in range(6)}

    # idempotent: nothing left over the threshold
    assert t.compact(spark, "k", max_files_per_partition=4) == []


def test_version_retention_and_time_travel(spark, tmp_path):
    """keep_versions retains superseded snapshots: versions() lists
    them oldest-first, read_version time-travels, vacuum prunes and
    never touches the current version."""
    from dax_ppdb_spark.io.table import ParquetTable

    t = ParquetTable(str(tmp_path / "t"), keep_versions=2)
    t.overwrite(spark.range(0, 10).withColumnRenamed("id", "k"))
    v1 = t.current_version()
    t.overwrite(spark.range(100, 105).withColumnRenamed("id", "k"))
    v2 = t.current_version()
    t.overwrite(spark.range(200, 203).withColumnRenamed("id", "k"))
    v3 = t.current_version()
    assert t.versions() == [v1, v2, v3]
    assert t.read_version(spark, v1).count() == 10
    assert t.read_version(spark, v2).count() == 5
    # fourth commit: v1 falls outside keep_versions=2
    t.overwrite(spark.range(300, 302).withColumnRenamed("id", "k"))
    assert t.versions() == [v2, v3, t.current_version()]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read_version(spark, v1)
    # explicit vacuum to zero superseded versions keeps only current
    dropped = t.vacuum(keep=0)
    assert set(dropped) == {v2, v3}
    assert t.read(spark).count() == 2


def test_keep_versions_zero_is_classic_truncate(spark, tmp_path):
    from dax_ppdb_spark.io.table import ParquetTable

    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3).withColumnRenamed("id", "k"))
    v1 = t.current_version()
    t.overwrite(spark.range(4).withColumnRenamed("id", "k"))
    assert t.versions() == [t.current_version()]
    assert not (tmp_path / "t" / v1).exists()


def test_delta_time_travel_over_retained_versions(spark, tmp_path):
    from dax_ppdb_spark.io.delta_export import delta_live_files, export_delta_log
    from dax_ppdb_spark.io.table import ParquetTable

    import os

    root = str(tmp_path / "t")
    t = ParquetTable(root, keep_versions=2)
    t.overwrite(spark.range(0, 7).withColumnRenamed("id", "k"))
    export_delta_log(t, spark)
    t.overwrite(spark.range(0, 3).withColumnRenamed("id", "k"))
    export_delta_log(t, spark)
    # commit 0's snapshot is still materialized (retention) and the
    # log replay at=0 reads exactly it
    live0 = delta_live_files(root, at=0)
    paths = [os.path.join(root, p) for p in live0]
    assert spark.read.parquet(*paths).count() == 7
    assert spark.read.parquet(
        *[os.path.join(root, p) for p in delta_live_files(root)]
    ).count() == 3


def test_sidecar_commits_under_one_pointer(spark, tmp_path):
    """A sidecar relation lives inside the SAME version directory as
    the main relation: one CAS pointer flip publishes both, the main
    read never sees sidecar rows, and a rebuild swaps them together —
    no window where new codes pair with old centroids."""
    import pytest

    t = ParquetTable(str(tmp_path / "t"))
    main1 = spark.createDataFrame([(0, "a"), (1, "b")], "k INT, v STRING")
    side1 = spark.createDataFrame([(0, 10.0)], "k INT, c DOUBLE")
    t.overwrite(main1, partition_by=("k",), sidecars={"_meta": side1})
    assert _content(spark, t) == {(0, "a"), (1, "b")}
    assert [(r.k, r.c) for r in t.read_sidecar(spark, "_meta").collect()] == [
        (0, 10.0)
    ]
    v1 = t.current_version()
    # rebuild: both relations flip in one commit
    main2 = spark.createDataFrame([(2, "c")], "k INT, v STRING")
    side2 = spark.createDataFrame([(1, 20.0)], "k INT, c DOUBLE")
    t.overwrite(main2, partition_by=("k",), sidecars={"_meta": side2})
    assert t.current_version() != v1
    assert _content(spark, t) == {(2, "c")}
    assert [(r.k, r.c) for r in t.read_sidecar(spark, "_meta").collect()] == [
        (1, 20.0)
    ]
    # non-underscore names would be scanned as main-relation data
    with pytest.raises(ValueError):
        t.overwrite(main2, sidecars={"meta": side2})


def test_append_commit_is_versioned_and_keeps_sidecars(spark, tmp_path):
    """append_commit publishes old+batch under a NEW version via
    hardlink copy-on-write: the pointer flips (readers never see a
    partial batch), pre-existing files are linked not copied, and
    sidecars ride into the new generation."""
    t = ParquetTable(str(tmp_path / "t"))
    main = spark.createDataFrame([(0, "a")], "k INT, v STRING")
    side = spark.createDataFrame([(0, 10.0)], "k INT, c DOUBLE")
    t.overwrite(main, partition_by=("k",), sidecars={"_meta": side})
    v1 = t.current_version()
    d1 = t.data_dir()
    inodes1 = {
        os.stat(os.path.join(d1, "k=0", f)).st_ino
        for f in os.listdir(os.path.join(d1, "k=0"))
        if f.endswith(".parquet")
    }
    batch = spark.createDataFrame([(0, "a2"), (1, "b")], "k INT, v STRING")
    t.append_commit(batch, partition_by=("k",))
    assert t.current_version() != v1
    assert _content(spark, t) == {(0, "a"), (0, "a2"), (1, "b")}
    d2 = t.data_dir()
    inodes2 = {
        os.stat(os.path.join(d2, "k=0", f)).st_ino
        for f in os.listdir(os.path.join(d2, "k=0"))
        if f.endswith(".parquet")
    }
    assert inodes1 <= inodes2  # old files linked into the new version
    assert [(r.k, r.c) for r in t.read_sidecar(spark, "_meta").collect()] == [
        (0, 10.0)
    ]


def test_delta_export_skips_sidecars(spark, tmp_path):
    from dax_ppdb_spark.io.delta_export import delta_live_files, export_delta_log

    root = str(tmp_path / "t")
    t = ParquetTable(root)
    main = spark.createDataFrame([(0, "a")], "k INT, v STRING")
    side = spark.createDataFrame([(0, 10.0)], "k INT, c DOUBLE")
    t.overwrite(main, partition_by=("k",), sidecars={"_meta": side})
    export_delta_log(t, spark)
    assert all("_meta" not in p for p in delta_live_files(root))


def _jobs_run(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def _assert_footer_read_matches_inferred(spark, t):
    """``read()`` (footer schema, no inference job) returns the same
    column names, types, order and rows as Spark's schema inference."""
    from collections import Counter

    before = _jobs_run(spark)
    got = t.read(spark)
    assert _jobs_run(spark) == before
    want = spark.read.parquet(t.data_dir())
    assert got.schema == want.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))
    return got


def test_footer_schema_read_equals_inferred_read(spark, tmp_path):
    """Every ParquetTable write path leaves files whose footer schema
    ``read()`` can use without an inference job, and the read matches
    inference.  Partition columns keep their inferred type (``int``
    from directory names, though the writer's column was ``long``)."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType

    rows = "k LONG, v STRING, x DOUBLE"
    plain = ParquetTable(str(tmp_path / "plain"))
    plain.overwrite(spark.createDataFrame([(1, "a", 1.5), (2, None, None)], rows))
    _assert_footer_read_matches_inferred(spark, plain)

    plain.append_commit(spark.createDataFrame([(3, "c", 3.0)], rows))
    _assert_footer_read_matches_inferred(spark, plain)

    t = ParquetTable(str(tmp_path / "parted"))
    t.overwrite(
        spark.createDataFrame([(0, "a", 1.0), (1, "b", 2.0)], rows),
        partition_by=("k",),
    )
    got = _assert_footer_read_matches_inferred(spark, t)
    assert got.columns == ["v", "x", "k"]  # partition columns last
    assert got.schema["k"].dataType == IntegerType()

    t.append_commit(spark.createDataFrame([(1, "b2", 2.5)], rows), partition_by=("k",))
    _assert_footer_read_matches_inferred(spark, t)
    t.append_commit(spark.createDataFrame([(2, "c", 3.0)], rows), partition_by=("k",))
    _assert_footer_read_matches_inferred(spark, t)
    t.replace_partitions(spark.createDataFrame([(1, "B", 9.0)], rows), "k", [1])
    _assert_footer_read_matches_inferred(spark, t)
    for i in range(5):
        t.append_commit(spark.createDataFrame([(2, f"c{i}", 0.0)], rows), partition_by=("k",))
    assert t.compact(spark, "k", max_files_per_partition=4) == ["2"]
    _assert_footer_read_matches_inferred(spark, t)

    # a pyarrow-written version carries no Spark schema: inference
    arrow = ParquetTable(str(tmp_path / "arrow"))
    arrow.append_commit(pa.table({"k": pa.array([4], pa.int64()), "v": ["d"]}))
    arrow.append_commit(pa.table({"k": pa.array([5], pa.int64()), "v": ["e"]}))
    assert arrow.read(spark).schema == spark.read.parquet(arrow.data_dir()).schema
    assert sorted(arrow.read(spark).collect()) == [(4, "d"), (5, "e")]


def test_version_without_data_files_still_raises(spark, tmp_path):
    """A committed version with no data files (every partition
    dropped, or an empty partitioned write) raises on read as schema
    inference does — ``Promoter`` treats that as "nothing staged"."""
    import pytest

    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(0, "a")], "k LONG, v STRING"), partition_by=("k",)
    )
    t.delete_partitions("k", [0])
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        t.read(spark)
    empty = ParquetTable(str(tmp_path / "empty"))
    empty.overwrite(
        spark.createDataFrame([], "k LONG, v STRING"), partition_by=("k",)
    )
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        empty.read(spark)
