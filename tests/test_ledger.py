"""Ledger state-machine tests (reference: tests/test_ppdb_bigquery.py,
bigquery/ppdb_bigquery.py:546-657 semantics)."""

from __future__ import annotations

import datetime

import pytest

from dax_ppdb_spark.ledger import (
    Ledger,
    can_replicate,
    consistency_mismatches,
    replication_diff,
)
from dax_ppdb_spark.schema.registry import ChunkStatus


@pytest.fixture()
def ledger(spark, tmp_path):
    return Ledger(spark, str(tmp_path / "ledger"))


def test_insert_query_exists(ledger):
    ledger.insert_chunks([{"apdb_replica_chunk": 1}, {"apdb_replica_chunk": 2}])
    assert ledger.exists(1) and not ledger.exists(99)
    rows = ledger.query_chunks(start_chunk_id=2).collect()
    assert [r.apdb_replica_chunk for r in rows] == [2]


def test_insert_duplicate_raises(ledger):
    ledger.insert_chunks([{"apdb_replica_chunk": 1}])
    with pytest.raises(ValueError, match="duplicate"):
        ledger.insert_chunks([{"apdb_replica_chunk": 1}])


def test_update_whitelist(ledger):
    ledger.insert_chunks([{"apdb_replica_chunk": 1}])
    ledger.update_chunk(1, status=ChunkStatus.STAGED, gcs_uri="file:///x")
    row = ledger.read().collect()[0]
    assert row.status == "STAGED" and row.gcs_uri == "file:///x"
    with pytest.raises(ValueError, match="not updatable"):
        ledger.update_chunk(1, update_count=5)
    with pytest.raises(LookupError):
        ledger.update_chunk(42, status=ChunkStatus.STAGED)


def test_upsert_chunk(ledger):
    ledger.insert_chunks([{"apdb_replica_chunk": 1, "unique_id": "a"}])
    ledger.upsert_chunk({"apdb_replica_chunk": 1, "unique_id": "b"})
    rows = ledger.read().collect()
    assert len(rows) == 1 and rows[0].unique_id == "b"


def test_promotable_contiguous_run(ledger):
    ledger.insert_chunks(
        [
            {"apdb_replica_chunk": 1, "status": ChunkStatus.STAGED},
            {"apdb_replica_chunk": 2, "status": ChunkStatus.SKIPPED},  # ignored
            {"apdb_replica_chunk": 3, "status": ChunkStatus.STAGED},
            {"apdb_replica_chunk": 4, "status": ChunkStatus.UPLOADED},  # breaks run
            {"apdb_replica_chunk": 5, "status": ChunkStatus.STAGED},
        ]
    )
    assert ledger.promotable_chunks() == [1, 3]


def _data_files(ledger):
    """(relative path, inode) of every parquet data file in the ledger
    table's CURRENT version directory."""
    import os

    d = ledger.table.data_dir()
    out = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(root, n)
                out[os.path.relpath(p, d)] = os.stat(p).st_ino
    return out


def test_update_is_append_only_no_rewrite(ledger):
    """Pin What's-wrong #1's fix: a status transition appends O(batch)
    event rows; every pre-existing data file survives byte-identical
    (hardlinked — same inode), i.e. NO full-table rewrite."""
    ledger.insert_chunks([{"apdb_replica_chunk": i} for i in range(1, 6)])
    before = _data_files(ledger)
    assert before
    ledger.update_chunks([1, 2, 3], status=ChunkStatus.STAGED)
    after = _data_files(ledger)
    # every old file is still present with the same inode (hardlink,
    # zero bytes rewritten) ...
    for rel, ino in before.items():
        assert after.get(rel) == ino, f"pre-existing file rewritten: {rel}"
    # ... plus at least one new event file for the batch
    assert set(after) - set(before)


def _n_commits(ledger):
    with open(ledger.table._journal()) as f:
        return sum(1 for line in f if line.strip())


def test_update_chunks_batch_one_commit(ledger):
    ledger.insert_chunks([{"apdb_replica_chunk": i} for i in range(1, 6)])
    n_commits = _n_commits(ledger)
    ledger.update_chunks([1, 2, 4], status=ChunkStatus.STAGED, gcs_uri="file:///b")
    assert _n_commits(ledger) == n_commits + 1
    rows = {r.apdb_replica_chunk: r for r in ledger.read().collect()}
    assert len(rows) == 5
    for i in (1, 2, 4):
        assert rows[i].status == "STAGED" and rows[i].gcs_uri == "file:///b"
    for i in (3, 5):
        assert rows[i].status == "EXPORTED" and rows[i].gcs_uri is None
    with pytest.raises(LookupError, match=r"\[7, 9\]"):
        ledger.update_chunks([1, 7, 9], status=ChunkStatus.STAGED)
    with pytest.raises(ValueError, match="not updatable"):
        ledger.update_chunks([1], update_count=3)
    ledger.update_chunks([], status=ChunkStatus.STAGED)  # no-op


def _spark_lane_copy(spark, src, path, cut):
    """``src``'s event log as the earlier Spark lane left one that it
    compacted at seq ``cut`` and appended to since: Spark-written
    ``part-*`` event files with INT96 timestamps, holding the active
    winners at ``cut`` and every later event, and the terminal winners
    at ``cut`` frozen into an ``archive-*`` run."""
    import os
    import shutil
    import uuid

    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.ledger import EVENT_SEQ, LEDGER_LOG_SCHEMA, TERMINAL_STATUSES

    events = src.read_log().collect()
    last = {}
    for r in events:
        if cut >= r[EVENT_SEQ] >= last.get(r.apdb_replica_chunk, (-1,))[0]:
            last[r.apdb_replica_chunk] = (r[EVENT_SEQ], r)
    winners = [r for _, r in last.values()]
    archived = [r for r in winners if r.status in TERMINAL_STATUSES]
    parts = [r for r in winners if r.status not in TERMINAL_STATUSES]
    parts += [r for r in events if r[EVENT_SEQ] > cut]
    draft = ParquetTable(path).draft()
    dst = draft.path
    spark.createDataFrame(parts, LEDGER_LOG_SCHEMA).write.mode("append").parquet(dst)
    tmp = os.path.join(path, "_archive_tmp")
    spark.createDataFrame(archived, LEDGER_LOG_SCHEMA).coalesce(1).write.parquet(tmp)
    (run,) = [n for n in os.listdir(tmp) if n.startswith("part-")]
    os.rename(os.path.join(tmp, run), os.path.join(dst, f"archive-{uuid.uuid4().hex}.parquet"))
    shutil.rmtree(tmp)
    draft.commit()
    led = type(src)(spark, path)
    assert any(n.startswith("part-") for n in os.listdir(dst))
    assert len(led._archive_files()) == 1
    return led


def test_compact_log_preserves_logical_table(spark, ledger, tmp_path):
    ledger.insert_chunks([{"apdb_replica_chunk": i} for i in (1, 2, 3, 4)])
    ledger.update_chunks([1, 2], status=ChunkStatus.UPLOADED)
    ledger.update_chunks([1], status=ChunkStatus.STAGED)
    ledger.update_chunks([4], status=ChunkStatus.SKIPPED)
    ledger.upsert_chunk({"apdb_replica_chunk": 3, "unique_id": "re"})
    # a log the earlier Spark lane wrote reads back to the same table
    spark_lane = _spark_lane_copy(spark, ledger, str(tmp_path / "spark_lane"), cut=3)
    assert spark_lane.read().collect() == ledger.read().collect()
    assert spark_lane.read_log().count() == 5
    for led in (ledger, spark_lane):
        before = sorted(
            (r.apdb_replica_chunk, r.status, r.unique_id)
            for r in led.read().collect()
        )
        assert led.promotable_chunks() == [1]
        assert led.read_log().count() > 4
        led.compact_log()
        assert led.read_log().count() == 4
        after = sorted(
            (r.apdb_replica_chunk, r.status, r.unique_id)
            for r in led.read().collect()
        )
        assert before == after
        # log stays mutable after compaction
        led.update_chunks([2], status=ChunkStatus.PROMOTED)
        assert {
            r.status for r in led.read().filter("apdb_replica_chunk = 2").collect()
        } == {"PROMOTED"}


def test_auto_compact_bounds_log_file_count(spark, tmp_path):
    """Per-commit hardlink fan-out must stay bounded: once the log
    crosses auto_compact_files, the next commit folds a compaction
    into itself, so file count — and with it commit cost — never grows
    with lifetime transitions."""
    led = Ledger(spark, str(tmp_path / "ledger"), auto_compact_files=6)
    led.insert_chunks([{"apdb_replica_chunk": i} for i in range(1, 4)])
    max_files = 0
    for round_ in range(10):
        led.update_chunks(
            [1, 2, 3],
            status=ChunkStatus.STAGED if round_ % 2 else ChunkStatus.UPLOADED,
        )
        max_files = max(max_files, led._data_file_count())
    # bounded: threshold + one batch's files, not 10 rounds' worth
    assert max_files <= 6 + 32
    assert led._data_file_count() < 10 * 3
    rows = {r.apdb_replica_chunk: r.status for r in led.read().collect()}
    assert rows == {1: "STAGED", 2: "STAGED", 3: "STAGED"}
    # and the logical table survives a compaction-folded upsert too
    led.upsert_chunk({"apdb_replica_chunk": 9, "unique_id": "u9"})
    assert led.exists(9)


def test_compact_archives_terminal_rows_once(spark, tmp_path):
    """Terminal winners (PROMOTED/SKIPPED) freeze into an archive run
    at compaction and later compactions carry the run forward by
    HARDLINK — same inode, zero bytes rewritten — while active rows
    keep being folded.  The logical table is unchanged throughout."""
    import os

    led = Ledger(spark, str(tmp_path / "ledger"))
    led.insert_chunks([{"apdb_replica_chunk": i} for i in range(1, 6)])
    led.update_chunks([1, 2, 3], status=ChunkStatus.PROMOTED)
    led.update_chunks([4], status=ChunkStatus.SKIPPED)
    led.compact_log()
    runs = led._archive_files()
    assert len(runs) == 1
    inode = os.stat(runs[0]).st_ino
    rows = {r.apdb_replica_chunk: r.status for r in led.read().collect()}
    assert rows == {
        1: "PROMOTED", 2: "PROMOTED", 3: "PROMOTED",
        4: "SKIPPED", 5: "EXPORTED",
    }
    # another transition + compaction: run is hardlinked, not rewritten
    led.update_chunks([5], status=ChunkStatus.UPLOADED)
    led.compact_log()
    runs2 = led._archive_files()
    assert [os.stat(f).st_ino for f in runs2].count(inode) == 1
    assert {r.apdb_replica_chunk: r.status for r in led.read().collect()}[
        5
    ] == "UPLOADED"


def test_archived_chunk_reopen_wins_at_read(spark, tmp_path):
    """Archive is storage layout, not logic: a re-replication upsert of
    an already-archived PROMOTED chunk appends a newer event that wins
    the per-chunk last-writer-wins at read; the stale archived row
    lingers harmlessly and a later compaction does not resurrect it."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    led.insert_chunks([{"apdb_replica_chunk": 1}])
    led.update_chunks([1], status=ChunkStatus.PROMOTED)
    led.compact_log()
    assert len(led._archive_files()) == 1
    led.upsert_chunk({"apdb_replica_chunk": 1, "unique_id": "re-replicated"})
    row = led.read().collect()[0]
    assert (row.status, row.unique_id) == ("EXPORTED", "re-replicated")
    led.compact_log()
    row = led.read().collect()[0]
    assert (row.status, row.unique_id) == ("EXPORTED", "re-replicated")


def test_event_file_reads_match_full_log(spark, tmp_path):
    """promotable_chunks, chunks_with_status and update_chunks read the
    event files alone for active chunks (their cost follows the active
    chunks, not the archive); they agree with the logical table built
    from every file: archived, reopened-after-archive, terminal but not
    yet archived, and a field update of an archived chunk."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    led.insert_chunks([{"apdb_replica_chunk": i} for i in range(1, 9)])
    led.update_chunks([1, 2, 3], status=ChunkStatus.PROMOTED)
    led.update_chunks([4], status=ChunkStatus.SKIPPED)
    led.update_chunks([5, 6], status=ChunkStatus.STAGED)
    led.compact_log()
    assert len(led._archive_files()) == 1
    led.upsert_chunk({"apdb_replica_chunk": 2, "unique_id": "re"})
    led.update_chunks([2], status=ChunkStatus.STAGED)
    led.update_chunks([5], status=ChunkStatus.PROMOTED)
    led.update_chunks([3], gcs_uri="file:///late")

    def check():
        table = {r.apdb_replica_chunk: r for r in led.read().collect()}
        assert (table[3].status, table[3].gcs_uri) == ("PROMOTED", "file:///late")
        assert (table[2].status, table[2].unique_id) == ("STAGED", "re")
        for status in ChunkStatus:
            assert led.chunks_with_status(status) == sorted(
                c for c, r in table.items() if r.status == status.value
            ), status
        assert led.chunks_with_status(ChunkStatus.EXPORTED) == [7, 8]
        assert led.promotable_chunks() == [2, 6]

    check()
    led.compact_log()
    check()
    with pytest.raises(LookupError):
        led.update_chunks([99], status=ChunkStatus.STAGED)


def test_archive_runs_merge_size_tiered(spark, tmp_path):
    """Archive run count stays bounded: past archive_merge_runs, a
    compaction folds the smaller half of the runs into one, so each
    archived row is rewritten O(log runs) times over the table's
    lifetime, never once per compaction."""
    led = Ledger(spark, str(tmp_path / "ledger"), archive_merge_runs=3)
    nxt = 1
    for _ in range(5):
        ids = list(range(nxt, nxt + 2))
        nxt += 2
        led.insert_chunks([{"apdb_replica_chunk": i} for i in ids])
        led.update_chunks(ids, status=ChunkStatus.PROMOTED)
        led.compact_log()
        assert len(led._archive_files()) <= 3
    rows = {r.apdb_replica_chunk: r.status for r in led.read().collect()}
    assert rows == {i: "PROMOTED" for i in range(1, 11)}


def test_watermark_gate():
    now = datetime.datetime(2024, 1, 1, 12, 0, 0)
    t = lambda s: now - datetime.timedelta(seconds=s)
    # newer chunks exist -> min_wait (300 s) applies
    assert can_replicate(t(301), now, has_newer=True)
    assert not can_replicate(t(299), now, has_newer=True)
    # newest chunk -> max_wait (900 s) applies
    assert can_replicate(t(901), now, has_newer=False)
    assert not can_replicate(t(899), now, has_newer=False)


def test_replication_diff_and_consistency(spark):
    a = spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, "u3")], "apdb_replica_chunk LONG, unique_id STRING"
    )
    p = spark.createDataFrame(
        [(1, "u1"), (2, "uX")], "apdb_replica_chunk LONG, unique_id STRING"
    )
    diff = replication_diff(a, p).collect()
    assert [r.apdb_replica_chunk for r in diff] == [3]
    bad = consistency_mismatches(a, p).collect()
    assert [r.apdb_replica_chunk for r in bad] == [2]


def test_metadata_roundtrip(spark, tmp_path):
    from dax_ppdb_spark.metadata import Metadata

    m = Metadata(spark, str(tmp_path / "metadata"))
    assert m.get("missing") is None
    assert m.get("missing", "d") == "d"
    m.set_versions("0.1.1", "ppdb-spark 1.0")
    m.set("extra", "x")
    assert m.get("version:schema") == "0.1.1"
    m.set("extra", "y")  # overwrite, no duplicate rows
    items = m.items()
    assert items["extra"] == "y"
    assert len(items) == 3


def test_metrics_timer_logs(caplog):
    import logging

    from dax_ppdb_spark.metrics import log_rows, timer

    with caplog.at_level(logging.INFO, logger="dax_ppdb_spark.metrics"):
        with timer("stage_x", table="DiaObject", chunk=7):
            pass
        log_rows("insert", 42, table="DiaSource")
    text = caplog.text
    assert "stage_x took" in text and "table=DiaObject" in text
    assert "insert rows=42" in text
