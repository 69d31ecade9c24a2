"""Replicator loop + Structured Streaming variants.

Pins the reference semantics of ``replicator.py:83-247``: anti-diff
against the ledger, uuid consistency check, watermark hold-back, and
the strictly-increasing-chunk-id ordering contract (``ppdb.py:147-152``).
"""

from __future__ import annotations

import datetime
import json
import os

import pytest

from dax_ppdb_spark.ledger import Ledger
from dax_ppdb_spark.pipeline.replicate import DirectoryApdbSource, Replicator
from dax_ppdb_spark.schema.registry import ChunkStatus
from dax_ppdb_spark.streaming import stream_chunks, windowed_event_counts

UTC = datetime.timezone.utc


def _write_chunk(root: str, chunk_id: int, created_at: float, uid: str) -> None:
    d = os.path.join(root, f"chunk_{chunk_id}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(
            {"apdb_replica_chunk": chunk_id, "unique_id": uid, "created_at": created_at},
            f,
        )


@pytest.fixture()
def now():
    return datetime.datetime(2026, 1, 1, 12, 0, 0)


def test_directory_source_lists_in_id_order(tmp_path, now):
    root = str(tmp_path / "apdb")
    t0 = now.replace(tzinfo=UTC).timestamp()
    _write_chunk(root, 11, t0, "u11")
    _write_chunk(root, 2, t0, "u2")
    os.makedirs(os.path.join(root, "not_a_chunk"))
    chunks = DirectoryApdbSource(root).list_chunks()
    assert [c.chunk_id for c in chunks] == [2, 11]
    assert chunks[0].unique_id == "u2"


def test_pending_respects_watermark_and_order_cut(spark, tmp_path, now):
    root = str(tmp_path / "apdb")
    base = now.replace(tzinfo=UTC).timestamp()
    # chunk 1: old (eligible), chunk 2: 100s old (< min_wait, held back),
    # chunk 3: old but must NOT be copied before chunk 2 (order contract),
    # chunk 4: newest, has no newer chunk -> max_wait applies.
    _write_chunk(root, 1, base - 2000, "u1")
    _write_chunk(root, 2, base - 100, "u2")
    _write_chunk(root, 3, base - 2000, "u3")
    _write_chunk(root, 4, base - 600, "u4")
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    rep = Replicator(spark, DirectoryApdbSource(root), ledger)
    assert [c.chunk_id for c in rep.pending_chunks(now)] == [1]


def test_replicate_once_records_and_skips_done(spark, tmp_path, now):
    root = str(tmp_path / "apdb")
    base = now.replace(tzinfo=UTC).timestamp()
    _write_chunk(root, 1, base - 2000, "u1")
    _write_chunk(root, 2, base - 1900, "u2")
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    rep = Replicator(spark, DirectoryApdbSource(root), ledger)
    staged = []
    copied = rep.replicate_once(lambda c: staged.append(c.chunk_id), now=now)
    assert copied == [1, 2] and staged == [1, 2]
    # idempotent: second poll copies nothing
    assert rep.replicate_once(lambda c: staged.append(c.chunk_id), now=now) == []
    assert staged == [1, 2]
    rows = ledger.read().orderBy("apdb_replica_chunk").collect()
    assert [r.apdb_replica_chunk for r in rows] == [1, 2]
    assert all(r.status == ChunkStatus.EXPORTED.value for r in rows)


def test_uuid_mismatch_raises(spark, tmp_path, now):
    root = str(tmp_path / "apdb")
    base = now.replace(tzinfo=UTC).timestamp()
    _write_chunk(root, 1, base - 2000, "changed-uuid")
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    ledger.insert_chunks([{"apdb_replica_chunk": 1, "unique_id": "original-uuid"}])
    rep = Replicator(spark, DirectoryApdbSource(root), ledger)
    with pytest.raises(ValueError, match="unique_id mismatch"):
        rep.pending_chunks(now)


def test_stream_chunks_drains_available_files(spark, tmp_path):
    src = str(tmp_path / "landing")
    os.makedirs(src)
    df = spark.range(10).withColumnRenamed("id", "v")
    df.write.parquet(os.path.join(src, "batch0"))
    seen: list[int] = []

    def handle(batch_df, batch_id):
        seen.extend(r.v for r in batch_df.collect())

    stream_chunks(spark, src + "/*", df.schema, str(tmp_path / "ckpt"), handle)
    assert sorted(seen) == list(range(10))
    # restart with the same checkpoint: nothing new -> no reprocessing
    seen.clear()
    stream_chunks(spark, src + "/*", df.schema, str(tmp_path / "ckpt"), handle)
    assert seen == []


def test_stream_chunks_tolerates_slow_batch_without_reset(spark, tmp_path):
    """A micro-batch whose ``process_batch`` runs LONGER than
    ``stall_timeout`` is a slow batch, not the py4j wedge — the
    in-flight marker keeps the watchdog quiet, so the batch is
    delivered exactly ONCE (no mid-batch RST, no replay) and the drain
    completes normally.  This pins the ADVICE-flagged false positive:
    before the wedge-signature gate, any heavy curate over a big
    trigger would have been RST mid-batch and, after max_restarts
    identical retries, turned into a guaranteed RuntimeError."""
    import time

    src = str(tmp_path / "landing")
    os.makedirs(src)
    df = spark.range(10).withColumnRenamed("id", "v")
    df.write.parquet(os.path.join(src, "batch0"))
    processed: list[int] = []
    calls: list[int] = []

    def handle(batch_df, batch_id):
        calls.append(batch_id)
        time.sleep(8)  # well past stall_timeout: slow, NOT wedged
        processed.extend(r.v for r in batch_df.collect())

    t0 = time.time()
    stream_chunks(
        spark,
        src + "/*",
        df.schema,
        str(tmp_path / "ckpt"),
        handle,
        stall_timeout=3.0,
    )
    assert sorted(processed) == list(range(10))
    assert len(calls) == 1  # delivered once: no reset, no replay
    assert time.time() - t0 < 120


def test_stream_chunks_recovers_from_wedge_signature(spark, tmp_path, monkeypatch):
    """The drain watchdog on the REAL wedge signature — no batch
    progress AND no ``process_batch`` in flight (the JVM blocked on a
    callback Python never received).  Simulated by masking the
    in-flight marker, so the sleeping first delivery looks exactly
    like the wedge from the watchdog's seat: the callback server is
    recycled, the query restarts on the same checkpoint, and the
    recovery CONTRACT holds — the drain RETURNS (no unbounded hang)
    and every row is processed (either the replay redelivers, or the
    stalled callback races the reset and commits first; both are
    correct, so the delivery count itself is not asserted)."""
    import threading
    import time

    from dax_ppdb_spark.streaming import chunks as chunks_mod

    class _MaskedTracker(dict):
        """Writes land; reads of 'inflight' always say idle."""

        def __getitem__(self, k):
            return 0 if k == "inflight" else super().__getitem__(k)

    monkeypatch.setattr(chunks_mod, "_make_tracker", lambda: _MaskedTracker(inflight=0))

    src = str(tmp_path / "landing")
    os.makedirs(src)
    df = spark.range(10).withColumnRenamed("id", "v")
    df.write.parquet(os.path.join(src, "batch0"))
    processed: set[int] = set()
    stalled_once = threading.Event()

    def handle(batch_df, batch_id):
        if not stalled_once.is_set():
            stalled_once.set()
            time.sleep(15)  # past stall_timeout; tracker masked -> "wedge"
        processed.update(r.v for r in batch_df.collect())

    t0 = time.time()
    stream_chunks(
        spark,
        src + "/*",
        df.schema,
        str(tmp_path / "ckpt"),
        handle,
        stall_timeout=3.0,
    )
    assert processed == set(range(10))
    assert time.time() - t0 < 120  # returned, bounded — never a hang


def test_stream_chunks_propagates_batch_exceptions_immediately(spark, tmp_path):
    """A deterministic ``process_batch`` failure must surface on the
    FIRST attempt — no callback-server reset, no silent re-execution
    (the ADVICE-flagged swallow-and-retry path)."""
    import pyspark.errors

    src = str(tmp_path / "landing")
    os.makedirs(src)
    df = spark.range(4).withColumnRenamed("id", "v")
    df.write.parquet(os.path.join(src, "batch0"))
    calls: list[int] = []

    def handle(batch_df, batch_id):
        calls.append(batch_id)
        raise ValueError("deterministic batch failure")

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        stream_chunks(
            spark, src + "/*", df.schema, str(tmp_path / "ckpt"), handle
        )
    assert len(calls) == 1  # first failure propagated; no re-run


def test_py4j_recovery_surface_pin(monkeypatch):
    """A PySpark/py4j upgrade that removes the recovery internals must
    fail LOUDLY at the surface assert, not silently disable the
    watchdog's recovery lane."""
    import py4j.java_gateway

    from dax_ppdb_spark.streaming import chunks as chunks_mod

    chunks_mod._assert_py4j_recovery_surface()  # current surface: OK

    class _NoShutdown:
        def __init__(self):
            pass

    monkeypatch.setattr(py4j.java_gateway, "CallbackServer", _NoShutdown)
    with pytest.raises(ImportError, match="recovery surface"):
        chunks_mod._assert_py4j_recovery_surface()


def test_py4j_recovery_surface_without_sources(monkeypatch):
    """py4j installed without its .py sources: the surface check
    raises an ImportError that says so, not a bare OSError from
    ``inspect.getsource``."""
    import inspect

    from dax_ppdb_spark.streaming import chunks as chunks_mod

    def _no_source(obj):
        raise OSError("could not get source code")

    monkeypatch.setattr(inspect, "getsource", _no_source)
    with pytest.raises(ImportError, match="source of py4j CallbackServer"):
        chunks_mod._assert_py4j_recovery_surface()


def test_windowed_event_counts_batch_semantics(spark):
    t = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (t, "a"),
        (t + datetime.timedelta(minutes=5), "a"),
        (t + datetime.timedelta(minutes=12), "a"),
        (t + datetime.timedelta(minutes=3), "b"),
    ]
    events = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = windowed_event_counts(events).collect()
    got = {(r.win.start.minute, r.event_type): r.n_events for r in out}
    assert got == {(0, "a"): 2, (10, "a"): 1, (0, "b"): 1}


def test_windowed_counts_on_a_real_stream(spark, tmp_path):
    """The same operator on a streaming DataFrame: file-source stream,
    watermark applied, availableNow drain via foreachBatch."""
    import datetime as dt

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    t = dt.datetime(2026, 1, 1, 0, 0, 0)
    batch = spark.createDataFrame(
        [
            (t, "a"),
            (t + dt.timedelta(minutes=5), "a"),
            (t + dt.timedelta(minutes=12), "b"),
        ],
        "ts TIMESTAMP, event_type STRING",
    )
    batch.write.parquet(os.path.join(src, "p0"))

    stream = spark.readStream.schema(batch.schema).parquet(src + "/*")
    agg = windowed_event_counts(stream)
    assert agg.isStreaming
    got: dict = {}

    def sink(bdf, bid):
        for r in bdf.collect():
            got[(r.win.start.minute, r.event_type)] = r.n_events

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == {(0, "a"): 2, (10, "b"): 1}


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key totals accumulate across two
    availableNow drains sharing one checkpoint (state restore)."""
    from dax_ppdb_spark.streaming import running_event_totals

    src = str(tmp_path / "ev")
    os.makedirs(src)
    schema = "event_id LONG, event_type STRING"
    spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], schema).write.parquet(
        os.path.join(src, "b0")
    )
    results: list = []

    def run_once():
        stream = spark.readStream.schema(
            spark.read.parquet(os.path.join(src, "b0")).schema
        ).parquet(src + "/*")
        q = (
            running_event_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: results.extend(
                    (r.key, r.n_batch, r.n_total) for r in bdf.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sorted(results) == [("a", 2, 2), ("b", 1, 1)]
    # second batch lands; totals continue from checkpointed state
    spark.createDataFrame([(4, "a"), (5, "c")], schema).write.mode("append").parquet(
        os.path.join(src, "b1")
    )
    results.clear()
    run_once()
    assert sorted(results) == [("a", 1, 3), ("c", 1, 1)]


def test_update_mode_rereplicates_mismatched_chunk(spark, tmp_path, now):
    """update=True: a source chunk whose uuid changed is copied again
    and its ledger row upserted (reference --update / D2 path)."""
    root = str(tmp_path / "apdb")
    base = now.replace(tzinfo=UTC).timestamp()
    _write_chunk(root, 1, base - 2000, "new-uuid")
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    ledger.insert_chunks([{"apdb_replica_chunk": 1, "unique_id": "old-uuid"}])

    strict = Replicator(spark, DirectoryApdbSource(root), ledger)
    with pytest.raises(ValueError, match="unique_id mismatch"):
        strict.pending_chunks(now)

    rerep = Replicator(spark, DirectoryApdbSource(root), ledger, update=True)
    staged = []
    assert rerep.replicate_once(lambda c: staged.append(c.chunk_id), now=now) == [1]
    rows = ledger.read().collect()
    assert len(rows) == 1 and rows[0].unique_id == "new-uuid"
    # converged: nothing pending afterwards
    assert rerep.pending_chunks(now) == []


def test_count_bounds_chunks_per_poll(spark, tmp_path, now):
    root = str(tmp_path / "apdb")
    base = now.replace(tzinfo=UTC).timestamp()
    for cid in (1, 2, 3):
        _write_chunk(root, cid, base - 2000, f"u{cid}")
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    rep = Replicator(spark, DirectoryApdbSource(root), ledger)
    assert rep.replicate_once(lambda c: None, now=now, count=2) == [1, 2]
    assert rep.replicate_once(lambda c: None, now=now) == [3]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered keys are dropped
    across micro-batches (at-least-once -> exactly-once per key) with
    watermark-bounded state; batch form degrades to exact key dedup."""
    import datetime as dt

    from dax_ppdb_spark.streaming.chunks import dedup_events_within_watermark

    src = str(tmp_path / "dup_src")
    os.makedirs(src)
    t = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = "event_id LONG, ts TIMESTAMP, v STRING"
    spark.createDataFrame(
        [(1, t, "first"), (2, t + dt.timedelta(minutes=1), "x"), (1, t, "dup-in-batch")],
        schema,
    ).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(
        [(1, t, "redelivered"), (3, t + dt.timedelta(minutes=2), "y")], schema
    ).write.mode("append").parquet(os.path.join(src, "b1"))

    stream = spark.readStream.schema(
        spark.read.parquet(os.path.join(src, "b0")).schema
    ).parquet(src + "/*")
    out = dedup_events_within_watermark(stream, key_cols=("event_id",))
    assert out.isStreaming
    seen: list = []

    def sink(bdf, bid):
        seen.extend((r.event_id, r.v) for r in bdf.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(i for i, _ in seen)
    assert ids == [1, 2, 3]  # each key exactly once across batches

    # batch parity: same operator on a static frame dedups the keys
    batch = spark.read.parquet(src + "/*")
    got = dedup_events_within_watermark(batch, key_cols=("event_id",))
    assert sorted(r.event_id for r in got.collect()) == [1, 2, 3]


def test_session_window_batch_stream_parity(spark, tmp_path):
    """Native session_window sessions match on batch and stream: a >gap
    quiet period splits sessions; watermark drains emit closed ones."""
    import datetime as dt

    from dax_ppdb_spark.streaming.chunks import session_event_counts

    t = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, t), (1, t + dt.timedelta(minutes=10)),            # session A (2 events)
        (1, t + dt.timedelta(hours=2)),                        # session B (gap > 30m)
        (2, t + dt.timedelta(minutes=5)),                      # session C
    ]
    schema = "user_id LONG, ts TIMESTAMP"
    batch = spark.createDataFrame(rows, schema)
    got_batch = {
        (r.user_id, r.session.start.hour, r.n_events)
        for r in session_event_counts(batch).collect()
    }
    assert got_batch == {(1, 0, 2), (1, 2, 1), (2, 0, 1)}

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    batch.write.parquet(os.path.join(src, "b0"))
    stream = spark.readStream.schema(batch.schema).parquet(src + "/*")
    agg = session_event_counts(stream)
    assert agg.isStreaming
    got: set = set()

    def sink(bdf, bid):
        got.update((r.user_id, r.session.start.hour, r.n_events) for r in bdf.collect())

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == got_batch


def test_streaming_paragraph_dedup_first_arrival_wins(spark, tmp_path):
    """Keyed-state paragraph dedup across two availableNow drains
    sharing one checkpoint: the first-arrived copy of each fingerprint
    survives; later batches' copies are dropped (state restore); new
    paragraphs always pass."""
    from dax_ppdb_spark.streaming import streaming_paragraph_dedup

    src = str(tmp_path / "paras")
    os.makedirs(src)
    schema = "fp LONG, doc_id LONG, pos LONG, para STRING"
    spark.createDataFrame(
        [(100, 7, 0, "boiler"), (100, 3, 1, "boiler"), (200, 7, 1, "unique a")],
        schema,
    ).write.parquet(os.path.join(src, "b0"))
    survivors: list = []

    def run_once():
        stream = spark.readStream.schema(
            spark.read.parquet(os.path.join(src, "b0")).schema
        ).parquet(src + "/*")
        q = (
            streaming_paragraph_dedup(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: survivors.extend(
                    (r.fp, r.doc_id, r.pos) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # within one batch the (doc_id, pos)-least copy wins
    assert sorted(survivors) == [(100, 3, 1), (200, 7, 1)]
    # batch 2: a re-arrival of fp 100 is dropped; fp 300 is new
    spark.createDataFrame(
        [(100, 9, 0, "boiler"), (300, 9, 1, "unique b")], schema
    ).write.mode("append").parquet(os.path.join(src, "b1"))
    survivors.clear()
    run_once()
    assert sorted(survivors) == [(300, 9, 1)]


def test_streaming_counts_feed_anomaly_monitor(spark, tmp_path):
    """Composition: the streaming windowed-count sink IS the count
    series ops.stats.rowcount_anomalies monitors — stream a day of
    steady 10-minute buckets with one planted spike through the
    watermarked aggregation (availableNow drain), then score the sunk
    series; exactly the spike bucket flags."""
    import datetime as dt

    from dax_ppdb_spark.ops.stats import rowcount_anomalies

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for b in range(24):
        per = 200 if b == 20 else (3 + b % 3)  # noisy baseline + spike
        for j in range(per):
            rows.append((t0 + dt.timedelta(minutes=10 * b, seconds=j), "a"))
    spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING").write.parquet(
        os.path.join(src, "p0")
    )

    stream = spark.readStream.schema("ts TIMESTAMP, event_type STRING").parquet(
        src + "/*"
    )
    agg = windowed_event_counts(stream)
    sunk: dict[int, int] = {}

    def sink(bdf, bid):
        for r in bdf.collect():
            bucket = int(r.win.start.timestamp()) // 600
            sunk[bucket] = sunk.get(bucket, 0) + r.n_events

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(sunk) == 24

    series = spark.createDataFrame(
        sorted(sunk.items()), "bucket_id LONG, n_rows LONG"
    )
    flagged = {
        r.bucket_id
        for r in rowcount_anomalies(series, "bucket_id", window=16).collect()
        if r.is_anomaly
    }
    first = min(sunk)
    assert flagged == {first + 20}
