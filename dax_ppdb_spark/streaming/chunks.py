"""Structured-Streaming-native variants of the replication loop.

The reference's "streaming" is a polling micro-batch loop
(``replicator.py:193-247``); its Spark-native shape is a file-source
stream over the chunk landing area with ``foreachBatch`` +
``Trigger.AvailableNow`` — the checkpoint log replaces the hand-rolled
ledger diff for at-least-once file pickup, and the ledger remains the
idempotency/commit layer (SURVEY §2.9).

``windowed_event_counts`` covers the watermark/windowed-aggregation
surface for late event-time data — the streaming analog of the
reference's wait-based chunk hold-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _assert_py4j_recovery_surface() -> None:
    """Fail LOUDLY (ImportError) if a PySpark/py4j upgrade removed the
    internals :func:`_reset_callback_server` leans on — otherwise the
    drain would silently lose its recovery lane and the next wedge
    would look like an unexplained permanent stall."""
    import inspect

    try:
        from pyspark.java_gateway import (  # noqa: F401
            ensure_callback_server_started,
        )
    except ImportError as e:  # pragma: no cover - version drift guard
        raise ImportError(
            "drain-watchdog recovery surface gone: "
            "pyspark.java_gateway.ensure_callback_server_started"
        ) from e
    from py4j.java_gateway import CallbackServer

    try:
        source = inspect.getsource(CallbackServer)
    except (OSError, TypeError) as e:
        # py4j installed without its .py sources (bytecode-only or
        # zipped): the surface cannot be checked, so say so instead of
        # failing the import with a bare "could not get source code"
        raise ImportError(
            "drain-watchdog recovery surface unverifiable: the source of "
            "py4j CallbackServer is not available"
        ) from e
    if not hasattr(CallbackServer, "shutdown") or "server_socket" not in source:
        raise ImportError(
            "drain-watchdog recovery surface changed: py4j CallbackServer "
            "no longer exposes server_socket/shutdown"
        )


_assert_py4j_recovery_surface()


def _make_tracker() -> dict:
    """Shared in-flight marker between the ``foreachBatch`` wrapper and
    the watchdog (module-level factory so tests can inject a tracker
    that simulates the wedge's 'Python never saw the call' signature).
    """
    return {"inflight": 0}


def _await_drain(query, stall_timeout: float, tracker: dict) -> bool:
    """Wait for an ``AvailableNow`` drain to terminate, polling so a
    wedged py4j callback can never park the caller forever.  Returns
    True on normal termination, False on the WEDGE SIGNATURE: no
    micro-batch has committed for ``stall_timeout`` seconds (progress
    read from ``lastProgress``) AND no ``process_batch`` invocation is
    executing on the Python side (``tracker``).  A legitimately slow
    micro-batch keeps ``inflight`` > 0 the whole time it runs, so it is
    never declared wedged no matter how long it takes — the observed
    py4j wedge is precisely the opposite state, the JVM blocked sending
    a callback that Python never received (connection unaccepted in the
    CallbackServer's listen backlog), which leaves the Python side
    idle."""
    import time

    last_key, last_t = None, time.monotonic()
    while not query.awaitTermination(5.0):
        p = query.lastProgress
        key = (p["batchId"], p["timestamp"]) if p else None
        if key != last_key or tracker["inflight"] > 0:
            last_key, last_t = key, time.monotonic()
        elif time.monotonic() - last_t > stall_timeout:
            return False
    return True


def _reset_callback_server(spark: SparkSession) -> None:
    """Force-recover the py4j callback server after a wedged
    ``foreachBatch`` dispatch.

    Observed failure (twice, once on an otherwise idle box): the JVM
    stream-execution thread parks in ``CallbackClient.sendCommand``
    waiting for the Python ``foreachBatch`` reply while the kernel
    shows the JVM's callback CONNECTION SITTING UNACCEPTED in the
    Python ``CallbackServer``'s listen backlog (ESTAB, Recv-Q > 0, no
    owning fd) — py4j's accept loop has stopped accepting, so the call
    can never be served and the drain never terminates.  Closing the
    server socket directly (lock-free — the graceful ``shutdown()``
    path takes the server lock, which may be party to the wedge) RSTs
    the backlog connection, which surfaces in the JVM as an
    IOException on the blocked read -> the micro-batch fails -> the
    query terminates; a fresh callback server on a new port is then
    installed via the same ``resetCallbackClient`` path PySpark uses
    at startup, and the idempotent re-drain replays only uncommitted
    batches.
    """
    import threading

    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    cbs = gw.__dict__.get("_callback_server")
    if cbs is not None:
        try:
            cbs.server_socket.close()
        except Exception:
            pass
        # Graceful close of any surviving per-connection threads; on a
        # daemon thread with a bounded join because shutdown() takes
        # the server lock that may be part of the original deadlock.
        t = threading.Thread(target=cbs.shutdown, daemon=True)
        t.start()
        t.join(10.0)
        gw._callback_server = None
    ensure_callback_server_started(gw)


def stream_chunks(
    spark: SparkSession,
    source_path: str,
    schema: StructType,
    checkpoint: str,
    process_batch,
    max_files_per_trigger: int = 64,
    stall_timeout: float = 300.0,
    max_restarts: int = 2,
) -> None:
    """Process newly landed chunk files exactly once per restart cycle.

    ``process_batch(df, batch_id)`` receives each micro-batch;
    ``Trigger.AvailableNow`` drains everything currently available and
    stops — the driver loop (cron, scheduler) provides the polling
    cadence, exactly like the reference's ``check_interval``.
    ``max_files_per_trigger`` sets the micro-batch granularity (the
    file source batches in modification-time order); 1 makes each
    landed file its own batch — the deterministic-replay shape the
    batch-twin oracle query uses.

    The drain is supervised: if no micro-batch commits for
    ``stall_timeout`` seconds AND no ``process_batch`` call is
    executing Python-side (the observed py4j callback wedge's
    signature — see :func:`_reset_callback_server` and
    :func:`_await_drain`), the callback server is recovered and the
    query restarted on the same checkpoint, up to ``max_restarts``
    times.  A merely SLOW micro-batch (``process_batch`` running
    longer than ``stall_timeout`` — plausible for a heavy curate over
    ``max_files_per_trigger`` files at scale) is NOT a wedge: the
    in-flight marker keeps the watchdog quiet for as long as the batch
    actually runs, so there is no per-batch processing-time ceiling.
    A query that FAILS (a genuine ``process_batch``/source exception)
    propagates immediately — no reset, no silent re-execution.
    Restart safety is the operator's existing exactly-once contract:
    committed batches are never redelivered and ``process_batch`` is
    idempotent under redelivery of the one in-flight batch.
    """
    tracker = _make_tracker()

    def _tracked(df, batch_id):
        tracker["inflight"] += 1
        try:
            return process_batch(df, batch_id)
        finally:
            tracker["inflight"] -= 1

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_path)
        )
        return (
            stream.writeStream.foreachBatch(_tracked)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    attempts = max_restarts + 1
    for attempt in range(attempts):
        query = _start()
        # A genuine query exception (process_batch raised, source
        # disappeared, ...) propagates from _await_drain right here —
        # deterministic failures must surface immediately, not after
        # two silent re-executions, and resetting the SESSION-GLOBAL
        # callback server for them would RST the in-flight callbacks
        # of every other streaming query sharing the session.
        if _await_drain(query, stall_timeout, tracker):
            return
        # Confirmed wedge signature: recover the callback server even
        # on the final attempt (leaving it wedged would break the next
        # streaming call on this session), then restart or give up.
        _reset_callback_server(spark)
        try:
            query.stop()
        except Exception:
            pass
        # Two active queries on one checkpoint are rejected — wait for
        # the wedged one to actually terminate (the reset makes its
        # blocked read fail promptly) before restarting.
        import time as _time

        for _ in range(120):
            if not query.isActive:
                break
            _time.sleep(0.5)
    raise RuntimeError(
        f"stream_chunks: drain stalled {attempts}x (no batch progress "
        f"for {stall_timeout}s each with no process_batch in flight); "
        "py4j callback recovery did not unstick it"
    )


def session_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "15 minutes",
    group_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Gap-based session aggregation via Spark's native
    ``session_window`` — the streaming sibling of the batch
    ``sessionize`` query (lag + cumsum windows): a session closes when
    ``gap`` passes with no event, and on a stream the watermark decides
    when a session can no longer grow and its state is emitted/evicted.
    Works on batch DataFrames too (same operator, no state).
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
    )


def dedup_events_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark_delay: str = "15 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    At-least-once sources (the reference's retried chunk copies,
    ``chunk_uploader.py`` retry path) deliver duplicates; this keeps
    the first occurrence of each key and drops re-deliveries arriving
    within ``watermark_delay`` of the watermark.  Spark's
    ``dropDuplicatesWithinWatermark`` expires each key's state once
    the watermark passes it — state stays O(keys per delay window),
    never O(stream) like a plain ``dropDuplicates`` on a stream would
    be.  On a batch DataFrame it degrades to exact dedup on the keys
    (first-in-batch semantics differ only on exact-duplicate rows),
    preserving batch/stream parity for tests.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark_delay: str = "15 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts over an event-time stream.

    Late rows within ``watermark_delay`` update their window; older
    ones are dropped — the declarative version of the reference's
    min/max-wait chunk gating.  Works on both batch and streaming
    DataFrames (Spark unifies the operator).
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return df.groupBy(
        F.window(F.col(ts_col), window_duration).alias("win"), *group_cols
    ).agg(F.count(F.lit(1)).alias("n_events"))


def stream_curated(
    spark: SparkSession,
    source_path: str,
    schema: StructType,
    checkpoint: str,
    state_root: str,
    sink_path: str,
    max_files_per_trigger: int = 64,
    **curate_kw,
) -> None:
    """Streaming corpus curation: file-source micro-batches through
    :func:`~..llm.curate.curate_batch` (standing dedup state under
    ``state_root``) into a per-batch-partitioned parquet sink —
    exactly-once END TO END despite the sink and the curation state
    committing separately:

    - ``curate_batch`` is idempotent under redelivery (same output
      rows, state appends keyed by doc_id), so replaying a micro-batch
      after a crash between the two commits recomputes the identical
      survivor set;
    - the sink write is a DYNAMIC partition overwrite keyed by
      ``batch_id`` — a replay overwrites its own partition with the
      same rows and touches nothing else.

    Keep rule across batches is first-seen-wins (arrival order); with
    id-ascending batches this is exactly the one-shot min-id chain
    (tests/test_curate_incremental.py).
    """
    from ..llm.curate import curate_batch

    def _process(df: DataFrame, batch_id: int) -> None:
        out = curate_batch(spark, df, state_root, **curate_kw)
        (
            out.withColumn("__batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(sink_path)
        )

    stream_chunks(
        spark, source_path, schema, checkpoint, _process,
        max_files_per_trigger=max_files_per_trigger,
    )
