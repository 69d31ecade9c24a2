"""Replica-chunk ledger: the replication commit log + state machine.

Reference: ``PpdbReplicaChunk`` table (``sql/_ppdb_sql_base.py:460-497``)
with the BigQuery status extension (``bigquery/ppdb_bigquery.py:352-397``,
state machine ``ppdb_replica_chunk_extended.py:42-56``).  Operators:
S2/S3 filtered+ordered scans, S4 existence probe, D5 whitelisted
status update, D6 duplicate-checked insert, O3 contiguous-STAGED-run
selection, and the replication watermark gate (§2.9).

The ledger is small (one row per ~10-minute chunk — ~52k rows a
year), but it is mutated on EVERY chunk transition, so mutation
cost compounds over the deployment's lifetime.  It is therefore an
**append-only status-event log**: each insert / upsert / update
appends O(batch) event rows stamped with a monotonic ``__event_seq``;
the logical table is the last event per chunk id.  Cumulative write
IO is O(events), not the O(N²-in-chunks) a full read-modify-write per
transition would cost — the analog of the reference's indexed
single-row UPDATE (``bigquery/ppdb_bigquery.py:620-657``).  Appends
commit through ``ParquetTable.append_commit`` (copy-on-write hardlinks
+ CAS pointer flip), so readers see whole batches atomically and
racing writers lose loudly; once the log holds too many files a commit
folds in a compaction (terminal rows frozen into archive runs).

**Driver-local Arrow.**  The log is read and written with pyarrow on
the driver, never with Spark jobs.  It gains one row per ~10-minute
chunk (~52k chunks and ~210k status events a year), while each Spark
read, aggregate or write costs a job's planning, codegen, scheduling
and py4j round trips — and a chunk's lifecycle makes about ten ledger
calls, which made the ledger's bookkeeping jobs the largest single
share of a chunk's jobs.  The calls on the lifecycle path read only
what they need, so their cost does not grow with the deployment's
age: :meth:`Ledger.promotable_chunks`, :meth:`Ledger.chunks_with_status`
(for a non-terminal status) and :meth:`Ledger.update_chunks` read the
event files alone (the active chunks' rows plus at most
``auto_compact_files`` appended batches), never the archive runs that
hold every chunk ever promoted; the duplicate probe,
:meth:`Ledger.exists` and the next event seq read one or two integer
columns of every file.  The on-disk format is unchanged (parquet event
files and archive runs in a ``ParquetTable`` version directory), so
logs written by the earlier Spark lane, with Spark's INT96
timestamps, read the same.  :meth:`Ledger.read`,
:meth:`Ledger.read_log` and :meth:`Ledger.query_chunks` return the
whole table as DataFrames: local relations built by
``spark.createDataFrame(pyarrow.Table)``, on which filters,
projections and collects run no job either, at a cost that does grow
with every chunk ever seen (~0.3 s a call at 52k chunks on a 4-vCPU
host, against ~4 ms for the event-file reads;
``tools/ledger_lifetime.py`` checks that commits and polls stay flat).
"""

from __future__ import annotations

import datetime
import os
import uuid as uuid_mod
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

from .io.table import ParquetTable
from .schema.registry import PPDB_REPLICA_CHUNK, ChunkStatus

# D5 field whitelist (bigquery/ppdb_bigquery.py:70-75).
UPDATABLE_FIELDS = frozenset({"status", "gcs_uri"})

# Event-log ordering column: strictly increasing across commits (each
# commit reads max(seq)+1 under the single-writer/CAS contract), shared
# within a commit (one batch touches distinct chunk ids, so the
# last-writer-wins key (chunk, seq) stays unique).
EVENT_SEQ = "__event_seq"

LEDGER_LOG_SCHEMA = StructType(
    list(PPDB_REPLICA_CHUNK.fields) + [StructField(EVENT_SEQ, LongType(), False)]
)
# The same schema as written to disk (timestamps: microseconds, UTC).
LEDGER_LOG_ARROW = to_arrow_schema(LEDGER_LOG_SCHEMA)
_CHUNK_COLS = [f.name for f in PPDB_REPLICA_CHUNK.fields]

# States that never transition again under the reference's state
# machine (bigquery/ppdb_replica_chunk_extended.py:42-56): their
# winning rows are frozen into archive runs at compaction and carried
# forward by hardlink instead of being rewritten every compaction.
# (A later event for an archived chunk — e.g. a re-replication upsert
# — still wins at read time: archive is a storage layout, not logic;
# the stale archived row lingers harmlessly until a run merge.)
TERMINAL_STATUSES = (ChunkStatus.PROMOTED.value, ChunkStatus.SKIPPED.value)

# Archive run file prefix inside the version dir (plain parquet — the
# log read picks runs up like any data file).
_ARCHIVE_PREFIX = "archive-"


def _read_files(files: list[str], columns: list[str] | None = None) -> pa.Table:
    """The event rows of ``files`` (``columns`` of them, default all),
    cast to ``LEDGER_LOG_ARROW`` (one file at a time: Spark-written
    files carry INT96 timestamps)."""
    names = columns or LEDGER_LOG_ARROW.names
    schema = pa.schema([LEDGER_LOG_ARROW.field(c) for c in names])
    parts = [pq.read_table(f, columns=schema.names).cast(schema) for f in files]
    return pa.concat_tables(parts) if parts else schema.empty_table()


def _winners(log: pa.Table) -> pa.Table:
    """Last event per chunk id (highest ``__event_seq``), ordered by
    chunk id."""
    if not log.num_rows:
        return log
    ordered = log.take(
        pc.sort_indices(
            log, [("apdb_replica_chunk", "ascending"), (EVENT_SEQ, "descending")]
        )
    )
    ids = ordered.column("apdb_replica_chunk").to_numpy()
    return ordered.take(np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]]))


def _is_in(column: pa.ChunkedArray, values) -> pa.ChunkedArray:
    return pc.is_in(column, value_set=pa.array(list(values), column.type))


class Ledger:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        auto_compact_files: int = 64,
        archive_merge_runs: int = 12,
    ) -> None:
        """``auto_compact_files``: when a commit finds more than this
        many data files in the log, it folds a compaction into ITSELF
        (one rewrite of ACTIVE winning rows + the new batch, terminal
        winners frozen into archive runs) instead of appending.  This
        bounds the per-commit hardlink fan-out of ``append_commit`` —
        without it, commit k links O(k) files and lifetime commit cost
        is O(N²) in transitions, the same disease the event log cured
        for bytes.  Amortized: one O(active-rows) rewrite every
        ``auto_compact_files`` appends — O(active), not O(all chunks
        ever), because rows in TERMINAL_STATUSES are written once to
        an archive run and hardlinked forward by every later
        compaction.  ``archive_merge_runs`` bounds the archive run
        count: past it, a compaction folds the smaller half of the
        runs into one (size-tiered — each archived row is rewritten
        O(log runs) times over the table's lifetime, never once per
        compaction)."""
        self.spark = spark
        self.table = ParquetTable(path)
        self.auto_compact_files = auto_compact_files
        self.archive_merge_runs = archive_merge_runs

    # -- reads (driver-local) ------------------------------------------------

    def _data_files(self) -> list[str]:
        d = self.table.data_dir()
        if d is None:
            return []
        return sorted(
            os.path.join(d, n)
            for n in os.listdir(d)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )

    def _log(self, columns: list[str] | None = None) -> pa.Table:
        return _read_files(self._data_files(), columns)

    def _event_files(self) -> list[str]:
        """The data files that are not archive runs."""
        return [
            f
            for f in self._data_files()
            if not os.path.basename(f).startswith(_ARCHIVE_PREFIX)
        ]

    def _active(self) -> pa.Table:
        """Winning rows of the chunks whose status is not terminal, in
        id order — read from the event files alone, so the cost follows
        the active chunks, not every chunk ever seen.  Exact: archive
        runs hold terminal rows only, and a later event for an archived
        chunk sits in an event file with a higher seq."""
        winners = _winners(_read_files(self._event_files()))
        return winners.filter(pc.invert(_is_in(winners["status"], TERMINAL_STATUSES)))

    def read_log(self) -> DataFrame:
        """The raw status-event log, one row per transition."""
        return self.spark.createDataFrame(self._log(), LEDGER_LOG_SCHEMA)

    def read(self) -> DataFrame:
        """The logical ledger: last event per chunk id, in id order."""
        return self.spark.createDataFrame(
            _winners(self._log()).select(_CHUNK_COLS), PPDB_REPLICA_CHUNK
        )

    def query_chunks(
        self,
        *where: Column,
        start_chunk_id: int | None = None,
        order_by: str = "last_update_time",
    ) -> DataFrame:
        """S2/S3: conjunctive-predicate scan, ordered.

        The rows are sorted on the driver (nulls first, as Spark's
        ascending sort) before they become a local relation; the
        ``where`` filters keep that order and run no job.

        Reference: sql/_ppdb_sql.py:97-125, bigquery/ppdb_bigquery.py:501-544.
        """
        rows = _winners(self._log()).select(_CHUNK_COLS)
        if start_chunk_id is not None:
            rows = rows.filter(pc.greater_equal(rows["apdb_replica_chunk"], start_chunk_id))
        rows = rows.take(
            pc.sort_indices(
                rows,
                [(order_by, "ascending"), ("apdb_replica_chunk", "ascending")],
                null_placement="at_start",
            )
        )
        df = self.spark.createDataFrame(rows, PPDB_REPLICA_CHUNK)
        for cond in where:
            df = df.filter(cond)
        return df

    def exists(self, chunk_id: int) -> bool:
        """S4: existence probe (sql/_ppdb_sql.py:143-149)."""
        ids = self._log(["apdb_replica_chunk"])["apdb_replica_chunk"]
        return bool(pc.any(_is_in(ids, [chunk_id])).as_py())

    def chunks_with_status(self, status: ChunkStatus) -> list[int]:
        """Ids of the chunks whose current status is ``status``, in
        increasing order (the S3 scan the uploader polls with).  A
        non-terminal status reads the event files only."""
        rows = (
            _winners(self._log())
            if status.value in TERMINAL_STATUSES
            else self._active()
        )
        return rows.filter(pc.equal(rows["status"], status.value))[
            "apdb_replica_chunk"
        ].to_pylist()

    def promotable_chunks(self) -> list[int]:
        """O3: longest prefix of STAGED chunks in increasing id order.

        Reference: bigquery/ppdb_bigquery.py:546-576 — stop at the
        first chunk (among non-terminal ones) that is not yet STAGED.
        """
        active = self._active()
        out: list[int] = []
        for cid, status in zip(
            active["apdb_replica_chunk"].to_pylist(), active["status"].to_pylist()
        ):
            if status != ChunkStatus.STAGED:
                break
            out.append(cid)
        return out

    # -- writes (append-only events; IO is O(batch), never O(table)) ---------

    def _next_seq(self, log: pa.Table | None = None) -> int:
        """max(seq)+1 over ``log`` (default: the seq column of every
        file) — the single-writer / CAS-append contract makes it
        race-safe."""
        if log is None:
            log = self._log([EVENT_SEQ])
        top = pc.max(log[EVENT_SEQ]).as_py()
        return 0 if top is None else top + 1

    def _data_file_count(self) -> int:
        return len(self._data_files())

    def _append_events(self, rows: list[dict], seq: int) -> None:
        self._commit_events(
            pa.Table.from_pylist(
                [dict(r, **{EVENT_SEQ: seq}) for r in rows], LEDGER_LOG_ARROW
            )
        )

    def _commit_events(self, events: pa.Table) -> None:
        """One atomic commit of a batch of event rows: an
        ``append_commit`` normally, or — when the log's file count
        crosses ``auto_compact_files`` — a compaction folded into this
        same commit (dropped events were already losers of the
        per-chunk last-writer-wins, and the new batch's seq is the
        maximum)."""
        if self._data_file_count() > self.auto_compact_files:
            self._compact_commit(events)
        else:
            self.table.append_commit(events)

    def _archive_files(self) -> list[str]:
        return [
            f
            for f in self._data_files()
            if os.path.basename(f).startswith(_ARCHIVE_PREFIX)
        ]

    @staticmethod
    def _write_archive_run(rows: pa.Table, dst: str) -> None:
        """Write ``rows`` as ONE parquet file named as an archive run
        inside the draft directory ``dst`` (nothing when empty — no
        zero-row runs accumulate)."""
        if rows.num_rows:
            pq.write_table(
                rows, os.path.join(dst, f"{_ARCHIVE_PREFIX}{uuid_mod.uuid4().hex}.parquet")
            )

    def _compact_commit(self, events: pa.Table) -> None:
        """Compaction folded into a commit, terminal-aware: ACTIVE
        winning rows + the new batch are rewritten as the log's data
        files; winners in TERMINAL_STATUSES move (once) into a frozen
        archive run; existing runs are HARDLINKED into the new version
        untouched.  Past ``archive_merge_runs`` runs, the smaller half
        folds into one (size-tiered).  Per-compaction write bytes are
        therefore O(active rows + batch + newly-terminal rows), flat
        over the deployment's lifetime — not O(every chunk ever seen),
        which is what rewriting terminal history each compaction would
        cost (measured: tools/ledger_lifetime.py)."""
        with self.table.draft(empty=True) as d:
            arch_files = self._archive_files()
            # winners among the event files: every active chunk's, and
            # the terminal rows not archived yet (see _active)
            winners = _winners(_read_files(self._event_files()))
            term = _is_in(winners["status"], TERMINAL_STATUSES)
            new_arch = winners.filter(term)
            if arch_files:
                # already-archived winners stay where they are; only the
                # newly-terminal delta is written
                key = ["apdb_replica_chunk", EVENT_SEQ]
                new_arch = new_arch.join(
                    _read_files(arch_files, key), key, join_type="left anti"
                ).select(LEDGER_LOG_ARROW.names)
            d.append(pa.concat_tables([winners.filter(pc.invert(term)), events]))
            link = arch_files
            if len(arch_files) >= self.archive_merge_runs:
                by_size = sorted(arch_files, key=os.path.getsize)
                merge = by_size[: len(by_size) // 2 + 1]
                link = [f for f in arch_files if f not in merge]
                self._write_archive_run(_read_files(merge), d.path)
            for f in link:
                os.link(f, os.path.join(d.path, os.path.basename(f)))
            self._write_archive_run(new_arch, d.path)

    def insert_chunks(self, rows: Iterable[dict]) -> None:
        """D6: batch insert; duplicate chunk ids raise (IntegrityError
        analog, ``bigquery/ppdb_bigquery.py:598-618``).  Appends
        O(batch) event rows in one commit; the error names up to 8 of
        the offending ids."""
        completed = [self._complete_row(r) for r in rows]
        ids = [r["apdb_replica_chunk"] for r in completed]
        if len(set(ids)) != len(ids):
            dup = sorted({i for i in ids if ids.count(i) > 1})
            raise ValueError(f"duplicate replica chunk ids: {dup}")
        log = self._log(["apdb_replica_chunk", EVENT_SEQ])
        known = log["apdb_replica_chunk"]
        dupes = sorted(set(known.filter(_is_in(known, ids)).to_pylist()))[:8]
        if dupes:
            raise ValueError(f"duplicate replica chunk ids: {dupes}")
        self._append_events(completed, self._next_seq(log))

    def upsert_chunk(self, row: dict) -> None:
        """D2: re-replication upsert (sql/_ppdb_sql.py:175-179) — one
        appended event; last-writer-wins compaction IS the upsert."""
        self._append_events([self._complete_row(row)], self._next_seq())

    def update_chunk(self, chunk_id: int, **fields) -> None:
        """D5: whitelisted field update; LookupError when the row is absent.

        Reference: bigquery/ppdb_bigquery.py:620-657 (indexed point
        UPDATE + LookupError on rowcount 0).
        """
        self.update_chunks([chunk_id], **fields)

    def update_chunks(self, chunk_ids: Iterable[int], **fields) -> None:
        """Batched D5: one ledger commit for a whole chunk batch — the
        promotion of k chunks costs ONE append of k event rows, not k
        table writes.  The new events are the current winning rows with
        the whitelisted fields replaced."""
        ids = sorted(set(chunk_ids))
        if not ids:
            return
        bad = set(fields) - UPDATABLE_FIELDS
        if bad:
            raise ValueError(f"fields not updatable: {sorted(bad)}")
        # the lifecycle updates active chunks: the event files suffice
        # unless an id is terminal (or absent)
        winners = self._active()
        current = winners.filter(_is_in(winners["apdb_replica_chunk"], ids))
        if current.num_rows < len(ids):
            winners = _winners(self._log())
            current = winners.filter(_is_in(winners["apdb_replica_chunk"], ids))
        present = set(current["apdb_replica_chunk"].to_pylist())
        missing = [i for i in ids if i not in present]
        if missing:
            raise LookupError(f"no such replica chunk: {missing}")
        values = {
            name: value.value if isinstance(value, ChunkStatus) else value
            for name, value in fields.items()
        }
        self._append_events(
            [dict(r, **values) for r in current.select(_CHUNK_COLS).to_pylist()],
            self._next_seq(),
        )

    def compact_log(self) -> None:
        """Housekeeping: fold the event log down to the winning row per
        chunk (terminal winners into frozen archive runs, active ones
        rewritten — O(active rows), see ``_compact_commit``); the
        logical table is unchanged.  Run on a schedule, not per
        transition."""
        if not self.table.exists():
            return
        self._compact_commit(LEDGER_LOG_ARROW.empty_table())

    @staticmethod
    def _complete_row(r: dict) -> dict:
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        out = {
            "last_update_time": now,
            "unique_id": str(uuid_mod.uuid4()),
            "replica_time": now,
            "status": ChunkStatus.EXPORTED.value,
            "gcs_uri": None,
            "update_count": 0,
        }
        out.update(r)
        if isinstance(out.get("status"), ChunkStatus):
            out["status"] = out["status"].value
        return out


def can_replicate(
    chunk_time: datetime.datetime,
    now: datetime.datetime,
    has_newer: bool,
    min_wait_s: float = 300.0,
    max_wait_s: float = 900.0,
) -> bool:
    """§2.9 watermark gate: a chunk is copied once its age exceeds
    ``min_wait`` when newer chunks exist (the bucket can no longer
    grow), else ``max_wait``.

    Reference: replicator.py:130-163, defaults cli/options.py:106-125.
    """
    age = (now - chunk_time).total_seconds()
    return age >= (min_wait_s if has_newer else max_wait_s)


def replication_diff(apdb_chunks: DataFrame, ppdb_chunks: DataFrame) -> DataFrame:
    """J5/O2: chunks present in APDB but not yet replicated, in id order.

    Reference: replicator.py:106-110 (Python set difference + sort).
    """
    return (
        apdb_chunks.join(
            F.broadcast(ppdb_chunks.select("apdb_replica_chunk")),
            "apdb_replica_chunk",
            "left_anti",
        )
        .orderBy("apdb_replica_chunk")
    )


def consistency_mismatches(apdb_chunks: DataFrame, ppdb_chunks: DataFrame) -> DataFrame:
    """J6: replicated chunks whose unique_id differs between sides.

    Reference: replicator.py:230-240.
    """
    a = apdb_chunks.select("apdb_replica_chunk", F.col("unique_id").alias("apdb_uid"))
    p = ppdb_chunks.select("apdb_replica_chunk", F.col("unique_id").alias("ppdb_uid"))
    return a.join(p, "apdb_replica_chunk").filter(F.col("apdb_uid") != F.col("ppdb_uid"))
