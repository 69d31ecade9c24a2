"""Managed parquet tables with uncommitted versions and atomic commits.

The reference relies on BigQuery primitives we must rebuild on a
filesystem: zero-copy CLONE (``bigquery/chunk_promoter.py:199-203``),
atomic WRITE_TRUNCATE swap (``:261-284``) and DELETE-by-chunk
(``:306-329``).

Design for scale: a table is a directory; every rewrite lands in a
fresh ``_v<uuid>`` subdirectory and a single ``_CURRENT`` pointer file
names the live version — readers resolve the pointer then read one
immutable directory, so swap is one small-file replace (the same
pointer-commit idea as Delta's ``_delta_log``, minus the log).  On a
real object store the pointer write is the only operation that needs
read-after-write consistency.  Chunk-partitioned tables keep one
directory per chunk (:meth:`ParquetTable.link_partition` hardlinks a
chunk's files into it), so DELETE-by-chunk is a partition drop, not a
rewrite.

Every versioned write goes through one lifecycle: :meth:`ParquetTable.
draft` opens an uncommitted version (a :class:`Draft`: hardlinks of
the current version's files, zero bytes copied — the CLONE — or an
empty directory) and records the version it was based on; the writer
reads, appends to and replaces partitions of the draft, then
:meth:`Draft.commit` flips the pointer if it still names that base.
A draft that is not committed is aborted and its directory removed,
so a failed write leaves no orphan version behind.

Footer schemas: :func:`read_dir` takes the data columns' schema from
ONE data file's footer, read on the driver, and hands it to
``spark.read.schema(...)``.  Spark's writer stores the file's exact
``StructType`` in the footer (key
``org.apache.spark.sql.parquet.row.metadata``), and Spark's own
non-merging inference reads exactly that from one footer — but in a
one-task job, which on the replication path was one job per table
read, per chunk.  Partition columns are still discovered from the
directory names (driver-side, no job), with the same types inference
gives.  A directory with no data files, or whose file carries no Spark
schema (written by pyarrow), reads through inference, so an empty
version still raises exactly as before.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Footer key under which Spark's parquet writer records the file's
# Catalyst schema (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(version_dir: str) -> str | None:
    """The first file Spark's reader would list (it skips ``_``/``.``
    names, directories included), in sorted walk order."""
    for root, dirs, files in os.walk(version_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema recorded in a data file's footer, if any."""
    import pyarrow.parquet as pq

    meta = pq.read_schema(path).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def _write_files(df, dest: str, partition_by: tuple[str, ...], mode: str) -> None:
    """Write ``df`` into directory ``dest``: a Spark DataFrame through
    its writer, a ``pyarrow.Table`` as one driver-local file (no Spark
    job; unpartitioned only)."""
    if hasattr(df, "write"):
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(dest)
        return
    if partition_by:
        raise ValueError("a pyarrow.Table is written unpartitioned")
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    pq.write_table(df, os.path.join(dest, f"part-{uuid.uuid4().hex}.parquet"))


def read_dir(spark: SparkSession, d: str, parts: list[str] | None = None) -> DataFrame:
    """Read a parquet directory with the data schema of its first
    file's footer (no inference job); inference when it has no data
    files or that footer carries no Spark schema.

    ``parts`` names partition subdirectories (``col=value``) whose
    rows the caller will select: the schema is then the union, by
    field name in first-seen order, of each one's first footer, so a
    column that only a later partition carries is read (as null in the
    others) instead of dropped."""
    schema = None
    for sub in [os.path.join(d, p) for p in parts] if parts else [d]:
        first = _first_data_file(sub)
        s = _footer_schema(first) if first is not None else None
        if s is None:
            return spark.read.parquet(d)
        if schema is None:
            schema = s
        else:
            for f in s.fields:
                if f.name not in schema.fieldNames():
                    schema = schema.add(f)
    return spark.read.schema(schema).parquet(d)


class ConcurrentWriteError(RuntimeError):
    """A second writer committed between this writer's snapshot of the
    pointer and its own commit; the losing write was discarded."""


class Draft:
    """An uncommitted version of a :class:`ParquetTable`: a
    ``_v<uuid>`` directory at ``path`` that no reader of the table
    sees until :meth:`commit`, and the version ``base`` it was opened
    on (None for a table with no version yet).

    Used as a context manager it commits on a clean exit and aborts on
    an exception; a writer holding it longer (``Promoter`` across its
    steps 1-4) calls :meth:`commit` and, in ``finally``, :meth:`abort`,
    which is a no-op once committed.
    """

    def __init__(self, table: ParquetTable, base: str | None, path: str) -> None:
        self.table = table
        self.base = base
        self.path = path
        self.committed = False

    def read(self, spark: SparkSession) -> DataFrame:
        return read_dir(spark, self.path)

    def append(self, df, partition_by: tuple[str, ...] = ()) -> None:
        """Add ``df``'s rows (a DataFrame, or an unpartitioned
        ``pyarrow.Table`` written with no Spark job)."""
        _write_files(df, self.path, partition_by, "append")

    def replace_partitions(self, df: DataFrame, partition_col: str, values: list) -> None:
        """Replace the partitions named in ``values`` (and any that
        ``df`` writes) with ``df``'s rows; every other partition keeps
        its files.  ``df`` must contain only rows whose
        ``partition_col`` falls in ``values``, and may read this draft:
        it is written in full before any partition is removed."""
        tmp = os.path.join(self.path, f"_tmp{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        written = {n for n in os.listdir(tmp) if n.startswith(f"{partition_col}=")}
        for name in written | {f"{partition_col}={v}" for v in values}:
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        for name in written:
            os.rename(os.path.join(tmp, name), os.path.join(self.path, name))
        shutil.rmtree(tmp)

    def commit(self) -> None:
        """CAS pointer flip: publish this version iff the pointer still
        names ``base`` (checked under the table's exclusive lock), and
        record it in the commit journal; on a lost race abort and raise
        :class:`ConcurrentWriteError`.  The superseded version is then
        deleted, or retained within the table's ``keep_versions``."""
        import fcntl

        t = self.table
        with open(os.path.join(t.path, t.LOCK), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            current = t.current_version()
            if current != self.base:
                self.abort()
                raise ConcurrentWriteError(
                    f"{t.path}: pointer moved {self.base!r} -> {current!r} "
                    "during this write; a concurrent promoter committed first"
                )
            tmp = t._pointer() + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(os.path.basename(self.path))
            os.replace(tmp, t._pointer())  # atomic on POSIX
            self.committed = True
            # ordered commit history (still under the lock): the
            # retention/vacuum/time-travel machinery needs version
            # ORDER, which uuid names don't carry
            with open(t._journal(), "a") as j:
                j.write(os.path.basename(self.path) + "\n")
        if self.base is None:
            return
        if t.keep_versions <= 0:
            shutil.rmtree(os.path.join(t.path, self.base), ignore_errors=True)
        else:
            t.vacuum(t.keep_versions)

    def abort(self) -> None:
        """Remove the draft's directory unless it was committed."""
        if not self.committed:
            shutil.rmtree(self.path, ignore_errors=True)

    def __enter__(self) -> Draft:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.abort()


class ParquetTable:
    """A versioned parquet table rooted at ``path``.

    Writer model: every versioned write is a :class:`Draft` whose
    commit is a compare-and-swap — the draft snapshots the current
    version when it is opened, BEFORE anything is written, and commits
    only if the pointer is still that snapshot (checked under an
    exclusive file lock).  A second promoter racing the same table
    therefore fails LOUDLY with :class:`ConcurrentWriteError` (its
    draft is removed) instead of silently overwriting the winner's
    commit.  The lock is ``flock`` on a sibling file — right for the
    local/POSIX filesystems this runs on; an object-store deployment
    swaps the CAS for a conditional PUT (same contract, the pointer
    write is the only operation needing it).  ``link_partition`` and
    ``delete_partitions`` change the current version in place: the
    single-writer staging lane, outside the draft lifecycle.
    """

    CURRENT = "_CURRENT"
    LOCK = "_COMMIT_LOCK"
    JOURNAL = "_VERSIONS"

    def __init__(self, path: str, keep_versions: int = 0) -> None:
        """``keep_versions``: how many SUPERSEDED version directories
        to retain after a commit (0 = delete immediately, the
        classic truncate-swap).  With retention, earlier snapshots
        stay readable — :meth:`versions` lists them oldest-first from
        the commit journal, :meth:`read_version` opens one, and a
        ``_delta_log`` exported per commit gives external engines
        time travel over the same files (``io/delta_export.py``).
        :meth:`vacuum` prunes beyond the retention window."""
        self.path = path
        self.keep_versions = keep_versions

    # -- version plumbing ---------------------------------------------------

    def _pointer(self) -> str:
        return os.path.join(self.path, self.CURRENT)

    def _journal(self) -> str:
        return os.path.join(self.path, self.JOURNAL)

    def versions(self) -> list[str]:
        """Committed version names, oldest first (from the journal
        appended under the commit lock; versions whose directories
        were vacuumed are excluded)."""
        try:
            with open(self._journal()) as f:
                names = [line.strip() for line in f if line.strip()]
        except FileNotFoundError:
            return []
        return [
            v for v in names if os.path.isdir(os.path.join(self.path, v))
        ]

    def read_version(self, spark: SparkSession, version: str) -> DataFrame:
        """Time-travel read of a RETAINED version (see
        ``keep_versions``)."""
        d = os.path.join(self.path, version)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"version {version!r} is not retained in {self.path}"
            )
        return read_dir(spark, d)

    def vacuum(self, keep: int | None = None) -> list[str]:
        """Drop superseded version directories beyond the newest
        ``keep`` (defaults to ``keep_versions``); the CURRENT version
        is never dropped.  Returns the removed names.  External
        readers of an exported ``_delta_log`` lose time travel into
        vacuumed commits — same contract as Delta's VACUUM."""
        keep = self.keep_versions if keep is None else keep
        current = self.current_version()
        superseded = [v for v in self.versions() if v != current]
        drop = superseded[: max(len(superseded) - keep, 0)]
        for v in drop:
            shutil.rmtree(os.path.join(self.path, v), ignore_errors=True)
        return drop

    def current_version(self) -> str | None:
        try:
            with open(self._pointer()) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def data_dir(self) -> str | None:
        v = self.current_version()
        return os.path.join(self.path, v) if v else None

    def exists(self) -> bool:
        return self.current_version() is not None

    def draft(self, empty: bool = False) -> Draft:
        """Open an uncommitted version based on the current one: its
        files hardlinked into a fresh ``_v<uuid>`` directory
        (O(file count), zero bytes copied; sidecars ride along), or an
        empty directory when ``empty`` or the table has no version."""
        base = self.current_version()
        path = os.path.join(self.path, f"_v{uuid.uuid4().hex}")
        if base is None or empty:
            os.makedirs(path)
            return Draft(self, base, path)
        try:
            shutil.copytree(os.path.join(self.path, base), path, copy_function=os.link)
        except OSError as e:
            shutil.rmtree(path, ignore_errors=True)
            if self.current_version() != base:
                # The base vanished mid-copy: a concurrent writer
                # committed and retired it.  Surface the documented
                # loser contract instead of a raw FileNotFoundError.
                raise ConcurrentWriteError(
                    f"{self.path}: version {base!r} was replaced while a "
                    "draft was opened on it; a concurrent promoter committed first"
                ) from e
            # Persistent local faults (ENOSPC, EACCES, EMLINK, ...) are
            # NOT a lost race — re-raise as-is so callers treating
            # ConcurrentWriteError as retryable don't loop on them.
            raise
        return Draft(self, base, path)

    # -- operations ---------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        d = self.data_dir()
        if d is None:
            raise FileNotFoundError(f"table has no committed version: {self.path}")
        return read_dir(spark, d)

    def overwrite(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        sidecars: dict[str, DataFrame] | None = None,
    ) -> None:
        """D9: atomic truncate-swap — write an empty draft, commit it.

        ``sidecars`` commits auxiliary relations UNDER THE SAME
        POINTER: each is written to ``<version>/<name>/`` before the
        CAS flip, so readers can never pair the main relation of one
        generation with a sidecar of another (the two-table-commit
        race an IVF index's codes+centroids would otherwise have).
        ``df`` itself may also be an (unpartitioned) ``pyarrow.Table``.
        Sidecar names must start with ``_`` — Spark's reader ignores
        underscore-prefixed paths, so ``read()`` of the main relation
        is unaffected; fetch one with :meth:`read_sidecar`.  A sidecar
        value may be a Spark DataFrame or a ``pyarrow.Table`` — the
        latter writes driver-locally with ZERO Spark jobs, the right
        lane for model-sized metadata the driver already holds
        (centroids, codebooks).
        """
        with self.draft(empty=True) as d:
            d.append(df, partition_by)
            for name, sdf in (sidecars or {}).items():
                if not name.startswith("_"):
                    raise ValueError(
                        f"sidecar name must start with '_' (got {name!r}) so the "
                        "main relation's parquet reader ignores it"
                    )
                _write_files(sdf, os.path.join(d.path, name), (), "overwrite")

    def read_sidecar(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a sidecar relation committed with the current version."""
        d = self.data_dir()
        if d is None:
            raise FileNotFoundError(f"table has no committed version: {self.path}")
        return spark.read.parquet(os.path.join(d, name))

    def append_commit(self, df: DataFrame, partition_by: tuple[str, ...] = ()) -> None:
        """Atomic append: the batch lands in a draft of the current
        version and commits with it.  Readers see the old generation
        or old+batch, never a partial batch; a racing writer loses the
        CAS loudly.  ``df`` may be a ``pyarrow.Table``
        (unpartitioned): it is written driver-locally with no Spark
        job — the lane for the small control tables the driver already
        holds (the ledger)."""
        with self.draft() as d:
            d.append(df, partition_by)

    def replace_partitions(
        self, df: DataFrame, partition_col: str, values: list
    ) -> None:
        """Touched-partition MERGE commit: atomically publish a new
        version where only the named partitions are rewritten.

        The reference's MERGE touches matched rows in place
        (``resources/config/sql/fill_diaobject_validity_end.sql:25-40``);
        without a transactional format the closest scale-equivalent is
        partition-level copy-on-write: every *untouched* partition is
        hardlinked from the current version (O(number of files), zero
        bytes copied) and only the partitions named in ``values`` are
        written from ``df`` — so commit IO is proportional to the
        touched slice, never the table.  ``df`` must contain only rows
        whose ``partition_col`` falls in ``values``.
        """
        with self.draft() as d:
            d.replace_partitions(df, partition_col, values)

    def compact(
        self,
        spark: SparkSession,
        partition_col: str,
        max_files_per_partition: int = 4,
        target_files: int = 1,
    ) -> list:
        """Small-file compaction (the OPTIMIZE analog a streaming
        ingest table needs): partitions whose data-file count exceeds
        ``max_files_per_partition`` are read back and rewritten as
        ``target_files`` files each; untouched partitions stay
        hardlinked in the draft, so compaction IO — like every other
        commit here — is proportional to the fragmented slice, never
        the table.  Returns the list of compacted partition values.

        Micro-batch appenders (the replication loop writes one file
        set per chunk poll) fragment partitions over time; at 100 TB
        fragmented partitions mean task-per-tiny-file scan overhead
        and row-group stats too small to prune well.  Run this from a
        housekeeping schedule; a racing promoter makes the loser raise
        :class:`ConcurrentWriteError`, never corrupt the table.
        """
        d = self.data_dir()
        if d is None:
            return []
        prefix = f"{partition_col}="
        fragmented = []
        for name in sorted(os.listdir(d)):
            if not name.startswith(prefix):
                continue
            pdir = os.path.join(d, name)
            n_files = sum(
                1 for f in os.listdir(pdir)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if n_files > max_files_per_partition:
                fragmented.append(name[len(prefix):])
        if not fragmented:
            return []
        from pyspark.sql import functions as F

        with self.draft() as draft:
            # read the draft, not the pointer: the rows rewritten are
            # those of the version the commit's CAS is based on
            df = draft.read(spark)
            # Cast the directory-name VALUES to the column's inferred
            # type (never the column to string — a cast on the
            # partition column would defeat partition pruning and scan
            # the whole table to compact one slice).
            dt = df.schema[partition_col].dataType
            lits = [F.lit(v).cast(dt) for v in fragmented]
            sub = df.filter(F.col(partition_col).isin(*lits)).repartition(
                target_files * len(fragmented), partition_col
            )
            draft.replace_partitions(sub, partition_col, fragmented)
        return fragmented

    def delete_partitions(self, partition_col: str, values: list) -> None:
        """D11: DELETE WHERE partition_col IN (...) as partition drops.

        Only valid for tables written with ``partition_by=(partition_col,)``;
        removes whole partition directories, no data rewrite.
        """
        d = self.data_dir()
        if d is None:
            return
        for v in values:
            shutil.rmtree(os.path.join(d, f"{partition_col}={v}"), ignore_errors=True)

    def link_partition(self, partition_col: str, value, files: list[str]) -> None:
        """Replace partition ``partition_col=value`` of the current
        version with hardlinks of ``files`` (O(file count), zero bytes
        copied; a copy where the filesystem refuses the link across
        devices).  The partition is built aside and renamed in, so
        linking the same files twice leaves it as linking them once;
        with no ``files`` it is dropped.  A table with no version gets
        an empty one first.  Files that carry ``partition_col`` as a
        data column read with the directory's value."""
        if self.data_dir() is None:
            with self.draft(empty=True):
                pass
        d = self.data_dir()
        part = os.path.join(d, f"{partition_col}={value}")
        tmp = os.path.join(d, f"_tmp{uuid.uuid4().hex}")
        os.makedirs(tmp)
        try:
            for f in files:
                dest = os.path.join(tmp, os.path.basename(f))
                try:
                    os.link(f, dest)
                except OSError as e:
                    if e.errno != errno.EXDEV:
                        raise
                    shutil.copy2(f, dest)
            shutil.rmtree(part, ignore_errors=True)
            if files:
                os.rename(tmp, part)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
