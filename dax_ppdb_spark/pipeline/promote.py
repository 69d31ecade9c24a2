"""Chunk promotion: staging -> uncommitted internal versions -> internal
-> public.

Reference orchestration (``bigquery/chunk_promoter.py:117-177``), seven
ordered steps with cleanup in ``finally``:

1. open one draft per internal table (an uncommitted version,
   ``ParquetTable.draft``) and append the staging rows for the chunk
   ids to it, computing ``geo_point`` (S10/P10),
2. fill DiaObject validity ends, semi-join-pruned to staged objects
   (W2/P8/J4),
3. apply retroactive updates (expand -> latest-only -> per-table MERGE,
   ``bigquery/updates/updates_manager.py:106-150``),
4. commit the drafts: one CAS pointer flip per internal table (D9),
5. re-materialize the public latest snapshot, clustered by geo_point
   (D10),
6. delete the staged chunk partitions (D11 — partition drops, no
   rewrite),
7. mark ledger rows PROMOTED (D5).

Ordering invariant (SURVEY §3.3): updates apply after inserts within a
batch; last-writer-wins resolves by (chunk, time_ns, order) DESC.

Scale notes — every step is O(batch), never O(table):

- staging tables are partitioned by ``apdb_replica_chunk`` so step 1
  reads only the promoted chunks (partition pruning) and step 6 is a
  metadata-only partition drop;
- step 1's draft hardlinks internal's current version (zero bytes
  copied) and appends just the staged rows, like the reference's
  CLONE + INSERT-SELECT (``chunk_promoter.py:199-227``).  The
  reference clones into a separate ``promotion`` dataset and swaps it
  back because BigQuery has no uncommitted table version; a draft is
  one, so steps 1-3 write into it and step 4 publishes it.  Each draft
  records its base version at step 1: a promoter overtaken by another
  one loses its step-4 CAS with ``ConcurrentWriteError`` and its
  drafts are removed, leaving internal as the winner committed
  (the commits of the three tables are still separate);
- internal tables are range-bucketed on their MERGE key (the BigQuery
  id-clustering analog — range, so one batch's roughly-contiguous ids
  land in a handful of buckets), and steps 2-3 read and rewrite only
  the buckets a batch touches (``Draft.replace_partitions`` keeps
  the rest's hardlinks) — the touched-rows-only IO of the reference's
  MERGE statements;
- update patch sets are one batch's worth — broadcast merges, no
  target-side shuffle;
- within steps 1 and 3 the per-table jobs are INDEPENDENT (distinct
  drafts, no shared state beyond the Spark scheduler) and
  are submitted concurrently from a thread pool (each thread tagged
  with its own scheduler pool, honored under FAIR mode and harmless
  under FIFO, and carrying the caller's job group) — a cluster
  promotes DiaObject/DiaSource/DiaForcedSource in parallel instead of
  serializing three half-idle jobs;
- every promote decision costs at most one driver round trip: which
  chunks have staged rows comes from the ``apdb_replica_chunk=<id>``
  partition directories (no job), the bucket collect of a MERGE is
  also its emptiness probe, and steps 2-3 hand step 5 the buckets and
  the checkpointed latest updates they already computed.

The public snapshot is range-partitioned + sorted on ``geo_point`` so
row-group min/max stats prune sky-region queries (the BigQuery
clustering analog); it remains a full rewrite by design (the
reference's CTAS does too).
"""

from __future__ import annotations

import glob
import logging
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.table import Draft, ParquetTable, read_dir
from ..ledger import Ledger
from ..metrics import flush_observations, log_job, observe, timer
from ..ops.merge import merge_patch
from ..ops.spatial import with_geo_point
from ..ops.updates import TABLE_PATCHES, expand_updates, latest_updates, table_patch
from ..ops.validity import fill_validity_end
from ..schema.registry import CHUNK_COLUMN, ChunkStatus, validity_columns

_LOG = logging.getLogger("dax_ppdb_spark.promote")

DIA_TABLES = ("DiaObject", "DiaSource", "DiaForcedSource")

# Internal tables are RANGE-bucketed on the column their
# point-MERGEs key on — the analog of the reference's BigQuery
# clustering + search index on ``diaObjectId``
# (``bigquery/schema/dataset_builder.py:250-265``), which is itself
# range-based block clustering.  Range (not hash) is what makes a
# batch's IO O(batch): ids are assigned roughly monotonically, so one
# replication chunk's keys cover a handful of contiguous ranges and
# its MERGEs touch a handful of buckets no matter how big the table
# has grown; a hash would smear every batch across all buckets.
# DiaSource updates key on diaSourceId (reassign/withdraw), the other
# two tables on diaObjectId.
OBJ_BUCKET = "obj_bucket"
BUCKET_KEYS = {
    "DiaObject": "diaObjectId",
    "DiaSource": "diaSourceId",
    "DiaForcedSource": "diaObjectId",
}


class Promoter:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_width: int = 1_000_000,
        delta_export: bool = False,
        constraints: dict | None = None,
    ) -> None:
        self.spark = spark
        self.root = root
        # Optional per-table data-quality gate (ops/constraints): rules
        # audited against the STAGED batch (only the chunks being
        # promoted — O(batch), never O(table)) BEFORE any promotion
        # write.  A failing rule aborts with ConstraintViolationError,
        # leaving staging and the ledger untouched — the table-wide
        # generalization of the reference's per-write integrity guards
        # (rowcount==1 point updates, bigquery/ppdb_bigquery.py:620-657).
        self.constraints = constraints or {}
        # DML stats of the most recent promote() (reset per call).
        self.last_dml: list[dict] = []
        # Ids per bucket: size so one bucket's rows are a comfortable
        # rewrite unit (a few GB at production row sizes).
        self.bucket_width = bucket_width
        # Publish a Delta-protocol _delta_log over the public snapshot
        # after every promotion, so external engines can query it (the
        # reference's public dataset is externally queryable;
        # io/delta_export.py).  Off by default; pure metadata.
        self.delta_export = delta_export
        self.staging = {t: ParquetTable(os.path.join(root, "staging", t)) for t in DIA_TABLES}
        self.staging_updates = ParquetTable(os.path.join(root, "staging", "updates"))
        self.internal = {t: ParquetTable(os.path.join(root, "internal", t)) for t in DIA_TABLES}
        # The uncommitted internal versions of the running promote(),
        # by table: opened in step 1, committed in step 4.
        self._drafts: dict[str, Draft] = {}
        self.public_diaobject = ParquetTable(os.path.join(root, "public", "DiaObject"))
        self.ledger = Ledger(spark, os.path.join(root, "ledger"))

    # -- bucketing ----------------------------------------------------------

    def _bucket_expr(self, key: Column) -> Column:
        return F.floor(key / F.lit(self.bucket_width)).cast("long")

    def _with_bucket(self, df: DataFrame, table: str) -> DataFrame:
        return df.withColumn(OBJ_BUCKET, self._bucket_expr(F.col(BUCKET_KEYS[table])))

    def _id_sorted(self, df: DataFrame, table: str) -> DataFrame:
        """Sort within write tasks by the MERGE key so every data file's
        row groups carry tight min/max id stats — the search-index-on-id
        analog (``dataset_builder.py:257-265``): point lookups and
        batch MERGE probes skip row groups, not just bucket partitions.
        Task-local sort, no shuffle.
        """
        return df.sortWithinPartitions(OBJ_BUCKET, BUCKET_KEYS[table])

    def _buckets_of(self, keys: DataFrame, key_col: str) -> list[int]:
        """Distinct buckets hit by a batch's keys — driver-side control
        data, one long per touched id range.  Also the batch's
        emptiness probe: no keys, no buckets."""
        rows = (
            keys.select(self._bucket_expr(F.col(key_col)).alias("b"))
            .distinct()
            .collect()
        )
        return [r.b for r in rows]

    # -- staging (the external-Dataflow-job analog) -------------------------

    def stage_chunk_dir(self, chunk_dir: str, chunk_id: int) -> None:
        """Land one exported chunk into the staging tables (status
        STAGED).  Stands in for the reference's external Dataflow
        staging job whose contract is the staging schemas
        (``dataset_builder.py:202-232``).  A poll cycle that landed
        several chunks should call :meth:`stage_chunk_dirs` — one
        ledger commit for the whole batch."""
        self.stage_chunk_dirs([(chunk_dir, chunk_id)])

    def stage_chunk_dirs(self, chunks: list[tuple[str, int]]) -> None:
        """Land k exported chunks into the staging tables and flip all
        their ledger rows to STAGED in ONE event-log commit
        (``ledger.update_chunks``) — the same batching rule promotion
        applies at its PROMOTED transition; per-chunk commits in a
        loop were the one remaining O(k)-commit stager path.  Each
        exported table is read with its footer schema (no inference
        job)."""
        if not chunks:
            return
        for chunk_dir, _ in chunks:
            for t in DIA_TABLES:
                path = os.path.join(chunk_dir, t)
                if os.path.exists(path):
                    self.staging[t].append(
                        read_dir(self.spark, path), partition_by=(CHUNK_COLUMN,)
                    )
            upd = os.path.join(chunk_dir, "updates")
            if os.path.exists(upd):
                self.staging_updates.append(
                    read_dir(self.spark, upd), partition_by=(CHUNK_COLUMN,)
                )
        self.ledger.update_chunks(
            [cid for _, cid in chunks], status=ChunkStatus.STAGED
        )

    def _staged(self, table: str, chunk_ids: list[int]) -> DataFrame | None:
        return self._staged_rows(self.staging[table], chunk_ids)

    def _staged_rows(self, t: ParquetTable, chunk_ids: list[int]) -> DataFrame | None:
        """The rows staged in ``t`` for ``chunk_ids``; None, with no
        Spark job, when none of their ``apdb_replica_chunk=<id>``
        partition directories exist."""
        d = t.data_dir()
        if d is None or not any(
            os.path.isdir(os.path.join(d, f"{CHUNK_COLUMN}={c}")) for c in chunk_ids
        ):
            return None
        return t.read(self.spark).filter(F.col(CHUNK_COLUMN).isin(chunk_ids))

    def _validate_constraints(self, chunk_ids: list[int]) -> None:
        """Audit each configured table's STAGED slice of this batch;
        raise ``ConstraintViolationError`` on the first failing table.
        The audit collect is O(rules); the scanned data is O(batch)
        (chunk-partition-pruned via ``_staged``)."""
        from ..ops.constraints import enforce_constraints

        for table, rules in self.constraints.items():
            if table == "updates":
                df = self._staged_rows(self.staging_updates, chunk_ids)
            else:
                df = self._staged(table, chunk_ids)
            if df is None:
                continue
            enforce_constraints(df, rules, f"staged {table} chunks={chunk_ids}")

    # -- promotion ----------------------------------------------------------

    def promote(self, chunk_ids: list[int] | None = None) -> list[int]:
        """Run the 7-step promotion for the given (default: promotable)
        chunks; returns the promoted ids."""
        if chunk_ids is None:
            chunk_ids = self.ledger.promotable_chunks()
        if not chunk_ids:
            return []
        # Per-promotion DML stats (the reference logs inserted/updated/
        # deleted counts per MERGE, updates_manager.py:242-271): each
        # merge/fill step appends its resolved observation here, and a
        # one-line summary lands in the promote log at the end.
        self.last_dml: list[dict] = []
        try:
            if self.constraints:
                # Validate BEFORE the first write: a failing batch
                # aborts with staging + ledger untouched (nothing for
                # _cleanup to roll back).
                with timer("validate_constraints", chunks=chunk_ids):
                    self._validate_constraints(chunk_ids)
            # (steps 1 and 4 keep their historical stage names, which
            # perfbench's per-layer metrics read)
            with timer("copy_staging_to_promotion", chunks=chunk_ids):
                self._copy_staging_to_drafts(chunk_ids)
            with timer("fill_validity_end", chunks=chunk_ids):
                filled = self._fill_validity_end(chunk_ids)
            with timer("apply_updates", chunks=chunk_ids):
                latest, patched = self._apply_updates(chunk_ids)
            with timer("swap_promotion_to_internal", chunks=chunk_ids):
                for t in DIA_TABLES:
                    if t in self._drafts:
                        self._drafts[t].commit()
            with timer("create_public_snapshot", chunks=chunk_ids):
                self._update_public_snapshot(
                    chunk_ids,
                    latest,
                    sorted(set(filled) | set(patched.get("DiaObject", []))),
                )
            if self.delta_export and self.public_diaobject.exists():
                from ..io.delta_export import export_delta_log

                export_delta_log(self.public_diaobject, self.spark)
            with timer("delete_staged", chunks=chunk_ids):
                self._delete_staged(chunk_ids)
            # One ledger commit for the whole batch (k event rows), not
            # k table writes — see ledger.update_chunks.
            self.ledger.update_chunks(chunk_ids, status=ChunkStatus.PROMOTED)
            if self.last_dml:
                summary = {
                    "stages": len(self.last_dml),
                    "updated": sum(int(e.get("updated", 0)) for e in self.last_dml),
                    "filled": sum(int(e.get("filled", 0)) for e in self.last_dml),
                    "rows": sum(int(e.get("rows", 0)) for e in self.last_dml),
                }
                _LOG.info(
                    "promote dml summary chunks=%s %s",
                    chunk_ids,
                    " ".join(f"{k}={v}" for k, v in summary.items()),
                )
            return chunk_ids
        finally:
            self._cleanup()

    def _concurrent(self, thunks) -> None:
        """Run independent per-table Spark thunks concurrently.

        Spark job submission is thread-safe; each thread names its own
        scheduler pool so a FAIR-mode cluster interleaves the jobs
        (FIFO ignores the property — the threads still overlap wherever
        task slots are free), and inherits the caller's local properties
        (job group, description, job tags) and session tags, so
        ``cancelJobGroup`` and ``cancelJobsWithTag`` reach its jobs.
        The first failure propagates after all threads finish, so a
        crashed table never leaves a sibling mid-write."""
        thunks = list(thunks)
        if len(thunks) <= 1:
            for t in thunks:
                t()
            return
        from pyspark import InheritableThread

        sc = self.spark.sparkContext
        errs: list[BaseException | None] = [None] * len(thunks)

        def pooled(i, t):
            def run():
                sc.setLocalProperty("spark.scheduler.pool", f"promote-{i}")
                try:
                    t()
                except BaseException as e:  # re-raised by the caller below
                    errs[i] = e

            return run

        # an InheritableThread copies the starting thread's local
        # properties and session tags (pinned-thread mode; a plain
        # thread otherwise)
        threads = [
            InheritableThread(pooled(i, t), session=self.spark)
            for i, t in enumerate(thunks)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        for e in errs:
            if e is not None:
                raise e

    def _copy_staging_to_drafts(self, chunk_ids: list[int]) -> None:
        """Step 1: draft := hardlinked internal + append of the staged
        rows only, with geo_point and bucket computed.

        Matches ``bigquery/chunk_promoter.py:199-227`` (CLONE + INSERT
        INTO ... SELECT): the draft is hardlinks (O(files)), the insert
        writes one batch — promotion IO is O(batch), never O(table).
        The three tables' copies are independent jobs, submitted
        concurrently (:meth:`_concurrent`)."""
        self._concurrent(
            (lambda t=t: self._copy_one_table(t, chunk_ids)) for t in DIA_TABLES
        )

    def _copy_one_table(self, t: str, chunk_ids: list[int]) -> None:
        staged = self._staged(t, chunk_ids)
        if staged is None and not self.internal[t].exists():
            return
        d = self._drafts[t] = self.internal[t].draft()
        if staged is None:
            return
        add = self._with_bucket(with_geo_point(staged.drop(CHUNK_COLUMN)), t)
        if d.base is None or set(add.columns) == set(d.read(self.spark).columns):
            d.append(self._id_sorted(add, t), partition_by=(OBJ_BUCKET,))
        else:
            # Schema drift (new/dropped columns in a batch): rewrite
            # every bucket with the union schema — rare by design.
            combined = d.read(self.spark).unionByName(add, allowMissingColumns=True)
            buckets = [
                n.split("=", 1)[1]
                for n in os.listdir(d.path)
                if n.startswith(f"{OBJ_BUCKET}=")
            ]
            d.replace_partitions(self._id_sorted(combined, t), OBJ_BUCKET, buckets)

    def _fill_validity_end(self, chunk_ids: list[int]) -> list[int]:
        """Step 2: close open DiaObject intervals — touched buckets only.

        The staged id set names a handful of id-range buckets; only
        those partitions are read (partition-pruned scan) and
        rewritten (``replace_partitions`` hardlinks the rest), matching
        the reference MERGE's touched-rows-only IO
        (``fill_diaobject_validity_end.sql:25-40``).  Returns the
        buckets (step 5 rewrites the public cells of the same objects).
        """
        staged = self._staged("DiaObject", chunk_ids)
        if staged is None:
            return []
        ids = staged.select("diaObjectId").distinct()
        buckets = self._buckets_of(ids, "diaObjectId")
        if not buckets:
            return []
        draft = self._drafts["DiaObject"]
        target = draft.read(self.spark)
        start_col, end_col = validity_columns(target.columns)
        touched = target.filter(F.col(OBJ_BUCKET).isin(buckets))
        filled = fill_validity_end(
            touched,
            ids,
            start_col=start_col,
            end_col=end_col,
            observe_as="fill_validity_end_DiaObject",
        )
        draft.replace_partitions(
            self._id_sorted(filled, "DiaObject"), OBJ_BUCKET, buckets
        )
        self.last_dml.extend(flush_observations())
        return buckets

    def _apply_updates(
        self, chunk_ids: list[int]
    ) -> tuple[DataFrame | None, dict[str, list[int]]]:
        """Step 3: expand -> latest-only -> per-table bucket-pruned merge.

        Each table's patch keys map to a handful of id-range buckets; the
        MERGE reads and rewrites only those partitions.  Returns the
        checkpointed latest updates (None when nothing is staged) and
        each merged table's buckets, for step 5.
        """
        raw = self._staged_rows(self.staging_updates, chunk_ids)
        if raw is None:
            return None, {}
        latest = latest_updates(expand_updates(raw)).localCheckpoint()
        # The per-table merges are independent (distinct drafts, patch
        # slices of the shared checkpointed `latest`) — submit them
        # concurrently; observations resolve after the pool joins (each
        # entry is stage-tagged, so attribution survives the
        # interleave).
        buckets: dict[str, list[int]] = {}

        def merge(t, key_cols):
            buckets[t] = self._merge_one_table(t, key_cols, latest)

        self._concurrent(
            (lambda t=t, kc=key_cols: merge(t, kc))
            for t, (key_cols, _fields) in TABLE_PATCHES.items()
        )
        self.last_dml.extend(flush_observations())
        return latest, buckets

    def _merge_one_table(self, t: str, key_cols, latest: DataFrame) -> list[int]:
        """Merge ``t``'s patch; returns the rewritten buckets (none
        when the patch is empty — the bucket collect is the probe)."""
        draft = self._drafts.get(t)
        if draft is None:
            return []
        patch = table_patch(latest, t)
        buckets = self._buckets_of(patch, key_cols[0])
        if not buckets:
            return []
        target = draft.read(self.spark)
        touched = target.filter(F.col(OBJ_BUCKET).isin(buckets))
        # observe_as rides the write job below: per-MERGE scanned/
        # updated row counts land in the metrics log, the analog of
        # the reference's DML stats (updates_manager.py:242-271).
        merged = merge_patch(touched, patch, key_cols, observe_as=f"merge_{t}")
        draft.replace_partitions(self._id_sorted(merged, t), OBJ_BUCKET, buckets)
        return buckets

    GEO_LEVEL = 4  # coarse cell for partitioning: at most 256 directories

    def _update_public_snapshot(
        self, chunk_ids: list[int], latest: DataFrame | None, buckets: list[int]
    ) -> None:
        """Step 5: public DiaObject = current rows only, without
        validityEndMjdTai, clustered by geo_point (D10/P3/P4).

        Two-level clustering: partitioned by the coarse Z-order cell
        (``geo_cell``) so sky queries prune whole partitions at the
        metadata level, and sorted by the full ``geo_point`` within
        files so row-group min/max stats prune inside each partition —
        together the BigQuery ``CLUSTER BY geo_point`` access path.

        The reference re-runs a full CTAS per batch
        (``chunk_promoter.py:261-301``); at 100 TB that is an O(table)
        copy every 10 minutes, so here the snapshot is maintained
        *incrementally*: only the geo cells that a touched object's
        versions can occupy are rewritten (old current rows of touched
        ids removed, new current rows inserted), every other cell is
        hardlinked.  First promotion (no public table yet) falls back
        to the full build, as does a batch that changed DiaObject's
        columns (step 1's schema-drift rewrite).  Equivalence with the
        full recompute is pinned by test_pipeline.

        ``latest`` and ``buckets`` come from steps 2-3: the checkpointed
        latest updates and the DiaObject buckets the batch touched.
        """
        if not self.internal["DiaObject"].exists():
            return
        if not self.public_diaobject.exists():
            self._create_public_snapshot_full()
            return
        if not buckets:
            return
        self._update_public_snapshot_incremental(
            self._touched_object_ids(chunk_ids, latest), buckets
        )

    def _public_rows(self, versions: DataFrame) -> DataFrame:
        """The public rows of internal DiaObject ``versions``: the open
        ones, without the validity end and the bucket, with their
        coarse geo cell."""
        from ..ops.spatial import zorder_cell

        _, end_col = validity_columns(versions.columns)
        return (
            versions.filter(F.col(end_col).isNull())
            .drop(end_col, OBJ_BUCKET)
            .withColumn("geo_cell", zorder_cell(F.col("geo_point"), self.GEO_LEVEL))
        )

    def _create_public_snapshot_full(self) -> None:
        cur = self._public_rows(self.internal["DiaObject"].read(self.spark))
        clustered = cur.repartitionByRange(F.col("geo_point")).sortWithinPartitions(
            "geo_point"
        )
        self.public_diaobject.overwrite(clustered, partition_by=("geo_cell",))

    def _touched_object_ids(
        self, chunk_ids: list[int], latest: DataFrame | None
    ) -> DataFrame:
        """DiaObject ids this batch inserted or patched (batch-sized)."""
        parts = []
        staged = self._staged("DiaObject", chunk_ids)
        if staged is not None:
            parts.append(staged.select("diaObjectId"))
        if latest is not None:
            parts.append(table_patch(latest, "DiaObject").select("diaObjectId"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def _update_public_snapshot_incremental(
        self, touched_ids: DataFrame, buckets: list[int]
    ) -> None:
        """Rewrite only the geo cells touched objects can occupy.

        Every version of a touched object lives in its id-range
        bucket (``buckets``), so the candidate cell set (old position
        and new) comes from a bucket-pruned read of internal — the
        public table is never scanned by id, only its touched cell
        partitions are read back.
        """
        from ..ops.spatial import zorder_cell

        internal = self.internal["DiaObject"].read(self.spark)
        pub = self.public_diaobject.read(self.spark)
        if set(self._public_rows(internal).columns) != set(pub.columns):
            self._create_public_snapshot_full()
            return
        ids = F.broadcast(touched_ids)
        versions = internal.filter(F.col(OBJ_BUCKET).isin(buckets)).join(
            ids, "diaObjectId", "left_semi"
        )
        cells = [
            r.c
            for r in versions.select(
                zorder_cell(F.col("geo_point"), self.GEO_LEVEL).alias("c")
            )
            .distinct()
            .collect()
        ]
        if not cells:
            return
        new_rows = self._public_rows(versions)
        kept = pub.filter(F.col("geo_cell").isin(cells)).join(
            ids, "diaObjectId", "left_anti"
        )
        replacement = (
            kept.unionByName(new_rows)
            .repartitionByRange(F.col("geo_point"))
            .sortWithinPartitions("geo_point")
        )
        # rows and bytes the incremental rewrite wrote — the per-job
        # cost line the reference logs (query_runner.py:63-100): the
        # row count rides the write job, the bytes are its cell files
        replacement = observe(
            replacement, "public_snapshot", {"rows": F.count(F.lit(1))}, cells=len(cells)
        )
        self.public_diaobject.replace_partitions(replacement, "geo_cell", cells)
        flush_observations()
        d = self.public_diaobject.data_dir()
        files = [
            f for c in cells for f in glob.glob(os.path.join(d, f"geo_cell={c}", "*.parquet"))
        ]
        log_job(
            "public_snapshot",
            cells=len(cells),
            files_written=len(files),
            bytes_written=sum(os.path.getsize(f) for f in files),
        )

    def _delete_staged(self, chunk_ids: list[int]) -> None:
        """Step 6: partition drops on staging tables (D11)."""
        for t in DIA_TABLES:
            self.staging[t].delete_partitions(CHUNK_COLUMN, chunk_ids)
        self.staging_updates.delete_partitions(CHUNK_COLUMN, chunk_ids)

    def _cleanup(self) -> None:
        """Finally (``chunk_promoter.py:336-348``): abort the drafts step
        4 did not commit (their version directories go) and drop any
        DML observations whose write never completed (flushing those
        would block forever)."""
        from ..metrics import drop_pending

        for d in self._drafts.values():
            d.abort()
        self._drafts = {}
        drop_pending()
