"""Replicator: the APDB -> PPDB incremental copy loop.

Reference: ``replicator.py:83-247`` — list source chunks, anti-diff
against the ledger (J5), verify uuid consistency on the overlap (J6),
gate each chunk on the replication watermark (min/max wait), then copy
strictly in increasing chunk-id order (the ordering contract of
``ppdb.py:147-152``).

The source here is any object implementing ``ApdbSource`` — the
``DirectoryApdbSource`` reads a directory layout of chunk exports
(what a real deployment would see on a landing bucket).  The loop is
the reference's own "streaming": a polling micro-batch driver.  See
``streaming/chunks.py`` for the Structured-Streaming-native variant.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..ledger import Ledger, can_replicate, consistency_mismatches, replication_diff
from ..schema.registry import ChunkStatus
from ..session import local_df


@dataclass(frozen=True)
class SourceChunk:
    chunk_id: int
    unique_id: str
    last_update_time: datetime.datetime
    path: str


class DirectoryApdbSource:
    """APDB stand-in: a directory of ``chunk_<id>/`` exports, each with
    a manifest carrying the chunk uuid and update time."""

    def __init__(self, root: str) -> None:
        self.root = root

    def list_chunks(self) -> list[SourceChunk]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("chunk_"):
                continue
            path = os.path.join(self.root, name)
            manifest_path = os.path.join(path, "manifest.json")
            if not os.path.exists(manifest_path):
                continue
            with open(manifest_path) as f:
                m = json.load(f)
            out.append(
                SourceChunk(
                    chunk_id=int(m["apdb_replica_chunk"]),
                    unique_id=str(m.get("unique_id", "")),
                    last_update_time=datetime.datetime.fromtimestamp(
                        m["created_at"], datetime.timezone.utc
                    ).replace(tzinfo=None),
                    path=path,
                )
            )
        return sorted(out, key=lambda c: c.chunk_id)


class Replicator:
    def __init__(
        self,
        spark: SparkSession,
        source: DirectoryApdbSource,
        ledger: Ledger,
        min_wait_s: float = 300.0,
        max_wait_s: float = 900.0,
        update: bool = False,
    ) -> None:
        """``update=True`` enables re-replication: a chunk whose
        ``unique_id`` changed at the source (the APDB re-generated it)
        is copied again and its ledger row upserted, instead of the
        mismatch being a hard error (reference ``replicator.py:55-56``,
        store path ``sql/_ppdb_sql.py:140-155`` / upsert D2)."""
        self.spark = spark
        self.source = source
        self.ledger = ledger
        self.min_wait_s = min_wait_s
        self.max_wait_s = max_wait_s
        self.update = update

    def pending_chunks(self, now: datetime.datetime | None = None) -> list[SourceChunk]:
        """J5 + watermark: source chunks not yet in the ledger whose
        hold-back has expired, in strictly increasing id order.

        The id-order contract means the list is cut at the first
        non-eligible chunk (a later chunk must never be copied before
        an earlier one).
        """
        now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        chunks = self.source.list_chunks()
        if not chunks:
            return []
        src_df = local_df(
            self.spark,
            [(c.chunk_id, c.unique_id) for c in chunks],
            "apdb_replica_chunk LONG, unique_id STRING",
        )
        ppdb = self.ledger.read()
        mismatched = {
            r.apdb_replica_chunk for r in consistency_mismatches(src_df, ppdb).collect()
        }
        if mismatched and not self.update:
            raise ValueError(
                f"unique_id mismatch for replicated chunks: {sorted(mismatched)}"
            )
        missing_ids = {
            r.apdb_replica_chunk for r in replication_diff(src_df, ppdb).collect()
        }
        eligible = missing_ids | mismatched
        newest_id = chunks[-1].chunk_id
        out: list[SourceChunk] = []
        for c in chunks:
            if c.chunk_id not in eligible:
                continue
            has_newer = c.chunk_id < newest_id
            if not can_replicate(
                c.last_update_time, now, has_newer, self.min_wait_s, self.max_wait_s
            ):
                break  # id-order contract: stop at first held-back chunk
            out.append(c)
        return out

    def replicate_once(
        self,
        stage_fn,
        now: datetime.datetime | None = None,
        count: int | None = None,
    ) -> list[int]:
        """One poll iteration: copy every eligible chunk via
        ``stage_fn(chunk) -> None`` and record it in the ledger
        (insert, or upsert when re-replicating under ``update=True``).
        ``count`` bounds the chunks copied per poll
        (``replicator.py:97-99``).  Returns the copied chunk ids."""
        copied = []
        for c in self.pending_chunks(now):
            if count is not None and len(copied) >= count:
                break
            stage_fn(c)
            row = {
                "apdb_replica_chunk": c.chunk_id,
                "last_update_time": c.last_update_time,
                "status": ChunkStatus.EXPORTED,
            }
            if c.unique_id:
                row["unique_id"] = c.unique_id
            if self.update and self.ledger.exists(c.chunk_id):
                self.ledger.upsert_chunk(row)
            else:
                self.ledger.insert_chunks([row])
            copied.append(c.chunk_id)
        return copied
