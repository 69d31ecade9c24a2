"""Chunk uploader: EXPORTED -> UPLOADED -> (staging trigger).

Reference: ``bigquery/chunk_uploader.py:127-310`` — poll the ledger for
EXPORTED chunks, validate the local manifest (file-name sanitizing +
existence + size/sha256 checks, ``:213-226``), upload parquet files then
the manifest to the object store, flip the ledger row to UPLOADED with
the destination uri (D5), and fire the staging trigger (the Pub/Sub ->
Dataflow hop, ``:303-310``).  On any failure the uploaded prefix is
recursively deleted (``:291-301``) so retries start clean; per-chunk
errors don't stop the loop unless ``exit_on_error``.

The object store is modelled as a filesystem prefix — on a cluster this
is the mounted/`hadoop fs` object-store path; the protocol (copy, verify,
commit-last, delete-on-failure) is storage-agnostic.  The staging
trigger is a plain callable: staging (``Promoter.stage_chunk_dir``)
hardlinks the uploaded files into the staging tables' chunk
partitions, no external job needed (SURVEY §2.9).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from ..io.parquet_io import MANIFEST_NAME, validate_manifest
from ..ledger import Ledger
from ..schema.registry import ChunkStatus


class ChunkUploadError(RuntimeError):
    def __init__(self, chunk_id: int, message: str) -> None:
        super().__init__(f"chunk {chunk_id}: {message}")
        self.chunk_id = chunk_id


class ChunkUploader:
    def __init__(
        self,
        ledger: Ledger,
        export_root: str,
        bucket_root: str,
        stage_trigger: Callable[[str, int], None] | None = None,
        exit_on_error: bool = False,
    ) -> None:
        self.ledger = ledger
        self.export_root = export_root
        self.bucket_root = bucket_root
        self.stage_trigger = stage_trigger
        self.exit_on_error = exit_on_error

    def pending(self) -> list[int]:
        """EXPORTED chunks in increasing id order (S3 scan)."""
        return self.ledger.chunks_with_status(ChunkStatus.EXPORTED)

    def run_once(self) -> list[int]:
        """One poll iteration: upload every EXPORTED chunk.

        Returns the successfully uploaded ids; failures are recorded
        (destination cleaned, error swallowed) unless ``exit_on_error``.
        """
        done: list[int] = []
        for chunk_id in self.pending():
            try:
                self.upload_chunk(chunk_id)
            except ChunkUploadError:
                if self.exit_on_error:
                    raise
            else:
                done.append(chunk_id)
        return done

    def upload_chunk(self, chunk_id: int) -> str:
        """Upload one chunk directory; returns the destination prefix."""
        src = os.path.join(self.export_root, f"chunk_{chunk_id}")
        dest = os.path.join(self.bucket_root, f"chunk_{chunk_id}")
        if not os.path.exists(os.path.join(src, MANIFEST_NAME)):
            raise ChunkUploadError(chunk_id, f"manifest not found in {src}")
        try:
            validate_manifest(src)
        except ValueError as e:
            raise ChunkUploadError(chunk_id, f"local manifest invalid: {e}") from e
        try:
            # Data files first, manifest last: a prefix without a
            # manifest is visibly incomplete to any consumer.
            os.makedirs(dest, exist_ok=True)
            for root, _dirs, names in os.walk(src):
                rel = os.path.relpath(root, src)
                for name in sorted(names):
                    if name == MANIFEST_NAME:
                        continue
                    target_dir = os.path.join(dest, rel) if rel != "." else dest
                    os.makedirs(target_dir, exist_ok=True)
                    shutil.copy2(os.path.join(root, name), os.path.join(target_dir, name))
            shutil.copy2(os.path.join(src, MANIFEST_NAME), os.path.join(dest, MANIFEST_NAME))
            try:
                validate_manifest(dest)
            except ValueError as e:
                raise ChunkUploadError(chunk_id, f"post-upload verification failed: {e}") from e
            try:
                self.ledger.update_chunk(
                    chunk_id, status=ChunkStatus.UPLOADED, gcs_uri=dest
                )
            except Exception as e:
                raise ChunkUploadError(chunk_id, "ledger update failed") from e
            if self.stage_trigger is not None:
                try:
                    self.stage_trigger(dest, chunk_id)
                except Exception as e:
                    raise ChunkUploadError(chunk_id, "staging trigger failed") from e
        except ChunkUploadError:
            shutil.rmtree(dest, ignore_errors=True)
            raise
        return dest
