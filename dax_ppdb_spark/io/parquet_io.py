"""Parquet export/import with column exclusion + manifest sidecar.

Reference: the Arrow export path (``_arrow.py:87-165``: typed schema,
batched writes, column exclusion) and the per-chunk JSON manifest with
sha256/size integrity data (``bigquery/manifest.py:84-223``) consumed
by the uploader's validation (``bigquery/chunk_uploader.py:213-226``).

Spark's native columnar writer replaces the hand-rolled batched
ParquetWriter; the manifest is kept for driver/operator parity and is
computed driver-side over the written files (cheap: metadata + one
streamed hash per file).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame

MANIFEST_NAME = "manifest.json"
MANIFEST_VERSION = 1

# Compression settings accepted everywhere a codec name is (reference
# ``cli/options.py:205-213``): plain codec names plus leveled zstd.
COMPRESSION_CHOICES = (
    "none", "snappy", "gzip", "brotli", "lz4", "zstd", "zstd_lvl8", "zstd_lvl15",
)


def parse_compression(name: str) -> tuple[str, dict[str, str]]:
    """Split a compression setting into (Spark codec, extra writer
    options).

    ``zstd_lvl<N>`` (the reference's leveled settings,
    ``cli/options.py:205-213``, ``bigquery/ppdb_bigquery_config.py:
    111-112``) maps to the ``zstd`` codec plus parquet-java's
    ``parquet.compression.codec.zstd.level`` — Spark copies writer
    options into the write job's Hadoop configuration, so the level
    reaches the executor-side encoder; any ``<N>`` is accepted, not
    just the reference's two presets.  Levels exist only for zstd
    (parquet-java exposes no per-codec level key for the others), so
    a ``_lvl`` suffix on any other codec raises.
    """
    base, sep, lvl = name.partition("_lvl")
    if not sep:
        return name, {}
    if base != "zstd":
        raise ValueError(
            f"compression level suffix is only supported for zstd (got {name!r})"
        )
    if not lvl.isdigit():
        raise ValueError(f"bad compression level in {name!r}")
    return base, {"parquet.compression.codec.zstd.level": lvl}


def write_parquet(
    df: DataFrame,
    path: str,
    exclude: tuple[str, ...] = (),
    compression: str = "snappy",
    partition_by: tuple[str, ...] = (),
) -> None:
    """S5: column-excluding parquet sink.

    ``exclude`` mirrors the reference's dropping of
    ``apdb_replica_subchunk`` on export (``bigquery/ppdb_bigquery.py:444``).
    ``compression`` accepts codec names and leveled ``zstd_lvl<N>``
    settings (:func:`parse_compression`).
    """
    codec, extra = parse_compression(compression)
    out = df.drop(*[c for c in exclude if c in df.columns])
    writer = out.write.mode("overwrite").option("compression", codec)
    for k, v in extra.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_manifest(directory: str, chunk_id: int, extra: dict | None = None) -> str:
    """Write the per-chunk integrity manifest next to the parquet files.

    Schema mirrors ``bigquery/manifest.py:131-223``: version, chunk id,
    file list with byte sizes and sha256 checksums.
    """
    files = []
    for root, _dirs, names in os.walk(directory):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            files.append(
                {
                    "name": os.path.relpath(full, directory),
                    "size": os.path.getsize(full),
                    "sha256": _sha256(full),
                }
            )
    manifest = {
        "version": MANIFEST_VERSION,
        "apdb_replica_chunk": chunk_id,
        "created_at": time.time(),
        "files": files,
        **(extra or {}),
    }
    out = os.path.join(directory, MANIFEST_NAME)
    with open(out, "w") as f:
        json.dump(manifest, f, indent=2)
    return out


def validate_manifest(directory: str) -> None:
    """Uploader-side validation: every listed file exists with the
    declared size and checksum (``chunk_uploader.py:213-226``).

    Raises ``ValueError`` on any mismatch.
    """
    with open(os.path.join(directory, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    for entry in manifest["files"]:
        name = entry["name"]
        if os.path.isabs(name) or ".." in name.split(os.sep):
            raise ValueError(f"unsafe file name in manifest: {name}")
        full = os.path.join(directory, name)
        if not os.path.exists(full):
            raise ValueError(f"manifest file missing: {name}")
        if os.path.getsize(full) != entry["size"]:
            raise ValueError(f"size mismatch for {name}")
        if _sha256(full) != entry["sha256"]:
            raise ValueError(f"checksum mismatch for {name}")
