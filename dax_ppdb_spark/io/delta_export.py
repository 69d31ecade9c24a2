"""Delta-Lake-compatible transaction log export for ParquetTable.

The reference's promoted tables are externally queryable BigQuery
datasets (``bigquery/schema/dataset_builder.py:279-349`` builds the
public dataset + authorized views); a ParquetTable's pointer-commit
layout, by contrast, is private to this engine.  This module closes
that gap by emitting a ``_delta_log`` that follows the PUBLIC Delta
Lake transaction-log protocol (one JSON action file per commit:
``protocol`` + ``metaData`` + ``add``/``remove`` actions with
table-root-relative paths), so any engine with a Delta reader —
Spark + delta jar, DuckDB's delta extension, Polars, Trino — can
query the promoted snapshot in place, version directories and all.

Log shape per export commit ``N`` (``_delta_log/<N>.json``):

- ``protocol`` minReaderVersion 1 (plain parquet, no deletion
  vectors / column mapping), minWriterVersion 2,
- ``metaData`` with the Spark schema JSON and partition columns
  inferred from the committed version's ``key=value`` directories,
- one ``remove`` per file live in commit N-1 but absent now (an
  overwrite swaps the whole version directory; replace_partitions
  swaps a slice),
- one ``add`` per live parquet file, with partitionValues parsed
  from its directory path.

No Delta WRITER ever runs against the table (this engine's CAS
pointer stays the source of truth), so log generation is pure
metadata: an O(number of files) local listing, no data IO.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession

from .table import ParquetTable

_LOG_DIR = "_delta_log"


def _log_path(table_root: str) -> str:
    return os.path.join(table_root, _LOG_DIR)


def _log_versions(table_root: str) -> list[int]:
    d = _log_path(table_root)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json"):
            try:
                out.append(int(name[: -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def delta_live_files(table_root: str, at: int | None = None) -> dict[str, dict]:
    """Replay the log the way a Delta READER does: apply add/remove
    actions in commit order; the surviving ``add`` set is the table.
    ``at`` stops the replay after that commit number — TIME TRAVEL,
    valid while the table retains the superseded version directories
    (``ParquetTable(keep_versions=N)``; a vacuum invalidates older
    commits exactly as Delta's VACUUM does).
    Returns {relative_path: add_action}."""
    live: dict[str, dict] = {}
    for v in _log_versions(table_root):
        if at is not None and v > at:
            break
        fname = os.path.join(_log_path(table_root), f"{v:020d}.json")
        with open(fname) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
    return live


def _list_data_files(data_dir: str) -> list[str]:
    """All committed parquet files under one version directory,
    relative to it (skipping Spark's _SUCCESS/_temporary, dotfiles,
    and any underscore-prefixed dir — the Spark invisibility
    convention ParquetTable sidecars rely on)."""
    out = []
    for root, dirs, files in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.relpath(os.path.join(root, f), data_dir))
    return sorted(out)


def _partition_values(relpath: str) -> dict[str, str]:
    vals = {}
    for part in relpath.split(os.sep)[:-1]:
        if "=" in part:
            k, _, v = part.partition("=")
            vals[k] = v
    return vals


def export_delta_log(table: ParquetTable, spark: SparkSession) -> int:
    """Publish (or refresh) the table's ``_delta_log`` to describe the
    CURRENTLY COMMITTED version.  Returns the log commit number.

    Idempotent per table version: exporting twice without an
    intervening pointer flip emits a commit whose remove/add diff is
    empty metadata churn, so callers hook it right after
    ``overwrite``/``replace_partitions``/``clone_from``.
    """
    data_dir = table.data_dir()
    if data_dir is None:
        raise FileNotFoundError(f"table has no committed version: {table.path}")
    version_name = os.path.basename(data_dir)
    files = _list_data_files(data_dir)
    schema_json = table.read(spark).schema.json()
    part_cols: list[str] = []
    if files:
        part_cols = list(_partition_values(files[0]).keys())

    prev_live = delta_live_files(table.path)
    now_ms = int(time.time() * 1000)
    new_paths = {}
    for rel in files:
        rel_root = f"{version_name}/{rel.replace(os.sep, '/')}"
        st = os.stat(os.path.join(data_dir, rel))
        new_paths[rel_root] = {
            "path": rel_root,
            "partitionValues": _partition_values(rel),
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
        }

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": "Overwrite"},
                "engineInfo": "dax_ppdb_spark ParquetTable export",
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    for path in sorted(prev_live):
        if path not in new_paths:
            actions.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    for path in sorted(new_paths):
        prev = prev_live.get(path, {})
        if (
            prev.get("size") == new_paths[path]["size"]
            and prev.get("modificationTime") == new_paths[path]["modificationTime"]
        ):
            # unchanged file already live in the log — re-adding is
            # legal but noisy; skip for a minimal diff.  Size alone is
            # not identity (same-length rewrites exist even though
            # ParquetTable currently always writes fresh file names);
            # mtime must match too.
            continue
        actions.append({"add": new_paths[path]})

    versions = _log_versions(table.path)
    commit = (versions[-1] + 1) if versions else 0
    os.makedirs(_log_path(table.path), exist_ok=True)
    tmp = os.path.join(_log_path(table.path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    os.replace(tmp, os.path.join(_log_path(table.path), f"{commit:020d}.json"))
    return commit
