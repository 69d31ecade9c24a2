"""Retroactive-update pipeline: expand -> dedup -> pivot -> merge.

Reference flow (SURVEY §2.10, §3.3):
- raw update events (one JSON payload each) are exploded into one row
  per updated field (``bigquery/updates/expanded_update_record.py:82-113``),
- deduped last-writer-wins on ``(table_name, record_key, field_name)``
  by ``(apdb_replica_chunk, update_time_ns, update_order) DESC``
  (``bigquery/updates/expanded_updates_table.py:185-201``),
- pivoted into one patch row per record with ``<field>_value`` +
  ``<field>_present`` columns (``merge_diaobject_updates.sql:3-25``),
- merged into the target tables
  (``bigquery/updates/updates_merger.py:51-83``).

The six concrete record types and their patch semantics come from the
SQL backend's dispatcher (``sql/_ppdb_sql.py:291-448``):

=============================== =============== ========================
update_type                     target table    patched fields
=============================== =============== ========================
close_diaobject_validity        DiaObject       validityEndMjdTai,
                                                nDiaSources (optional)
update_ndiasources              DiaObject       nDiaSources
reassign_diasource_to_diaobject DiaSource       diaObjectId
reassign_diasource_to_ssobject  DiaSource       ssObjectId,
                                                ssObjectReassocTimeMjdTai,
                                                diaObjectId := NULL
withdraw_diasource              DiaSource       timeWithdrawnMjdTai
withdraw_diaforcedsource        DiaForcedSource timeWithdrawnMjdTai
                                                (key diaObjectId,visit,
                                                detector)
=============================== =============== ========================

One batch's updates are control data, not a table: the reference
explodes them in Python on the driver before its three MERGEs
(``bigquery/updates/updates_manager.py:152-179``).  Here the expansion
stays one Spark projection (:func:`expand_updates` — the JSON parse
and the id casts are Spark expressions), its rows are collected as
one Arrow table in one job, and :func:`update_patches` resolves
last-writer-wins and the pivot on the driver with Arrow compute.
Values stay strings until the typed patch, a projection of casts over
a local relation that the optimizer folds on the driver
(``ConvertToLocalRelation``), so every cast is Spark's own ``Cast``
and a merge broadcasts the patch without re-planning it.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class UpdateSpec:
    table_name: str
    id_fields: tuple[str, ...]
    # (field_name, always_emit): always_emit=True emits the field even
    # when absent from the payload (used for forced NULLs and required
    # fields); otherwise the field row is emitted only when present.
    fields: tuple[tuple[str, bool], ...]


TYPE_SPECS: dict[str, UpdateSpec] = {
    "close_diaobject_validity": UpdateSpec(
        "DiaObject", ("diaObjectId",), (("validityEndMjdTai", True), ("nDiaSources", False))
    ),
    "update_ndiasources": UpdateSpec("DiaObject", ("diaObjectId",), (("nDiaSources", True),)),
    "reassign_diasource_to_diaobject": UpdateSpec(
        "DiaSource", ("diaSourceId",), (("diaObjectId", True),)
    ),
    # Reassigning to an SSObject clears the object association
    # (sql/_ppdb_sql.py:401-410: ``diaObjectId=None``) — emitted as an
    # always-present field row with a NULL value.
    "reassign_diasource_to_ssobject": UpdateSpec(
        "DiaSource",
        ("diaSourceId",),
        (("ssObjectId", True), ("ssObjectReassocTimeMjdTai", True), ("diaObjectId", True)),
    ),
    "withdraw_diasource": UpdateSpec(
        "DiaSource", ("diaSourceId",), (("timeWithdrawnMjdTai", True),)
    ),
    "withdraw_diaforcedsource": UpdateSpec(
        "DiaForcedSource",
        ("diaObjectId", "visit", "detector"),
        (("timeWithdrawnMjdTai", True),),
    ),
}

# Per-table patch layout used by the merge step: target key columns
# (from record_id positions) and field -> Spark cast type.
TABLE_PATCHES: dict[str, tuple[tuple[str, ...], dict[str, str]]] = {
    "DiaObject": (
        ("diaObjectId",),
        {"validityEndMjdTai": "double", "nDiaSources": "int"},
    ),
    "DiaSource": (
        ("diaSourceId",),
        {
            "diaObjectId": "long",
            "ssObjectId": "long",
            "ssObjectReassocTimeMjdTai": "double",
            "timeWithdrawnMjdTai": "double",
        },
    ),
    "DiaForcedSource": (
        ("diaObjectId", "visit", "detector"),
        {"timeWithdrawnMjdTai": "double"},
    ),
}


def expand_updates(raw: DataFrame) -> DataFrame:
    """Explode raw update events into field-level patch rows.

    ``raw`` has the UPDATES_RAW schema (chunk, time_ns, order,
    update_type, json_payload).  Output has the EXPANDED_UPDATES
    schema; one input row yields one row per patched field.  The
    payload is parsed once, one CASE on ``update_type`` picks the
    type's field rows (each carrying its table, id and key) and one
    ``explode`` follows; an unknown or NULL type matches no branch and
    yields no rows.
    """
    m = F.col("__m")
    rows = None
    for utype, spec in TYPE_SPECS.items():
        record_id = F.array(*[F.element_at(m, f).cast("long") for f in spec.id_fields])
        record_key = F.concat_ws("-", *[F.element_at(m, f) for f in spec.id_fields])
        field_rows = F.array(
            *[
                F.struct(
                    F.lit(spec.table_name).alias("table_name"),
                    record_id.alias("record_id"),
                    record_key.alias("record_key"),
                    F.lit(fname).alias("field_name"),
                    F.element_at(m, fname).alias("value_json"),
                    (F.lit(True) if always else F.map_contains_key(m, fname)).alias("__keep"),
                )
                for fname, always in spec.fields
            ]
        )
        kept = F.filter(field_rows, lambda s: s["__keep"])
        is_type = F.col("update_type") == utype
        rows = F.when(is_type, kept) if rows is None else rows.when(is_type, kept)
    return (
        raw.withColumn("__m", F.from_json(F.col("json_payload"), "map<string,string>"))
        .select("apdb_replica_chunk", F.explode(rows).alias("__f"), "update_order", "update_time_ns")
        .select(
            "apdb_replica_chunk",
            *[
                F.col(f"__f.{c}").alias(c)
                for c in ("table_name", "record_id", "record_key", "field_name", "value_json")
            ],
            "update_order",
            "update_time_ns",
        )
    )


def update_patches(expanded: DataFrame) -> dict[str, DataFrame]:
    """The typed merge patch of every table the batch updates.

    Collects ``expanded`` as one Arrow table (one job) and, on the
    driver with Arrow compute:

    - keeps the newest row per ``(table_name, record_key, field_name)``
      by ``(apdb_replica_chunk, update_time_ns, update_order)`` DESC,
      NULLs last as in Spark (ties keep an arbitrary row, as the
      reference's ``ROW_NUMBER`` does);
    - pivots each table's rows into one row per ``record_id`` key
      tuple: ``<field>`` is the max value in byte order (Spark's string
      order; NULLs ignored) and ``<field>__present`` says the field has
      a row.  Two spellings of one id (``"01"``, ``"1"``) are two
      record keys but one patch row.  A row with a NULL key column (a
      payload without the id, or one that does not parse) is dropped:
      it could match no target row.

    Values stay strings: each pivot is planned as a local relation
    (``LocalTableScan``) and the patch is a projection of Spark casts
    over it, which the optimizer folds on the driver.  A
    present-but-NULL ``nDiaSources`` keeps the target value
    (``merge_diaobject_updates.sql:32``): its present flag is cleared.
    Tables without a patch row are absent from the result.
    """
    lww_key = ["table_name", "record_key", "field_name"]
    order = ["apdb_replica_chunk", "update_time_ns", "update_order"]
    rows = expanded.select(*lww_key, *order, "record_id", "value_json").toArrow()
    rows = rows.take(
        pc.sort_indices(rows, [(c, "descending") for c in order], null_placement="at_end")
    )
    rows = rows.append_column("__i", pa.array(range(rows.num_rows), pa.int64()))
    first = rows.group_by(lww_key, use_threads=False).aggregate([("__i", "first")])
    newest = rows.take(first["__i_first"])
    spark = expanded.sparkSession
    out = {}
    for table_name, (key_cols, fields) in TABLE_PATCHES.items():
        mine = newest.filter(
            pc.and_(
                pc.equal(newest["table_name"], table_name),
                pc.is_in(newest["field_name"], pa.array(list(fields))),
            )
        )
        keyed = [pc.is_valid(pc.list_element(mine["record_id"], i)) for i in range(len(key_cols))]
        mine = mine.filter(functools.reduce(pc.and_, keyed))
        if mine.num_rows == 0:
            continue
        cols = {k: pc.list_element(mine["record_id"], i) for i, k in enumerate(key_cols)}
        for f in fields:
            has = pc.equal(mine["field_name"], f)
            cols[f] = pc.if_else(has, mine["value_json"], pa.scalar(None, pa.string()))
            cols[f"{f}__present"] = has
        pivot = pa.table(cols).group_by(list(key_cols)).aggregate(
            [(f, "max") for f in fields] + [(f"{f}__present", "any") for f in fields]
        )
        typed = [F.col(k) for k in key_cols]
        for f, ftype in fields.items():
            typed += [
                F.col(f"{f}_max").cast(ftype).alias(f),
                F.col(f"{f}__present_any").alias(f"{f}__present"),
            ]
        patch = spark.createDataFrame(pivot).select(*typed)
        if table_name == "DiaObject":
            patch = patch.withColumn(
                "nDiaSources__present",
                F.col("nDiaSources__present") & F.col("nDiaSources").isNotNull(),
            )
        out[table_name] = patch
    return out


def validate_update_targets(
    target: DataFrame, patch_keys: DataFrame, key_cols: tuple[str, ...]
) -> DataFrame:
    """D4 rowcount==1 semantics: every patch key must exist in the target.

    Returns the missing keys (empty when valid); callers raise on
    non-empty, mirroring ``sql/_ppdb_sql.py:312-314,387-389``.
    Distributed form: broadcast anti-join, no driver collect.
    """
    return F.broadcast(patch_keys.select(*key_cols).distinct()).join(
        target.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )


def assert_update_targets(
    target: DataFrame,
    patch_keys: DataFrame,
    key_cols: tuple[str, ...],
    sample: int = 10,
) -> None:
    """Hard-error form of :func:`validate_update_targets`: raise if any
    patch key has no target row, echoing the reference's ``rowcount !=
    1`` ValueError (``sql/_ppdb_sql.py:347-350``).  The error message
    carries up to ``sample`` offending keys; the check itself is one
    distributed anti-join + ``take`` — never a full collect.
    """
    missing = validate_update_targets(target, patch_keys, key_cols).take(sample + 1)
    if missing:
        shown = ", ".join(str(tuple(r)) for r in missing[:sample])
        more = " (and more)" if len(missing) > sample else ""
        raise ValueError(
            f"update targets missing for keys {key_cols}: {shown}{more}"
        )
