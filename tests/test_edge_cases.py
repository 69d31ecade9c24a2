"""Empty-input and degenerate-shape edge cases for the core operators.

The promotion pipeline hits all of these in production: a chunk with
no updates, an empty patch set, a first-ever promotion with no
internal table, a single-version object.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dax_ppdb_spark.ops.latest import latest_only
from dax_ppdb_spark.ops.merge import merge_patch, merge_upsert
from dax_ppdb_spark.ops.updates import expand_updates, update_patches
from dax_ppdb_spark.ops.validity import fill_validity_end
from dax_ppdb_spark.schema.registry import UPDATES_RAW


def test_fill_validity_empty_target(spark):
    df = spark.createDataFrame([], "oid LONG, validity_start DOUBLE, validity_end DOUBLE")
    out = fill_validity_end(
        df, id_col="oid", start_col="validity_start", end_col="validity_end"
    )
    assert out.count() == 0
    assert out.columns == ["oid", "validity_start", "validity_end"]


def test_fill_validity_single_version(spark):
    df = spark.createDataFrame(
        [(1, 10.0, None)], "oid LONG, validity_start DOUBLE, validity_end DOUBLE"
    )
    row = fill_validity_end(
        df, id_col="oid", start_col="validity_start", end_col="validity_end"
    ).first()
    assert row.validity_end is None


def test_fill_validity_empty_staged_set(spark):
    df = spark.createDataFrame(
        [(1, 10.0, None), (1, 20.0, None)],
        "oid LONG, validity_start DOUBLE, validity_end DOUBLE",
    )
    staged = spark.createDataFrame([], "oid LONG")
    out = fill_validity_end(
        df, staged_ids=staged, id_col="oid", start_col="validity_start",
        end_col="validity_end",
    ).collect()
    # nothing staged -> nothing touched
    assert all(r.validity_end is None for r in out)


def test_merge_with_empty_patch(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, v STRING")
    patch = spark.createDataFrame([], "k LONG, v STRING")
    assert sorted(r.v for r in merge_upsert(target, patch, ["k"]).collect()) == ["a", "b"]
    patch2 = spark.createDataFrame([], "k LONG, v STRING, v__present BOOLEAN")
    assert merge_patch(target, patch2, ["k"]).count() == 2


def test_latest_only_empty_and_single(spark):
    empty = spark.createDataFrame([], "k LONG, o LONG, v STRING")
    assert latest_only(empty, ["k"], ["o"]).count() == 0
    single = spark.createDataFrame([(1, 5, "x")], "k LONG, o LONG, v STRING")
    assert latest_only(single, ["k"], ["o"]).first().v == "x"


def test_expand_updates_empty(spark):
    raw = spark.createDataFrame([], UPDATES_RAW)
    expanded = expand_updates(raw)
    assert expanded.count() == 0
    assert update_patches(expanded) == {}


def test_expand_updates_unknown_type_dropped(spark):
    raw = spark.createDataFrame(
        [(1, 100, 0, "not_a_real_type", '{"diaObjectId": "5"}')], UPDATES_RAW
    )
    assert expand_updates(raw).count() == 0


def test_merge_patch_null_value_with_present_flag(spark):
    """A present NULL overwrites (the SSObject-reassign diaObjectId
    clearing); an absent field keeps the target value."""
    target = spark.createDataFrame([(1, 10, 20)], "k LONG, a INT, b INT")
    patch = spark.createDataFrame(
        [(1, None, True, None, False)],
        "k LONG, a INT, a__present BOOLEAN, b INT, b__present BOOLEAN",
    )
    row = merge_patch(target, patch, ["k"]).first()
    assert row.a is None  # present NULL overwrites
    assert row.b == 20  # absent keeps target
