"""Port of the reference's FillValidityEnd golden tests.

Reference: ``tests/test_chunk_promoter.py:371-580`` (scenarios: no-op
when ends set, chain fill, gap preservation, partition independence,
staging-filter scoping).
"""

from __future__ import annotations

import pytest

from dax_ppdb_spark.ops import fill_validity_end, rank_versions

COLS = ["diaObjectId", "validityStartMjdTai", "validityEndMjdTai"]


def _mk(spark, rows):
    return spark.createDataFrame(
        [(int(i), float(s), None if e is None else float(e)) for i, s, e in rows],
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE",
    )


def _ids(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "diaObjectId LONG")


def _collect(df):
    return sorted(
        (r.diaObjectId, r.validityStartMjdTai, r.validityEndMjdTai)
        for r in df.collect()
    )


def test_chain_fill(spark):
    """All-NULL chain: each end becomes the next start; last stays NULL."""
    df = _mk(spark, [(1, 100.0, None), (1, 110.0, None), (1, 120.0, None)])
    out = fill_validity_end(df, _ids(spark, [1]))
    assert _collect(out) == [(1, 100.0, 110.0), (1, 110.0, 120.0), (1, 120.0, None)]


def test_noop_when_ends_set(spark):
    df = _mk(spark, [(1, 100.0, 105.0), (1, 110.0, 115.0)])
    out = fill_validity_end(df, _ids(spark, [1]))
    assert _collect(out) == [(1, 100.0, 105.0), (1, 110.0, 115.0)]


def test_gap_preservation(spark):
    """Explicitly-set ends that differ from next start must be preserved."""
    df = _mk(spark, [(1, 100.0, 102.0), (1, 110.0, None), (1, 120.0, None)])
    out = fill_validity_end(df, _ids(spark, [1]))
    assert _collect(out) == [(1, 100.0, 102.0), (1, 110.0, 120.0), (1, 120.0, None)]


def test_partition_independence(spark):
    df = _mk(spark, [(1, 100.0, None), (2, 105.0, None), (1, 110.0, None)])
    out = fill_validity_end(df, _ids(spark, [1, 2]))
    assert _collect(out) == [(1, 100.0, 110.0), (1, 110.0, None), (2, 105.0, None)]


def test_staging_scope(spark):
    """Objects absent from the staged id set are untouched."""
    df = _mk(spark, [(1, 100.0, None), (1, 110.0, None), (2, 100.0, None), (2, 110.0, None)])
    out = fill_validity_end(df, _ids(spark, [1]))
    assert _collect(out) == [
        (1, 100.0, 110.0),
        (1, 110.0, None),
        (2, 100.0, None),
        (2, 110.0, None),
    ]


def test_full_table_when_no_staging(spark):
    df = _mk(spark, [(1, 100.0, None), (1, 110.0, None), (2, 100.0, None)])
    out = fill_validity_end(df, None)
    assert _collect(out) == [(1, 100.0, 110.0), (1, 110.0, None), (2, 100.0, None)]


def test_rank_versions(spark):
    df = _mk(spark, [(1, 110.0, None), (1, 100.0, None), (2, 100.0, None)])
    out = rank_versions(df)
    got = sorted((r.diaObjectId, r.validityStartMjdTai, r["rank"]) for r in out.collect())
    assert got == [(1, 100.0, 1), (1, 110.0, 2), (2, 100.0, 1)]


def test_valid_at_point_in_time(spark):
    from dax_ppdb_spark.ops.validity import valid_at

    df = spark.createDataFrame(
        [
            (1, 10.0, 20.0),   # closed before 25
            (1, 20.0, None),   # current at 25
            (2, 30.0, None),   # starts after 25
            (3, 25.0, 26.0),   # starts exactly at 25 (inclusive)
            (4, 24.0, 25.0),   # ends exactly at 25 (exclusive)
        ],
        "oid LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE",
    )
    got = {(r.oid, r.validityStartMjdTai) for r in valid_at(df, 25.0).collect()}
    assert got == {(1, 20.0), (3, 25.0)}


def test_overlap_violations_detects_non_adjacent(spark):
    from dax_ppdb_spark.ops.validity import overlap_violations

    df = spark.createDataFrame(
        [
            # object 1: v1 [0,100) swallows v2 AND v3 (non-adjacent overlap)
            (1, 0.0, 100.0),
            (1, 10.0, 20.0),
            (1, 50.0, None),
            # object 2: clean chain
            (2, 0.0, 10.0),
            (2, 10.0, None),
        ],
        "oid LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE",
    )
    bad = {
        (r.oid, r.validityStartMjdTai)
        for r in overlap_violations(df, id_col="oid").collect()
    }
    assert bad == {(1, 10.0), (1, 50.0)}


def test_legacy_schema_name_switch(spark):
    """Pre-rename APDB schemas carry TIMESTAMP validityStart/validityEnd
    (reference sql/_ppdb_sql.py:86-90,189-195 sniffs the DiaObject
    columns to pick the name set).  The golden chain-fill semantics
    must hold under the legacy names, and validity_columns must pick
    the right set from each schema generation."""
    import datetime as dt

    from dax_ppdb_spark.schema.registry import (
        DIA_OBJECT,
        DIA_OBJECT_LEGACY,
        VALIDITY_LEGACY,
        VALIDITY_MJD_TAI,
        validity_columns,
    )

    assert validity_columns(DIA_OBJECT.fieldNames()) == VALIDITY_MJD_TAI
    assert validity_columns(DIA_OBJECT_LEGACY.fieldNames()) == VALIDITY_LEGACY

    t = lambda h: dt.datetime(2025, 1, 1, h)
    df = spark.createDataFrame(
        [(1, t(1), None), (1, t(2), None), (1, t(3), None)],
        "diaObjectId LONG, validityStart TIMESTAMP, validityEnd TIMESTAMP",
    )
    start_col, end_col = validity_columns(df.columns)
    out = fill_validity_end(
        df, _ids(spark, [1]), start_col=start_col, end_col=end_col
    )
    got = sorted((r.diaObjectId, r.validityStart, r.validityEnd) for r in out.collect())
    assert got == [(1, t(1), t(2)), (1, t(2), t(3)), (1, t(3), None)]


def test_duplicate_staged_ids_fill_like_distinct_ids(spark):
    """The staged-id side is not deduplicated: a semi or anti join
    keeps the same target rows whether or not an id repeats, so a
    staged set listing an object twice fills exactly as listing it
    once."""
    df = _mk(
        spark,
        [(1, 100.0, None), (1, 110.0, None), (2, 100.0, None), (2, 105.0, None),
         (3, 100.0, None), (3, 120.0, None)],
    )
    once = fill_validity_end(df, _ids(spark, [1, 3]))
    twice = fill_validity_end(df, _ids(spark, [1, 3, 1, 1, 3]))
    assert _collect(twice) == _collect(once)
    assert _collect(once) == [
        (1, 100.0, 110.0), (1, 110.0, None), (2, 100.0, None), (2, 105.0, None),
        (3, 100.0, 120.0), (3, 120.0, None),
    ]
