"""``session.local_df``: a driver-built relation as an Arrow local
relation, bit-identical to the list-built ``createDataFrame`` it
replaces, on values chosen to break a lossy conversion."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import Row

from dax_ppdb_spark.session import local_df

DOUBLES = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    float("inf"),
    float("-inf"),
    float("nan"),
    0.1 + 0.2,
    1.7976931348623157e308,
    -1.7976931348623157e308,
]

SCHEMA = "k LONG, x DOUBLE, cube ARRAY<ARRAY<ARRAY<DOUBLE>>>, s STRING, tags ARRAY<STRING>"

ROWS = [
    (2**63 - 1, d, [[[d, -d], DOUBLES], [], [None]], "\U0001f600 \U00010348 ß", ["a", None])
    for d in DOUBLES
] + [
    (-(2**63), None, None, None, None),
    (0, 1.0, [None, [None, []]], "", []),
]


def _bits(v):
    """Values with every double as its IEEE bytes (NaN == NaN, -0.0 != 0.0)."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(old, new):
    assert new.schema == old.schema
    assert new.schema.json() == old.schema.json()
    assert [_bits(tuple(r)) for r in new.collect()] == [
        _bits(tuple(r)) for r in old.collect()
    ]
    assert "LocalTableScan" in _plan(new)
    assert "ExistingRDD" not in _plan(new)


def test_tuples_with_a_ddl_schema(spark):
    _assert_same(spark.createDataFrame(ROWS, SCHEMA), local_df(spark, ROWS, SCHEMA))


def test_collected_rows_with_their_struct_type(spark):
    src = spark.createDataFrame(ROWS, SCHEMA)
    rows = src.collect()
    assert all(isinstance(r, Row) for r in rows)
    _assert_same(
        spark.createDataFrame(rows, schema=src.schema), local_df(spark, rows, src.schema)
    )


def test_nested_struct_and_non_nullable_fields(spark):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), False),
            StructField(
                "p",
                StructType(
                    [
                        StructField("cid", LongType(), True),
                        StructField("v", ArrayType(DoubleType(), False), True),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [(1, "x", (7, [-0.0, float("nan")])), (2, "\U0001f600", None)]
    _assert_same(spark.createDataFrame(rows, schema), local_df(spark, rows, schema))


def test_empty_rows(spark):
    old = spark.createDataFrame([], SCHEMA)
    new = local_df(spark, [], SCHEMA)
    _assert_same(old, new)
    assert new.collect() == []


def test_type_mismatch_still_raises(spark):
    # the list-built path's schema verification rejects these; the
    # Arrow conversion must not silently coerce them
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, [("not a long",)], "k LONG")
