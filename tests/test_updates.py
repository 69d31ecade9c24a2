"""Updates pipeline tests, mirroring the reference's fixtures.

Seed data shape: ``python/lsst/dax/ppdb/tests/_updates.py:36-153``
(all 6 record types + same-key newer/older records pinning
last-writer-wins); merge semantics:
``tests/test_updates_merger.py:97-243`` (untouched-row checks,
reassign-to-SSObject nulling diaObjectId).
"""

from __future__ import annotations

import json

import pytest

from dax_ppdb_spark.ops.updates import (
    TABLE_PATCHES,
    expand_updates,
    update_patches,
    validate_update_targets,
)

T0 = 1640995200000000000  # 2022-01-01 in ns
MJD = 59580.0


def _raw_updates(spark, chunk=0):
    rows = [
        # (time_ns, order, type, payload)
        (T0, 0, "reassign_diasource_to_diaobject",
         {"diaSourceId": 100001, "diaObjectId": 300001}),
        (T0, 1, "reassign_diasource_to_ssobject",
         {"diaSourceId": 100002, "ssObjectId": 2001, "ssObjectReassocTimeMjdTai": MJD}),
        (T0, 2, "withdraw_diasource",
         {"diaSourceId": 100003, "timeWithdrawnMjdTai": MJD}),
        (T0, 3, "withdraw_diaforcedsource",
         {"diaObjectId": 200001, "visit": 12345, "detector": 42,
          "timeWithdrawnMjdTai": MJD}),
        (T0, 4, "close_diaobject_validity",
         {"diaObjectId": 200001, "validityEndMjdTai": MJD, "nDiaSources": 5}),
        (T0, 5, "update_ndiasources", {"diaObjectId": 200002, "nDiaSources": 10}),
        # Same source reassigned again 1s later -> wins.
        (T0 + 10**9, 0, "reassign_diasource_to_diaobject",
         {"diaSourceId": 100001, "diaObjectId": 400001}),
        # Older duplicate of the nDiaSources update -> discarded.
        (T0 - 10**9, 5, "update_ndiasources", {"diaObjectId": 200002, "nDiaSources": 8}),
    ]
    return spark.createDataFrame(
        [(chunk, t, o, ty, json.dumps(p)) for t, o, ty, p in rows],
        "apdb_replica_chunk LONG, update_time_ns LONG, update_order LONG, "
        "update_type STRING, json_payload STRING",
    )


def test_expand_counts_and_keys(spark):
    expanded = expand_updates(_raw_updates(spark))
    rows = expanded.collect()
    # 1 + 3 + 1 + 1 + 2 + 1 + 1 + 1 field rows
    assert len(rows) == 11
    by_key = {(r.table_name, r.record_key, r.field_name, r.update_time_ns) for r in rows}
    assert ("DiaSource", "100002", "diaObjectId", T0) in by_key  # forced NULL row
    fs = [r for r in rows if r.table_name == "DiaForcedSource"]
    assert fs[0].record_id == [200001, 12345, 42]
    assert fs[0].record_key == "200001-12345-42"


def test_latest_only_tiebreak(spark):
    patches = update_patches(expand_updates(_raw_updates(spark)))
    reassign = [r for r in patches["DiaSource"].collect() if r.diaSourceId == 100001]
    assert len(reassign) == 1
    assert reassign[0].diaObjectId == 400001
    nsrc = [r for r in patches["DiaObject"].collect() if r.diaObjectId == 200002]
    assert len(nsrc) == 1 and nsrc[0].nDiaSources == 10


def test_chunk_precedence_over_time(spark):
    """Higher chunk id wins even with an older timestamp (W3 key order)."""
    import json as _json

    rows = [
        (1, T0 + 10**9, 0, "update_ndiasources",
         _json.dumps({"diaObjectId": 1, "nDiaSources": 5})),
        (2, T0, 0, "update_ndiasources",
         _json.dumps({"diaObjectId": 1, "nDiaSources": 7})),
    ]
    raw = spark.createDataFrame(
        rows,
        "apdb_replica_chunk LONG, update_time_ns LONG, update_order LONG, "
        "update_type STRING, json_payload STRING",
    )
    patches = update_patches(expand_updates(raw))
    assert patches["DiaObject"].collect()[0].nDiaSources == 7


def test_build_patch_pivot(spark):
    patch = update_patches(expand_updates(_raw_updates(spark)))["DiaSource"]
    by_id = {r.diaSourceId: r for r in patch.collect()}
    assert set(by_id) == {100001, 100002, 100003}
    r2 = by_id[100002]
    assert r2.ssObjectId == 2001 and r2.ssObjectId__present
    assert r2.diaObjectId is None and r2.diaObjectId__present  # forced NULL
    assert r2.timeWithdrawnMjdTai is None and not r2.timeWithdrawnMjdTai__present
    r1 = by_id[100001]
    assert r1.diaObjectId == 400001 and r1.diaObjectId__present


def test_apply_patches_end_to_end(spark):
    from dax_ppdb_spark.ops.merge import merge_patch

    patches = update_patches(expand_updates(_raw_updates(spark)))
    dia_source = spark.createDataFrame(
        [
            (100001, 300000, None, None, None),
            (100002, 300002, None, None, None),
            (100003, 300003, None, None, None),
            (100009, 300009, None, None, None),  # untouched
        ],
        "diaSourceId LONG, diaObjectId LONG, ssObjectId LONG, "
        "ssObjectReassocTimeMjdTai DOUBLE, timeWithdrawnMjdTai DOUBLE",
    )
    dia_object = spark.createDataFrame(
        [(200001, 59500.0, None, 3), (200002, 59500.0, None, 4), (200009, 59500.0, None, 9)],
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
        "nDiaSources INT",
    )
    dia_forced = spark.createDataFrame(
        [(200001, 12345, 42, None), (200001, 12346, 42, None)],
        "diaObjectId LONG, visit LONG, detector LONG, timeWithdrawnMjdTai DOUBLE",
    )
    targets = {"DiaObject": dia_object, "DiaSource": dia_source, "DiaForcedSource": dia_forced}
    out = {t: merge_patch(df, patches[t], TABLE_PATCHES[t][0]) for t, df in targets.items()}
    src = {r.diaSourceId: r for r in out["DiaSource"].collect()}
    assert src[100001].diaObjectId == 400001
    assert src[100002].diaObjectId is None  # nulled by SSObject reassign
    assert src[100002].ssObjectId == 2001
    assert src[100002].ssObjectReassocTimeMjdTai == MJD
    assert src[100003].timeWithdrawnMjdTai == MJD
    assert src[100009].diaObjectId == 300009  # untouched row unchanged

    obj = {r.diaObjectId: r for r in out["DiaObject"].collect()}
    assert obj[200001].validityEndMjdTai == MJD and obj[200001].nDiaSources == 5
    assert obj[200002].nDiaSources == 10
    assert obj[200009].nDiaSources == 9

    forced = {(r.diaObjectId, r.visit, r.detector): r for r in out["DiaForcedSource"].collect()}
    assert forced[(200001, 12345, 42)].timeWithdrawnMjdTai == MJD
    assert forced[(200001, 12346, 42)].timeWithdrawnMjdTai is None


def test_validate_missing_targets(spark):
    patch = update_patches(expand_updates(_raw_updates(spark)))["DiaSource"]
    target = spark.createDataFrame([(100001,)], "diaSourceId LONG")
    missing = validate_update_targets(target, patch, ("diaSourceId",)).collect()
    assert sorted(r.diaSourceId for r in missing) == [100002, 100003]


def test_topk_per_key_salted_matches_direct(spark):
    """Two-phase salted top-k == direct window top-k (winners unique
    by construction), with bounded second-phase partitions."""
    import random

    from dax_ppdb_spark.ops.latest import topk_per_key

    rng = random.Random(11)
    # heavy skew: 90% of rows on key 1
    rows = [
        (1 if rng.random() < 0.9 else rng.randint(2, 10), i, f"v{i}")
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "k LONG, t LONG, v STRING")
    direct = {(r.k, r.t) for r in topk_per_key(df, ["k"], ["t"], k=3).collect()}
    salted = {
        (r.k, r.t)
        for r in topk_per_key(df, ["k"], ["t"], k=3, salt_buckets=8).collect()
    }
    assert salted == direct
    assert len([1 for k, _t in direct if k == 1]) == 3


def test_merge_observation_counts(spark):
    """DML stats ride the action that materializes the merge
    (updates_manager.py:242-271 analog): scanned/updated/inserted
    counts for a known batch, with no extra scan jobs."""
    from dax_ppdb_spark import metrics
    from dax_ppdb_spark.ops.merge import merge_patch, merge_upsert

    metrics.clear()
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id LONG, v STRING"
    )
    patch = spark.createDataFrame([(2, "B"), (4, "D")], "id LONG, v STRING")
    merged = merge_patch(target, patch, ["id"], observe_as="patch_stage")
    merged.count()  # the action the observation rides
    [entry] = metrics.flush_observations()
    assert entry["stage"] == "patch_stage" and entry["op"] == "merge_patch"
    assert entry["rows"] == 4 and entry["updated"] == 2
    assert metrics.recent("patch_stage", kind="dml")

    upsert_patch = spark.createDataFrame([(4, "DD"), (9, "Z")], "id LONG, v STRING")
    up = merge_upsert(target, upsert_patch, ["id"], observe_as="upsert_stage")
    up.count()
    [entry] = metrics.flush_observations()
    assert entry["updated"] == 1 and entry["inserted"] == 1 and entry["rows"] == 5


def test_assert_update_targets_raises_on_missing(spark):
    """The reference's rowcount==1 hard error (sql/_ppdb_sql.py:347-350):
    a patch aimed at an absent record must raise, valid batches pass."""
    import pytest as _pytest

    from dax_ppdb_spark.ops.updates import assert_update_targets

    patch = update_patches(expand_updates(_raw_updates(spark)))["DiaSource"]
    good_target = spark.createDataFrame(
        [(100001,), (100002,), (100003,)], "diaSourceId LONG"
    )
    assert_update_targets(good_target, patch, ("diaSourceId",))  # no raise

    bad_target = spark.createDataFrame([(100001,)], "diaSourceId LONG")
    with _pytest.raises(ValueError, match="100002"):
        assert_update_targets(bad_target, patch, ("diaSourceId",))


def test_funnel_semantics(spark):
    """Step order is enforced strictly: purchases before the click
    don't count, broken funnels leave later steps NULL, same-timestamp
    events don't chain."""
    from dax_ppdb_spark.ops.funnel import funnel

    rows = [
        # user 1: full funnel in order
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # user 2: purchase BEFORE click -> funnel stops at click
        (2, "view", 100), (2, "purchase", 150), (2, "click", 200),
        # user 3: click only -> zero steps (no view)
        (3, "click", 100),
        # user 4: same-timestamp click doesn't chain off the view
        (4, "view", 100), (4, "click", 100),
        # user 5: multiple candidates -> earliest valid chain
        (5, "view", 50), (5, "view", 10), (5, "click", 30), (5, "click", 60),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, event_type STRING, ts_us LONG")
    out = {r.user_id: r for r in funnel(df, ("view", "click", "purchase")).collect()}
    assert out[1].steps_completed == 3 and out[1].ts3_us == 300
    assert out[2].steps_completed == 2 and out[2].ts3_us is None
    assert out[3].steps_completed == 0
    assert out[4].steps_completed == 1 and out[4].ts2_us is None
    # earliest view at 10, earliest click after it at 30
    assert (out[5].ts1_us, out[5].ts2_us) == (10, 30)


# -- differential: driver-side resolution vs the distributed pipeline ------
#
# The oracle is the distributed step 3 this module used to run: six
# filtered expand branches joined by ``unionByName``, a ``row_number``
# window for last-writer-wins, then a ``groupBy`` pivot per table with
# the DiaObject ``nDiaSources`` present rule.  The driver-side path must
# give the same typed patch rows per table and the same bucket lists.


def _oracle_expand(raw):
    from pyspark.sql import functions as F

    from dax_ppdb_spark.ops.updates import TYPE_SPECS

    m = F.from_json(F.col("json_payload"), "map<string,string>")
    per_type = []
    for utype, spec in TYPE_SPECS.items():
        src = raw.filter(F.col("update_type") == utype).withColumn("__m", m)
        record_id = F.array(
            *[F.element_at(F.col("__m"), f).cast("long") for f in spec.id_fields]
        )
        field_structs = []
        for fname, always in spec.fields:
            keep = F.lit(True) if always else F.map_contains_key(F.col("__m"), fname)
            field_structs.append(
                F.struct(
                    F.lit(fname).alias("field_name"),
                    F.element_at(F.col("__m"), fname).alias("value_json"),
                    keep.alias("__keep"),
                )
            )
        fields = F.filter(F.array(*field_structs), lambda s: s["__keep"])
        exploded = src.select(
            "apdb_replica_chunk",
            F.lit(spec.table_name).alias("table_name"),
            record_id.alias("record_id"),
            F.concat_ws("-", *[F.element_at(F.col("__m"), f) for f in spec.id_fields]).alias(
                "record_key"
            ),
            F.explode(fields).alias("__f"),
            "update_order",
            "update_time_ns",
        ).select(
            "apdb_replica_chunk",
            "table_name",
            "record_id",
            "record_key",
            F.col("__f.field_name").alias("field_name"),
            F.col("__f.value_json").alias("value_json"),
            "update_order",
            "update_time_ns",
        )
        per_type.append(exploded)
    out = per_type[0]
    for df in per_type[1:]:
        out = out.unionByName(df)
    return out


def _oracle_patch(latest, table_name):
    from pyspark.sql import functions as F

    key_cols, fields = TABLE_PATCHES[table_name]
    src = latest.filter(
        (F.col("table_name") == table_name) & F.col("field_name").isin(*fields.keys())
    )
    keys = [
        F.element_at(F.col("record_id"), i + 1).alias(k) for i, k in enumerate(key_cols)
    ]
    aggs = []
    for fname, ftype in fields.items():
        cond = F.col("field_name") == fname
        aggs.append(F.max(F.when(cond, F.col("value_json"))).cast(ftype).alias(fname))
        aggs.append((F.count(F.when(cond, F.lit(1))) > 0).alias(f"{fname}__present"))
    patch = src.groupBy(*keys).agg(*aggs)
    if table_name == "DiaObject":
        patch = patch.withColumn(
            "nDiaSources__present",
            F.col("nDiaSources__present") & F.col("nDiaSources").isNotNull(),
        )
    return patch


def _oracle_patches(raw, bucket_width):
    """{table: (sorted normalized rows, bucket set)} of the oracle."""
    from pyspark.sql import functions as F

    from dax_ppdb_spark.ops.latest import latest_only

    latest = latest_only(
        _oracle_expand(raw),
        ["table_name", "record_key", "field_name"],
        ["apdb_replica_chunk", "update_time_ns", "update_order"],
    ).localCheckpoint()
    out = {}
    for t, (key_cols, _fields) in TABLE_PATCHES.items():
        # a NULL-keyed patch row could match no target row under the
        # merge's equi-join, so update_patches drops it
        patch = _oracle_patch(latest, t).dropna(subset=list(key_cols))
        rows = _norm(patch.collect())
        if rows:
            b = F.floor(F.col(key_cols[0]) / F.lit(bucket_width)).cast("long")
            buckets = {r.b for r in patch.select(b.alias("b")).distinct().collect()}
            out[t] = (patch.columns, rows, buckets)
    return out


def _new_patches(spark, raw, tmp_path, bucket_width):
    from dax_ppdb_spark.pipeline.promote import Promoter

    promoter = Promoter(spark, str(tmp_path / "promoter"), bucket_width=bucket_width)
    out = {}
    for t, patch in update_patches(expand_updates(raw)).items():
        key = TABLE_PATCHES[t][0][0]
        buckets = promoter._buckets_of(patch, key)
        assert len(buckets) == len(set(buckets))
        out[t] = (patch.columns, _norm(patch.collect()), set(buckets))
    return out


def _norm(rows):
    """Rows as sortable tuples that tell -0.0 from 0.0 and match NaN."""
    return sorted(tuple(repr(v) for v in r) for r in rows)


def _outcome(fn):
    from pyspark.errors import PySparkException

    try:
        return "rows", fn()
    except PySparkException as e:  # the ANSI cast error, captured from the JVM
        return "error", type(e).__name__


_RAW_SCHEMA = (
    "apdb_replica_chunk LONG, update_time_ns LONG, update_order LONG, "
    "update_type STRING, json_payload STRING"
)

# (chunk, time_ns, order, type, payload text) — payloads are raw text so
# malformed and non-standard JSON reach the parser as written.
_ADVERSARIAL_ROWS = [
    # JSON null values: a present NULL diaObjectId overwrites, a present
    # NULL nDiaSources keeps the target value
    (1, T0, 0, "reassign_diasource_to_diaobject", '{"diaSourceId": 11, "diaObjectId": null}'),
    (1, T0, 1, "update_ndiasources", '{"diaObjectId": 21, "nDiaSources": null}'),
    # absent optional nDiaSources; exponent, -0.0 and past-2^63 doubles
    (1, T0, 2, "close_diaobject_validity", '{"diaObjectId": 22, "validityEndMjdTai": 6.02e4}'),
    (1, T0, 3, "close_diaobject_validity",
     '{"diaObjectId": 23, "validityEndMjdTai": -0.0, "nDiaSources": 4}'),
    (1, T0, 4, "withdraw_diasource",
     '{"diaSourceId": 12, "timeWithdrawnMjdTai": 18446744073709551616}'),
    # NaN / Infinity as strings (the bare tokens fail the cast, below)
    (1, T0, 5, "withdraw_diasource", '{"diaSourceId": 13, "timeWithdrawnMjdTai": "NaN"}'),
    (1, T0, 6, "withdraw_diaforcedsource",
     '{"diaObjectId": 24, "visit": 5, "detector": 1, "timeWithdrawnMjdTai": "-Infinity"}'),
    (1, T0, 7, "withdraw_diaforcedsource",
     '{"diaObjectId": 24, "visit": 6, "detector": 1, "timeWithdrawnMjdTai": "Infinity"}'),
    # a duplicate JSON key: the parser keeps the first value
    (1, T0, 21, "update_ndiasources", '{"diaObjectId": 30, "nDiaSources": 3, "nDiaSources": 4}'),
    # malformed JSON and a NULL payload: always-emitted fields with NULL ids
    (1, T0, 8, "withdraw_diasource", '{"diaSourceId": 14, "timeWithdrawnMjdTai": '),
    (1, T0, 9, "update_ndiasources", None),
    # unknown and NULL types (one with a non-BMP name) yield nothing
    (1, T0, 10, "not_a_type", '{"diaObjectId": 25, "nDiaSources": 1}'),
    (1, T0, 11, None, '{"diaObjectId": 25, "nDiaSources": 1}'),
    (1, T0, 12, "update_ndiasources\U0001f600", '{"diaObjectId": 25, "nDiaSources": 1}'),
    # non-BMP text in keys the types do not read
    (1, T0, 13, "update_ndiasources",
     '{"diaObjectId": 26, "nDiaSources": 3, "note\U0001f600": "\U0001f600\\uffff"}'),
    # NULL ordering values lose to any value (DESC NULLS LAST) ...
    (None, T0, 0, "update_ndiasources", '{"diaObjectId": 27, "nDiaSources": 1}'),
    (1, None, 0, "update_ndiasources", '{"diaObjectId": 27, "nDiaSources": 2}'),
    (1, T0, None, "update_ndiasources", '{"diaObjectId": 27, "nDiaSources": 3}'),
    (1, T0, 0, "update_ndiasources", '{"diaObjectId": 27, "nDiaSources": 4}'),
    (None, None, None, "update_ndiasources", '{"diaObjectId": 28, "nDiaSources": 5}'),
    # ... and a fully tied ordering tuple with one value
    (2, T0, 7, "withdraw_diasource", '{"diaSourceId": 15, "timeWithdrawnMjdTai": 1.5}'),
    (2, T0, 7, "withdraw_diasource", '{"diaSourceId": 15, "timeWithdrawnMjdTai": 1.5}'),
    # two record_key spellings of one record_id: both rows survive
    # last-writer-wins, the pivot takes the max string ("9" > "10", and
    # "9" > "10.0", the parser's text for 1e1)
    (1, T0, 14, "update_ndiasources", '{"diaObjectId": "01", "nDiaSources": "10"}'),
    (1, T0, 15, "update_ndiasources", '{"diaObjectId": 1, "nDiaSources": 9}'),
    (1, T0, 16, "close_diaobject_validity",
     '{"diaObjectId": "01", "validityEndMjdTai": 1e1}'),
    (1, T0, 17, "close_diaobject_validity", '{"diaObjectId": 1, "validityEndMjdTai": 9}'),
    # ids above 2^53 round in the double bucket division
    (1, T0, 18, "reassign_diasource_to_ssobject",
     '{"diaSourceId": 9007199254740993, "ssObjectId": 9223372036854775807, '
     '"ssObjectReassocTimeMjdTai": 1.0}'),
    (1, T0, 19, "withdraw_diasource",
     '{"diaSourceId": 1152921504606859265, "timeWithdrawnMjdTai": 2.0}'),
    (1, T0, 20, "withdraw_diasource",
     '{"diaSourceId": 9007199254740992, "timeWithdrawnMjdTai": 3.0}'),
]

# Batches the ANSI cast must reject.
_ERROR_ROWS = {
    # the parser keeps bare NaN/Infinity tokens as quoted text
    "nan_token": ("withdraw_diasource", '{"diaSourceId": 35, "timeWithdrawnMjdTai": NaN}'),
    "infinity_token": (
        "withdraw_diaforcedsource",
        '{"diaObjectId": 36, "visit": 5, "detector": 1, "timeWithdrawnMjdTai": -Infinity}',
    ),
    "int_past_2^63": (
        "reassign_diasource_to_ssobject",
        '{"diaSourceId": 31, "ssObjectId": 9223372036854775808, '
        '"ssObjectReassocTimeMjdTai": 1.0}',
    ),
    "id_past_2^63": (
        "withdraw_diasource", '{"diaSourceId": 9223372036854775808, "timeWithdrawnMjdTai": 1.0}'
    ),
    "exponent_int": ("update_ndiasources", '{"diaObjectId": 32, "nDiaSources": 1e3}'),
    "word_int": ("update_ndiasources", '{"diaObjectId": 33, "nDiaSources": "many"}'),
    "non_bmp_double": (
        "withdraw_diasource", '{"diaSourceId": 34, "timeWithdrawnMjdTai": "\U0001f600"}'
    ),
}


@pytest.mark.parametrize("bucket_width", [1_000_000, 7])
def test_update_patches_match_distributed_oracle(spark, tmp_path, bucket_width):
    raw = spark.createDataFrame(_ADVERSARIAL_ROWS, _RAW_SCHEMA)
    # expand: same schema (nullability included) and the same rows
    assert expand_updates(raw).schema == _oracle_expand(raw).schema
    assert _norm(expand_updates(raw).collect()) == _norm(_oracle_expand(raw).collect())
    want = _oracle_patches(raw, bucket_width)
    got = _new_patches(spark, raw, tmp_path, bucket_width)
    assert got == want
    assert set(got) == set(TABLE_PATCHES)
    # the adversarial cases really reached the patches
    obj = {r[0]: r for r in got["DiaObject"][1]}
    assert obj["1"][1:] == ("9.0", "True", "9", "True")  # max of "10.0"/"9", "10"/"9"
    assert obj["21"][3:] == ("None", "False")  # present NULL nDiaSources cleared
    assert obj["27"][3] == "4"  # NULL orderings lose
    src = {r[0]: r for r in got["DiaSource"][1]}
    assert src["13"][7] == "nan" and src["12"][7] == "1.8446744073709552e+19"
    assert "9007199254740993" in src and "None" not in src  # NULL ids dropped
    assert obj["23"][1] == "-0.0" and obj["30"][3] == "3"


def test_update_patches_tie_keeps_one_candidate(spark):
    """A fully tied ordering tuple keeps one of the tied rows (which
    one is unspecified, as with the reference's ROW_NUMBER)."""
    raw = spark.createDataFrame(
        [
            (2, T0, 7, "update_ndiasources", '{"diaObjectId": 40, "nDiaSources": 1}'),
            (2, T0, 7, "update_ndiasources", '{"diaObjectId": 40, "nDiaSources": 2}'),
        ],
        _RAW_SCHEMA,
    )
    [row] = update_patches(expand_updates(raw))["DiaObject"].collect()
    assert row.nDiaSources in (1, 2) and row.nDiaSources__present


@pytest.mark.parametrize("case", sorted(_ERROR_ROWS))
def test_update_patches_raise_where_oracle_raises(spark, tmp_path, case):
    utype, payload = _ERROR_ROWS[case]
    raw = spark.createDataFrame([(1, T0, 0, utype, payload)], _RAW_SCHEMA)
    want = _outcome(lambda: _oracle_patches(raw, 1_000_000))
    got = _outcome(lambda: _new_patches(spark, raw, tmp_path, 1_000_000))
    assert want[0] == "error", want
    assert got == want


def test_expand_updates_is_one_generate_no_union(spark):
    """One payload parse, one CASE over the types, one explode: the
    optimized plan has exactly one Generate and no Union."""
    plan = expand_updates(_raw_updates(spark))._jdf.queryExecution().optimizedPlan()
    nodes = [ln.lstrip(" :+-") for ln in plan.toString().splitlines()]
    assert sum(n.startswith("Generate ") for n in nodes) == 1, plan.toString()
    assert not any(n.startswith("Union") for n in nodes), plan.toString()
