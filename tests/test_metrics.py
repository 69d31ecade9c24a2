"""Per-step Spark cost in the promote log: ``metrics.timer`` records
carry the jobs and codegen compiles each step ran."""

from __future__ import annotations

import json

from dax_ppdb_spark import metrics
from dax_ppdb_spark.pipeline.promote import Promoter
from dax_ppdb_spark.pipeline.store import store_chunk

PROMOTE_STEPS = (
    "copy_staging_to_promotion",
    "fill_validity_end",
    "apply_updates",
    "swap_promotion_to_internal",
    "create_public_snapshot",
    "delete_staged",
)


def test_promote_timers_record_jobs_and_compiles(spark, tmp_path):
    root = str(tmp_path)
    promoter = Promoter(spark, root)
    chunk = store_chunk(
        spark,
        root + "/export",
        1,
        {
            "DiaObject": spark.createDataFrame(
                [(10, 100.0, None, 45.0, -30.0, 1)],
                "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
                "ra DOUBLE, dec DOUBLE, nDiaSources INT",
            )
        },
        updates=spark.createDataFrame(
            [(1, 0, "update_ndiasources", json.dumps({"diaObjectId": 10, "nDiaSources": 4}))],
            "update_time_ns LONG, update_order LONG, update_type STRING, json_payload STRING",
        ),
        ledger=promoter.ledger,
    )
    promoter.stage_chunk_dir(chunk, 1)
    metrics.clear()
    assert promoter.promote([1]) == [1]
    steps = {r["stage"]: r for r in metrics.recent(kind="timer")}
    assert set(steps) == set(PROMOTE_STEPS)
    for r in steps.values():
        assert isinstance(r["jobs"], int) and r["jobs"] >= 0, r
        assert isinstance(r["codegen_compiles"], int) and r["codegen_compiles"] >= 0, r
        assert r["chunks"] == [1] and r["seconds"] >= 0
    # the writing steps run Spark jobs; the commit and the partition
    # drops are file operations
    assert all(steps[s]["jobs"] > 0 for s in ("copy_staging_to_promotion", "apply_updates"))
    assert steps["swap_promotion_to_internal"]["jobs"] == 0
    assert steps["delete_staged"]["jobs"] == 0


def test_timer_without_spark_context_has_no_spark_fields(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    metrics.clear()
    with metrics.timer("no_spark", tag=1):
        pass
    (r,) = metrics.recent("no_spark", kind="timer")
    assert "jobs" not in r and "codegen_compiles" not in r and r["tag"] == 1
