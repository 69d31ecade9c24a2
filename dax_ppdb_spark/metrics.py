"""Per-stage instrumentation: the Timer / MonAgent / log_job analog.

Reference: operation timers tagged per table/chunk with row counts
(``sql/_ppdb_sql.py:197-251``, ``sql/bulk_insert.py:80-85``), per-job
bytes/slot-ms logging (``bigquery/query_runner.py:63-100``), and DML
row-count reporting (``bigquery/updates/updates_manager.py:242-271``).

Spark equivalent: wall-clock timers around driver-side stage
boundaries plus the metrics Spark itself exposes; emitted through
standard logging so deployments route them like any other telemetry.
"""

from __future__ import annotations

import logging
import time
from collections import deque
from contextlib import contextmanager

_LOG = logging.getLogger("dax_ppdb_spark.metrics")

# In-process record of recent stage timings / row counts so tests and
# benches can assert on instrumentation without scraping logs (the
# reference's MonAgent buffer analog).
_RECENT: deque[dict] = deque(maxlen=4096)


def _spark_counts() -> dict | None:
    """The newest status-store job id and the JVM's codegen compile
    count, or None when no SparkContext is active (never starts one)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jobs": int(jobs.apply(0).jobId()) if jobs.size() else -1,
        "codegen_compiles": int(codegen.METRIC_COMPILATION_TIME().getCount()),
    }


@contextmanager
def timer(stage: str, **tags):
    """Log wall-clock for a pipeline stage, tagged like the
    reference's ``Timer(..., tags={...})``.  While a SparkContext is
    active the record also carries the step's Spark cost: ``jobs``
    (status-store job ids issued during the step) and
    ``codegen_compiles`` (whole-stage and expression classes Janino
    compiled, ``CodegenMetrics``)."""
    t0 = time.time()
    before = _spark_counts()
    try:
        yield
    finally:
        dt = time.time() - t0
        after = _spark_counts() if before is not None else None
        cost = {k: after[k] - before[k] for k in after} if after is not None else {}
        _RECENT.append({"kind": "timer", "stage": stage, "seconds": dt, **cost, **tags})
        tag_s = " ".join(f"{k}={v}" for k, v in {**cost, **tags}.items())
        _LOG.info("%s took %.3fs %s", stage, dt, tag_s)


# Pending Observations: attached to a plan, resolvable only after the
# caller runs an action on the observed DataFrame (write/collect).
_PENDING: deque[tuple[str, object, dict]] = deque(maxlen=256)


def observe(df, stage: str, exprs: dict, **tags):
    """Attach named aggregate metrics to a DataFrame's next action.

    Spark's ``Observation`` computes the aggregates inside the same job
    that materializes the plan — the analog of BigQuery's per-job
    ``num_dml_affected_rows`` / bytes-processed stats the reference
    logs (``query_runner.py:63-100``, ``updates_manager.py:242-271``),
    with zero extra scans.  Call :func:`flush_observations` after the
    action to move the values into the metrics buffer and the log.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *[e.alias(name) for name, e in exprs.items()])
    _PENDING.append((stage, obs, dict(tags)))
    return out


def flush_observations() -> list[dict]:
    """Resolve every pending observation (the observed DataFrames must
    have been acted on — ``Observation.get`` blocks otherwise) and log
    them as ``kind="dml"`` entries.  Returns the new entries."""
    out = []
    while _PENDING:
        stage, obs, tags = _PENDING.popleft()
        vals = dict(obs.get)
        entry = {"kind": "dml", "stage": stage, **vals, **tags}
        _RECENT.append(entry)
        tag_s = " ".join(f"{k}={v}" for k, v in {**vals, **tags}.items())
        _LOG.info("%s dml %s", stage, tag_s)
        out.append(dict(entry))
    return out


def plan_metrics(df) -> dict:
    """Scan/shuffle/output stats from an already-executed plan — the
    bytes-processed / rows-affected numbers the reference logs per job
    (``query_runner.py:63-100``).  Spark accumulates SQLMetrics on the
    physical plan during execution; this walks the final adaptive plan
    (hopping into materialized query stages) and totals the ones that
    describe job cost.  Call only after an action on ``df``.
    """
    root = df._jdf.queryExecution().executedPlan()
    totals = {
        "bytes_scanned": 0,
        "files_read": 0,
        "rows_scanned": 0,
        "shuffle_bytes_written": 0,
        "output_rows": None,
    }

    def node_metrics(n) -> dict:
        out = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().value()
        return out

    def children(n):
        out = [n.children().apply(i) for i in range(n.children().size())]
        if not out:
            # AdaptiveSparkPlanExec / QueryStageExec hide their subtree
            for meth in ("finalPhysicalPlan", "plan"):
                try:
                    out.append(getattr(n, meth)())
                    break
                except Exception:
                    continue
        return out

    def visit(n):
        name = n.nodeName()
        m = node_metrics(n)
        if name.startswith("Scan"):
            totals["bytes_scanned"] += int(m.get("filesSize", 0))
            totals["files_read"] += int(m.get("numFiles", 0))
            totals["rows_scanned"] += int(m.get("numOutputRows", 0))
        elif name == "Exchange":
            totals["shuffle_bytes_written"] += int(m.get("shuffleBytesWritten", 0))
        if totals["output_rows"] is None and "numOutputRows" in m:
            totals["output_rows"] = int(m["numOutputRows"])
        for c in children(n):
            visit(c)

    visit(root)
    return totals


def log_job(stage: str, **vals) -> dict:
    """Record one job's cost numbers as a ``kind="job"`` entry."""
    entry = {"kind": "job", "stage": stage, **vals}
    _RECENT.append(entry)
    _LOG.info("%s job %s", stage, " ".join(f"{k}={v}" for k, v in vals.items()))
    return dict(entry)


def log_plan_metrics(df, stage: str, **tags) -> dict:
    """Log :func:`plan_metrics` as a ``kind="job"`` entry.  Only for a
    DataFrame the caller has collected: one that was only written
    (``df.write``) has no executed plan of its own, and asking for one
    re-plans it — running jobs over input files a commit may already
    have retired."""
    return log_job(stage, **plan_metrics(df), **tags)


def drop_pending() -> int:
    """Discard unresolved observations (their DataFrame's action never
    ran — e.g. a failed write).  ``Observation.get`` blocks until an
    action completes, so a failure path must drop instead of flush or
    the next flush would hang.  Returns the number dropped."""
    n = len(_PENDING)
    _PENDING.clear()
    return n


def log_rows(stage: str, n: int, **tags) -> None:
    """DML-stats logging (inserted/updated/deleted row counts)."""
    _RECENT.append({"kind": "rows", "stage": stage, "rows": n, **tags})
    tag_s = " ".join(f"{k}={v}" for k, v in tags.items())
    _LOG.info("%s rows=%d %s", stage, n, tag_s)


def recent(stage: str | None = None, kind: str | None = None) -> list[dict]:
    """Recorded entries, newest last, optionally filtered."""
    return [
        dict(r)
        for r in _RECENT
        if (stage is None or r["stage"] == stage)
        and (kind is None or r["kind"] == kind)
    ]


def clear() -> None:
    _RECENT.clear()
