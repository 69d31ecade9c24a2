"""The ``queries`` workload: the PPDB read surface plus the curation
kernels.

Each operation is one query: its registry call (build), then a ``noop``
write (exec).  A pass runs every query of the list once, in an order
the seed sets per pass; the loop runs whole passes.

The oracle for a query is its own registry SQL run on DuckDB over the
same parquet corpus.  The DuckDB side of some kernel oracles takes
tens of seconds, so the benchmark compares against hashes pinned from
that oracle (``oracle_hashes.json``), canonicalized and hashed exactly
as ``tools/selfcheck.py`` does.  Regenerate the pins with::

    python3 perfbench/queries.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "oracle_hashes.json")
CHECK_THREADS = 3

# The PPDB read surface among the first 29 bench.py HEADLINE queries
# (validity_fill .. crossmatch): versions, snapshots, patches, the
# ledger and the sky.  Rows of the same operator family and the
# TPC-H/event analytics are left out so a run with its set-up fits the
# benchmark's time budget.
CATALOG_QUERIES = (
    "validity_fill",
    "snapshot_asof",
    "latest_only",
    "merge_composite",
    "replication_diff",
    "pivot_patch",
    "ledger_scan",
    "spatial_box",
    "cone_search_sorted",
    "crossmatch",
)

# The embedding-cell kernel sites of ROADMAP item 3: semdedup's cell
# pairs in both tiers, IVF-PQ ANN, the kNN label-noise screen and the
# banded embedding dedup.  Driver-floor-bound catalog rows and these
# Arrow/NumPy worker kernels share one pass, so a kernel change shows
# in its own query.<name>.exec_s and in pass_s.
KERNEL_QUERIES = (
    "semdedup",
    "semdedup_flat",
    "ann_topk_ivfpq",
    "knn_label_noise",
    "dedup_embedding_banded",
)

QUERIES = CATALOG_QUERIES + KERNEL_QUERIES


def _selfcheck():
    """tools/selfcheck.py's canonicalization and value hash."""
    tools = os.path.join(REPO, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import selfcheck

    return selfcheck._canon, selfcheck._value_hash


def result_digest(pdf) -> dict:
    canon, value_hash = _selfcheck()
    c = canon(pdf)
    return {"rows": int(len(c)), "columns": sorted(c.columns), "hash": value_hash(c)}


def load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def compare(name: str, pdf, pins: dict) -> str | None:
    """None when the Spark result matches the pinned oracle, else why not."""
    want = pins.get(name)
    if want is None or "error" in want:
        return f"no pinned oracle ({(want or {}).get('error', 'missing')})"
    got = result_digest(pdf)
    for key in ("columns", "rows", "hash"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r}, oracle {want[key]!r}"
    return None


def pin() -> dict:
    """Run each query's registry SQL on DuckDB over DATA_DIR."""
    import duckdb

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA_DIR
    sys.path.insert(0, REPO)
    from dax_ppdb_spark import driver_queries
    from dax_ppdb_spark.session import TABLES

    sqls = driver_queries.all_oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')"
        )
    out = {}
    for name in QUERIES:
        t0 = time.time()
        try:
            out[name] = result_digest(con.execute(sqls[name]).df())
        except Exception as e:  # recorded, never dropped from the list
            out[name] = {"error": repr(e)[:300]}
        out[name]["oracle_s"] = round(time.time() - t0, 1)
        print(name, out[name], flush=True)
    return out


def run_loop(spark, tracer, seed: int, seconds: float, ready) -> dict:
    """Check every query against its oracle once (this pass also warms
    the JVM), call ``ready()``, then time whole passes for ``seconds``."""
    from dax_ppdb_spark import driver_queries

    registry = driver_queries.all_queries()
    pins = load_pins()
    failures: list[str] = []
    t0 = time.perf_counter()
    driver_queries.ensure_sky_sorted(spark, DATA_DIR)

    def check(name: str) -> str | None:
        try:
            return compare(name, registry[name](spark, DATA_DIR).toPandas(), pins)
        except Exception as e:
            return f"raised {e!r}"[:500]

    # The check pass doubles as the JVM warm-up.  Its queries compile
    # code independently, so CHECK_THREADS of them run at once: run one
    # at a time, the pass takes about twice as long.
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        for name, why in zip(QUERIES, pool.map(check, QUERIES)):
            if why:
                failures.append(f"oracle {name}: {why}")
    warm_s = time.perf_counter() - t0
    ready()

    rng = random.Random(seed)
    ops: list[dict] = []
    passes: list[float] = []
    cpu_passes: list[float] = []
    first_job = tracing.last_job_id(spark)
    loop_t0 = time.perf_counter()
    while time.perf_counter() - loop_t0 < seconds or not passes:
        order = list(QUERIES)
        rng.shuffle(order)
        p0 = time.perf_counter()
        c0 = tracing.cpu_s(os.getpid())
        for name in order:
            op = {"query": name, "pass": len(passes)}
            t = time.perf_counter()
            try:
                with tracer.span("query", trace=f"{name}#{len(passes)}") as sp:
                    with tracer.span("build"):
                        df = registry[name](spark, DATA_DIR)
                    op["build_s"] = time.perf_counter() - t
                    with tracer.span("exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as e:
                failures.append(f"{name}: {e!r}"[:500])
                op["error"] = True
            op["latency_s"] = time.perf_counter() - t
            op["exec_s"] = op["latency_s"] - op.get("build_s", op["latency_s"])
            op["span"] = sp["id"] if sp else None
            ops.append(op)
        passes.append(time.perf_counter() - p0)
        cpu_passes.append(tracing.cpu_s(os.getpid()) - c0)
    loop_s = time.perf_counter() - loop_t0
    jobs = tracing.spark_jobs(spark, first_job) if tracer.enabled else []
    return {
        "warm_s": warm_s,
        "ops": ops,
        "passes": passes,
        "cpu_passes": cpu_passes,
        "loop_s": loop_s,
        "failures": failures,
        "checks": len(QUERIES),
        "jobs": jobs,
    }


if __name__ == "__main__":
    pins = pin()
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
