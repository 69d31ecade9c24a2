"""The repo benchmark: one closed-loop client driving the program.

Usage::

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 5 --trace 0

Workloads (one client, one driver process, ``local[N]`` with N = the
CPUs this process may run on):

- ``replicate``: the daemon's write path.  Set-up seeds an 8k-object
  history (~80k source rows and update records) through store ->
  upload -> stage -> promote; each timed operation then replicates
  one seeded chunk of 100-200 objects with all three DIA tables and
  all six update types.  An independent model of the final state is
  checked against the PPDB tables after the loop.
- ``queries``: 10 PPDB catalog queries, bound by the per-query driver
  and job-launch floor, plus 5 embedding-cell kernel queries of
  ROADMAP item 3.  Corpus: ``perfbench/data/sf0.01`` (1.9 MB parquet,
  the scale the oracle self-check runs at).  Set-up checks each query
  once against hashes pinned from its DuckDB oracle, which also warms
  the JVM; then whole passes run in a seeded order.

All inputs fit in the page cache: the corpus is 1.9 MB, a replicate
PPDB a few MB.  The program keeps no cache of its own.

The loop starts operations (queries: whole passes) until ``--seconds``
have passed.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics and writes every span to
``perfbench/.work/traces``.  The last stdout line is one JSON object;
the lines before it give every metric by name with unit and sample
count, and the correctness verdict.  Work files live under
``perfbench/.work`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import queries
import replicate
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Gated end-to-end metrics: every workload has them and they are never
# 0.  pass_cpu_s is the CPU time (driver, JVM and Python workers) of the
# median pass of the timed loop: one chunk on replicate, the whole query
# list on queries, so the kernel queries count in full.  It stands in
# for the pass's wall time because the shared 4-vCPU host this was
# tuned on had 1-30% of its CPU time stolen, changing from minute to
# minute: over ten seeds the wall time of a query pass spread by 0.6 of
# its median, its CPU time by 0.10-0.15.  A wall-time regression that adds
# no CPU work (a new wait, lost parallelism) is therefore not gated.
# A run can afford one pass (a chunk takes 8-35 s, a query pass 13-33
# s); the wall pass time and everything else are printed above the JSON
# line with their sample counts but not gated.
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
WORKLOADS = ("replicate", "queries")
# Fixed, so the gated peak RSS does not follow the caller's environment;
# 1g holds the few-MB inputs with room to spare and keeps the JVM small
# on a host whose memory is shared.
DRIVER_MEMORY = "1g"

REPLICATE_STEPS = (
    "copy_staging_to_promotion",
    "fill_validity_end",
    "apply_updates",
    "swap_promotion_to_internal",
    "create_public_snapshot",
    "delete_staged",
)


def per_layer_names(workload: str | None = None) -> list[str]:
    """The per-layer metrics ``workload`` measures; all of them when
    ``workload`` is None."""
    names = ["session.start_s"]
    if workload in (None, "replicate"):
        names += ["store.s", "store.bytes_written", "upload.s", "upload.bytes_written",
                  "stage.s", "ledger.promotable_s", "ledger.log_files", "promote.s"]
        names += [f"promote.{s}_s" for s in REPLICATE_STEPS]
        names += ["promote.rows_filled", "promote.rows_updated", "promote.bytes_written",
                  "table.files", "table.orphan_dirs"]
    names += [f"spark.{c}" for c in tracing.SPARK_COUNTERS]
    if workload in (None, "queries"):
        for q in queries.QUERIES:
            names += [f"query.{q}.build_s", f"query.{q}.exec_s"]
        names += ["query.build_s", "query.exec_s"]
    names += ["anchor.jvm_s", "anchor.python_worker_s", "anchor.py4j_s",
              "trace.overhead_s", "trace.latency_p50_s"]
    return names


def _env(work: str) -> int:
    """Point every scratch path of Spark and Python inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A heap of fixed size (-Xms = the driver memory) does not resize
    # with the collector's choices, which keeps peak RSS steady.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} pyspark-shell"
        ),
    )
    tempfile.tempdir = None
    return cpus


def _stop(spark) -> None:
    """Stop Spark, the driver JVM and its Python workers; wait for all."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = tracing.descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layers(res: dict, tracer, workload: str, anchor: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run, per pass (replicate: per chunk).

    The output names every per-layer metric BENCHMARK.json declares, so
    every traced run reports the same set; a layer this workload never
    calls did no work here and reads 0 (see ``per_layer_names(workload)``)."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.start_s"] = session_s
    for k, v in anchor.items():
        out[f"anchor.{k}"] = v
    ops = [op for op in res["ops"] if not op.get("error")]
    passes = len(res["passes"])
    tracer.attribute(res["jobs"])
    for c in tracing.SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(j[c] for j in res["jobs"] if "span" in j) / passes
    out["trace.overhead_s"] = tracer.overhead_s / passes
    out["trace.latency_p50_s"] = statistics.median(op["latency_s"] for op in ops) if ops else 0.0
    spans = tracer.spans
    if workload == "replicate":
        def per(name, key=None):
            xs = [s for s in spans if s["name"] == name]
            if key is None:
                return _mean(s["end"] - s["start"] for s in xs)
            return _mean(s[key] for s in xs)

        for name in ("store", "upload", "stage", "promote"):
            out[f"{name}.s"] = per(name)
        out["ledger.promotable_s"] = per("ledger")
        out["store.bytes_written"] = per("store", "write_bytes")
        out["upload.bytes_written"] = per("upload", "write_bytes") - per("stage", "write_bytes")
        out["promote.bytes_written"] = per("promote", "write_bytes")
        for s in REPLICATE_STEPS:
            out[f"promote.{s}_s"] = _mean(op["steps"].get(s, 0.0) for op in ops)
        out["promote.rows_filled"] = _mean(op["filled"] for op in ops)
        out["promote.rows_updated"] = _mean(op["updated"] for op in ops)
        out["ledger.log_files"] = _mean(op["ledger_files"] for op in ops)
        out["table.files"] = _mean(op["table_files"] for op in ops)
        out["table.orphan_dirs"] = _mean(op["orphan_dirs"] for op in ops)
    else:
        for q in queries.QUERIES:
            mine = [op for op in ops if op["query"] == q]
            if mine:
                out[f"query.{q}.build_s"] = statistics.median(op["build_s"] for op in mine)
                out[f"query.{q}.exec_s"] = statistics.median(op["exec_s"] for op in mine)
        out["query.build_s"] = sum(out[f"query.{q}.build_s"] for q in queries.QUERIES)
        out["query.exec_s"] = sum(out[f"query.{q}.exec_s"] for q in queries.QUERIES)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "dax_ppdb_spark", "pipeline", "promote.py")):
        print(f"no program next to the benchmark: {REPO}/dax_ppdb_spark", file=sys.stderr)
        return 2

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    cpus = _env(work)
    sys.path.insert(0, REPO)
    t0 = time.perf_counter()
    from dax_ppdb_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        pids = (os.getpid(), tracing.jvm_pid(spark))
        anchor: dict[str, float] = {}

        def ready():  # after set-up, so the anchors run on a warm JVM
            anchor.update(tracing.anchors(spark))

        tracer = tracing.Tracer(spark, enabled=bool(args.trace), pids=pids)
        if args.workload == "replicate":
            res = replicate.run_loop(spark, tracer, os.path.join(work, "run"), args.seed, args.seconds, pids, ready)
            setup_s = session_s + res["history_s"]
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = queries.DATA_DIR
            res = queries.run_loop(spark, tracer, args.seed, args.seconds, ready)
            setup_s = session_s + res["warm_s"]
        rss = tracing.peak_rss_mb(pids)
        layers = _layers(res, tracer, args.workload, anchor, session_s) if args.trace else None
        if args.trace:
            tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"jobs": res["jobs"], "ops": res["ops"], "per_layer": layers},
            )
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    good = [op["latency_s"] for op in ops if not op.get("error")]
    failed_ops = sum(1 for op in ops if op.get("error"))
    check_failures = len(res["failures"]) - failed_ops
    attempted = len(ops) + res["checks"]
    failed = failed_ops + (min(check_failures, 1) if args.workload == "replicate" else check_failures)
    passes = res["passes"]
    values = {
        "setup_s": (setup_s, 1),
        "pass_cpu_s": (statistics.median(res["cpu_passes"]), len(passes)),
        "peak_rss_mb": (rss, 1),
    }
    e2e = {k: (values[k][0], unit) for k, unit in E2E_UNITS.items()}

    lines = [f"workload {args.workload} seed {args.seed} local[{cpus}] trace {args.trace}"]
    for name, (v, unit) in e2e.items():
        lines.append(f"{name} = {v:.4f} {unit} (n={values[name][1]}, gated)")
    lines.append(f"pass_s = {statistics.median(passes):.4f} s (n={len(passes)})")
    lines.append(f"first_pass_s = {setup_s + passes[0]:.4f} s (set-up + first pass, n=1)")
    if good:
        lines.append(f"latency_p50_s = {statistics.median(good):.4f} s (n={len(good)})")
    tail = tracing.tail_percentile(good)
    if tail:
        lines.append(f"latency_tail_s = {tail[1]:.4f} s (p{tail[0]}, n={len(good)})")
    else:
        lines.append(f"latency_tail_s omitted: n={len(good)} supports nothing above the median")
    lines.append(f"error_rate = {failed / attempted:.4f} ratio ({failed}/{attempted})")
    if args.workload == "replicate":
        rows = sum(op["rows"] for op in ops if not op.get("error"))
        lines.append(f"rows_per_s = {rows / res['loop_s']:.1f} rows/s (n={len(good)} chunks)")
        lines.append(
            f"storage_amplification = {res['ppdb_bytes'] / res['exported_bytes']:.4f} ratio"
            f" ({res['ppdb_bytes']} B on disk / {res['exported_bytes']} B exported)"
        )
        lines.append(
            f"write_amplification = {res['loop_write_bytes'] / max(res['loop_export_bytes'], 1):.4f} ratio"
            f" ({res['loop_write_bytes']} B written / {res['loop_export_bytes']} B exported in the loop)"
        )
    for k, v in anchor.items():
        lines.append(f"anchor.{k} = {v:.4f} s (median of 3)")
    if args.trace:
        idle = [n for n in per_layer_names() if n not in per_layer_names(args.workload)]
        lines.append(f"per-layer metrics of layers this workload never calls (read 0): {len(idle)}")
    lines.append("op latencies: " + " ".join(f"{x:.2f}" for x in good))
    for f in res["failures"]:
        lines.append(f"FAILURE {f}")
    lines.append(f"correct: {failed == 0}")
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print("\n".join(lines))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
