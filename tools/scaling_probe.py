"""Compute-scaling probe: a 1:4 core-count pair on a 10x corpus
(round-15, verdict item 4).

The sf0.1 bench cannot observe core scaling — every headline row is
fixed-cost bound (plan construction + a handful of driver-job
latencies dwarf sub-second executor compute), which is what tripped
the driver's `suspect_cpus_ignored` heuristic in PERF_r14.  This probe
gives the 100-TB story a measured leg: it materializes a 10x-row
corpus for the three compute-heavy operators the round-14 verdict
named (dedup_jaccard_prefix over documents, semdedup over embeddings,
column_histograms over lineitem), runs each query through the normal
registry at a low and a high core count (default: a quarter of the
machine's cores, and all of them) in SEPARATE Spark apps (min-of-N
noop, bench methodology), and prints ONE JSON line with the per-query
t_lo/t_hi ratios; the same payload is written to SCALING_r15.json.

Corpus construction (deterministic, no RNG state leaks; per-table
copy counts sized so the post-r15 operators are COMPUTE-bound, not
fixed-cost bound — the r15 Arrow lanes made semdedup so fast that 10x
embeddings still measured flat across core counts):
  - documents x10: copy k suffixes EVERY word with the copy index —
    shingle/df statistics stay realistic within a copy, and the
    3-gram shingle sets of different copies are DISJOINT, so
    replication cannot manufacture a quadratic near-duplicate blow-up
    that no real corpus has.  (A first attempt rotated word order
    instead; rotation preserves all but ~3 circular windows, making
    every copy a >0.9-Jaccard near-dup of its original and blowing
    the pair stage up quadratically — rejected.)  doc_id offset by
    10M per copy.
  - embeddings x50: copy k perturbs each float32 dim with a
    seeded-PRNG offset (seed = copy index) in [-0.5, 0.5] — cluster
    structure roughly preserved, copies not near-duplicates; vec_id
    offset by 10M per copy.
  - lineitem x30: rows replicated as-is with l_orderkey offset
    (histograms are distribution work; duplicates are fine).
Every table is written with at least as many Parquet row groups as the
highest core count: Spark splits a file's bytes across cores, but a
split only reads the row groups that start inside it, so a one-group
file runs its first stage as one task at any core count.  The corpus
is cached under /tmp, keyed by copy and row-group counts.

Usage:
  python tools/scaling_probe.py [sf_dir] [--repeat N] [--cpus A,B]
  python tools/scaling_probe.py --child <corpus_dir> <repeat>   (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = ("dedup_jaccard_prefix", "semdedup", "column_histograms")
DOC_COPIES = 10
EMB_COPIES = 50
LI_COPIES = 30
ID_OFFSET = 10_000_000


def _default_cpus() -> list[int]:
    """The 1:4 pair the machine can run: a quarter of its cores, and
    all of them."""
    hi = len(os.sched_getaffinity(0))
    return [max(1, hi // 4), hi]


def _build_corpus(sf_dir: str, out_dir: str, row_groups: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)

    def write(tbl: pa.Table, name: str) -> None:
        size = max(1, -(-tbl.num_rows // row_groups))
        pq.write_table(tbl, os.path.join(out_dir, name), row_group_size=size)

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    doc_ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang")
    sources = docs.column("source")
    n_chars = docs.column("n_chars")
    parts = []
    for k in range(DOC_COPIES):
        if k == 0:
            t = texts
        else:
            sfx = str(k)
            t = [
                " ".join(w + sfx for w in (s or "").split(" "))
                for s in texts
            ]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(doc_ids + k * ID_OFFSET),
                    "text": pa.array(t, pa.string()),
                    "lang": langs,
                    "source": sources,
                    "n_chars": n_chars,
                }
            )
        )
    write(pa.concat_tables(parts), "documents.parquet")

    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vec_ids = emb.column("vec_id").to_numpy()
    labels = emb.column("label")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    eparts = []
    for k in range(EMB_COPIES):
        if k == 0:
            v = vecs
        else:
            rng = np.random.RandomState(k)
            v = vecs + (rng.rand(*vecs.shape).astype(np.float32) - 0.5)
        eparts.append(
            pa.table(
                {
                    "vec_id": pa.array(vec_ids + k * ID_OFFSET),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": labels,
                }
            )
        )
    write(pa.concat_tables(eparts), "embeddings.parquet")

    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    okey = li.column("l_orderkey").to_numpy()
    lparts = []
    for k in range(LI_COPIES):
        lparts.append(
            li.set_column(
                li.schema.get_field_index("l_orderkey"),
                "l_orderkey",
                pa.array(okey + k * ID_OFFSET),
            )
        )
    write(pa.concat_tables(lparts), "lineitem.parquet")


def _child(corpus_dir: str, repeat: int) -> None:
    from dax_ppdb_spark.session import get_spark
    from dax_ppdb_spark import driver_queries

    spark = get_spark("scaling-probe-r15")
    spark.sparkContext.setLogLevel("ERROR")
    reg = driver_queries.all_queries()
    timings = {}
    for name in QUERIES:
        reg[name](spark, corpus_dir).write.mode("overwrite").format("noop").save()
        best = None
        for _ in range(repeat):
            t0 = time.time()
            reg[name](spark, corpus_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            best_c = time.time() - t0
            best = best_c if best is None else min(best, best_c)
        timings[name] = round(best, 3)
    print("SCALING_CHILD " + json.dumps(timings))
    spark.stop()


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--child":
        _child(args[1], int(args[2]))
        return 0
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    repeat = int(args[args.index("--repeat") + 1]) if "--repeat" in args else 2
    cpus = (
        [int(x) for x in args[args.index("--cpus") + 1].split(",")]
        if "--cpus" in args
        else _default_cpus()
    )
    row_groups = max(cpus)
    corpus = os.path.join(
        "/tmp",
        "dax_ppdb_scaling_d%d_e%d_l%d_g%d"
        % (DOC_COPIES, EMB_COPIES, LI_COPIES, row_groups),
    )
    marker = os.path.join(corpus, "_COMPLETE")
    if not os.path.exists(marker):
        _build_corpus(sf_dir, corpus, row_groups)
        open(marker, "w").close()
    results = {}
    for c in cpus:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(c))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", corpus, str(repeat)],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        line = [
            ln for ln in out.stdout.splitlines() if ln.startswith("SCALING_CHILD ")
        ][-1]
        results[c] = json.loads(line[len("SCALING_CHILD "):])
    lo, hi = min(cpus), max(cpus)
    payload = {
        "metric": "scaling_probe_10x",
        "cpus": cpus,
        "repeat": repeat,
        "copies": {"documents": DOC_COPIES, "embeddings": EMB_COPIES,
                   "lineitem": LI_COPIES},
        "queries": {
            q: {
                **{f"c{c}_sec": results[c][q] for c in cpus},
                "speedup_lo_over_hi": round(results[lo][q] / results[hi][q], 2),
            }
            for q in QUERIES
        },
    }
    with open(os.path.join(REPO, "SCALING_r15.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
