"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Each query is forced end-to-end with the ``noop`` sink (full compute,
no driver collect).  Wall-clock per query; ``value`` is the total.

Each query runs ``--repeat N`` times (default 2, also settable via
$SPARK_GRAFT_BENCH_REPEAT) and reports the MINIMUM — single-run
timings on a shared 32-thread JVM flagged two phantom 1.3-3.1x
"regressions" in round 6 (latest_only, text_stats) that a same-day
rerun contradicted; min-of-N is the standard noise floor for
wall-clock microbenches.

The detail file also splits each query's fastest repeat into layers:
``build_s`` is the query call (plan construction, eager analysis, and
any driver-side training, collect or lazy-checkpoint planning the
operator does) and ``exec_s`` is the noop write of the returned
DataFrame.  A row whose build dominates is a driver problem (plan
size, py4j chatter, per-call training), not a shuffle-plan one.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from dax_ppdb_spark.session import get_spark  # noqa: E402
from dax_ppdb_spark import driver_queries  # noqa: E402

# Representative of every operator family (windows, merges, joins,
# aggregations, explode, scans) + the LLM-data operators.
HEADLINE = [
    "validity_fill",
    "validity_fill_pruned",
    "snapshot_asof",
    "overlap_violations",
    "latest_only",
    "topk_per_key",
    "rank_versions",
    "merge_upsert",
    "merge_composite",
    "semi_prune",
    "replication_diff",
    "pricing_summary",
    "revenue_by_nation",
    "rollup_revenue",
    "pivot_patch",
    "update_explode",
    "ledger_scan",
    "distinct_ids",
    "spatial_box",
    "cone_search",
    "cone_search_sorted",
    "windowed_counts",
    "sessionize",
    "funnel",
    "retention_cohorts",
    "distinct_sketch",
    "asof_attribution",
    "range_join",
    "crossmatch",
    # LLM-data operators
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_verified",
    "dedup_index_probe",
    "dedup_jaccard_prefix",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_embedding_banded",
    "embedding_recall",
    "text_stats",
    "repetition_ratio",
    "lm_score",
    "bigram_lm_score",
    "pii_redact",
    "token_count_bpe",
    "doc_fingerprint",
    "doc_chunks",
    "cdc_chunks",
    "dedup_cdc",
    "bpe_merges",
    "split_assign",
    "stratified_sample",
    "shard_pack",
    "corpus_curate",
    # curate_incr is registry-only: the bench table is a like-for-like
    # query-vs-oracle comparison, but its Spark side pays persisted
    # state machinery (index build/probe/append, versioned commits)
    # that the stateless one-shot oracle doesn't — the composed-chain
    # timing story lives in tools/curation_bench.py, which compares
    # chain against chain.  stream_curated is registry-only for the
    # same reason, amplified: its cold call runs an actual Structured
    # Streaming drain (file-source listing, checkpoint log, per-batch
    # sink commits) and its warm call is a sink read — neither is a
    # like-for-like pairing with the one-shot oracle SQL.
    "gopher_quality",
    "quality_classifier",
    "top_ngrams",
    "dedup_keep_best",
    "quality_quantiles",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_multiprobe",
    "ann_topk_ivf_sq8",
    "ann_topk_pq",
    "ann_topk_ivfpq",
    "ann_index_persisted",
    "ann_index_pq",
    "bpe_merges_batched",
    "multimodal_decode",
    "embedding_quantize",
    "dup_spans",
    "dup_substrings",
    "substring_span_removal",
    "dsir_weights",
    "semdedup",
    "tfidf_keywords",
    "sample_exact_k",
    "dedup_edit",
    "hybrid_search",
    "source_overlap",
    "dedup_span_removal",
    "dedup_paragraphs",
    "corpus_drift",
    "mixture_sample",
    "weighted_sample",
    "perplexity_buckets",
    "leak_safe_split",
    "url_dedup",
    "sequence_pack",
    "constraint_audit",
    "constraint_violations",
    "knn_label_noise",
    "embedding_outliers",
    "table_stats",
    "audit_quarantine_curate",
    "column_histograms",
    "count_anomalies",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    argv = sys.argv[1:]
    if "--repeat" in argv:
        repeat = int(argv[argv.index("--repeat") + 1])
    repeat = max(repeat, 1)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("dax_ppdb_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = driver_queries.all_queries()  # incl. driver-folded twins
    names = [n for n in HEADLINE if n in registry]
    # Warm the JVM so timings measure the engine, not JIT compilation:
    # run every headline query once against the tiny sf0.001 tables
    # (different files, so the timed run gets no page-cache benefit
    # beyond its own warmup query).  First-evaluation of a complex
    # expression tree (higher-order folds, window parses) costs 2-3x
    # its steady-state time purely in JVM warmup — measured: cold
    # minhash LSH 10.7s vs 3.2s steady-state on identical data.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        driver_queries.ensure_sky_sorted(spark, warm_dir)
        for name in names:
            try:
                registry[name](spark, warm_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed run will surface errors
    registry[names[0]](spark, sf_dir).write.mode("overwrite").format("noop").save()
    # Build the geo-sorted materialization outside the timed region:
    # it is the promotion write path's product (clustered storage), and
    # cone_search_sorted benches the READ path against it.
    driver_queries.ensure_sky_sorted(spark, sf_dir)
    timings: dict[str, float] = {}
    layers: dict[str, dict[str, float]] = {}
    for name in names:
        best = None
        for _ in range(repeat):
            t0 = time.time()
            df = registry[name](spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            if best is None or t2 - t0 < best[0]:
                best = (t2 - t0, t1 - t0, t2 - t1)
        timings[name] = round(best[0], 3)
        layers[name] = {"build_s": round(best[1], 4), "exec_s": round(best[2], 4)}
    total = round(sum(timings.values()), 3)
    # The driver captures only the tail of stdout; with 86 per-query
    # floats the full map outgrew that capture and BENCH_r06/r07 recorded
    # "parsed": null.  Keep the printed line compact (aggregates + the 10
    # slowest queries) and write the complete per-query map alongside.
    # Only the driver-scale run owns the COMMITTED detail file: the
    # `make check` bench-smoke leg (and any ad-hoc sf override) runs at
    # sf0.01 and used to clobber the published sf0.1 evidence with
    # smoke numbers — the round-11 "BENCH_DETAIL.json sits modified"
    # finding.  Non-default scales write a suffixed, gitignored-in-
    # spirit sidecar instead.
    # Identity check on the directory, not the regex-parsed sf: a copy
    # of the corpus used for a two-checkout noise control (e.g.
    # /tmp/ctl/sf0.1) parses as sf==0.1 but is NOT the driver corpus
    # and must not overwrite the committed evidence file.
    # realpath BOTH sides: if /root/testdata is ever a symlink, the
    # left side resolves past it and a literal right side would never
    # match again, silently freezing the driver-scale evidence file.
    default_detail = os.path.realpath(sf_dir) == os.path.realpath(
        "/root/testdata/sf0.1"
    )
    detail_name = (
        "BENCH_DETAIL.json" if default_detail else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(REPO, detail_name)
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "layers": layers,
                "sf": sf,
                "repeat": repeat,
                "notes": (
                    "min-of-N per query; at sf0.1 run-to-run environment "
                    "noise is ~1.2-1.5x on sub-3s rows (sub-second rows "
                    "are scheduling-overhead-bound) - adjudicate "
                    "cross-round deltas with tools/bench_compare.py, "
                    "not by eyeballing two snapshots"
                ),
            },
            fh,
            indent=1,
        )
    top = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": top,
                "n_queries": len(timings),
                "sf": sf,
                "repeat": repeat,
                "detail": detail_name,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
