"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], one shared SparkSession (JVM startup is NOT
benchmarked — SURVEY.md §6), per-query wall time + total.

Usage: python bench.py [query ...]   (default: the headline set)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline set: one per operator family — aggregation, fact-dim join,
#: window, as-of, dedup, text, vectors, timeseries, SQL surface — plus
#: the LLM-pipeline composites (quality gate, packing, LSH→components,
#: guarded LSH): the queries this engine exists for, so their
#: round-over-round wall time is regression-guarded like the rest, not
#: only scale-probed.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q10_returned_items",
    "sql_q5_local_supplier_volume",
    "join_fact_dims_chain",
    "join_left_outer",
    "agg_count_distinct",
    "agg_conditional",
    "join_asof_purchase_before_click",
    "join_interval_events_windows",
    "win_sessionize",
    "ts_pivot_wide",
    "text_term_frequency",
    "text_minhash_lsh_pairs",
    "vec_knn_bruteforce",
    "pipeline_quality_filter",
    "pipeline_pack_sequences",
    "pipeline_minhash_dedup_components",
    "text_lsh_hot_bucket_guard",
    "pipeline_lm_quality_score",
    "pipeline_scrubbed_pack",
    # round-10 retrieval family: fixed-workload BM25 (corpus-linear)
    # and the hybrid BM25+cosine RRF fusion
    "text_bm25_topk",
    "vec_hybrid_rrf",
    # round-11: the stack's 100 TB forms — stored-IVF vector channel
    # under a FIXED query workload (the production hybrid shape), and
    # the end-to-end stored composite (postings-probe BM25 + stored-IVF
    # ANN -> RRF -> MMR)
    "vec_hybrid_rrf_ann_fixedq",
    "retrieval_e2e_stored",
    # round-12: the production full-stack row — the e2e composite under
    # the FIXED 50-query workload (corpus-only growth)
    "retrieval_e2e_stored_fixedq",
]

#: Each query is run once un-timed at the bench SF before the timed
#: passes: whole-stage-codegen compilation, JVM classloading, and cold
#: file-cache reads are not the thing under test (BASELINE.md measures
#: steady-state query execution; DuckDB oracles get the same warm
#: cache from the OS). The timed measurement is then the MEDIAN of
#: $SPARK_GRAFT_BENCH_REPS (default 3) runs, with per-query spread
#: (max - min) reported beside it — single-shot timings on a shared
#: machine swung round-over-round numbers by up to 25% from ambient
#: load alone, which is noise, not regression.
#:
#: Round-7 audit of the r6 flag on text_term_frequency (0.335s →
#: 0.403s, spread 0.059): the query, tokenizer regex and plan are
#: byte-identical between the r5 and r6 snapshots
#: (git diff 3b1ed92 873d52b — zero hunks touch the function), and
#: re-measured medians at sf0.1 span 0.52-0.69s with spreads up to
#: 0.17s run-to-run — the r5/r6 delta sits well inside ambient
#: variance. Named cause: measurement noise, no code change.
#:
#: Round-8 audit of the MinHash-family drift (text_minhash_lsh_pairs
#: 1.25→1.3-1.8s, text_lsh_hot_bucket_guard 2.01→2.2-2.7s across three
#: r8 runs): A/B-tested by checking out the UNCHANGED r7 snapshot
#: (ba3eac9) on the same day and re-benching the same queries — the r7
#: code measured 1.32s / 2.63s / 0.74s (spreads up to 0.85s), i.e. the
#: same elevated numbers as the r8 tree. None of the drifted queries'
#: code or plans changed in r8 (git diff confirms). Named cause:
#: ambient host load drift between the r7 and r8 measurement windows;
#: no code change, no regression.


def main() -> None:
    from process_spark.queries import REGISTRY
    from process_spark.session import codegen_compiles, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    names = sys.argv[1:] or [n for n in HEADLINE if n in REGISTRY]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"error: unknown queries {unknown}; known: {sorted(REGISTRY)}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark("process-spark-bench")
    spark.range(1).count()
    for name in names:
        try:
            REGISTRY[name].fn(spark, sf_dir).count()
        except Exception as exc:  # warmup failures surface in the timed run
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    # Interleave reps (run the whole set, then repeat) rather than
    # back-to-back per query: a transient load spike then perturbs one
    # rep of many queries instead of every rep of one query.
    samples: dict[str, list[float]] = {name: [] for name in names}
    rows: dict[str, int] = {}
    compiles0 = codegen_compiles(spark)
    for _ in range(reps):
        for name in names:
            fn = REGISTRY[name].fn
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows[name] = df.count()  # full materialization of the result
            samples[name].append(time.perf_counter() - t0)
    compiles = codegen_compiles(spark) - compiles0
    for name in names:
        s = sorted(samples[name])
        timings[name] = round(s[len(s) // 2], 4)
        spread[name] = round(s[-1] - s[0], 4)
        print(
            f"# {name}: median={timings[name]:.3f}s "
            f"spread={spread[name]:.3f}s rows={rows[name]}",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 4)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "reps": reps,
                "sf": float(sf) if sf else None,
                # Scaling-evidence fields (additions only — the JSON
                # contract keys above are unchanged): the session's
                # actual master and scheduler parallelism, so a
                # low-core re-run is PROVABLY running on fewer cores
                # even when wall time is flat (at sf0.1 the inputs scan
                # as 1-2 tasks and AQE's size-driven coalescing
                # collapses tiny post-shuffle stages to ~1 partition,
                # so core count cannot show up in wall time; a scaling
                # probe needs sf >= 1 to exercise parallelism).
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
                # Janino compiles during the timed reps: codegen cache
                # misses (process_spark.session.CODEGEN_CACHE_ENTRIES).
                "codegen_compiles": compiles,
            }
        )
    )


if __name__ == "__main__":
    main()
