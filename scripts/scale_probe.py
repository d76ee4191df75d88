"""Scale probe: measure how the headline queries behave at 10x data.

The driver benches at sf0.1; the engine claims 100 TB shape. This
probe builds a x10 database from the sf0.1 parquet by writing
key-offset replicas (each replica's keys are shifted by
``replica_idx * (max_key + 1)``, so joins stay consistent and
cardinalities really grow — no artificial key collisions), runs the
bench HEADLINE set on both, and emits a markdown table of wall-time
ratios. A shape that survives 100x shows here as a near-linear ratio
(~10x work on 32 local cores => ~2-10x time depending on how much of
the sf0.1 run was fixed overhead); a super-linear ratio flags a plan
that would not survive the next 10x.

Fixed dims (region, nation) are NOT scaled — they are bounded in any
deployment; scaling them would turn the bounded-dim broadcast story
into a lie. Documents keep their text per replica (dup-pair queries
therefore grow quadratically per duplicated doc — noted inline).

Usage: python scripts/scale_probe.py [--rebuild] > SCALE.md
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # ann_recall

REPLICAS = 10
SRC = "/root/testdata/sf0.1"
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "scale10",
)

#: Key DOMAIN -> (defining table, column): every column sharing a
#: domain uses ONE stride, derived from the domain's primary table —
#: otherwise a fact whose max FK differs from the dim's max PK (e.g.
#: TPC-H's orderless customers) would shift its replicas by a
#: different amount than the dim and silently break join alignment.
DOMAINS = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}

#: table -> {column: key domain} to offset per replica. region/nation
#: are bounded dims: copied once, never offset.
OFFSET_COLS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_suppkey": "suppkey",
        "l_partkey": "partkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}
COPY_ONLY = ["region", "nation"]

#: End-to-end LLM-pipeline composites + iterative cluster formation +
#: the guarded LSH join — the queries a 100 TB training-data pipeline
#: actually runs; probed with the same x10 ratio gate as the headline
#: set.
PIPELINE_PROBE = [
    "pipeline_contamination_check",
    "pipeline_dedup_keeper",
    "pipeline_dedup_keeper_lsh",
    "pipeline_quality_filter",
    "pipeline_pack_sequences",
    "pipeline_pack_sequences_sharded",
    "dedup_connected_components",
    "pipeline_minhash_dedup_components",
    "text_lsh_hot_bucket_guard",
    "dedup_band_index_probe",
    "vec_ann_srp_bucketed",
    "pipeline_mixture_sample",
    "pipeline_semantic_dedup_ivf",
    "pipeline_semantic_dedup_ivf_soft",
    "dedup_band_index_append",
    "stream_dedup_index_probe",
    "pipeline_end_to_end",
    "pipeline_lm_quality_score",
    "pipeline_span_dedup_coverage",
    "pipeline_contamination_scrub",
    "pipeline_span_scrub",
    "pipeline_mixture_temperature",
    "pipeline_source_overlap",
    "pipeline_stratified_sample",
    "pipeline_source_quality_report",
    "vec_sq8_knn",
    "pipeline_scrubbed_pack",
    "text_heavy_hitters",
    "stream_heavy_hitters",
    "vec_ivf_stored_append",
    "pipeline_dedup_cluster_stats",
    "vec_ivf_sq8_knn",
    "vec_sq8_knn_arrow",
    "vec_ivf_sq8_md5_idset",
    "vec_ivf_stored_compact",
    "dedup_band_index_compact",
    "stream_dedup_index_compacted",
    "text_bpe_token_budget",
    "pipeline_token_budget_report",
    "text_repetition_filter",
    "pipeline_pii_scrub",
    "pipeline_quality_cascade",
    "pipeline_semantic_keeper",
    "pipeline_semantic_keeper_guarded",
    "vec_srp_stored_lifecycle",
    "stream_semantic_dedup_probe",
    "stream_heavy_hitters_compacted",
    "pipeline_quality_cascade_dedup",
    "stream_srp_index_probe",
    "vec_ivf_drift_report",
    "agg_funnel_conversion",
    "agg_cohort_retention",
    "dedup_components_star",
    "dedup_simhash_index_probe",
    "text_heavy_hitters_by_lang",
    "stream_heavy_hitters_by_lang",
    "stream_semantic_dedup_probe_guarded",
    "vec_pq_drift_report",
    "vec_sq8_drift_report",
    "agg_funnel_windowed",
    "stream_semantic_dedup_compacted",
    "stream_srp_index_compacted",
    "vec_ivf_rebuild_trigger",
    "text_vocab_drift_report",
    "text_bpe_drift_report",
    "dedup_lsh_skew_report",
    "stream_dedup_index_probe_guarded",
    "stream_srp_index_probe_guarded",
    "text_bm25_topk",
    "text_postings_stored_lifecycle",
    "vec_hybrid_rrf",
    "pipeline_domain_cap",
    "stream_bm25_index_probe",
    "stream_bm25_index_compacted",
    "vec_mmr_rerank",
    "vec_hybrid_rrf_ann",
    "vec_mmr_rerank_ivf",
    "retrieval_e2e_stored",
    "vec_hybrid_rrf_ann_fixedq",
    "stream_bm25_index_updated",
    "text_postings_stats_audit",
    "vec_ivf_stored_updated",
    "dedup_band_index_updated",
    "text_postings_skew_report",
    "text_bm25_topk_maxdf",
    "retrieval_e2e_stored_fixedq",
    "vec_ivf_index_audit",
    "vec_ivf_index_repaired",
]

#: x100 probe (round-10 task): documents/embeddings replicated 100x —
#: the scale where a guard that merely SLOWED quadratic growth at x10
#: would be unmistakable. Only the GUARDED paths run here (their
#: unguarded twins are quadratic-by-design and would be building
#: multi-billion-row pair sets on purpose); every other table symlinks
#: to the x1 source so disk stays bounded.
X100_PROBE = [
    "text_lsh_hot_bucket_guard",
    "pipeline_dedup_keeper",
    "pipeline_dedup_keeper_lsh",
    "pipeline_semantic_keeper_guarded",
    "stream_semantic_dedup_probe_guarded",
    "stream_dedup_index_probe_guarded",
    "stream_srp_index_probe_guarded",
    "dedup_lsh_skew_report",
    "vec_pq_drift_report",
    "vec_sq8_drift_report",
    "text_vocab_drift_report",
    "vec_ivf_rebuild_trigger",
    "text_bm25_topk",
    "pipeline_domain_cap",
    "vec_hybrid_rrf_ann_fixedq",
    "retrieval_e2e_stored_fixedq",
    "text_bm25_topk_maxdf",
    "text_postings_skew_report",
]

#: Queries whose output grows quadratically with duplicated content by
#: design (replicated docs/vectors collide) — ratios are reported but
#: flagged, because the growth is in the RESULT, not a plan defect.
QUADRATIC_BY_DESIGN = {
    "pipeline_contamination_check": "the x10 replica multiplies BOTH "
    "sides of every shingle match - benchmark docs AND corpus docs - so "
    "the matched (corpus shingle, bench doc) pair set grows ~100x "
    "(measured r8: 118,780 -> 11,878,000 join rows); a ~3x wall ratio is "
    "strongly SUB-linear against that, because the broadcast map-side "
    "join absorbs the fan-out before the doc_id-bounded aggregate. In a "
    "real deployment the benchmark is a FIXED eval suite that does not "
    "grow with the corpus, so the production ratio tracks corpus size "
    "only",
    "text_minhash_lsh_pairs": "replicated docs are true near-dups; "
    "pair output grows ~quadratically per duplicated doc",
    "vec_knn_bruteforce": "both query set and corpus grow 10x; "
    "brute-force scoring is O(|Q| x |C|) BY DEFINITION - the bucketed "
    "ANN path (vec_ann_srp_bucketed) is the scale answer",
    "vec_sq8_knn": "same O(|Q| x |C|) scoring shape as brute force - "
    "the int8 codes cut bytes-per-pair 4x, not the pair count; compose "
    "with IVF cell pruning when the corpus outgrows full scans",
    "vec_sq8_knn_arrow": "row-identical twin of vec_sq8_knn - same "
    "O(|Q| x |C|) pair count by definition; the matmul layout cuts the "
    "per-pair constant ~2.7x (shoot-out below), not the asymptotics",
    "vec_ivf_sq8_md5_idset": "same O(|Q| x |C| x n_probe/n_cells) pair "
    "count as vec_ivf_sq8_knn - the md5 oracle twin runs the identical "
    "pruned+compressed scoring, just with the fixture chain",
    "pipeline_semantic_keeper": "replicated vectors are true semantic "
    "dups; the cell-local pair set grows ~quadratically per duplicated "
    "vector before components collapse them (same growth as "
    "pipeline_semantic_dedup_ivf, which feeds it) - "
    "pipeline_semantic_keeper_guarded is the bounded deployment path",
    "pipeline_semantic_keeper_guarded": "at x10 the replicated cells "
    "blow past the 512-vector cap and are SKIPPED (the guard working: "
    "members degrade to component singletons + the 1-row skip census "
    "instead of a quadratic BLAS pair scan - the semantic twin of "
    "pipeline_dedup_keeper's cap)",
    "vec_ivf_sq8_knn": "both query set and corpus grow 10x; pair count "
    "is O(|Q| x |C| x n_probe/n_cells) - the probe fraction is the "
    "recall/cost knob, and the isotropic worst case pins the default "
    "at 6/8 cells (a clustered corpus tunes it down via ivf_tune_n_probe); "
    "the exact re-rank tail is bounded at 4k ids/query",
    "vec_mmr_rerank": "the candidate pools come from brute-force "
    "cosine top-10 per query, and the probe's query set grows with the "
    "corpus - same |Q| x |C| scoring shape as vec_knn_bruteforce "
    "upstream of the (bounded, pool-squared) MMR stage itself",
    "vec_hybrid_rrf": "the probe derives its query-by-example set "
    "from every 100th id, so at x10 BOTH the query workload and the "
    "corpus grow 10x and the cosine channel's scored pair count grows "
    "~100x (same |Q| x |C| shape as vec_knn_bruteforce); in a real "
    "deployment the query workload is FIXED, so the production ratio "
    "tracks corpus size only - vec_hybrid_rrf_ann_fixedq (fixed "
    "workload, both channels stored+pruned) is the production row",
    "vec_hybrid_rrf_ann": "the query workload still grows 10x with "
    "the corpus (every 100th id), so the vector channel's pair count "
    "grows ~100x/(n_cells/n_probe); the IVF prune cuts the constant "
    "4x vs the exact channel but not the |Q| x |C| asymptotics - "
    "vec_hybrid_rrf_ann_fixedq (constant 50-query workload) isolates "
    "the corpus-only growth a deployment actually pays",
    "vec_mmr_rerank_ivf": "the candidate pools come from the stored "
    "IVF probe whose query set grows with the corpus - same "
    "|Q| x |C| x n_probe/n_cells shape as vec_hybrid_rrf_ann's vector "
    "channel, upstream of the (bounded, pool-squared) MMR stage",
    "retrieval_e2e_stored": "both channels' query sets grow 10x with "
    "the corpus (query-by-example on every 100th id) - the postings "
    "probe's hit set AND the IVF channel's pair count fold in the "
    "10x workload; retrieval_e2e_stored_fixedq (constant 50-query "
    "workload) is the corpus-only full-stack row",
    "dedup_connected_components": "replicated docs are true near-dups; "
    "the edge set (exact Jaccard pairs within blocks) grows "
    "~quadratically per duplicated doc before components form",
    "dedup_components_star": "the same query as "
    "dedup_connected_components (one body, one oracle): the same "
    "quadratic-by-replica edge set",
    "dedup_simhash_index_probe": "replicated docs share every SimHash "
    "band, so the cross-population candidate set grows ~quadratically "
    "per duplicated doc (the band-join shape of "
    "stream_dedup_index_probe; simhash_dedup_candidates' "
    "max_bucket_size is the guarded path for hostile corpora)",
    "pipeline_minhash_dedup_components": "same: every doc's 10 replicas "
    "share every band, so the LSH edge set grows ~quadratically before "
    "components collapse them (the guard variant is the bounded path)",
    "text_lsh_hot_bucket_guard": "replica band buckets blow past the "
    "cap and are SKIPPED (that is the guard working) - at full x10 "
    "replication EVERY bucket is over cap, so the output is the single "
    "all-skipped sentinel row carrying the skipped count",
    "vec_ann_srp_bucketed": "both query set and corpus grow 10x; "
    "candidate volume is O(|Q| x |C| x frac) by construction - the "
    "band count is the recall/cost knob that sets frac",
    "vec_srp_stored_lifecycle": "same O(|Q| x |C| x frac) candidate "
    "volume as vec_ann_srp_bucketed (both probes), plus the lifecycle "
    "re-banding the 10x corpus for the write/append phases - the "
    "stored layout amortizes that signature cost across future runs, "
    "which a one-shot probe query cannot show",
    "pipeline_semantic_dedup_ivf": "replicated vectors are true "
    "semantic dups; the per-cell pair output grows ~quadratically per "
    "duplicated vector",
    "pipeline_semantic_dedup_ivf_soft": "same, with ~2x block volume "
    "from top-2 assignment (the cross-cell recovery cost)",
    "stream_dedup_index_probe": "replicated docs are true near-dups; "
    "the candidate pair output grows ~quadratically per duplicated doc "
    "(incremental_dedup_sink(max_bucket_size=...) is the guarded "
    "deployment path — tested with a hostile boilerplate batch)",
    "stream_semantic_dedup_probe": "replicated vectors are true "
    "semantic dups; the cell-blocked pair output grows ~quadratically "
    "per duplicated vector (same growth as pipeline_semantic_dedup_ivf "
    "— near_dup_embeddings(max_block_size=...) is the guarded path for "
    "hostile batches)",
    "stream_srp_index_probe": "replicated vectors share every band "
    "bucket, so the candidate pair output grows ~quadratically per "
    "duplicated vector (the same growth as stream_dedup_index_probe's "
    "band join); incremental_srp_sink(max_bucket_size=...) is the "
    "guarded deployment path — tested with a hostile boilerplate batch",
    "pipeline_dedup_keeper": "at x10 every (lang, source) block blows "
    "past the 64-doc cap and is SKIPPED (the guard working: output "
    "degrades to singletons + the skip census instead of a quadratic "
    "edge join)",
    "stream_heavy_hitters": "NOT quadratic - traced r9 by component "
    "timing with/without the state write: the micro-batch wave is "
    "1.0s -> 2.3s for 10x data with the state write DISABLED (the "
    "tokenize+value_counts scan growing linearly under ~0.5s/batch of "
    "fixed trigger/checkpoint machinery), and enabling the write adds "
    "a further ~constant 0.2-0.5s per batch (1-row parquet commit + "
    "driver summary collect); exact-verify is flat (0.76s -> 0.78s). "
    "With only 2 micro-batches the per-batch constants dominate, so "
    "the ~2x wall ratio is fixed overhead amortizing over 10x data, "
    "not growing work",
    "stream_heavy_hitters_by_lang": "same decomposition as "
    "stream_heavy_hitters: per-batch constant overhead (trigger + "
    "checkpoint + |groups|-row state write) over 2 micro-batches; the "
    "grouped value_counts scan grows linearly",
    "stream_heavy_hitters_compacted": "same per-batch constants as "
    "stream_heavy_hitters, plus the between-wave mg_compact_state "
    "(driver-side fold of <= batches x 1 tiny rows - constant)",
    "stream_semantic_dedup_probe_guarded": "at x10 every per-batch cell "
    "blows past the 20-vector cap and is cut (the guard working): each "
    "batch emits only the NULL-id sentinel carrying its cut-cell census, "
    "so the output collapses to 2 rows while the unguarded twin grows "
    "quadratically - the banding/assignment scan itself grows linearly",
    "stream_semantic_dedup_compacted": "same quadratic-by-replica pair "
    "OUTPUT as stream_semantic_dedup_probe (identical relation), plus "
    "the between-wave compaction rewriting the 10x index once",
    "stream_srp_index_compacted": "same quadratic-by-replica candidate "
    "output as stream_srp_index_probe, plus the between-wave compaction "
    "rewriting the 10x band index once",
}


def build(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)
    for name in COPY_ONLY:
        shutil.copyfile(
            os.path.join(SRC, f"{name}.parquet"),
            os.path.join(DST, f"{name}.parquet"),
        )
    strides = {}
    for domain, (table, col) in DOMAINS.items():
        df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
        strides[domain] = df.agg(F.max(F.col(col)).cast("long")).collect()[0][0] + 1
    for name, keys in OFFSET_COLS.items():
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        out = None
        for i in range(REPLICAS):
            rep = df
            for k, domain in keys.items():
                rep = rep.withColumn(k, F.col(k) + F.lit(i * strides[domain]))
            out = rep if out is None else out.unionByName(rep)
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{name}.parquet"))
        print(f"built {name} x{REPLICAS}", file=sys.stderr)


DST100 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "scale100",
)
REPLICAS100 = 100


def build100(spark) -> None:
    """x100 replica of documents + embeddings ONLY (the tables the
    guarded dedup/keeper/stream-probe family reads); every other table
    symlinks to the x1 source so the build stays bounded on disk."""
    from pyspark.sql import functions as F

    os.makedirs(DST100, exist_ok=True)
    for name in ("documents", "embeddings"):
        col = OFFSET_COLS[name]
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        (k, domain), = col.items()
        stride = (
            df.agg(F.max(F.col(k)).cast("long")).collect()[0][0] + 1
        )
        reps = spark.range(REPLICAS100).withColumnRenamed("id", "__rep")
        out = df.crossJoin(reps).withColumn(
            k, F.col(k) + F.col("__rep") * F.lit(stride)
        ).drop("__rep")
        out.write.mode("overwrite").parquet(
            os.path.join(DST100, f"{name}.parquet")
        )
        print(f"built {name} x{REPLICAS100}", file=sys.stderr)
    for name in list(OFFSET_COLS) + COPY_ONLY:
        if name in ("documents", "embeddings"):
            continue
        link = os.path.join(DST100, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(SRC, f"{name}.parquet"), link)


def main() -> None:
    from bench import HEADLINE
    from process_spark.queries import REGISTRY
    from process_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.range(1).count()
    if "--rebuild" in sys.argv or not os.path.isdir(DST):
        build(spark)
    if "--rebuild" in sys.argv or not os.path.isdir(DST100):
        build100(spark)

    print("# SCALE — headline queries at sf0.1 vs a x10 key-offset replica DB")
    print()
    print(f"Generated by `python scripts/scale_probe.py` ({REPLICAS} replicas,")
    print("key-offset so joins stay consistent; bounded dims region/nation")
    print("not scaled). Each query: one warm-up, one timed run per scale.")
    print("`ratio` = t(x10) / t(x1) — near-or-below-10 on 32 local cores")
    print("means the plan's work grows linearly with data (fixed overhead")
    print("amortizes; a super-linear ratio would flag a plan that cannot")
    print("survive the next 10x).")
    print()
    def probe_row(name: str) -> None:
        fn = REGISTRY[name].fn
        res = {}
        for label, sf_dir in (("x1", SRC), ("x10", DST)):
            fn(spark, sf_dir).count()  # warm: codegen + file cache
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            res[label] = (time.time() - t0, n)
        t1, n1 = res["x1"]
        t10, n10 = res["x10"]
        note = QUADRATIC_BY_DESIGN.get(name, "")
        flag = " *" if note else ""
        print(
            f"| {name}{flag} | {t1:.2f} | {t10:.2f} | "
            f"{t10 / t1:.1f}x | {n1:,} -> {n10:,} |"
        )

    print("| query | t(x1) s | t(x10) s | ratio | rows x1 -> x10 |")
    print("| --- | --- | --- | --- | --- |")
    for name in HEADLINE:
        probe_row(name)
    print()
    print("LLM-pipeline composites (same gate — these are the queries a")
    print("training-data pipeline runs end to end):")
    print()
    print("| query | t(x1) s | t(x10) s | ratio | rows x1 -> x10 |")
    print("| --- | --- | --- | --- | --- |")
    for name in PIPELINE_PROBE:
        probe_row(name)
    print()
    print("## x100 probe — the guarded family at 100x documents/embeddings")
    print()
    print(f"{REPLICAS100} key-offset replicas of documents and embeddings")
    print("(other tables at x1 — these queries only read the two corpus")
    print("tables). The x10 probe shows guards ENGAGING; this shows the")
    print("plans still TERMINATING in linear-ish time two orders of")
    print("magnitude up, which a quadratic guard-bypass could not. Single")
    print("timed run at x100 (no warm-up — cold is the honest number at")
    print("this size); t(x1) warm, as above.")
    print()
    print("| query | t(x1) s | t(x100) s | ratio | rows x1 -> x100 |")
    print("| --- | --- | --- | --- | --- |")
    for name in X100_PROBE:
        fn = REGISTRY[name].fn
        fn(spark, SRC).count()  # warm
        t0 = time.time()
        n1 = fn(spark, SRC).count()
        t1 = time.time() - t0
        t0 = time.time()
        n100 = fn(spark, DST100).count()
        t100 = time.time() - t0
        print(
            f"| {name} | {t1:.2f} | {t100:.2f} | "
            f"{t100 / t1:.1f}x | {n1:,} -> {n100:,} |"
        )
    print()
    print("Footnotes: every x100 query runs its guard wide open — LSH")
    print("buckets, keeper blocks and IVF cells all hold ~100x their cap,")
    print("so outputs collapse to sentinels/singletons + skip censuses")
    print("(truncation stays IN the hash-checked result). The wall ratio")
    print("is then the linear part only: banding/assigning 100x the")
    print("corpus. A ratio near 100 on 32 local cores = linear scan")
    print("growth with amortized fixed overhead; the quadratic")
    print("alternative would be ~10,000x.")
    print()
    for name, note in QUADRATIC_BY_DESIGN.items():
        print(f"- `*` `{name}`: {note}.")
    print(semantic_missed_pairs(spark))
    print(KNN_SHOOTOUT)
    print(MG_VECTORIZATION)
    import ann_recall

    print(ann_recall.section(spark))


def semantic_missed_pairs(spark) -> str:
    """Round-7 task 2 evidence: measured missed-pair fraction of the
    label-free semantic dedup variants vs EXACT ground truth. On the
    2-d [1, tv] fixture, cosine similarity is monotone in |atan(tv_a) -
    atan(tv_b)|, so the exact pair count at the threshold is a sorted
    two-pointer sweep over the (collected, corpus-sized-but-scalar) tv
    values — feasible ground truth that exists only because the oracle
    fixture is 2-d; at 64-d there is no cheap exact census, which is
    why the registered queries carry this measurement as their recall
    statement."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from process_spark.queries import REGISTRY
    from process_spark.queries.vectors import _t32

    e = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    tv = np.array(
        [r[0] for r in e.select(_t32().alias("tv")).collect()], dtype="float64"
    )
    ang = np.sort(np.arctan(tv))
    max_diff = math.acos(0.9995)
    # two-pointer: for each i, count j>i with ang[j]-ang[i] <= max_diff
    exact = 0
    j = 0
    for i in range(len(ang)):
        if j < i + 1:
            j = i + 1
        while j < len(ang) and ang[j] - ang[i] <= max_diff:
            j += 1
        exact += j - i - 1
    hard = REGISTRY["pipeline_semantic_dedup_ivf"].fn(spark, SRC).count()
    soft = REGISTRY["pipeline_semantic_dedup_ivf_soft"].fn(spark, SRC).count()

    # n_assign=3 rung (round-8 task): same soft pipeline, rn <= 3 —
    # measured here to decide whether a registered top-3 variant is
    # worth 3x block volume.
    from pyspark.sql import Window

    from process_spark.operators.similarity import (
        ivf_build,
        near_dup_embeddings_arrow,
    )
    from process_spark.queries.vectors import _t32

    e3 = e.select("vec_id", F.array(F.lit(1.0), _t32()).alias("embedding"))
    cells, _ = ivf_build(e3, n_cells=8, seed_hash="md5")
    m = F.element_at(F.col("centroid"), 2).cast("double")
    tvv = F.element_at(F.col("embedding"), 2).cast("double")
    score = (F.lit(1.0) + tvv * m) / F.sqrt(F.lit(1.0) + m * m)
    w3 = Window.partitionBy("vec_id").orderBy(score.desc(), F.col("cell_id"))
    soft3_assign = (
        e3.join(F.broadcast(cells))
        .withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select("vec_id", "embedding", "cell_id")
    )
    soft3 = (
        near_dup_embeddings_arrow(
            soft3_assign, threshold=0.9995, block_col="cell_id"
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    return "\n".join([
        "",
        "## Label-free semantic dedup: measured missed-pair fraction "
        "(sf0.1)",
        "",
        "Exact ground truth = sorted angle sweep over the 2-d fixture "
        "(see",
        "`scripts/scale_probe.py:semantic_missed_pairs`); hard = top-1 "
        "IVF-cell",
        "blocking (`pipeline_semantic_dedup_ivf`), soft = top-2",
        "(`pipeline_semantic_dedup_ivf_soft`), top-3 = the same "
        "pipeline at",
        "rn <= 3, measured inline. A planted-boundary-pair test is in",
        "tests/test_ann_tuning.py.",
        "",
        "| variant | pairs found | missed vs exact | block volume |",
        "| --- | --- | --- | --- |",
        f"| exact (angle sweep) | {exact:,} | — | — |",
        f"| hard (top-1 cells) | {hard:,} | {1 - hard / exact:.1%} | 1x |",
        f"| soft (top-2 cells) | {soft:,} | {1 - soft / exact:.1%} | ~2x |",
        f"| soft (top-3 cells) | {soft3:,} | {1 - soft3 / exact:.1%} "
        "| ~3x |",
        "",
        "Soft assignment recovers pairs straddling ONE cell boundary at",
        "~2x block volume. The top-3 rung (round-8 measurement) closes",
        "the two-boundary residual completely — but that residual was 5",
        "pairs in 163,403 (0.003%), bought with +50% block volume over",
        "top-2, so the REGISTERED default stays top-2: the extra rung is",
        "a one-line n_assign knob (rn <= 3), not a new query — raise it",
        "only for corpora whose boundary census says the residual",
        "matters.",
    ])


#: Static round-4 measurement, kept in the regenerated report. Re-run
#: the comparison with the snippet in tests/test_properties.py::
#: test_knn_arrow_matmul_matches_hof scaled to x50 if the scorers change.
KNN_SHOOTOUT = """
## kNN scorer shoot-out (round 4): HOF expression vs Arrow/BLAS matmul

Measured on a x50 key-offset replica of sf0.1 embeddings
(corpus 100,000 x 64-dim, 200 queries, k=5; warm plans, engine
session, local[32]):

| scorer | wall | notes |
| --- | --- | --- |
| HOF expression path (`brute_force_knn`) | 7.8 s | normalize-once + per-pair interpreted `aggregate/zip_with` fold |
| pairwise numpy pandas_udf (`cosine_to_query_udf`) | 6.2 s | Arrow batches, but still O(d) norm work per PAIR |
| **batch matmul (`brute_force_knn_arrow`)** | **1.0 s** | one BLAS `(batch x d) @ (d x nq)` per Arrow batch + per-batch top-k, then one tiny candidate shuffle |

Top-k id sets identical across all three (asserted in
`tests/test_properties.py::test_knn_arrow_matmul_matches_hof`).
Conclusion: `brute_force_knn_arrow` is the throughput default once
scoring dominates (the 100 TB regime); the HOF form remains the
oracle-checked exact twin (`vec_knn_bruteforce`) because its fold is
bit-reproducible in SQL while BLAS summation order is not. The corpus
never shuffles in either path; the matmul path additionally caps the
per-batch emission at k rows per query, so the phase-2 shuffle stays
k·|Q|·n_batches regardless of corpus size.

The same layout applied across the cosine family (x10 replica of
sf0.1 embeddings — 20,000 vectors, ~2,000 per label block; cold
timings, engine session):

| operator | expression path | Arrow/BLAS twin | speedup |
| --- | --- | --- | --- |
| semantic near-dup, threshold 0.95 (`near_dup_embeddings[_arrow]`) | 58.1 s | 2.8 s | **21x** — per-block chunked matmul vs one interpreted fold per pair (90,000 pairs found by both; id-sets asserted equal) |
| k-means k=8, 3 iters (`kmeans(scorer=...)`) | 7.9 s (x50) | 6.2 s (x50) | 1.3x locally, and structurally better: the fused `_refine_cells_arrow` kernel assigns AND partial-sums in one mapInPandas pass, so each iteration shuffles k·n_batches partial rows instead of posexploding corpus x dim into the hash aggregate — the gap widens with corpus and dim (x10: 1.07x; x50: 1.3x) |
| IVF re-rank (`ivf_search[_arrow]`) | — | — | broadcast-probe dict + mapInPandas matmul; corpus never shuffles, cell filter prunes the scan (id-sets asserted equal) |
| SQ8 int8 k-NN, k=10, 200 queries (`sq8_search[_arrow]`, round 8) | 7.2 s | 2.7 s | **2.7x** — per-batch f64 matmul of the int codes (every intermediate an exactly-representable integer) vs the interpreted per-pair integer fold; the twins are row-IDENTICAL incl. ties (shared exact hash oracle `vec_sq8_knn[_arrow]`; asserted in tests/test_properties.py), so the HOF form stays the oracle and the matmul is the throughput default |

Near-dup chunking keeps worker memory at O(chunk x |block|); blocks
must stay bounded (label / IVF cell), the same contract the pairwise
join already imposes on its OUTPUT."""


#: Static round-8 measurement: the Misra-Gries pass-1 rewrite (per-row
#: Python loop → per-batch value_counts + mergeable-summaries merge).
#: Re-measure with the inline snippet below if the sketch changes.
MG_VECTORIZATION = """
## Misra-Gries pass-1 vectorization (round 8)

The sketch's first pass was the one full-corpus scan in the engine
that ran interpreted per-token Python (`for v in pdf[col]` inside
mapInPandas). Rewritten: each Arrow batch contributes an exact
`value_counts()` table (a zero-error summary) merged into the running
counters under the mergeable-summaries rule — per-DISTINCT-item work
per batch, never per row; the coverage guarantee is unchanged by the
theorem the module already cited. Measured on the sf0.1 documents
token stream (270,704 tokens, capacity 32, local[32]):

| pass-1 shape | wall | speedup |
| --- | --- | --- |
| per-row Python loop (round 7) | 2.45 s | — |
| per-batch value_counts + MG merge (round 8) | 0.47 s | **5.2x** |

Both heavy-hitters oracles (`text_heavy_hitters`,
`stream_heavy_hitters`) still hash-match — the output is EXACT either
way (the sketch only bounds memory; the verify pass restores true
counts); batch-split invariance is property-tested in
tests/test_streaming_semantics.py. The gap widens with corpus size:
the loop is O(tokens) Python bytecode, the rewrite is O(distinct
tokens per batch) dict work on top of C-vectorized counting."""


if __name__ == "__main__":
    main()
