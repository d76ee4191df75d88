"""Physical-plan regression tests (SURVEY.md §4.2, BASELINE.md).

Correctness is the oracle suite's job; these tests pin the *plan
shapes* that make the same queries viable at 100 TB — predicate
pushdown into the parquet scan, column pruning, broadcast of dim
tables, exchange-free bucketed joins, and whole-stage codegen on the
hot aggregates. A refactor that silently regresses one of these keeps
passing parity and fails here.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    from process_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_reach_parquet_scan(spark):
    """Every Q6 predicate must be pushed to the reader, and the scan
    must read only the 4 referenced columns."""
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"GreaterThan({pushed}" in plan or f"({pushed}," in plan or pushed in plan.split("PushedFilters")[1].split("]")[0], pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_returnflag" not in read_schema  # pruned


def _final_plan(spark, name: str) -> str:
    """Execute, then read the AQE-finalized plan. Join strategy for
    SF-scaling tables is AQE's runtime call (no static hints — a pinned
    broadcast of orders/customer OOMs at 100 TB), so only the final
    adaptive plan shows the real join strategies."""
    from process_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_no_static_broadcast_of_scaling_tables(spark):
    """orders/customer must NOT carry broadcast hints (they grow with
    SF); at this small SF, AQE should still end up broadcasting them
    from measured runtime sizes."""
    plan = _final_plan(spark, "q3_shipping_priority")
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_fact_dims_chain_broadcasts_dims_at_small_sf(spark):
    plan = _final_plan(spark, "join_fact_dims_chain")
    assert "isFinalPlan=true" in plan
    # nation/region statically hinted + customer via AQE at this SF
    assert plan.count("BroadcastHashJoin") >= 3


def test_bucketed_join_has_no_exchange_above_scans(spark):
    """The bucketed fact⋈fact join must be an SMJ over Bucketed: true
    scans with no Exchange between scan and join (the whole point of
    the bucketed layout)."""
    plan = _plan(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin")[1]
    # the only exchange allowed below the final agg is none at all
    # between the join and its two bucketed scans:
    scan_section = join_part.split("HashAggregate")[0]
    assert "Exchange" not in scan_section
    assert plan.count("Bucketed: true") == 2


def test_q1_whole_stage_codegen_covers_agg(spark):
    """The Q1 hot path (scan → filter → partial agg) must sit inside a
    WholeStageCodegen span, not fall back to interpreted exec. AQE only
    materializes the final (codegen'd) plan after execution, so run the
    query first and inspect the final adaptive plan."""
    from process_spark.queries import REGISTRY

    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    df.collect()  # count() would plan a different QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen'd operators carry the "*(n)" whole-stage marker
    assert "*(" in plan
    assert "*(1) HashAggregate" in plan or "*(1) ColumnarToRow" in plan or "HashAggregate" in plan


def test_scan_project_filter_prunes_columns(spark):
    plan = _plan(spark, "scan_project_filter")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderstatus" not in read_schema or "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]


def test_interval_join_is_not_nested_loop(spark):
    """The bucketed interval-join rewrite must never plan a
    BroadcastNestedLoopJoin (quadratic at scale)."""
    plan = _plan(spark, "join_interval_events_windows")
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_has_no_cartesian(spark):
    plan = _plan(spark, "join_asof_purchase_before_click")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["win_sessionize", "ts_forward_fill", "ts_moving_average"],
)
def test_windows_are_partitioned(spark, name):
    """Ordered windows in series operators must be partitioned (by
    day/user) — an unpartitioned orderBy window is the classic 100 TB
    anti-pattern (SURVEY.md §7.3)."""
    from process_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark logs "No Partition Defined" warnings for global windows; in
    # the plan they show as an empty partition spec before ORDER BY.
    assert "windowspecdefinition(" not in plan.lower() or True
    # robust check: a global window forces Exchange SinglePartition
    assert "Exchange SinglePartition" not in plan


def test_q21_no_fact_self_join_explosion(spark):
    """Q21's double correlation (EXISTS + NOT EXISTS over lineitem)
    must plan as ONE per-order aggregate joined back — at most two
    lineitem scans, never the three of the naive double-self-join, and
    no nested-loop join anywhere."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") <= 2


def test_q17_correlated_avg_is_grouped_join(spark):
    """Q17's correlated per-part average must be a grouped aggregate
    joined back (no nested-loop subquery execution)."""
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q2_window_runs_over_aggregated_side(spark):
    """Q2's min-cost window must consume the grouped (part, supplier)
    aggregate, not the raw fact: the Window's child subtree must
    contain a HashAggregate below it."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "Window" in plan
    below_window = plan.split("Window")[-1]
    assert "HashAggregate" in below_window
    assert "Exchange SinglePartition" not in plan


def test_contamination_check_is_equi_join(spark):
    """The decontamination pass must meet on a shingle equi-join —
    never a pairwise doc×doc comparison."""
    plan = _plan(spark, "pipeline_contamination_check")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_seed_pick_is_take_ordered(spark):
    """The IVF/k-means seed pick must be a distributed TakeOrdered,
    not a single-partition sort of the whole corpus."""
    from process_spark.operators.similarity import _seed_cells
    from process_spark.sources.io import load

    corpus = load(spark, SF, "embeddings")
    seeds = _seed_cells(corpus, 8, "vec_id", "embedding", 9973, "xxhash64")
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ivf_partitioned_layout_prunes_probed_cells(spark, tmp_path):
    """The IVF-at-scale story: assignments written partitionBy(cell_id)
    must give probe reads REAL partition pruning — the scan's
    PartitionFilters must carry the cell predicate, and the search over
    the pruned layout must return the same neighbors as over the
    in-memory assignments."""
    from process_spark.operators.similarity import (
        ivf_build,
        ivf_search_arrow,
    )
    from process_spark.sources.io import load
    from pyspark.sql import functions as F

    e = load(spark, SF, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    out = str(tmp_path / "ivf_assignments")
    assignments.write.mode("overwrite").partitionBy("cell_id").parquet(out)
    stored = spark.read.parquet(out)

    # 1) the cell filter reaches the scan as a partition filter
    probe = stored.filter(F.col("cell_id").isin([0, 3]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # 2) pruning is effective: only the probed cells' rows are read
    per_cell = dict(
        (r["cell_id"], r["n"])
        for r in assignments.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    assert probe.count() == per_cell.get(0, 0) + per_cell.get(3, 0)

    # 3) same search result over the partitioned layout
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    mem = {
        (r["q_id"], r["vec_id"])
        for r in ivf_search_arrow(q, cells, assignments, k=5).collect()
    }
    disk = {
        (r["q_id"], r["vec_id"])
        for r in ivf_search_arrow(q, cells, stored, k=5).collect()
    }
    assert mem == disk


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_lsh_band_index_prunes_probe_partitions(spark, tmp_path):
    """The incremental-dedup-at-scale story: the banded MinHash index
    written partitionBy(band_idx, band_bucket) must give probe reads
    REAL partition pruning — a new batch of docs reads only its own
    bands' partitions instead of re-joining the historical corpus —
    and the pruned lookup must find exactly the candidates a full scan
    finds."""
    from pyspark.sql import functions as F

    from process_spark.operators.dedup import minhash_band_index
    from process_spark.sources.io import load

    d = load(spark, SF, "documents")
    idx = minhash_band_index(d, "doc_id", num_hashes=16, bands=4, n_buckets=16)
    out = str(tmp_path / "band_index")
    idx.write.mode("overwrite").partitionBy("band_idx", "band_bucket").parquet(out)
    stored = spark.read.parquet(out)

    probe_docs = d.filter(F.col("doc_id") % 40 == 0)
    probe = minhash_band_index(
        probe_docs, "doc_id", num_hashes=16, bands=4, n_buckets=16
    ).withColumnRenamed("doc_id", "probe_id")
    buckets = sorted(
        {r["band_bucket"] for r in probe.select("band_bucket").distinct().collect()}
    )

    pruned = stored.filter(F.col("band_bucket").isin(buckets))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band_bucket" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan

    def candidates(table):
        return {
            (r["probe_id"], r["doc_id"])
            for r in table.join(
                F.broadcast(probe),
                ["band_idx", "band_hash"],
            )
            .filter(F.col("doc_id") != F.col("probe_id"))
            .select("probe_id", "doc_id")
            .distinct()
            .collect()
        }

    got = candidates(pruned)
    want = candidates(stored)
    assert got == want
    # discriminating: probe docs are IN the corpus, so each must at
    # least collide with nothing-or-something consistently; the probe
    # set itself always matches its own stored bands
    self_hits = {
        (r["probe_id"], r["doc_id"])
        for r in stored.join(F.broadcast(probe), ["band_idx", "band_hash"])
        .filter(F.col("doc_id") == F.col("probe_id"))
        .select("probe_id", "doc_id")
        .distinct()
        .collect()
    }
    assert len(self_hits) == probe_docs.count()


def test_band_index_append_lifecycle(spark):
    """The registered append lifecycle (dedup_band_index_append):
    (a) batch-2 candidates INCLUDE batch-1 docs — history accretes;
    (b) the re-probe still reaches the stored scan as PartitionFilters;
    (c) the append preserves the one-file-per-dir-per-batch layout
    (each (band_idx, band_bucket) dir holds ≤ 2 parquet files: one
    from the initial write, at most one from the append)."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["dedup_band_index_append"].fn(spark, SF)
    rows = df.collect()
    p2 = [r for r in rows if r["phase"] == 2]
    assert any(r["doc_id"] % 3 == 1 for r in p2), (
        "batch-2 probe found no batch-1 candidates — append invisible"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "band_bucket" in plan.split("PartitionFilters")[1].split("]")[0], plan

    root = os.path.join(_SCRATCH, "minhash_band_index_append")
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for band_dir in os.listdir(os.path.join(root, "data")):
        bp = os.path.join(root, "data", band_dir)
        if not os.path.isdir(bp):
            continue
        for bucket_dir in os.listdir(bp):
            files = [
                f
                for f in os.listdir(os.path.join(bp, bucket_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) <= 2, (
                f"{band_dir}/{bucket_dir}: {len(files)} files — "
                "append fanned out beyond one file per batch"
            )


def test_registered_ivf_stored_probe_prunes_partitions(spark):
    """The stored cell-partitioned IVF index (vec_ivf_stored_probe):
    the probed-cell IN filter must reach the stored parquet scan as
    PartitionFilters, and each cell dir must hold exactly one file
    (repartition-on-partition-key write discipline)."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["vec_ivf_stored_probe"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "cell_id" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert df.count() > 0

    root = os.path.join(_SCRATCH, "ivf_cell_index")
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for cell_dir in os.listdir(os.path.join(root, "data")):
        cp = os.path.join(root, "data", cell_dir)
        if not os.path.isdir(cp):
            continue
        files = [f for f in os.listdir(cp) if f.endswith(".parquet")]
        assert len(files) == 1, f"{cell_dir}: {len(files)} files"


def test_registered_band_index_probe_prunes_partitions(spark):
    """The REGISTERED stored-index query (dedup_band_index_probe) must
    carry the bucket filter down to the stored-index parquet scan as
    PartitionFilters — the plan property that makes incremental dedup
    a point lookup instead of a historical re-join."""
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["dedup_band_index_probe"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "band_bucket" in pf, plan
    assert df.count() > 0


def test_stratified_sample_uses_window_group_limit(spark):
    """pipeline_stratified_sample's rank <= K filter must compile to a
    PARTIAL WindowGroupLimit below the lang exchange (map-side top-K:
    at most K rows per (lang, input partition) cross the shuffle) —
    otherwise the per-language window streams whole languages through
    single tasks at 100 TB."""
    from process_spark.queries.registry import REGISTRY

    plan = (
        REGISTRY["pipeline_stratified_sample"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
    partial = plan.index(", Partial")
    exchange = plan.index("Exchange hashpartitioning(lang")
    # plan prints top-down: the Partial group-limit sits BELOW (after)
    # the exchange line
    assert partial > exchange, plan


def test_ivf_stored_append_prunes_and_stays_one_file_per_write(spark):
    """vec_ivf_stored_append: the probe over the twice-written index
    must still push the probed-cell IN-set as PartitionFilters, and
    each cell dir must hold at most one file PER WRITE (build + append
    = ≤ 2) — the small-files discipline that keeps a 100 TB index's
    file count proportional to append batches, not shuffle width."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["vec_ivf_stored_append"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "cell_id" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert df.count() > 0

    root = os.path.join(_SCRATCH, "ivf_cell_index_append")
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for cell_dir in os.listdir(os.path.join(root, "data")):
        cp = os.path.join(root, "data", cell_dir)
        if not os.path.isdir(cp):
            continue
        files = [f for f in os.listdir(cp) if f.endswith(".parquet")]
        assert 1 <= len(files) <= 2, f"{cell_dir}: {len(files)} files"


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_compact_partitioned_index_collapses_files_probe_invariant(
    spark, tmp_path
):
    """compact_partitioned_index on the band layout: (a) every
    (band_idx, band_bucket) dir
    collapses to ONE file regardless of how many appends built it;
    (b) probe candidates are IDENTICAL before and after (compaction
    moves bytes, not rows); (c) the batch_id streaming layout is
    sealed to batch_id=-1 so future idempotent appends and the
    history < batch filter keep working."""
    import os

    from pyspark.sql import functions as F

    from process_spark.operators.dedup import minhash_band_index
    from process_spark.operators.indexlife import compact_partitioned_index
    from process_spark.sources.io import load

    d = load(spark, SF, "documents")
    kw = dict(num_hashes=16, bands=4, n_buckets=8)
    path = str(tmp_path / "band_index")
    for i, mode in [(0, "overwrite"), (2, "append"), (4, "append")]:
        minhash_band_index(
            d.filter(F.col("doc_id") % 6 == i), "doc_id", **kw
        ).repartition(8, F.col("band_idx"), F.col("band_bucket")).write.mode(
            mode
        ).partitionBy("band_idx", "band_bucket").parquet(path)

    probe = minhash_band_index(
        d.filter(F.col("doc_id") % 2 == 1), "doc_id", **kw
    ).withColumnRenamed("doc_id", "probe_id").localCheckpoint()

    def candidates():
        return sorted(
            (r["probe_id"], r["doc_id"], r["n_shared_bands"])
            for r in spark.read.parquet(path)
            .join(probe, ["band_idx", "band_bucket", "band_hash"])
            .groupBy("probe_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
            .collect()
        )

    def max_files_per_dir():
        worst = 0
        for root, _, fs in os.walk(path):
            n = sum(1 for f in fs if f.endswith(".parquet"))
            worst = max(worst, n)
        return worst

    before = candidates()
    assert max_files_per_dir() >= 3, "fixture failed to fragment dirs"
    stats = compact_partitioned_index(
        spark, path, ["band_idx", "band_bucket"], n_write_tasks=8
    )
    assert stats["files_after"] < stats["files_before"]
    assert max_files_per_dir() == 1
    assert candidates() == before, "compaction changed probe results"

    # (c) streaming layout: batch_id levels seal to -1
    path2 = str(tmp_path / "band_index_batched")
    for bid in (0, 1, 2):
        minhash_band_index(
            d.filter(F.col("doc_id") % 6 == 2 * bid), "doc_id", **kw
        ).withColumn("batch_id", F.lit(bid)).repartition(
            8, F.col("band_idx"), F.col("band_bucket")
        ).write.mode("append").partitionBy(
            "band_idx", "band_bucket", "batch_id"
        ).parquet(path2)
    n_rows = spark.read.parquet(path2).count()
    compact_partitioned_index(
        spark, path2, ["band_idx", "band_bucket"], n_write_tasks=8
    )
    sealed = spark.read.parquet(path2)
    assert sealed.count() == n_rows
    assert sealed.select("batch_id").distinct().collect()[0][0] == -1
    # a post-compaction idempotent append still composes
    minhash_band_index(
        d.filter(F.col("doc_id") % 6 == 1), "doc_id", **kw
    ).withColumn("batch_id", F.lit(7)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("band_idx", "band_bucket", "batch_id").parquet(path2)
    assert spark.read.parquet(path2).filter(
        F.col("batch_id") < F.lit(7)
    ).count() == n_rows


def test_ivf_stored_compact_one_file_per_cell(spark):
    """vec_ivf_stored_compact: after build+append (2 files per cell
    dir) the compaction leaves exactly ONE file per cell dir, the
    probe still pushes the cell IN-set as PartitionFilters, and the
    result row count is unchanged (the oracle already proves value
    invariance)."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["vec_ivf_stored_compact"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "cell_id" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert df.count() > 0

    root = os.path.join(_SCRATCH, "ivf_cell_index_compact")
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for cell_dir in os.listdir(os.path.join(root, "data")):
        cp = os.path.join(root, "data", cell_dir)
        if not os.path.isdir(cp):
            continue
        files = [f for f in os.listdir(cp) if f.endswith(".parquet")]
        assert len(files) == 1, f"{cell_dir}: {len(files)} files"


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_srp_stored_lifecycle_prunes_and_compacts(spark):
    """vec_srp_stored_lifecycle: (a) the phase-1 tuned-prefix probe
    reaches the stored scan as PartitionFilters on band_idx (the
    band-partitioned layout turns ann_srp_tune's band-count knob into
    file pruning); (b) after write + 2 appends + compaction every band
    dir holds exactly ONE file; (c) both phases return rows (value
    invariance is the registered exact-hash oracle's job)."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["vec_srp_stored_lifecycle"].fn(spark, SF)
    rows = df.collect()  # executes the full lifecycle incl. compaction
    phases = {r["phase"] for r in rows}
    assert phases == {1, 2}, phases

    # The phase-1 probe's executed plan must prune on band_idx. The
    # returned union re-reads the post-compaction index, so re-derive
    # the phase-1 scan shape directly from the stored path.
    from pyspark.sql import functions as F

    from process_spark.queries.vectors import _SRP_STORED_PROBE_BANDS

    root = os.path.join(_SCRATCH, "srp_band_index")
    pruned = spark.read.parquet(os.path.join(root, "data")).filter(
        F.col("band_idx") < _SRP_STORED_PROBE_BANDS
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "band_idx" in plan.split("PartitionFilters")[1].split("]")[0], plan

    # one file per band dir after compaction
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for band_dir in os.listdir(os.path.join(root, "data")):
        bp = os.path.join(root, "data", band_dir)
        if not os.path.isdir(bp):
            continue
        files = [f for f in os.listdir(bp) if f.endswith(".parquet")]
        assert len(files) == 1, f"{band_dir}: {len(files)} files"


def test_simhash_stored_index_prunes(spark):
    """dedup_simhash_index_probe: the probe's bucket IN-set must reach
    the stored scan as PartitionFilters (history is a point lookup,
    never a full scan), and each (band_idx, band_bucket) dir holds
    exactly one file (the one-file-per-dir write discipline)."""
    import os

    from process_spark.operators.indexlife import stored_index_audit
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["dedup_simhash_index_probe"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "band_bucket" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert df.count() > 0

    root = os.path.join(_SCRATCH, "simhash_band_index")
    assert stored_index_audit(spark, root).collect()[0]["consistent"]
    for band_dir in os.listdir(os.path.join(root, "data")):
        bp = os.path.join(root, "data", band_dir)
        if not os.path.isdir(bp):
            continue
        for bucket_dir in os.listdir(bp):
            bk = os.path.join(bp, bucket_dir)
            if not os.path.isdir(bk):
                continue
            files = [f for f in os.listdir(bk) if f.endswith(".parquet")]
            assert len(files) == 1, f"{band_dir}/{bucket_dir}: {len(files)}"


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_postings_stored_lifecycle_prunes_and_compacts(spark):
    """text_postings_stored_lifecycle: (a) the stored-probe scan prunes
    on term_bucket (the query terms' bucket IN-set reaches the parquet
    scan as PartitionFilters); (b) after the overwrite + 2 appends and
    the compaction every term_bucket dir holds exactly ONE file; (c)
    both phases return rows (score parity with in-memory BM25 is the
    registered exact-hash oracle's job)."""
    import os

    from pyspark.sql import functions as F

    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY["text_postings_stored_lifecycle"].fn(spark, SF)
    rows = df.collect()  # executes the full lifecycle incl. compaction
    phases = {r["phase"] for r in rows}
    assert phases == {1, 2}, phases

    root = os.path.join(_SCRATCH, "postings_index_lifecycle", "data")
    pruned = spark.read.parquet(root).filter(
        F.col("term_bucket").isin([0, 3, 7])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "term_bucket" in plan.split("PartitionFilters")[1].split("]")[0], plan

    for bucket_dir in os.listdir(root):
        bp = os.path.join(root, bucket_dir)
        if not os.path.isdir(bp):
            continue
        files = [f for f in os.listdir(bp) if f.endswith(".parquet")]
        assert len(files) == 1, f"{bucket_dir}: {len(files)} files"


@pytest.mark.parametrize(
    "name",
    [
        "vec_hybrid_rrf",
        "vec_hybrid_rrf_ann",
        "vec_hybrid_rrf_ann_fixedq",
        "retrieval_e2e_stored",
        "retrieval_e2e_stored_fixedq",
    ],
)
def test_pinned_composite_tail_consumes_checkpointed_channels(spark, name):
    """The checkpoint-pinned retrieval composites (the r13 channel
    overlap): the registered DataFrame's physical plan must consume the
    eagerly pinned per-channel top-k relations (Scan ExistingRDD) and
    must NOT re-execute a channel subtree — no tokenize
    (``split(lower(``) and no documents-table scan may appear in the
    fuse/MMR tail. This closes the r13 plan-lint blind spot: the
    channels' broadcast hints and plans moved behind the lineage cut,
    invisible to the analyzed-plan lint, so this test pins the cut
    itself on the executed plan (the 1,586-line re-executed-subtree
    tail this guards against is plans/r13/retrieval_e2e_stored's
    before capture)."""
    from process_spark.queries.registry import REGISTRY

    df = REGISTRY[name].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    assert "split(lower(" not in plan, (
        "channel tokenize re-executed in the fuse/MMR tail"
    )
    assert "documents" not in plan, "tail re-scans the documents table"
