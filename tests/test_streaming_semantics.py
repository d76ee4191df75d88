"""Value-pinned semantics for the rows-only streaming operators
(SURVEY.md §2.13 O91-O93, O95).

These queries have no cross-engine SQL twin (emission timing and batch
boundaries are engine-specific), so the driver only row-counts them.
Locally we can still pin the *final* state against the batch
computation: after an availableNow drain, running aggregates must have
reached exactly the batch totals, and dedup must have produced a
key-unique result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from process_spark.queries import REGISTRY
from process_spark.queries._util import t

SF = "/root/testdata/sf0.001"


def _batch_events(spark):
    return t(spark, SF, "events")


def test_stream_dedup_watermark_key_unique(spark):
    out = REGISTRY["stream_dedup_watermark"].fn(spark, SF)
    n = out.count()
    n_distinct = out.select("event_id").distinct().count()
    assert n == n_distinct, "dedup emitted a duplicate event_id"
    # events.event_id is unique in the testdata, so exactly-once
    # delivery means every event survives.
    assert n == _batch_events(spark).count()


@pytest.mark.parametrize(
    "name", ["stream_stateful_user_stats", "stream_transform_with_state"]
)
def test_stateful_running_stats_reach_batch_totals(spark, name):
    out = REGISTRY[name].fn(spark, SF)
    # update-mode emissions: one row per (user, micro-batch touched);
    # the running count per user peaks at the batch total, and the
    # running max never exceeds (and finally equals) the batch max.
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )
    batch = (
        _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
    )
    f_rows = {r["user_id"]: (r["n_events"], r["max_value"]) for r in final.collect()}
    b_rows = {r["user_id"]: (r["n_events"], r["max_value"]) for r in batch.collect()}
    assert f_rows.keys() == b_rows.keys()
    for uid, (n_f, v_f) in f_rows.items():
        n_b, v_b = b_rows[uid]
        assert n_f == n_b, f"user {uid}: running count {n_f} != batch {n_b}"
        assert v_f == pytest.approx(v_b), f"user {uid}: running max mismatch"


def test_foreach_batch_export_totals_match_batch(spark):
    out = REGISTRY["stream_foreach_batch_export"].fn(spark, SF)
    per_type = {
        r["event_type"]: (r["n"], r["sum_value"])
        for r in out.groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
        .collect()
    }
    batch = {
        r["event_type"]: (r["n"], r["sum_value"])
        for r in _batch_events(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert per_type.keys() == batch.keys()
    for et, (n_s, v_s) in per_type.items():
        n_b, v_b = batch[et]
        assert n_s == n_b, f"{et}: exported count {n_s} != batch {n_b}"
        # cross-batch double re-sum: tolerance, not bit equality
        assert v_s == pytest.approx(v_b, abs=1e-6)


def _write_micro_batches(tmpdir):
    """Three parquet files with strictly increasing mtimes — the file
    source (maxFilesPerTrigger=1) turns each into its own micro-batch,
    in this order."""
    import os
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    def ts(h, m):
        return dt.datetime(2024, 3, 1, h, m)

    batches = [
        # batch 1: two on-time events + the dedup-eviction target (100)
        [(1, ts(10, 0), 1.0), (2, ts(10, 20), 2.0), (100, ts(10, 0), 9.0)],
        # batch 2: jump ahead → watermark 11:50 after this batch
        [(3, ts(12, 0), 3.0)],
        # batch 3: jump again → watermark 13:50 after this batch. The
        # late-row filter applies the PREVIOUS batch's watermark, so
        # this extra advancing batch guarantees the filter watermark in
        # batch 4 (13:50) is far past the 10:00 window regardless of
        # that one-batch lag.
        [(6, ts(14, 0), 6.0)],
        # batch 4: a LATE row (window [10:00,11:00) end ≪ filter
        # watermark → dropped), the re-shipped id 100 (dedup state
        # evicted → emitted AGAIN), one normal row
        [(4, ts(10, 5), 4.0), (100, ts(14, 10), 9.0), (5, ts(14, 20), 5.0)],
    ]
    os.makedirs(tmpdir, exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(tmpdir, f"batch_{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            path,
        )
        os.utime(path, (base + i * 100, base + i * 100))


def _drain_incremental(spark, make_sink_df, name):
    """Run a file-source stream 1-file-per-trigger under availableNow
    and return (memory table, non-empty micro-batch count)."""
    import os
    import shutil

    tmpdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"micro_batches_{name}",
    )
    shutil.rmtree(tmpdir, ignore_errors=True)
    _write_micro_batches(tmpdir)
    src = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdir)
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            make_sink_df(src)
            .writeStream.format("memory")
            .queryName(f"__inc_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        n_state_removed = sum(
            so.get("numRowsRemoved", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(f"__inc_{name}"), n_batches, n_state_removed


def test_watermark_drops_late_rows_mid_stream(spark):
    """O88/O91 incremental evidence: with the events split across THREE
    real micro-batch triggers, the watermark advances BETWEEN batches,
    so a row arriving in batch 3 behind the batch-2 watermark must be
    dropped mid-stream — something a single-shot availableNow replay
    (watermark still at its initial value) cannot exercise."""

    def agg(src):
        return (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )

    out, n_batches, n_removed = _drain_incremental(spark, agg, "agg")
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    # closed windows left the state store mid-stream, not just at the end
    assert n_removed > 0, "no aggregation state was ever evicted"
    rows = {r["window_start"].hour: r["n"] for r in out.collect()}
    # [10:00, 11:00) closed mid-stream and was emitted with ONLY the
    # on-time rows (ids 1, 2, 100) — the late batch-4 row (10:05, far
    # behind the 13:50 filter watermark) never reached the aggregate.
    assert rows.get(10) == 3, f"late row leaked into a closed window: {rows}"
    # [12:00, 13:00) closed by the final watermark (14:10) → emitted;
    # [14:00, 15:00) is still open at termination — append mode must
    # NOT have emitted it.
    assert rows.get(12) == 1, f"closed window missing: {rows}"
    assert 14 not in rows, f"open window emitted early: {rows}"


def test_dedup_state_evicted_by_watermark_mid_stream(spark):
    """O92 incremental evidence: dedup state for event_id 100 (first
    seen 10:00, delay 10m → expires 10:10) is evicted once the
    advancing watermark passes its expiry; the batch-4 re-arrival with
    a fresh timestamp is then emitted AGAIN. A one-shot replay keeps
    the id in state and emits it once — so two emissions (plus nonzero
    numRowsRemoved in the state metrics) prove mid-stream eviction.
    The late row (id 4) must be dropped before the operator sees it."""

    def dedup(src):
        # dropDuplicatesWithinWatermark, same operator as the product
        # queries: plain dropDuplicates(["event_id"]) with a watermark
        # NEVER evicts (state metrics: numRowsRemoved=0 every batch,
        # monotone growth — the motivating measurement for this test).
        return src.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )

    out, n_batches, n_removed = _drain_incremental(spark, dedup, "dedup")
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    assert n_removed > 0, "no dedup state was ever evicted"
    rows = out.collect()
    by_id = {}
    for r in rows:
        by_id[r["event_id"]] = by_id.get(r["event_id"], 0) + 1
    assert by_id.get(100) == 2, f"state not evicted mid-stream: {by_id}"
    assert 4 not in by_id, f"late row leaked past the watermark: {by_id}"
    assert by_id.get(1) == by_id.get(2) == by_id.get(3) == by_id.get(5) == 1
    assert by_id.get(6) == 1


def test_group_state_event_time_timeout_eviction(spark):
    """O93 timeout surface: applyInPandasWithState with
    EventTimeTimeout must invoke the handler with hasTimedOut=True for
    a key whose timeout timestamp fell behind the advancing watermark
    — the mechanism that lets 100 TB per-key state expire itself.
    Keys are the event hour, so the hour-10 key stops receiving data
    after batch 1 and must be evicted mid-stream; the hour-14 key is
    fresh at termination and must NOT be."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame(
                {"hour": [key[0]], "n_events": [n], "evicted": [True]}
            )
            return
        n = state.get[0] if state.exists else 0
        last_ts = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                m = pdf["ts"].max()
                last_ts = m if last_ts is None else max(last_ts, m)
        state.update((n,))
        if last_ts is not None:
            # expire 30 min after this key's newest event
            state.setTimeoutTimestamp(
                int(last_ts.timestamp() * 1000) + 30 * 60 * 1000
            )
        yield pd.DataFrame(
            {"hour": [key[0]], "n_events": [n], "evicted": [False]}
        )

    def stateful(src):
        return (
            src.withColumn("hour", F.hour("ts"))
            .withWatermark("ts", "10 minutes")
            .groupBy("hour")
            .applyInPandasWithState(
                update,
                outputStructType="hour int, n_events long, evicted boolean",
                stateStructType="n long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    out, n_batches, _ = _drain_incremental(spark, stateful, "timeout")
    assert n_batches >= 4
    rows = out.collect()
    evicted = {r["hour"] for r in rows if r["evicted"]}
    # hour 10 (last event 10:20, timeout 10:50) fell behind the
    # advancing watermark (11:50 → 13:50 → 14:10) → evicted; hour 14's
    # timeout (14:50) never passed → alive at termination.
    assert 10 in evicted, f"hour-10 state never timed out: {rows}"
    assert 14 not in evicted, f"fresh key evicted early: {rows}"
    # the eviction emission carried the full per-key count
    ev10 = [r for r in rows if r["evicted"] and r["hour"] == 10]
    assert ev10[0]["n_events"] == 3


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_stream_dedup_index_batch2_sees_batch1(spark):
    """The incremental-dedup stream: batch 2's probe must find
    candidates from batch 1 (appended mid-stream), not just the
    pre-stream historical index — the property that makes continuous
    ingestion dedup-complete. Stream batches are doc_id%4==1 (file 1)
    and doc_id%4==3 (file 2); a pair between those two populations can
    ONLY be found via the appended index."""
    df = REGISTRY["stream_dedup_index_probe"].fn(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    assert rows, "no candidate pairs at all"

    def pop(doc_id):
        return doc_id % 4 if doc_id % 2 == 1 else 0  # 0=hist, 1/3=stream file

    cross_stream = [
        r for r in rows if {pop(r["id_a"]), pop(r["id_b"])} == {1, 3}
    ]
    assert cross_stream, (
        "no cross-micro-batch candidate pairs — the appended index was "
        "not visible to the later batch"
    )
    vs_hist = [r for r in rows if 0 in {pop(r["id_a"]), pop(r["id_b"])}]
    assert vs_hist, "no stream-vs-history candidates"


def test_incremental_dedup_sink_hot_bucket_guard(spark, tmp_path):
    """A hostile (boilerplate) batch through incremental_dedup_sink
    with the guard: over-cap buckets are cut from both joins (no
    quadratic pair burst), but the batch's bands are STILL appended —
    history stays complete for future probes."""
    import os

    from process_spark.operators.dedup import minhash_band_index

    kw = dict(num_hashes=16, bands=4, base_hash="xxhash64",
              band_key="hash", n_buckets=8)
    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(i, f"unique document number {i} with words {i * 7}") for i in range(6)],
        "doc_id long, text string",
    )
    minhash_band_index(hist, "doc_id", "text", **kw).withColumn(
        "batch_id", F.lit(-1)
    ).repartition(8, F.col("band_idx"), F.col("band_bucket")).write.mode(
        "overwrite"
    ).partitionBy("band_idx", "band_bucket", "batch_id").parquet(idx_dir)

    # hostile batch: 10 identical docs -> every bucket size 10 > cap 3
    batch = spark.createDataFrame(
        [(100 + i, "same boilerplate text in every doc") for i in range(10)],
        "doc_id long, text string",
    )
    from process_spark.queries.streaming import incremental_dedup_sink

    sink = incremental_dedup_sink(idx_dir, out_dir, kw, max_bucket_size=3)
    sink(batch, 0)

    # no pair burst — only the all-cut SENTINEL (NULL ids, the
    # cut-bucket census: 10 identical docs -> one hot group per band)
    rows = spark.read.parquet(out_dir).collect()
    assert [
        (r["id_a"], r["id_b"], r["n_shared_bands"], r["n_cut_buckets"])
        for r in rows
    ] == [(None, None, None, kw["bands"])], rows

    # but history accreted: the batch's bands are in the index
    idx = spark.read.parquet(idx_dir)
    assert idx.filter(F.col("doc_id") >= 100).count() == 10 * kw["bands"]

    # and an unguarded well-behaved batch still finds pairs vs history
    batch2 = spark.createDataFrame(
        [(200, "unique document number 3 with words 21")],
        "doc_id long, text string",
    )
    sink2 = incremental_dedup_sink(idx_dir, out_dir, kw, max_bucket_size=3)
    sink2(batch2, 1)
    pairs = spark.read.parquet(out_dir)
    assert pairs.filter(
        (F.col("id_a") == 3) & (F.col("id_b") == 200)
    ).count() == 1


def test_incremental_dedup_sink_replay_after_compaction(spark, tmp_path):
    """The crash-ordering hazard: batch B appended its bands, the
    stream died before the checkpoint commit, COMPACTION sealed B's
    rows into batch_id = -1, then B replays. The naive
    batch_id < current probe would now match B against its own sealed
    bands (self/doubled pairs) and the append would duplicate B's
    index rows permanently. The sink must detect its own sealed docs
    and produce EXACTLY the clean-run pairs and index."""
    import os

    from process_spark.operators.dedup import minhash_band_index
    from process_spark.operators.indexlife import compact_partitioned_index
    from process_spark.queries.streaming import incremental_dedup_sink

    kw = dict(num_hashes=16, bands=4, base_hash="xxhash64",
              band_key="hash", n_buckets=8)
    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(i, f"unique document number {i} with words {i * 7}")
         for i in range(6)],
        "doc_id long, text string",
    )
    minhash_band_index(hist, "doc_id", "text", **kw).withColumn(
        "batch_id", F.lit(-1)
    ).repartition(8, F.col("band_idx"), F.col("band_bucket")).write.mode(
        "overwrite"
    ).partitionBy("band_idx", "band_bucket", "batch_id").parquet(idx_dir)

    # batch 0: one doc near-dupping history doc 3, plus an exact
    # within-batch dup pair (101, 102)
    batch = spark.createDataFrame(
        [(100, "unique document number 3 with words 21"),
         (101, "twin text shared by the batch pair"),
         (102, "twin text shared by the batch pair")],
        "doc_id long, text string",
    )
    sink = incremental_dedup_sink(idx_dir, out_dir, kw)
    sink(batch, 0)
    clean_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    assert clean_pairs, "fixture produced no pairs"
    clean_idx = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(idx_dir).collect()
    )

    # crash-after-append + maintenance: seal EVERYTHING into -1
    compact_partitioned_index(spark, idx_dir, ["band_idx", "band_bucket"])
    sealed = spark.read.parquet(idx_dir)
    assert sealed.filter(F.col("batch_id") != -1).count() == 0

    # replay the same batch under the same batch_id
    sink(batch, 0)
    replay_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    assert replay_pairs == clean_pairs  # no self/doubled pairs
    replay_idx = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(idx_dir).collect()
    )
    assert replay_idx == clean_idx  # no duplicated index rows
    # and nothing re-appended under batch_id = 0
    assert spark.read.parquet(idx_dir).filter(
        F.col("batch_id") == 0
    ).count() == 0


def test_stream_heavy_hitters_merges_across_batches(spark):
    """A token heavy over the WHOLE stream but split so that no single
    micro-batch alone makes it a clear leader must still be reported:
    the per-batch Misra-Gries summaries merge with the mergeable-
    summaries rule, preserving the coverage guarantee across batches.
    Drives the foreachBatch sink directly with hand-built batches (500
    distinct tokens vs capacity 8, the heavy one split 50/50)."""
    from process_spark.operators.sketch import (
        exact_verify,
        mg_merge,
        mg_partition_summaries,
    )

    cap = 8
    state = {"counters": {}, "total": 0}

    def sink(batch_df, batch_id):
        counters, batch_total = mg_partition_summaries(batch_df, "tok", cap)
        state["total"] += batch_total
        for k, c in counters.items():
            state["counters"][k] = state["counters"].get(k, 0) + c
        state["counters"] = mg_merge(state["counters"], cap)

    half = [("heavy",)] * 400
    noise1 = [(f"a{j}",) for j in range(500) for _ in range(2)]
    noise2 = [(f"b{j}",) for j in range(500) for _ in range(2)]
    b1 = spark.createDataFrame(half + noise1, "tok string").repartition(4)
    b2 = spark.createDataFrame(half + noise2, "tok string").repartition(4)
    sink(b1, 0)
    sink(b2, 1)

    total = len(half) * 2 + len(noise1) + len(noise2)
    assert state["total"] == total
    thr = total // cap + 1  # 4800//8+1 = 601
    assert 800 >= thr, "fixture must put 'heavy' above the bar"
    full = spark.createDataFrame(half + half + noise1 + noise2, "tok string")
    out = {
        r["tok"]: r["cnt"]
        for r in exact_verify(
            full, "tok", list(state["counters"]), state["total"], cap
        ).collect()
    }
    assert out == {"heavy": 800}, out


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_stream_heavy_hitters_survives_driver_restart(spark, tmp_path):
    """Durable MG state: run ONE availableNow pass over the first half
    of the corpus, throw the driver-side objects away entirely (the
    state lives only in the parquet state table), stage more files,
    run a SECOND availableNow pass sharing the same checkpoint + state
    dir — the reconstructed state must match the whole-corpus exact
    answer, i.e. the restart lost nothing and the already-consumed
    files are not re-counted."""
    import pyspark.sql.functions as F

    from process_spark.operators.sketch import (
        exact_verify,
        mg_load_state,
    )
    from process_spark.queries.streaming import mg_state_sink

    cap = 8
    base = str(tmp_path)
    src = f"{base}/src"
    ckpt = f"{base}/ckpt"
    state_dir = f"{base}/state"

    half = [(0, "heavy " * 50 + " ".join(f"a{j}" for j in range(300)))]
    spark.createDataFrame(half, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(mg_state_sink(state_dir, cap))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_stream()  # run 1: consumes file 1, persists its summary

    # "driver restart": no python state carried over; stage file 2
    half2 = [(1, "heavy " * 50 + " ".join(f"b{j}" for j in range(300)))]
    spark.createDataFrame(half2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_stream()  # run 2: same checkpoint skips file 1, adds file 2

    counters, total = mg_load_state(spark, state_dir, cap)
    assert total == 100 + 600  # both halves counted exactly once
    assert "heavy" in counters
    from process_spark.functions.textfn import tokens

    full = spark.read.parquet(src).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    out = {
        r["tok"]: r["cnt"]
        for r in exact_verify(
            full, "tok", list(counters), total, cap
        ).collect()
    }
    assert out == {"heavy": 100}, out


def test_mg_save_batch_summary_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: persisting the SAME batch_id
    twice (a mid-batch failure replay) must leave exactly one summary
    — the second write overwrites, never double-counts."""
    from process_spark.operators.sketch import (
        mg_load_state,
        mg_save_batch_summary,
    )

    state_dir = str(tmp_path / "state")
    mg_save_batch_summary(spark, state_dir, 0, {"x": 7}, 10)
    mg_save_batch_summary(spark, state_dir, 0, {"x": 7}, 10)  # replay
    counters, total = mg_load_state(spark, state_dir, 8)
    assert counters == {"x": 7} and total == 10


def test_mg_summaries_batch_split_invariant_guarantee(spark):
    """Property: however the rows are split into partitions/batches,
    the merged MG candidate set still contains every item above the
    total/capacity bar, and exact_verify returns identical rows. Pins
    the vectorized value_counts pass-1 against the mergeable-summaries
    theorem it relies on."""
    from process_spark.operators.sketch import (
        frequent_items,
        mg_merge,
        mg_partition_summaries,
    )

    cap = 4
    rows = (
        [("hot",)] * 300
        + [(f"n{j}",) for j in range(200) for _ in range(2)]
    )
    base = None
    for n_parts in (1, 3, 17):
        df = spark.createDataFrame(rows, "tok string").repartition(n_parts)
        counters, total = mg_partition_summaries(df, "tok", cap)
        assert total == len(rows)
        merged = mg_merge(counters, cap)
        assert len(merged) <= cap
        assert "hot" in merged  # 300 > 700/4 — must survive any split
        out = sorted(
            (r["tok"], r["cnt"], r["threshold"])
            for r in frequent_items(df, "tok", capacity=cap).collect()
        )
        if base is None:
            base = out
        assert out == base, (n_parts, out)


def test_mg_partition_summaries_typed_non_string(spark):
    """ADVICE r7: the summary schema derives from the column's real
    type — a bigint column round-trips as python ints, not coerced
    strings, and exact_verify's IN filter matches."""
    from process_spark.operators.sketch import frequent_items

    rows = [(5,)] * 60 + [(i,) for i in range(100, 140)]
    df = spark.createDataFrame(rows, "k long")
    out = frequent_items(df, "k", capacity=8).collect()
    got = {r["k"]: r["cnt"] for r in out}
    assert got == {5: 60}
    assert all(isinstance(r["k"], int) for r in out)


def test_incremental_dedup_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the SAME micro-batch
    (a mid-batch failure) must leave pairs AND the stored band index
    exactly as a single delivery would — dynamic partition overwrite
    keyed on batch_id rewrites instead of appending, so
    n_shared_bands cannot double and future probes see each band
    once."""
    import os

    from process_spark.operators.dedup import minhash_band_index
    from process_spark.queries.streaming import incremental_dedup_sink

    kw = dict(num_hashes=16, bands=4, base_hash="xxhash64",
              band_key="hash", n_buckets=8)
    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(i, f"unique document number {i} with words {i * 7}")
         for i in range(6)],
        "doc_id long, text string",
    )
    minhash_band_index(hist, "doc_id", "text", **kw).withColumn(
        "batch_id", F.lit(-1)
    ).repartition(8, F.col("band_idx"), F.col("band_bucket")).write.mode(
        "overwrite"
    ).partitionBy("band_idx", "band_bucket", "batch_id").parquet(idx_dir)

    batch = spark.createDataFrame(
        [(200, "unique document number 3 with words 21"),
         (201, "unique document number 4 with words 28")],
        "doc_id long, text string",
    )
    sink = incremental_dedup_sink(idx_dir, out_dir, kw)
    sink(batch, 0)
    once_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).collect()
    )
    once_idx = spark.read.parquet(idx_dir).count()
    assert any(a == 3 and b == 200 for a, b, _ in once_pairs)

    sink(batch, 0)  # REPLAY of the same batch_id
    again_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).collect()
    )
    again_idx = spark.read.parquet(idx_dir).count()
    assert again_pairs == once_pairs, "replay duplicated pair rows"
    assert again_idx == once_idx, "replay inflated the stored index"

    # and a LATER batch still probes the post-replay index correctly
    batch2 = spark.createDataFrame(
        [(300, "unique document number 3 with words 21")],
        "doc_id long, text string",
    )
    sink(batch2, 1)
    hits = spark.read.parquet(out_dir).filter(
        (F.col("id_b") == 300) & F.col("id_a").isin(3, 200)
    )
    bands_seen = {
        (r["id_a"], r["n_shared_bands"]) for r in hits.collect()
    }
    # doc 300 matches both doc 3 (history) and doc 200 (batch 0) on
    # ALL bands exactly once — no double-counted n_shared_bands
    assert bands_seen == {(3, kw["bands"]), (200, kw["bands"])}, bands_seen


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_incremental_vector_sink_replay_idempotent(spark, tmp_path):
    """The vector sink twin of the text replay guarantee: driving the
    same micro-batch twice under the same batch_id (foreachBatch is
    at-least-once) must leave pairs AND index byte-identical — dynamic
    partition overwrite on batch_id, probe strictly earlier batches.
    Also pins the probe's scale shape: the batch's cell IN-set reaches
    the stored index scan as PartitionFilters."""
    from process_spark.operators.similarity import ivf_build
    from process_spark.queries.streaming import incremental_vector_sink

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    # history: 3 well-separated 2-d anchors + near-dups of anchor 0
    hist = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.7071, 0.7071]),
         (6, [1.0, 0.0001])],
        "vec_id long, embedding array<float>",
    )
    cells, assign_h = ivf_build(hist, n_cells=2, seed_hash="md5")
    assign_h.withColumn("batch_id", F.lit(-1)).repartition(
        2, F.col("cell_id")
    ).write.mode("overwrite").partitionBy("cell_id", "batch_id").parquet(
        idx_dir
    )

    # batch 0: one near-dup of history anchor 0 + a within-batch twin
    batch = spark.createDataFrame(
        [(101, [1.0, 0.0002]), (103, [1.0, 0.00021]), (105, [0.0, 0.9999])],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_vector_sink(idx_dir, out_dir, cells, threshold=0.999)
    sink(batch, 0)

    pairs1 = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    )
    # within-batch twin found, history near-dups found via the probe
    assert (101, 103) in pairs1
    assert (0, 101) in pairs1 and (6, 101) in pairs1
    idx1 = sorted(
        (r["vec_id"], r["cell_id"], r["batch_id"])
        for r in spark.read.parquet(idx_dir).collect()
    )

    # replay the SAME batch under the SAME batch_id
    sink(batch, 0)
    pairs2 = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    )
    idx2 = sorted(
        (r["vec_id"], r["cell_id"], r["batch_id"])
        for r in spark.read.parquet(idx_dir).collect()
    )
    assert pairs2 == pairs1  # no duplicated / doubled pairs
    assert idx2 == idx1      # no inflated index

    # a second batch probes history INCLUDING batch 0's append
    batch2 = spark.createDataFrame(
        [(201, [1.0, 0.00022])], "vec_id long, embedding array<float>"
    )
    sink(batch2, 1)
    pairs3 = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    }
    assert (101, 201) in pairs3 and (103, 201) in pairs3

    # scale shape: the probe's cell IN-set prunes the stored scan
    pruned = spark.read.parquet(idx_dir).filter(
        (F.col("batch_id") < F.lit(1)) & F.col("cell_id").isin([0])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell_id" in pf and "batch_id" in pf, pf


def test_mg_state_compaction_preserves_state(spark, tmp_path):
    """mg_compact_state folds N per-batch summary dirs into one sealed
    batch_id=-1 row: file count collapses, and the reloaded state
    (counters + total) is IDENTICAL before and after — sealing is the
    exact pointwise-sum + bounding merge reload performs. Post-seal
    batches keep accreting and merge with the sealed row. Grouped twin
    checked the same way."""
    from process_spark.operators.sketch import (
        mg_compact_state,
        mg_compact_state_by_group,
        mg_load_state,
        mg_load_state_by_group,
        mg_save_batch_summary,
        mg_save_batch_summary_by_group,
    )

    cap = 4
    sd = str(tmp_path / "mg")
    # 5 micro-batch summaries: 'heavy' split across batches
    for b in range(5):
        mg_save_batch_summary(
            spark, sd, b, {"heavy": 10, f"noise{b}": 3}, 13
        )
    before = mg_load_state(spark, sd, cap)
    stats = mg_compact_state(spark, sd, cap)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1
    assert mg_load_state(spark, sd, cap) == before
    # resume: a post-seal batch merges with the sealed row
    mg_save_batch_summary(spark, sd, 5, {"heavy": 7}, 7)
    counters, total = mg_load_state(spark, sd, cap)
    assert total == 5 * 13 + 7
    assert counters.get("heavy", 0) >= before[0].get("heavy", 0) + 7 - 13

    sdg = str(tmp_path / "mgg")
    for b in range(4):
        mg_save_batch_summary_by_group(
            spark, sdg, b,
            {"en": {"heavy": 5, f"n{b}": 1}, "de": {"schwer": 4}},
            {"en": 6, "de": 4},
        )
    before_g = mg_load_state_by_group(spark, sdg, cap)
    stats_g = mg_compact_state_by_group(spark, sdg, cap)
    assert stats_g["files_after"] < stats_g["files_before"]
    assert mg_load_state_by_group(spark, sdg, cap) == before_g


def test_mg_state_replay_after_compaction(spark, tmp_path):
    """The MG twin of test_incremental_dedup_sink_replay_after_
    compaction: crash mid-batch → compact (batch's summary sealed into
    batch_id=-1) → restart replays the batch. Without the
    sealed_through watermark the replayed save would write a second
    copy of counts already inside the sealed row and every later
    reload would double-count them forever. With it: the save is a
    no-op, reload is unchanged, and post-watermark batches still
    accrete normally. Grouped twin checked the same way, plus the
    loader-side defense (a stale ≤-watermark row already on disk is
    skipped at load)."""
    from process_spark.operators.sketch import (
        _mg_read_watermark,
        mg_compact_state,
        mg_compact_state_by_group,
        mg_load_state,
        mg_load_state_by_group,
        mg_save_batch_summary,
        mg_save_batch_summary_by_group,
    )

    cap = 4
    sd = str(tmp_path / "mg")
    for b in range(3):
        mg_save_batch_summary(spark, sd, b, {"heavy": 10, f"n{b}": 2}, 12)
    mg_compact_state(spark, sd, cap)
    assert _mg_read_watermark(spark, sd) == 2
    sealed = mg_load_state(spark, sd, cap)
    # restart replays batch 2 (already folded into the sealed row)
    mg_save_batch_summary(spark, sd, 2, {"heavy": 10, "n2": 2}, 12)
    assert mg_load_state(spark, sd, cap) == sealed  # no double-count
    # loader-side defense: a stale row written around the save guard
    # (pre-guard deployments) is skipped at load too
    spark.createDataFrame(
        [(["heavy"], [10], 12)],
        "items array<string>, counts array<long>, batch_total long",
    ).coalesce(1).write.mode("overwrite").parquet(sd + "/batch_id=1")
    assert mg_load_state(spark, sd, cap) == sealed
    # post-watermark batches accrete normally
    mg_save_batch_summary(spark, sd, 3, {"heavy": 7}, 7)
    counters, total = mg_load_state(spark, sd, cap)
    assert total == 3 * 12 + 7
    # a second compaction advances the watermark past the new batch
    mg_compact_state(spark, sd, cap)
    assert _mg_read_watermark(spark, sd) == 3
    mg_save_batch_summary(spark, sd, 3, {"heavy": 7}, 7)  # replay again
    assert mg_load_state(spark, sd, cap) == (counters, total)

    sdg = str(tmp_path / "mgg")
    for b in range(3):
        mg_save_batch_summary_by_group(
            spark, sdg, b, {"en": {"heavy": 5}}, {"en": 6}
        )
    mg_compact_state_by_group(spark, sdg, cap)
    sealed_g = mg_load_state_by_group(spark, sdg, cap)
    mg_save_batch_summary_by_group(
        spark, sdg, 2, {"en": {"heavy": 5}}, {"en": 6}
    )
    assert mg_load_state_by_group(spark, sdg, cap) == sealed_g


def test_mg_load_state_bogus_scheme_raises(spark):
    """A mistyped/unresolvable filesystem scheme must RAISE, not
    degrade to empty state: silently returning ({}, 0) would zero a
    deployment's counters — the exact outcome the half-swap detector
    exists to prevent (the r10 ADVICE narrow-the-swallow item)."""
    import pytest

    from process_spark.operators.sketch import mg_load_state

    with pytest.raises(Exception) as ei:
        mg_load_state(spark, "bogus-scheme://host/mg_state", 4)
    assert "bogus-scheme" in str(ei.value)


def test_incremental_vector_sink_hot_cell_guard(spark, tmp_path):
    """A hostile (boilerplate-embedding) batch through
    incremental_vector_sink with the guard: the over-cap cell is cut
    from both joins (no quadratic pair burst), but the batch's vectors
    are STILL appended — history stays complete for future probes.
    The text sink's max_bucket_size contract, cell-shaped."""
    from process_spark.operators.similarity import ivf_build
    from process_spark.queries.streaming import incremental_vector_sink

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.7071, 0.7071])],
        "vec_id long, embedding array<float>",
    )
    cells, assign_h = ivf_build(hist, n_cells=2, seed_hash="md5")
    assign_h.withColumn("batch_id", F.lit(-1)).repartition(
        2, F.col("cell_id")
    ).write.mode("overwrite").partitionBy("cell_id", "batch_id").parquet(
        idx_dir
    )

    # hostile batch: 10 near-identical template vectors -> one cell
    batch = spark.createDataFrame(
        [(100 + i, [1.0, 0.0001 * i]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_vector_sink(
        idx_dir, out_dir, cells, threshold=0.999, max_block_size=3
    )
    sink(batch, 0)

    import os

    # the only output row is the all-skipped SENTINEL (NULL ids, the
    # cut-cell census) — no quadratic pairs, no silent truncation
    rows = spark.read.parquet(out_dir).collect()
    assert [(r["id_a"], r["id_b"], r["n_cut_cells"]) for r in rows] == [
        (None, None, 1)
    ], rows

    # but history accreted: every batch vector is in the index
    idx = spark.read.parquet(idx_dir)
    assert idx.filter(F.col("vec_id") >= 100).count() == 10

    # a well-behaved later batch still finds pairs vs that history
    batch2 = spark.createDataFrame(
        [(200, [1.0, 0.00015])], "vec_id long, embedding array<float>"
    )
    sink2 = incremental_vector_sink(
        idx_dir, out_dir, cells, threshold=0.999, max_block_size=3
    )
    sink2(batch2, 1)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    }
    assert (100, 200) in pairs and (0, 200) in pairs


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_incremental_srp_sink_hot_bucket_guard(spark, tmp_path):
    """A hostile (boilerplate-embedding) batch through
    incremental_srp_sink with the guard: near-identical vectors share
    every band bucket, so every bucket blows past the cap and is cut
    from both joins (no O(|batch|²)-per-band pair burst) — but the
    batch's band rows are STILL appended, so history stays complete
    and a later well-behaved batch finds its near-dups."""
    import os

    from process_spark.queries.streaming import incremental_srp_sink
    from process_spark.queries.vectors import _ann_banded

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(2 * i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)])
         for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    _ann_banded(hist).withColumn("batch_id", F.lit(-1)).repartition(
        8, F.col("band_idx")
    ).write.mode("overwrite").partitionBy("band_idx", "batch_id").parquet(
        idx_dir
    )

    # hostile batch: 10 near-identical vectors -> same bucket everywhere
    base = [1.0] * 64
    batch = spark.createDataFrame(
        [(100 + i, [x + 0.0001 * i for x in base]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_srp_sink(idx_dir, out_dir, max_bucket_size=3)
    sink(batch, 0)

    # no pair burst — only the all-cut SENTINEL (near-identical
    # vectors share one hot bucket in every one of the 112 bands)
    rows = spark.read.parquet(out_dir).collect()
    assert [
        (r["id_a"], r["id_b"], r["n_shared_bands"], r["n_cut_buckets"])
        for r in rows
    ] == [(None, None, None, 112)], rows

    # but history accreted: all 10 vectors' bands are in the index
    idx = spark.read.parquet(idx_dir)
    assert idx.filter(F.col("vec_id") >= 100).count() == 10 * 112

    # a later single-vector batch (bucket size 1 <= cap) probes that
    # history and finds the boilerplate cluster
    batch2 = spark.createDataFrame(
        [(200, [x + 0.00015 for x in base])],
        "vec_id long, embedding array<float>",
    )
    sink2 = incremental_srp_sink(idx_dir, out_dir, max_bucket_size=3)
    sink2(batch2, 1)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    }
    assert (100, 200) in pairs


def test_incremental_vector_sink_replay_after_compaction(spark, tmp_path):
    """The vector twin of the text sink's crash-ordering defense:
    batch B appended its cell-coded vectors, the stream died before
    the checkpoint commit, COMPACTION sealed B's rows into
    batch_id = -1, then B replays. The naive batch_id < current probe
    would match B against its own sealed vectors (self/doubled pairs)
    and the append would duplicate B's index rows permanently. The
    sink must detect its own sealed vec_ids and produce EXACTLY the
    clean-run pairs and index."""
    from process_spark.operators.indexlife import compact_partitioned_index
    from process_spark.operators.similarity import ivf_build
    from process_spark.queries.streaming import incremental_vector_sink

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.7071, 0.7071]),
         (6, [1.0, 0.0001])],
        "vec_id long, embedding array<float>",
    )
    cells, assign_h = ivf_build(hist, n_cells=2, seed_hash="md5")
    assign_h.withColumn("batch_id", F.lit(-1)).repartition(
        2, F.col("cell_id")
    ).write.mode("overwrite").partitionBy("cell_id", "batch_id").parquet(
        idx_dir
    )

    # batch 0: near-dups of history anchor 0 + a within-batch twin
    batch = spark.createDataFrame(
        [(101, [1.0, 0.0002]), (103, [1.0, 0.00021]), (105, [0.0, 0.9999])],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_vector_sink(idx_dir, out_dir, cells, threshold=0.999)
    sink(batch, 0)
    clean_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    )
    assert (101, 103) in clean_pairs and (0, 101) in clean_pairs
    clean_idx = sorted(
        (r["vec_id"], r["cell_id"])
        for r in spark.read.parquet(idx_dir).collect()
    )

    # crash-after-append + maintenance: seal EVERYTHING into -1
    compact_partitioned_index(spark, idx_dir, ["cell_id"])
    sealed = spark.read.parquet(idx_dir)
    assert sealed.filter(F.col("batch_id") != -1).count() == 0

    # replay the same batch under the same batch_id
    sink(batch, 0)
    replay_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()
    )
    assert replay_pairs == clean_pairs  # no self/doubled pairs
    replay_idx = sorted(
        (r["vec_id"], r["cell_id"])
        for r in spark.read.parquet(idx_dir).collect()
    )
    assert replay_idx == clean_idx  # no duplicated index rows
    assert spark.read.parquet(idx_dir).filter(
        F.col("batch_id") == 0
    ).count() == 0


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_incremental_srp_sink_replay_after_compaction(spark, tmp_path):
    """The SRP twin of the crash-ordering defense: crash-after-append,
    compaction seals the orphaned batch into batch_id = -1, the batch
    replays. Sealed-own detection must keep the pairs (including their
    shared-band COUNTS — a doubled match would inflate
    n_shared_bands, not just duplicate rows) and the index exactly at
    the clean-run state."""
    from process_spark.operators.indexlife import compact_partitioned_index
    from process_spark.queries.streaming import incremental_srp_sink
    from process_spark.queries.vectors import _ann_banded

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")

    hist = spark.createDataFrame(
        [(2 * i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)])
         for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    _ann_banded(hist).withColumn("batch_id", F.lit(-1)).repartition(
        8, F.col("band_idx")
    ).write.mode("overwrite").partitionBy("band_idx", "batch_id").parquet(
        idx_dir
    )

    # batch 0: a twin of history vec 0 plus a within-batch twin pair
    v0 = [float((0 * 7 + j) % 13) - 6.0 for j in range(64)]
    batch = spark.createDataFrame(
        [(101, [x + 0.0001 for x in v0]),
         (103, [1.0] * 64), (105, [1.0 + 0.0001] * 64)],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_srp_sink(idx_dir, out_dir)
    sink(batch, 0)
    clean_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    assert any(p[:2] == (0, 101) for p in clean_pairs)
    assert any(p[:2] == (103, 105) for p in clean_pairs)
    clean_idx = sorted(
        (r["vec_id"], r["band_idx"], r["bucket"])
        for r in spark.read.parquet(idx_dir).collect()
    )

    compact_partitioned_index(spark, idx_dir, ["band_idx"])
    sealed = spark.read.parquet(idx_dir)
    assert sealed.filter(F.col("batch_id") != -1).count() == 0

    sink(batch, 0)
    replay_pairs = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    assert replay_pairs == clean_pairs  # counts intact, no self-pairs
    replay_idx = sorted(
        (r["vec_id"], r["band_idx"], r["bucket"])
        for r in spark.read.parquet(idx_dir).collect()
    )
    assert replay_idx == clean_idx
    assert spark.read.parquet(idx_dir).filter(
        F.col("batch_id") == 0
    ).count() == 0


def _hostile_sink_case(spark, kind, idx_dir, out_dir):
    """One pair sink at cap 3 over a small stored history, and a
    hostile batch of 6 identical rows that puts every block of the
    batch over the cap: ``(sink, batch, id column, index rows per id,
    layout partition columns, index row key)``."""
    from process_spark.queries.streaming import (
        incremental_dedup_sink,
        incremental_srp_sink,
        incremental_vector_sink,
    )

    if kind == "minhash":
        from process_spark.operators.dedup import minhash_band_index

        kw = dict(num_hashes=16, bands=4, base_hash="xxhash64",
                  band_key="hash", n_buckets=8)
        hist = spark.createDataFrame(
            [(i, f"unique document number {i} with words {i * 7}")
             for i in range(4)],
            "doc_id long, text string",
        )
        minhash_band_index(hist, "doc_id", "text", **kw).withColumn(
            "batch_id", F.lit(-1)
        ).repartition(8, F.col("band_idx"), F.col("band_bucket")).write.mode(
            "overwrite"
        ).partitionBy("band_idx", "band_bucket", "batch_id").parquet(idx_dir)
        # 6 identical docs -> every bucket cut
        batch = spark.createDataFrame(
            [(100 + i, "boilerplate burst text shared by all")
             for i in range(6)],
            "doc_id long, text string",
        )
        sink = incremental_dedup_sink(idx_dir, out_dir, kw, max_bucket_size=3)
        return (sink, batch, "doc_id", kw["bands"],
                ["band_idx", "band_bucket"], ("doc_id", "band_idx", "band_hash"))
    if kind == "ivf":
        from process_spark.operators.similarity import ivf_build

        hist = spark.createDataFrame(
            [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.7071, 0.7071])],
            "vec_id long, embedding array<float>",
        )
        cells, assign_h = ivf_build(hist, n_cells=2, seed_hash="md5")
        assign_h.withColumn("batch_id", F.lit(-1)).repartition(
            2, F.col("cell_id")
        ).write.mode("overwrite").partitionBy("cell_id", "batch_id").parquet(
            idx_dir
        )
        # 6 identical vectors -> one cell, cut
        batch = spark.createDataFrame(
            [(100 + i, [1.0, 0.0]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        sink = incremental_vector_sink(
            idx_dir, out_dir, cells, threshold=0.999, max_block_size=3
        )
        return sink, batch, "vec_id", 1, ["cell_id"], ("vec_id", "cell_id")
    from process_spark.queries.vectors import _ann_banded

    hist = spark.createDataFrame(
        [(2 * i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)])
         for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    _ann_banded(hist).withColumn("batch_id", F.lit(-1)).repartition(
        8, F.col("band_idx")
    ).write.mode("overwrite").partitionBy("band_idx", "batch_id").parquet(
        idx_dir
    )
    # 6 identical vectors -> one bucket in every band, all cut
    batch = spark.createDataFrame(
        [(100 + i, [1.0] * 64) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    sink = incremental_srp_sink(idx_dir, out_dir, max_bucket_size=3)
    return sink, batch, "vec_id", 112, ["band_idx"], ("vec_id", "band_idx", "bucket")


@pytest.mark.parametrize("kind", ["minhash", "ivf", "srp"])
def test_incremental_dedup_sink_sealed_detection_under_guard(
    spark, tmp_path, kind
):
    """The coincidence case: a HOSTILE batch (every block over the
    guard cap, so the guarded index-row set — and with it the old
    sealed-own IN-set — is EMPTY) that also hits the crash → compact →
    replay ordering. Sealed-own detection must come from the UNGUARDED
    index rows: the replay may not re-append the sealed ids under its
    own batch_id. Run for each of the three pair sinks (MinHash bands,
    IVF cells, SRP bands), which share one sealed-own path."""
    from process_spark.operators.indexlife import compact_partitioned_index

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "pairs")
    sink, batch, id_col, per_id, cols, key = _hostile_sink_case(
        spark, kind, idx_dir, out_dir
    )

    def index_rows():
        return sorted(
            tuple(r[c] for c in key)
            for r in spark.read.parquet(idx_dir).collect()
        )

    sink(batch, 0)
    clean_idx = index_rows()
    # guard engaged (no quadratic pairs), append complete
    assert spark.read.parquet(idx_dir).filter(
        F.col(id_col) >= 100
    ).count() == 6 * per_id
    assert spark.read.parquet(out_dir).filter(
        F.col("id_a").isNotNull()
    ).count() == 0

    compact_partitioned_index(spark, idx_dir, cols)
    assert spark.read.parquet(idx_dir).filter(
        F.col("batch_id") != -1
    ).count() == 0

    sink(batch, 0)  # replay, guard still on, guarded row set empty
    assert index_rows() == clean_idx  # sealed ids NOT re-appended
    assert spark.read.parquet(idx_dir).filter(
        F.col("batch_id") == 0
    ).count() == 0


def test_mg_compact_state_crash_ordering(spark, tmp_path):
    """The compactor must never hold the only copy of the state in a
    half-written directory: (a) it routes through the Hadoop
    FileSystem API (file: URI works end-to-end), (b) a stale
    __compacting scratch from a previous crash is cleaned up and the
    run succeeds, (c) the mid-swap crash window (state under
    __precompact, state_dir missing) makes mg_load_state FAIL LOUDLY
    instead of returning empty counters."""
    import pytest as _pytest

    from process_spark.operators.sketch import (
        mg_compact_state,
        mg_load_state,
        mg_save_batch_summary,
    )

    cap = 4
    sd = "file://" + str(tmp_path / "mg")  # Hadoop FS URI, not a bare path
    for b in range(3):
        mg_save_batch_summary(spark, sd, b, {"heavy": 10, f"n{b}": 2}, 12)
    before = mg_load_state(spark, sd, cap)

    # (b) stale scratch from a crashed previous compaction
    mg_save_batch_summary(spark, sd + "__compacting", -1, {"junk": 99}, 99)
    stats = mg_compact_state(spark, sd, cap)
    assert stats["files_after"] == 1
    assert mg_load_state(spark, sd, cap) == before  # junk not folded in

    # (c) simulate the mid-swap crash: state only under __precompact
    from process_spark.operators.sketch import _mg_fs

    fs, HPath = _mg_fs(spark, sd)
    assert fs.rename(HPath(sd), HPath(sd + "__precompact"))
    with _pytest.raises(RuntimeError, match="__precompact"):
        mg_load_state(spark, sd, cap)
    # recovery: rename back, state intact
    assert fs.rename(HPath(sd + "__precompact"), HPath(sd))
    assert mg_load_state(spark, sd, cap) == before


def test_replay_resumes_batch_ids_across_waves(spark, tmp_path):
    """``streaming.replay``'s contract: each staged DataFrame is one
    micro-batch, a later wave RESUMES the checkpoint (batch ids
    continue), ``between`` runs once, after the first wave's last
    batch, and the checkpoint is gone afterwards."""
    import os

    from process_spark.queries.streaming import replay

    a, b, c = (
        spark.createDataFrame([(i, tag)], "doc_id long, text string")
        for i, tag in ((1, "a"), (2, "b"), (3, "c"))
    )
    seen = []
    between_after = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, [r["text"] for r in batch_df.collect()]))

    def between():
        between_after.append([bid for bid, _ in seen])

    base = str(tmp_path)
    replay(spark, base, [[a, b], [c]], sink, between=between)
    assert seen == [(0, ["a"]), (1, ["b"]), (2, ["c"])]
    assert between_after == [[0, 1]]
    assert not os.path.exists(os.path.join(base, "ckpt"))
