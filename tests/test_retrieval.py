"""BM25 / stored postings / RRF fusion semantics (operators/retrieval.py,
queries/retrieval.py). The registered oracles prove engine parity; these
tests pin the MATH (hand-computed BM25), the determinism contracts, and
the stored-index stats accumulation the oracles can't see directly."""

from __future__ import annotations

import math
import threading
import time

import pytest
from pyspark.sql import functions as F

from process_spark.operators.indexlife import index_meta, tombstone_index_ids
from process_spark.operators.retrieval import (
    SCORE_SCALE,
    bm25_contrib_e6,
    bm25_probe_postings,
    bm25_scores,
    postings_index,
    rrf_fuse,
    topk_ranked,
    write_postings_index,
)

SF_SMALL = "/root/testdata/sf0.001"


#: The indexlife ``_meta`` every postings writer persists.
_POSTINGS_META = {
    "id_col": "doc_id", "part_cols": ["term_bucket"], "n_id_buckets": 16,
}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _qt(spark, rows):
    return spark.createDataFrame(rows, "query_id int, term string")


def _expected_contrib(tf, df, dl, n, avgdl, k1=1.2, b=0.75):
    """Python replay of bm25_contrib_e6's exact expression order."""
    idf = math.log(((float(n) - df + 0.5) / (df + 0.5)) + 1.0)
    denom = tf + k1 * ((1.0 - b) + b * (dl / avgdl))
    return math.floor(idf * ((tf * (k1 + 1.0)) / denom) * SCORE_SCALE + 0.5)


def test_bm25_contrib_sql_path_quotes_backticks(spark):
    """Column names containing a backtick go through the SQL-string
    fast path (scalar and column-name stats) and score exactly like the
    Column-form path over the same values under plain names."""
    plain = spark.createDataFrame(
        [(0, 2, 1, 3), (1, 1, 2, 2), (2, 3, 1, 4)],
        "id int, tf long, df long, dl long",
    ).select("*", F.lit(3.0).alias("n"), F.lit(3.0).alias("avgdl"))
    ticked = plain.toDF("id", "t`f", "`df", "dl`", "n``", "avg`dl")
    names = ("t`f", "`df", "dl`")

    def scores(df, contrib):
        return dict(df.select("id", contrib.alias("s")).collect())

    want = scores(
        plain, bm25_contrib_e6("tf", "df", "dl", F.col("n"), F.col("avgdl"))
    )
    assert scores(ticked, bm25_contrib_e6(*names, 3.0, 3.0)) == want
    assert scores(ticked, bm25_contrib_e6(*names, "n``", "avg`dl")) == want


def test_bm25_hand_computed(spark):
    """3-doc corpus, 1-term query: the score is the hand-computed
    Lucene-BM25 value (±1 grid cell for the JVM-vs-libm ln ULP)."""
    d = _docs(
        spark,
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
    )
    out = {
        r["doc_id"]: r["score_e6"]
        for r in bm25_scores(d, _qt(spark, [(0, "apple")])).collect()
    }
    assert set(out) == {1}  # only d1 contains 'apple'
    want = _expected_contrib(tf=2, df=1, dl=3, n=3, avgdl=3.0)
    assert abs(out[1] - want) <= 1, (out[1], want)


def test_bm25_tf_and_rarity_monotone(spark):
    """More occurrences of the query term → higher score (same dl);
    a rarer term outranks a common one at equal tf/dl."""
    d = _docs(
        spark,
        [
            (1, "x x y z"),
            (2, "x y y z"),   # same length, fewer x
            (3, "w q r s"),
            (4, "w a b c"),   # 'w' in 2 docs, 'q' in 1 — q is rarer
        ],
    )
    s = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(
            d, _qt(spark, [(0, "x"), (1, "w"), (2, "q")])
        ).collect()
    }
    assert s[(0, 1)] > s[(0, 2)]          # tf monotone
    assert s[(2, 3)] > s[(1, 3)]          # rarity (df) monotone


def test_topk_ties_break_on_doc_id(spark):
    scored = spark.createDataFrame(
        [(0, 10, 100), (0, 7, 100), (0, 3, 200)],
        "query_id int, doc_id long, score_e6 long",
    )
    rows = topk_ranked(scored, "score_e6", k=2).orderBy("rank").collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(3, 1), (7, 2)]


def test_rrf_both_channels_beat_one(spark):
    """A doc ranked 3rd in BOTH channels fuses above a doc ranked 1st
    in only one (1/63 + 1/63 > 1/61) — the union-not-intersection RRF
    convention, and the integer contribution math."""
    ch1 = spark.createDataFrame(
        [(0, 100, 1), (0, 300, 3)], "query_id long, doc_id long, rank int"
    )
    ch2 = spark.createDataFrame(
        [(0, 200, 1), (0, 300, 3)], "query_id long, doc_id long, rank int"
    )
    out = {r["doc_id"]: r["rrf_e9"] for r in rrf_fuse([ch1, ch2]).collect()}
    assert out[300] > out[100] == out[200]
    want = math.floor(1e9 / 63.0 + 0.5) * 2
    assert out[300] == want


def test_postings_stats_accumulate_across_appends(spark, tmp_path):
    """The _stats sidecar must sum to corpus-wide N / Σdl after appends
    (global BM25 stats never re-scan history) — stored as one DELTA row
    per append (never accumulated in place: a crash between the
    postings append and a stats overwrite would corrupt the
    accumulator; a missing delta row is recoverable) — and the stored
    probe must equal the in-memory kernel on the union corpus."""
    from pyspark.sql import functions as FF

    path = str(tmp_path / "pidx")
    b0 = _docs(spark, [(1, "apple banana apple"), (2, "banana cherry")])
    b1 = _docs(spark, [(3, "cherry cherry cherry durian")])
    write_postings_index(b0, path, mode="overwrite")
    assert index_meta(spark, path) == _POSTINGS_META
    write_postings_index(b1, path, mode="append")

    stats = spark.read.parquet(path + "/_stats").agg(
        FF.sum("n_docs").alias("n_docs"), FF.sum("sum_dl").alias("sum_dl")
    ).collect()[0]
    assert (stats["n_docs"], stats["sum_dl"]) == (3, 9)

    qt = _qt(spark, [(0, "apple"), (0, "cherry"), (1, "banana")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(b0.unionByName(b1), qt).collect()
    }
    assert got == want and len(got) == 5


def test_domain_cap_invariants(spark):
    """pipeline_domain_cap: kept ≤ cap, kept + cut = total, and the
    kept-id selection is deterministic across runs (same md5 chain)."""
    from process_spark.queries.registry import REGISTRY

    fn = REGISTRY["pipeline_domain_cap"].fn
    a = {tuple(r[:2]): r[2:] for r in map(tuple, fn(spark, SF_SMALL).collect())}
    b = {tuple(r[:2]): r[2:] for r in map(tuple, fn(spark, SF_SMALL).collect())}
    assert a == b
    for (_, _), (n_docs, n_kept, n_cut, _md5) in a.items():
        assert n_kept <= 4 and n_kept + n_cut == n_docs


def test_hybrid_rrf_self_retrieval(spark):
    """Query-by-example sanity: each query's own item is rank 1 in the
    fused output (it is rank 1 in BOTH channels — exact-duplicate text
    and a cosine-1.0 vector with doc_id/vec_id the smallest tiebreak)."""
    from process_spark.queries.registry import REGISTRY

    rows = REGISTRY["vec_hybrid_rrf"].fn(spark, SF_SMALL).collect()
    top = {r["query_id"]: r["doc_id"] for r in rows if r["rank"] == 1}
    assert top and all(qid == did for qid, did in top.items())


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_postings_sink_replay_and_sealed_own(spark, tmp_path):
    """incremental_postings_sink: (a) replaying a batch (at-least-once
    delivery) leaves index rows AND summed stats unchanged — dynamic
    partition overwrite keyed on batch_id; (b) after a compaction that
    sealed the batch into batch_id = -1 (the crash-compaction race), a
    replay detects its own sealed doc_ids and appends NOTHING — no
    duplicated postings, probe still equals the in-memory kernel."""
    from process_spark.operators.indexlife import compact_partitioned_index
    from process_spark.operators.retrieval import incremental_postings_sink

    path = str(tmp_path / "pidx")
    hist = _docs(spark, [(0, "apple banana"), (2, "banana cherry")])
    # bootstrap history as batch_id = -1 under the streaming layout
    from pyspark.sql import functions as FF

    postings_index(hist).withColumn("batch_id", FF.lit(-1)).write.mode(
        "overwrite"
    ).partitionBy("term_bucket", "batch_id").parquet(path + "/data")
    hist.agg(
        FF.count(FF.lit(1)).alias("n_docs"),
        FF.sum(FF.size(FF.split("text", " "))).cast("long").alias("sum_dl"),
    ).withColumn("n_buckets", FF.lit(16).cast("int")).withColumn(
        "batch_id", FF.lit(-1)
    ).write.mode("overwrite").partitionBy(
        "batch_id"
    ).parquet(path + "/_stats")

    sink = incremental_postings_sink(path)
    batch = _docs(spark, [(1, "apple cherry durian"), (3, "durian apple")])

    def state():
        rows = sorted(
            map(tuple, spark.read.parquet(path + "/data")
                .select("tok", "doc_id", "tf", "dl").collect())
        )
        st = spark.read.parquet(path + "/_stats").agg(
            FF.sum("n_docs"), FF.sum("sum_dl")
        ).collect()[0]
        return rows, tuple(st)

    sink(batch, 0)
    first = state()
    sink(batch, 0)  # clean replay
    assert state() == first

    # crash-compaction race: seal everything to batch_id = -1, replay.
    # part_cols = the non-batch key only — including batch_id would
    # disable the compactor's sealing branch and make this test
    # vacuous (replay idempotence alone would pass it).
    compact_partitioned_index(spark, path + "/data", ["term_bucket"])
    spark.catalog.refreshByPath(path + "/data")
    sealed = spark.read.parquet(path + "/data")
    assert sealed.filter(FF.col("batch_id") != -1).count() == 0, (
        "compaction did not seal batch_ids to -1"
    )
    sealed_rows = sorted(
        map(tuple, sealed.select("tok", "doc_id", "tf", "dl").collect())
    )
    assert sealed_rows == first[0]  # compaction moved bytes, not rows
    sink(batch, 0)  # replay AFTER sealing — must append nothing
    rows_after, stats_after = state()
    assert rows_after == first[0], "sealed-own replay duplicated postings"
    assert stats_after == first[1]

    qt = _qt(spark, [(0, "apple"), (0, "durian")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(hist.unionByName(batch), qt).collect()
    }
    assert got == want


def test_postings_sink_fresh_path_first_batch(spark, tmp_path):
    """The sink's sealed-own / validation lookups must not explode on a
    never-bootstrapped index path (the r10 ADVICE PATH_NOT_FOUND item):
    the first micro-batch against a fresh directory creates all three
    components, and the probe equals the in-memory kernel."""
    from process_spark.operators.retrieval import incremental_postings_sink

    path = str(tmp_path / "fresh")
    batch = _docs(spark, [(1, "apple cherry"), (2, "banana")])
    incremental_postings_sink(path)(batch, 0)
    qt = _qt(spark, [(0, "apple"), (0, "banana")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(batch, qt).collect()
    }
    assert got == want and len(got) == 2
    # membership sidecar recorded the batch with its origin
    mem = spark.read.parquet(path + "/_ids").collect()
    assert {(r["doc_id"], r["src_batch"]) for r in mem} == {(1, 0), (2, 0)}
    assert index_meta(spark, path) == _POSTINGS_META


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_postings_sink_rejects_reingest(spark, tmp_path):
    """Append-only validation: a batch re-ingesting a doc_id the index
    already holds RAISES instead of silently corrupting the index (the
    sealed-own anti-join would drop the new postings while stats still
    counted the doc). Detected exactly via the _ids membership sidecar
    (src_batch column) — even for a CHANGED-content re-ingest whose
    tokens share no term bucket with the stored copy, and even after
    compaction sealed the stored copy."""
    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    hist = _docs(spark, [(0, "apple banana"), (2, "banana cherry")])
    _bootstrap_postings(spark, path, hist)
    sink = incremental_postings_sink(path)

    # (a) re-ingest of a BOOTSTRAP doc (src_batch = -1), changed text
    with pytest.raises(ValueError, match="re-ingests"):
        sink(_docs(spark, [(0, "zebra yak")]), 0)
    # (b) clean growth batch, then a LATER batch re-ingesting its doc
    sink(_docs(spark, [(1, "apple durian")]), 0)
    with pytest.raises(ValueError, match="re-ingests"):
        sink(_docs(spark, [(1, "apple durian")]), 1)
    # (c) sealed copies stay detectable: compact everything, re-ingest
    compact_postings_index(spark, path)
    with pytest.raises(ValueError, match="re-ingests"):
        sink(_docs(spark, [(1, "totally different words")]), 1)
    # (d) a genuinely new doc still appends fine after all of the above
    sink(_docs(spark, [(3, "elderberry fig")]), 1)
    qt = _qt(spark, [(0, "apple"), (1, "elderberry")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(
            hist.unionByName(
                _docs(spark, [(1, "apple durian"), (3, "elderberry fig")])
            ),
            qt,
        ).collect()
    }
    assert got == want


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_compact_postings_stats_replay_watermark(spark, tmp_path):
    """compact_postings_stats folds the per-batch stats deltas into one
    sealed row: file count collapses, probe stats are unchanged, and a
    batch replayed at or below the sealed_through watermark SKIPS its
    stats write (its delta already lives in the sealed row) while
    post-watermark batches keep writing deltas."""
    from pyspark.sql import functions as FF

    from process_spark.operators.fsutil import read_watermark
    from process_spark.operators.retrieval import (
        compact_postings_stats,
        incremental_postings_sink,
    )

    path = str(tmp_path / "pidx")
    sink = incremental_postings_sink(path)
    sink(_docs(spark, [(1, "apple banana")]), 0)
    sink(_docs(spark, [(2, "cherry durian elderberry")]), 1)

    def stats_sum():
        r = spark.read.parquet(path + "/_stats").agg(
            FF.sum("n_docs"), FF.sum("sum_dl")
        ).collect()[0]
        return tuple(r)

    before = stats_sum()
    assert before == (2, 5)
    out = compact_postings_stats(spark, path)
    assert out["files_after"] == 1 <= out["files_before"]
    assert read_watermark(spark, path + "/_stats") == 1
    assert stats_sum() == before
    # crash-replay of batch 1 AFTER the fold: postings are sealed-own
    # skipped, and the stats delta must NOT double-add
    from process_spark.operators.indexlife import compact_partitioned_index

    compact_partitioned_index(spark, path + "/data", ["term_bucket"])
    spark.catalog.refreshByPath(path + "/data")
    sink(_docs(spark, [(2, "cherry durian elderberry")]), 1)
    assert stats_sum() == before
    # a genuinely new batch above the watermark still lands
    sink(_docs(spark, [(3, "fig")]), 2)
    assert stats_sum() == (3, 6)


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_tombstone_delete_update_lifecycle(spark, tmp_path):
    """The postings UPDATE path end to end: tombstone (logical delete —
    probes immediately exclude the doc from df AND subtract its
    (1, dl) from N/Σdl), purge at compaction (every trace gone,
    tombstones dropped last), re-ingest the new version through the
    growth sink. Also pins: tombstoning is idempotent, unknown ids
    raise, and re-ingesting a tombstoned-but-not-yet-purged id raises
    with the update-path instructions."""
    from pyspark.sql import functions as FF

    from process_spark.operators.fsutil import fs_exists
    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    hist = _docs(spark, [(0, "apple banana"), (2, "banana cherry apple")])
    _bootstrap_postings(spark, path, hist)
    sink = incremental_postings_sink(path)
    sink(_docs(spark, [(1, "apple durian"), (3, "fig")]), 0)

    def ids(df):
        return spark.createDataFrame([(i,) for i in df], "doc_id long")

    # unknown id → loud
    with pytest.raises(ValueError, match="not in the index"):
        tombstone_index_ids(spark, path, ids([99]))
    # delete doc 2 (a sealed/bootstrap doc) and doc 3 (a live one)
    out = tombstone_index_ids(spark, path, ids([2, 3]))
    assert out["n_tombstoned"] == 2
    assert tombstone_index_ids(spark, path, ids([2]))["n_tombstoned"] == 0

    qt = _qt(spark, [(0, "apple"), (0, "banana"), (1, "fig")])
    survivors = _docs(spark, [(0, "apple banana"), (1, "apple durian")])

    def probe():
        return {
            (r["query_id"], r["doc_id"]): r["score_e6"]
            for r in bm25_probe_postings(spark, path, qt).collect()
        }

    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(survivors, qt).collect()
    }
    assert probe() == want  # deleted docs out of df AND out of N/avgdl

    # re-ingest before the purge → loud, with the update-path recipe
    with pytest.raises(ValueError, match="tombstone_index_ids"):
        sink(_docs(spark, [(2, "replacement text")]), 1)

    stats = compact_postings_index(spark, path)
    assert stats["n_purged_docs"] == 2
    assert not fs_exists(spark, path + "/_tombstones")
    data = spark.read.parquet(path + "/data")
    assert data.filter(FF.col("doc_id").isin(2, 3)).count() == 0
    assert data.filter(FF.col("batch_id") != -1).count() == 0  # sealed
    mem = spark.read.parquet(path + "/_ids")
    assert {r["doc_id"] for r in mem.collect()} == {0, 1}
    st = spark.read.parquet(path + "/_stats").collect()
    assert len(st) == 1 and (st[0]["n_docs"], st[0]["sum_dl"]) == (2, 4)
    assert probe() == want  # purge is invisible to probes

    # the UPDATE lands: re-ingest doc 2's new version through the sink
    sink(_docs(spark, [(2, "banana fig fig")]), 1)
    updated = survivors.unionByName(_docs(spark, [(2, "banana fig fig")]))
    want2 = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(updated, qt).collect()
    }
    assert probe() == want2


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_compact_postings_rerun_converges_on_stale_tombstones(spark, tmp_path):
    """A stale tombstone for an already-purged doc next to a sealed
    stats row (the crash window of a compactor that swapped the stats
    before dropping the tombstones): probes under-count N until the
    compactor re-runs. Pin the recovery: re-running
    compact_postings_index converges — purge is a no-op, the
    recomputed stats row is identical, the stale tombstone is dropped,
    and probes are exact again."""
    from pyspark.sql import functions as FF

    from process_spark.operators.fsutil import fs_exists
    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    incremental_postings_sink(path)(_docs(spark, [(1, "apple fig")]), 0)
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    compact_postings_index(spark, path)
    sealed = spark.read.parquet(path + "/_stats").collect()

    # simulate the crash: the purge + stats swap happened, but the
    # tombstone drop did not — re-create the stale tombstone row
    spark.createDataFrame(
        [(2, 1)], "doc_id long, dl long"
    ).withColumn(
        "id_bucket", FF.pmod(FF.hash("doc_id"), FF.lit(16)).cast("int")
    ).write.mode("overwrite").partitionBy("id_bucket").parquet(
        path + "/_tombstones"
    )
    qt = _qt(spark, [(0, "apple")])
    survivors = _docs(spark, [(0, "apple banana"), (1, "apple fig")])
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(survivors, qt).collect()
    }

    def probe():
        return {
            (r["query_id"], r["doc_id"]): r["score_e6"]
            for r in bm25_probe_postings(spark, path, qt).collect()
        }

    assert probe() != want  # the window skews stats (documented)
    out = compact_postings_index(spark, path)  # recovery: re-run
    assert not fs_exists(spark, path + "/_tombstones")
    assert spark.read.parquet(path + "/_stats").collect() == sealed
    assert out["data"]["rows"] == 4  # purge no-oped (2 docs x 2 toks)
    # honest accounting: the rows were already purged — the re-run must
    # report 0 docs removed, not the stale tombstone count
    assert out["n_purged_docs"] == 0
    assert probe() == want


def test_compact_postings_stats_seal_crash_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """compact_postings_index drops the tombstones (inside
    compact_stored_index) BEFORE the stats seal. A crash in the seal's
    swap leaves the old deltas, which still count the purged doc, with
    no tombstone left to subtract it; the re-run must converge because
    the seal recomputes from the purged _ids rather than folding the
    deltas."""
    from process_spark.operators import retrieval as R
    from process_spark.operators.fsutil import fs_exists
    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
        postings_stats_audit,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    incremental_postings_sink(path)(_docs(spark, [(1, "apple fig")]), 0)
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )

    def crashing_swap(*a, **kw):
        raise IOError("injected crash in the stats swap")

    monkeypatch.setattr(R, "swap_in", crashing_swap)
    with pytest.raises(IOError, match="injected crash"):
        compact_postings_index(spark, path)
    monkeypatch.undo()
    assert not fs_exists(spark, path + "/_tombstones")  # dropped first

    qt = _qt(spark, [(0, "apple"), (1, "fig")])
    survivors = _docs(spark, [(0, "apple banana"), (1, "apple fig")])
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(survivors, qt).collect()
    }

    def probe():
        return {
            (r["query_id"], r["doc_id"]): r["score_e6"]
            for r in bm25_probe_postings(spark, path, qt).collect()
        }

    assert probe() != want  # the crash window over-counts N
    assert not postings_stats_audit(spark, path).collect()[0]["consistent"]
    compact_postings_index(spark, path)  # recovery: re-run
    assert probe() == want
    assert postings_stats_audit(spark, path).collect()[0]["consistent"]


def test_sink_replay_after_crash_and_compaction_is_exact(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose postings and _ids landed but whose stats
    delta did not (a crash before the stats write), compacted before
    its replay: the seal counts only _ids rows at or below the
    sealed_through watermark, so the crashed batch stays out of the
    sealed row and its replay (above the watermark) adds its delta
    exactly once."""
    from pyspark.sql.readwriter import DataFrameWriter

    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
        postings_stats_audit,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    hist = _docs(spark, [(0, "apple banana"), (2, "cherry")])
    batch = _docs(spark, [(1, "apple fig fig")])
    _bootstrap_postings(spark, path, hist)
    sink = incremental_postings_sink(path)
    orig = DataFrameWriter.parquet

    def crashing(self, p, *a, **kw):
        if p.rstrip("/").endswith("/_stats"):
            raise RuntimeError("injected crash before the stats write")
        return orig(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(batch, 0)
    monkeypatch.undo()
    compact_postings_index(spark, path)
    sink(batch, 0)  # the restarted stream replays the batch

    qt = _qt(spark, [(0, "apple"), (1, "fig")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(hist.unionByName(batch), qt).collect()
    }
    assert got == want
    assert postings_stats_audit(spark, path).collect()[0]["consistent"]


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_stats_audit_catches_corrupt_sidecar(spark, tmp_path):
    """postings_stats_audit must flip ``consistent`` to False when the
    sidecar drifts from the bytes (the crash-between-append-and-delta
    window), and back to True after the stats-recomputing repair."""
    from pyspark.sql import functions as FF

    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
        postings_stats_audit,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    incremental_postings_sink(path)(_docs(spark, [(1, "apple fig")]), 0)
    assert postings_stats_audit(spark, path).collect()[0]["consistent"]

    # corrupt: a phantom stats delta (batch appended its delta, but the
    # postings write was the half that crashed)
    spark.createDataFrame(
        [(7, 70, 16, 9)],
        "n_docs long, sum_dl long, n_buckets int, batch_id int",
    ).coalesce(1).write.mode("append").partitionBy("batch_id").parquet(
        path + "/_stats"
    )
    row = postings_stats_audit(spark, path).collect()[0]
    assert not row["consistent"]
    assert row["stored_n_docs"] - row["actual_n_docs"] == 7

    # repair: the stats seal recomputes from _ids, so the phantom goes
    from process_spark.operators.retrieval import compact_postings_stats

    compact_postings_stats(spark, path)
    spark.catalog.refreshByPath(path + "/_stats")
    assert postings_stats_audit(spark, path).collect()[0]["consistent"]
    assert compact_postings_index(spark, path)["stats"]["files_after"] == 1


def test_mmr_defers_redundant_candidate(spark):
    """MMR contract: with two near-identical high-relevance candidates,
    the second duplicate is NOT picked at rank 2 — a less relevant but
    diverse candidate overtakes it (0.7·rel − 0.3·max-sim); with λ = 1
    ordering would be pure relevance."""
    from process_spark.operators.retrieval import mmr_rerank

    # pool for one query: docs 1 and 2 are near-duplicates (sim 0.99),
    # doc 3 is diverse (sim 0.1 to both). rel: 1 > 2 > 3.
    rows = []
    rel = {1: 0.95, 2: 0.94, 3: 0.80}
    sim = {(1, 2): 0.99, (1, 3): 0.10, (2, 3): 0.10}
    for a in rel:
        for b in rel:
            s = 1.0 if a == b else sim.get((min(a, b), max(a, b)))
            rows.append((0, a, b, s, rel[a]))
    pairs = spark.createDataFrame(
        rows, "query_id long, a_id long, b_id long, sim double, rel_a double"
    )
    out = {r["mmr_rank"]: r["doc_id"] for r in mmr_rerank(pairs, k=3).collect()}
    assert out == {1: 1, 2: 3, 3: 2}, out
    # objective check: rank-2 doc 3 beats doc 2 by the MMR margin
    # (0.7*0.94 - 0.3*0.99 = 0.361 < 0.7*0.80 - 0.3*0.10 = 0.53)


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_overwrite_rebuild_clears_stale_sidecars(spark, tmp_path):
    """write_postings_index(mode="overwrite") on a path that previously
    held a STREAMING index with tombstones must start from a clean
    sidecar set: stale _tombstones would silently anti-join live docs
    out of probes and subtract stale (count, dl) from N/avgdl; a stale
    _ids would block legitimate future ingests — the rebuild writes a
    FRESH membership for the new corpus. Same contract for
    _bootstrap_postings."""
    from process_spark.operators.fsutil import fs_exists
    from process_spark.operators.retrieval import (
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    incremental_postings_sink(path)(_docs(spark, [(1, "apple fig")]), 0)
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(1,)], "doc_id long")
    )

    # in-place batch REBUILD over the tombstoned path
    fresh = _docs(spark, [(1, "apple fig"), (4, "grape apple")])
    write_postings_index(fresh, path, mode="overwrite")
    spark.catalog.refreshByPath(path + "/data")
    assert not fs_exists(spark, path + "/_tombstones")
    # the rebuild writes a FRESH membership sidecar: exactly the new
    # corpus ids, none of the previous life's
    assert {
        r["doc_id"]
        for r in spark.read.parquet(path + "/_ids").collect()
    } == {1, 4}
    qt = _qt(spark, [(0, "apple"), (0, "fig")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(fresh, qt).collect()
    }
    assert got == want and (0, 1) in got  # doc 1 is LIVE again

    # bootstrap REBUILD clears tombstones the same way
    from process_spark.operators.retrieval import (
        incremental_postings_sink as _sink,
    )

    path2 = str(tmp_path / "pidx2")
    _bootstrap_postings(spark, path2, _docs(spark, [(0, "apple")]))
    _sink(path2)(_docs(spark, [(1, "apple fig")]), 0)
    tombstone_index_ids(
        spark, path2, spark.createDataFrame([(1,)], "doc_id long")
    )
    _bootstrap_postings(spark, path2, fresh)
    spark.catalog.refreshByPath(path2 + "/data")
    assert not fs_exists(spark, path2 + "/_tombstones")
    got2 = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path2, qt).collect()
    }
    assert got2 == want


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_batch_stats_layout_unified_and_compactable(spark, tmp_path):
    """The batch lifecycle's _stats rows land under batch_id= partitions
    (synthetic monotone ids) — the SAME layout the streaming sink
    writes — so compact_postings_stats serves both lifecycles and the
    batch layout's delta rows no longer accumulate forever."""
    from pyspark.sql import functions as FF

    from process_spark.operators.retrieval import compact_postings_stats

    path = str(tmp_path / "pidx")
    write_postings_index(
        _docs(spark, [(1, "apple banana apple")]), path, mode="overwrite"
    )
    write_postings_index(
        _docs(spark, [(2, "banana cherry")]), path, mode="append"
    )
    write_postings_index(
        _docs(spark, [(3, "cherry durian fig")]), path, mode="append"
    )
    st = spark.read.parquet(path + "/_stats")
    assert sorted(
        r["batch_id"] for r in st.select("batch_id").collect()
    ) == [0, 1, 2]

    qt = _qt(spark, [(0, "banana"), (0, "cherry")])
    before = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    out = compact_postings_stats(spark, path)
    assert out["files_after"] == 1 <= out["files_before"]
    spark.catalog.refreshByPath(path + "/_stats")
    sealed = spark.read.parquet(path + "/_stats").collect()
    assert len(sealed) == 1 and sealed[0]["batch_id"] == -1
    assert (sealed[0]["n_docs"], sealed[0]["sum_dl"]) == (3, 8)
    after = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    assert after == before
    # a post-compaction append picks a FRESH synthetic id (> watermark)
    write_postings_index(
        _docs(spark, [(4, "grape")]), path, mode="append"
    )
    ids = sorted(
        r["batch_id"]
        for r in spark.read.parquet(path + "/_stats")
        .select("batch_id")
        .collect()
    )
    assert ids == [-1, 3]
    tot = spark.read.parquet(path + "/_stats").agg(
        FF.sum("n_docs"), FF.sum("sum_dl")
    ).collect()[0]
    assert tuple(tot) == (4, 9)


def test_compact_refuses_legacy_stats_layout_before_touching_data(
    spark, tmp_path
):
    """compact_postings_index must validate the _stats layout BEFORE
    rewriting data/_ids — a wrong-layout index previously got
    half-compacted before the loud stats failure."""
    from process_spark.operators.retrieval import compact_postings_index

    path = str(tmp_path / "pidx")
    docs = _docs(spark, [(1, "apple banana"), (2, "cherry")])
    write_postings_index(docs, path, mode="overwrite")
    # degrade the sidecar to the legacy unpartitioned layout
    legacy = spark.read.parquet(path + "/_stats").drop("batch_id")
    legacy.coalesce(1).write.mode("overwrite").parquet(path + "/_legacy")
    import shutil

    shutil.rmtree(path + "/_stats")
    shutil.move(path + "/_legacy", path + "/_stats")

    files_before = sorted(
        p.name
        for p in (tmp_path / "pidx" / "data").rglob("*.parquet")
    )
    with pytest.raises(ValueError, match="legacy unpartitioned"):
        compact_postings_index(spark, path)
    files_after = sorted(
        p.name
        for p in (tmp_path / "pidx" / "data").rglob("*.parquet")
    )
    assert files_after == files_before  # data untouched


def test_compact_refuses_all_purged(spark, tmp_path):
    """Tombstoning the ENTIRE corpus must refuse to purge at compaction
    (the rewrite would leave empty parquet dirs that fail schema
    inference on every later read) — loud error, tombstones intact,
    probes still correct (empty index semantics)."""
    from process_spark.operators.fsutil import fs_exists
    from process_spark.operators.retrieval import (
        compact_postings_index,
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(spark, path, _docs(spark, [(0, "apple banana")]))
    incremental_postings_sink(path)(_docs(spark, [(1, "cherry")]), 0)
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(0,), (1,)], "doc_id long")
    )
    with pytest.raises(ValueError, match="ENTIRE index"):
        compact_postings_index(spark, path)
    assert fs_exists(spark, path + "/_tombstones")
    qt = _qt(spark, [(0, "apple")])
    assert bm25_probe_postings(spark, path, qt).count() == 0


def test_n_buckets_mismatch_raises_everywhere(spark, tmp_path):
    """A caller-supplied n_buckets that disagrees with the index's
    persisted _meta must raise in the streaming sink AND the batch
    append (it would prune the wrong id_buckets — false 'not in the
    index' errors or missed foreign-copy detection), as the probe
    already does against _stats. The bootstrap writes that _meta."""
    from process_spark.operators.retrieval import (
        incremental_postings_sink,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    assert index_meta(spark, path) == _POSTINGS_META
    with pytest.raises(ValueError, match="n_id_buckets"):
        incremental_postings_sink(path, n_buckets=8)(
            _docs(spark, [(1, "fig")]), 0
        )
    with pytest.raises(ValueError, match="n_id_buckets"):
        write_postings_index(
            _docs(spark, [(1, "fig")]), path, mode="append", n_buckets=8
        )


def test_sink_stats_delta_derived_from_postings(spark, tmp_path):
    """The sink's per-batch stats delta is derived from the pinned
    postings (Σdl = Σtf, n_docs = distinct ids) — it must equal the
    tokenize-the-batch values exactly, INCLUDING a zero-token doc
    (membership row with dl = 0, no postings, still counted in
    n_docs)."""
    from pyspark.sql import functions as FF

    from process_spark.functions.textfn import tokens as _tk
    from process_spark.operators.retrieval import incremental_postings_sink

    path = str(tmp_path / "pidx")
    batch = _docs(
        spark,
        [(1, "apple banana apple"), (2, "!!! ---"), (3, "cherry")],
    )
    incremental_postings_sink(path)(batch, 0)
    row = spark.read.parquet(path + "/_stats").collect()
    assert len(row) == 1
    want = batch.agg(
        FF.count(FF.lit(1)).alias("n"),
        FF.sum(FF.size(_tk("text"))).cast("long").alias("sdl"),
    ).collect()[0]
    assert (row[0]["n_docs"], row[0]["sum_dl"]) == (want["n"], want["sdl"])
    assert (row[0]["n_docs"], row[0]["sum_dl"]) == (3, 4)
    # the zero-token doc is probe-consistent: counted in N, dl 0
    mem = {
        r["doc_id"]: r["dl"]
        for r in spark.read.parquet(path + "/_ids").collect()
    }
    assert mem == {1: 3, 2: 0, 3: 1}


def test_audit_cross_component_divergence_columns(spark, tmp_path):
    """postings_stats_audit's membership↔postings consistency columns:
    a doc in the membership but with no postings (dl > 0) and a doc
    with postings but no membership row must each flip ``consistent``
    False with the matching count column set — even when the TOTALS
    still happen to cancel."""
    from pyspark.sql import functions as FF

    from process_spark.operators.retrieval import (
        incremental_postings_sink,
        postings_stats_audit,
    )
    from process_spark.queries.retrieval import _bootstrap_postings

    path = str(tmp_path / "pidx")
    _bootstrap_postings(
        spark, path, _docs(spark, [(0, "apple banana"), (2, "cherry")])
    )
    incremental_postings_sink(path)(_docs(spark, [(1, "apple fig")]), 0)
    base = postings_stats_audit(spark, path).collect()[0]
    assert base["consistent"]
    assert base["n_docs_without_postings"] == 0
    assert base["n_postings_docs_without_membership"] == 0

    # (a) membership row whose postings are gone: drop doc 1's postings
    data = spark.read.parquet(path + "/data").localCheckpoint(eager=True)
    data.filter(FF.col("doc_id") != 1).write.mode("overwrite").partitionBy(
        "term_bucket", "batch_id"
    ).parquet(path + "/data")
    spark.catalog.refreshByPath(path + "/data")
    row = postings_stats_audit(spark, path).collect()[0]
    assert not row["consistent"]
    assert row["n_docs_without_postings"] == 1

    # (b) postings with no membership row: restore data, drop doc 1's
    # membership instead
    data.write.mode("overwrite").partitionBy(
        "term_bucket", "batch_id"
    ).parquet(path + "/data")
    spark.catalog.refreshByPath(path + "/data")
    mem = spark.read.parquet(path + "/_ids").localCheckpoint(eager=True)
    mem.filter(FF.col("doc_id") != 1).write.mode("overwrite").partitionBy(
        "id_bucket", "batch_id"
    ).parquet(path + "/_ids")
    spark.catalog.refreshByPath(path + "/_ids")
    row = postings_stats_audit(spark, path).collect()[0]
    assert not row["consistent"]
    assert row["n_postings_docs_without_membership"] == 1


def test_max_df_guard_engages_on_stopword_corpus(spark):
    """Hostile Zipf-head corpus: a term in EVERY doc. The guard at 0.5
    must (a) drop it — guarded scores equal the unguarded kernel run
    with that term removed from the workload; (b) stay loud — every
    row of the affected query carries n_q_terms_dropped = 1; (c) a
    query whose EVERY matching term is dropped vanishes (implicit-zero
    convention)."""
    from process_spark.operators.retrieval import bm25_scores_max_df

    d = _docs(
        spark,
        [
            (1, "the apple pie"),
            (2, "the banana split"),
            (3, "the cherry cake"),
            (4, "the apple tart"),
        ],
    )
    qt = _qt(spark, [(0, "the"), (0, "apple"), (1, "the")])
    out = bm25_scores_max_df(d, qt, max_df_fraction=0.5).collect()
    got = {(r["query_id"], r["doc_id"]): r["score_e6"] for r in out}
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(d, _qt(spark, [(0, "apple")])).collect()
    }
    assert got == want  # 'the' contributes nothing; query 1 vanished
    assert {r["query_id"] for r in out} == {0}
    assert all(r["n_q_terms_dropped"] == 1 for r in out)

    # stored-probe twin: same guard semantics over the pruned read
    import tempfile

    with tempfile.TemporaryDirectory(dir="/tmp") as td:
        path = td + "/pidx"
        write_postings_index(d, path, mode="overwrite")
        probe = {
            (r["query_id"], r["doc_id"]): r["score_e6"]
            for r in bm25_probe_postings(
                spark, path, qt, max_df_fraction=0.5
            ).collect()
        }
        assert probe == want


def test_skew_report_bucket_census(spark, tmp_path):
    """postings_skew_report's Spark-only bucket column: each term's
    postings live in exactly ONE term_bucket (the co-location
    invariant), the reported df/total_tf equal exact recounts, and the
    dropped flag keys on df > fraction·N."""
    from pyspark.sql import functions as FF

    from process_spark.operators.retrieval import postings_skew_report

    path = str(tmp_path / "pidx")
    d = _docs(
        spark,
        [
            (1, "the apple pie"),
            (2, "the banana split"),
            (3, "the cherry cake"),
            (4, "the apple tart"),
        ],
    )
    write_postings_index(d, path, mode="overwrite")
    rows = {
        r["tok"]: r
        for r in postings_skew_report(
            spark, path, top_n=10, max_df_fraction=0.5
        ).collect()
    }
    assert rows["the"]["df"] == 4 and rows["the"]["dropped"]
    assert rows["the"]["total_tf"] == 4
    assert rows["apple"]["df"] == 2 and not rows["apple"]["dropped"]
    assert rows["the"]["df_fraction"] == 1.0
    # co-location: the reported bucket is the ONLY bucket holding the
    # term's postings
    data = spark.read.parquet(path + "/data")
    for tok, r in rows.items():
        bks = {
            x["term_bucket"]
            for x in data.filter(FF.col("tok") == tok)
            .select("term_bucket")
            .distinct()
            .collect()
        }
        assert bks == {r["term_bucket"]}, (tok, bks)
    # tombstones: census reflects the LIVE index
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(4,)], "doc_id long")
    )
    rows2 = {
        r["tok"]: r
        for r in postings_skew_report(spark, path, top_n=10).collect()
    }
    assert rows2["the"]["df"] == 3
    assert rows2["apple"]["df"] == 1
    assert abs(rows2["the"]["df_fraction"] - 1.0) < 1e-12


def test_append_refuses_legacy_stats_layout(spark, tmp_path):
    """write_postings_index(mode="append") onto a legacy unpartitioned
    _stats layout must fail loud BEFORE writing anything: appending a
    batch_id=N partition dir alongside root-level parquet files makes
    every later _stats read fail partition discovery (conflicting
    directory structures) — probes, audits, and the sink's n_buckets
    validation all break. Same guard the compactor applies."""
    import shutil

    path = str(tmp_path / "pidx")
    write_postings_index(
        _docs(spark, [(1, "apple banana"), (2, "cherry")]),
        path, mode="overwrite",
    )
    legacy = spark.read.parquet(path + "/_stats").drop("batch_id")
    legacy.coalesce(1).write.mode("overwrite").parquet(path + "/_legacy")
    shutil.rmtree(path + "/_stats")
    shutil.move(path + "/_legacy", path + "/_stats")

    files_before = sorted(
        p.name for p in (tmp_path / "pidx").rglob("*.parquet")
    )
    with pytest.raises(ValueError, match="legacy unpartitioned"):
        write_postings_index(
            _docs(spark, [(3, "durian fig")]), path, mode="append"
        )
    files_after = sorted(
        p.name for p in (tmp_path / "pidx").rglob("*.parquet")
    )
    assert files_after == files_before  # nothing written

    # the rebuild instruction works: overwrite restores the
    # partitioned layout and appends flow again
    write_postings_index(
        _docs(spark, [(1, "apple banana"), (2, "cherry")]),
        path, mode="overwrite",
    )
    write_postings_index(
        _docs(spark, [(3, "durian fig")]), path, mode="append"
    )
    spark.catalog.refreshByPath(path + "/_stats")
    n = spark.read.parquet(path + "/_stats").count()
    assert n == 2  # overwrite delta + append delta, both batch_id rows


def test_skew_report_immune_to_duplicate_postings(spark, tmp_path):
    """df/total_tf must be per-DISTINCT-doc counts: postings appended
    around the append-only validation (legacy indexes, raw data-dir
    writes) can hold duplicate (doc_id, tok) rows, and a raw row-count
    census would double-count them while the probe stays immune (it
    countDistincts). The census dedupes to one row per (tok, doc)."""
    from pyspark.sql import functions as FF

    from process_spark.operators.retrieval import (
        postings_index,
        postings_skew_report,
    )

    path = str(tmp_path / "pidx")
    d = _docs(spark, [(1, "apple banana apple"), (2, "banana cherry")])
    write_postings_index(d, path, mode="overwrite")
    want = {
        r["tok"]: (r["df"], r["total_tf"])
        for r in postings_skew_report(spark, path, top_n=10).collect()
    }
    assert want["banana"] == (2, 2) and want["apple"] == (1, 2)

    # simulate the hole: doc 1 re-ingested straight into data/ (the
    # raw write no validation sees)
    dup = postings_index(_docs(spark, [(1, "apple banana apple")]))
    (
        dup.repartition(1, FF.col("term_bucket"))
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(path + "/data")
    )
    spark.catalog.refreshByPath(path + "/data")
    got = {
        r["tok"]: (r["df"], r["total_tf"])
        for r in postings_skew_report(spark, path, top_n=10).collect()
    }
    assert got == want  # byte-identical duplicates change nothing


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_batch_append_refuses_reingest_and_update_path(spark, tmp_path):
    """The BATCH lifecycle now enforces the same append-only identity
    contract as the streaming sink, via the same _ids sidecar: an
    append re-ingesting a held doc_id raises (content-independent —
    the changed-content copy shares no term bucket with the stored
    one), a tombstoned-but-unpurged id is still refused, and the full
    UPDATE path (tombstone → compact → re-ingest) lands with probe
    scores equal to a fresh index over the final corpus."""
    from process_spark.operators.retrieval import (
        compact_postings_index,
    )

    path = str(tmp_path / "pidx")
    write_postings_index(
        _docs(spark, [(1, "apple banana"), (2, "cherry date")]),
        path, mode="overwrite",
    )
    write_postings_index(
        _docs(spark, [(3, "elderberry fig")]), path, mode="append"
    )
    # changed-content re-ingest: caught via the id-bucketed sidecar
    with pytest.raises(ValueError, match="append-only"):
        write_postings_index(
            _docs(spark, [(2, "zebra xylophone")]), path, mode="append"
        )
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    # tombstoned-but-unpurged: still refused (the id is not free yet)
    with pytest.raises(ValueError, match="append-only"):
        write_postings_index(
            _docs(spark, [(2, "zebra xylophone")]), path, mode="append"
        )
    compact_postings_index(spark, path)
    spark.catalog.refreshByPath(path + "/data")
    write_postings_index(
        _docs(spark, [(2, "zebra xylophone")]), path, mode="append"
    )
    spark.catalog.refreshByPath(path + "/data")

    final = _docs(
        spark,
        [
            (1, "apple banana"),
            (3, "elderberry fig"),
            (2, "zebra xylophone"),
        ],
    )
    qt = _qt(spark, [(0, "apple"), (0, "zebra"), (1, "fig")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(final, qt).collect()
    }
    assert got == want and (0, 2) in got  # the UPDATE is live


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_batch_append_crash_between_docs_and_data_fails_loud(
    spark, tmp_path, monkeypatch
):
    """Batch-append crash ordering: _ids lands BEFORE the postings,
    so a crash between the writes makes the re-run RAISE (loud) — the
    reverse order would silently append the same postings twice. The
    documented repair (tombstone → compact → re-ingest) converges to
    an exact index, including the stats recompute."""
    from pyspark.sql.readwriter import DataFrameWriter

    from process_spark.operators.retrieval import (
        compact_postings_index,
    )

    path = str(tmp_path / "pidx")
    write_postings_index(
        _docs(spark, [(1, "apple banana"), (2, "cherry date")]),
        path, mode="overwrite",
    )

    orig = DataFrameWriter.parquet
    state = {"crash": True}

    def crashing(self, p, *a, **kw):
        if state["crash"] and p.rstrip("/").endswith("/data"):
            raise RuntimeError("injected crash before the data write")
        return orig(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        write_postings_index(
            _docs(spark, [(3, "elderberry fig")]), path, mode="append"
        )
    state["crash"] = False
    spark.catalog.refreshByPath(path + "/_ids")
    spark.catalog.refreshByPath(path + "/data")

    # half-appended: id registered, postings absent, stats delta absent
    assert {
        r["doc_id"] for r in spark.read.parquet(path + "/_ids").collect()
    } == {1, 2, 3}
    assert {
        r["doc_id"] for r in spark.read.parquet(path + "/data").collect()
    } == {1, 2}

    # re-run fails LOUD (dies if the write order ever regresses)
    with pytest.raises(ValueError, match="append-only"):
        write_postings_index(
            _docs(spark, [(3, "elderberry fig")]), path, mode="append"
        )

    # repair converges: purge the orphaned membership, re-ingest
    tombstone_index_ids(
        spark, path, spark.createDataFrame([(3,)], "doc_id long")
    )
    compact_postings_index(spark, path)
    spark.catalog.refreshByPath(path + "/data")
    write_postings_index(
        _docs(spark, [(3, "elderberry fig")]), path, mode="append"
    )
    spark.catalog.refreshByPath(path + "/data")

    final = _docs(
        spark,
        [(1, "apple banana"), (2, "cherry date"), (3, "elderberry fig")],
    )
    qt = _qt(spark, [(0, "apple"), (0, "fig"), (1, "cherry")])
    got = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_probe_postings(spark, path, qt).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_e6"]
        for r in bm25_scores(final, qt).collect()
    }
    assert got == want and (0, 3) in got


def test_batch_append_without_ids_or_meta_raises(spark, tmp_path):
    """An append onto an index whose _ids or _meta was removed raises
    before writing anything: _meta holds the n_buckets the append is
    validated against, and _ids is the only exact append-only check
    (no best-effort fallback on the postings, which a changed-content
    re-ingest would slip past)."""
    import shutil

    for sidecar in ("_ids", "_meta"):
        root = tmp_path / sidecar
        path = str(root / "pidx")
        write_postings_index(
            _docs(spark, [(1, "apple banana"), (2, "cherry date")]),
            path, mode="overwrite",
        )
        shutil.rmtree(path + "/" + sidecar)
        before = sorted(p.name for p in root.rglob("*.parquet"))
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            write_postings_index(
                _docs(spark, [(3, "elderberry fig")]), path, mode="append"
            )
        # nothing written, data/ included
        assert sorted(p.name for p in root.rglob("*.parquet")) == before


def test_composite_vector_failure_cancels_lexical_channel(
    spark, monkeypatch, tmp_path
):
    """The hybrid composites run their two channels through one overlap
    (``_fused_top10``). A vector channel that fails while the lexical
    channel's nested postings writes run must surface its own error,
    not a cancellation, and leave no Spark job running."""
    from process_spark.queries import retrieval
    from process_spark.queries.registry import REGISTRY

    sc = spark.sparkContext
    monkeypatch.setattr(retrieval, "_SCRATCH", str(tmp_path))
    writing = threading.Event()
    lex_returned = []
    write_index = retrieval.write_postings_index
    stored_lex = retrieval._stored_lex_channel

    def traced_write(*args, **kwargs):
        writing.set()
        return write_index(*args, **kwargs)

    def traced_lex(*args, **kwargs):
        out = stored_lex(*args, **kwargs)
        lex_returned.append(True)
        return out

    def failing_ivf(*args, **kwargs):
        if not writing.wait(timeout=60):
            raise TimeoutError("the postings write never started")
        time.sleep(0.2)
        raise ValueError("injected vector-channel failure")

    monkeypatch.setattr(retrieval, "write_postings_index", traced_write)
    monkeypatch.setattr(retrieval, "_stored_lex_channel", traced_lex)
    monkeypatch.setattr(retrieval, "_stored_ivf_knn", failing_ivf)

    with pytest.raises(ValueError, match="injected vector-channel failure"):
        REGISTRY["retrieval_e2e_stored"].fn(spark, SF_SMALL)
    assert not lex_returned, "the lexical channel ran to completion"
    # the status store is fed by the listener bus: a cancelled job can
    # stay listed for a moment after its action has failed
    deadline = time.monotonic() + 5
    while sc.statusTracker().getActiveJobsIds():
        assert time.monotonic() < deadline, "a channel job is still running"
        time.sleep(0.05)
