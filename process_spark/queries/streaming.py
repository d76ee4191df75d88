"""Structured Streaming queries over the ``events`` stream table
(SURVEY.md §2.13 O88-O95).

Batch-first grading: every streaming query runs ``availableNow`` and
returns a batch DataFrame. They come in two shapes:

- **memory-sink drains** (:func:`_drain`): a streaming plan over the
  events table runs into a memory sink and the drained table is the
  result; where the semantics are SQL-expressible the oracle is the
  batch twin (SURVEY.md §2.13 "oracle = batch twin");
- **stored-index foreachBatch replays** (:func:`replay`): staged files
  stream one per micro-batch through a ``foreachBatch`` sink that
  maintains a stored relation (band/cell/postings index, MG state),
  optionally in two resumed waves with offline maintenance between
  them; the result is read back from what the sink stored.
  :func:`_stream_index` is the whole lifecycle of the three pair
  indexes (MinHash, IVF, SRP) and :func:`_pair_sink` their one
  per-batch sink body.

At production scale the same plans run against a live file/Kafka
source with watermarks bounding state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.functions.textfn import tokens
from process_spark.functions.vectorfn import cosine
from process_spark.operators.dedup import minhash_band_index
from process_spark.operators.indexlife import compact_partitioned_index
from process_spark.operators.relational import attach_census, cap_blocks_with_census
from process_spark.operators.similarity import (
    ivf_assign,
    ivf_build,
    near_dup_embeddings,
)
from process_spark.queries._util import _BAND_KW, _SCRATCH, t
from process_spark.queries.registry import register
from process_spark.queries.text import (
    _HH_CAPACITY,
    _O_HEAVY_HITTERS,
    _minhash_md5_ctes,
)
from process_spark.queries.vectors import (
    _O_SRP_BB,
    _ann_banded,
    _ivf_md5_ctes,
    _t32,
)

_MEM_SEQ = 0


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 — replay the events table as a file-source stream. The
    footer-sniffed µs/ns handling lives in sources.io.read_events —
    one copy shared with the batch scan, so a future layout drift is
    fixed in one place."""
    from process_spark.sources.io import read_events

    return read_events(
        spark, os.path.join(sf_dir, "events.parquet"), streaming=True
    )


def _drain(df: DataFrame, mode: str = "complete") -> DataFrame:
    """O8/O95 — run the streaming plan availableNow into a memory sink
    and return the drained table (unique sink name per call).

    Streaming state (aggregation stores, dedup key sets, GroupState)
    is partitioned by ``spark.sql.shuffle.partitions`` AT QUERY START;
    under a default 200-partition session each drain pays 200 state
    stores + 200 Python workers for test-SF data. Scope the partition
    count to the machine's parallelism for the duration of the drain
    only — the stream runs synchronously (awaitTermination) and the
    conf is restored in ``finally``, so unlike a lingering session
    mutation nothing later observes the override. A real deployment
    sizes this per stream workload instead."""
    global _MEM_SEQ
    _MEM_SEQ += 1
    name = f"__stream_sink_{_MEM_SEQ}"
    spark = df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(conf_key, old)
    return spark.table(name)


def replay(
    spark: SparkSession,
    base: str,
    waves: list[list[DataFrame]],
    sink: Callable[[DataFrame, int], None],
    between: Callable[[], None] | None = None,
) -> None:
    """O95 — replay staged rows through a ``foreachBatch`` sink as a
    file stream, the one stream skeleton of the stored-index queries.

    Each DataFrame of each wave is written as ONE parquet file under
    ``base/incoming`` (the first write overwrites, the rest append) and
    the source reads one file per trigger, so each DataFrame is one
    micro-batch. Each wave is one ``availableNow`` run on the
    checkpoint ``base/ckpt``; a later wave RESUMES it — batch ids
    continue, as after a driver stop and restart. ``between()`` runs
    before every wave after the first: the offline maintenance
    (compaction, tombstones) done while the driver is stopped. The
    stream schema is the first staged DataFrame's, so a later wave
    re-ingests rows of the same shape. The checkpoint is removed at
    the end; ``incoming`` and whatever the sink wrote stay."""
    src = os.path.join(base, "incoming")
    ckpt = os.path.join(base, "ckpt")
    mode = "overwrite"
    for i, wave in enumerate(waves):
        if i and between is not None:
            between()
        for df in wave:
            df.coalesce(1).write.mode(mode).parquet(src)
            mode = "append"
        (
            spark.readStream.schema(waves[0][0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )
    shutil.rmtree(ckpt, ignore_errors=True)


def _write_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    cols: tuple[str, ...] = (),
    n: int | None = None,
) -> None:
    """Store ``df`` as batch ``batch_id`` of the relation at ``path``:
    partitioned by ``cols`` and then ``batch_id`` LAST, with dynamic
    partition overwrite, then refresh the path for the next reader.

    This is the exactly-once-by-batch_id layout of every stored-index
    sink. foreachBatch is at-least-once (a mid-batch failure replays
    the whole batch); overwriting exactly the batch's own leaf dirs
    makes a replay REWRITE its rows instead of appending duplicates
    that would double pair counts and permanently inflate the index.
    batch_id last keeps pruning on ``cols`` untouched, and the index
    rows a batch writes are deterministic, so a replay lands in the
    same dirs. History is seeded with the same call at batch_id = -1,
    so partition discovery sees one scheme. ``n`` hash-repartitions on
    ``cols`` first: one file per touched dir."""
    out = df.withColumn("batch_id", F.lit(batch_id))
    if n is not None:
        out = out.repartition(n, *cols)
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*cols, "batch_id").parquet(path)
    df.sparkSession.catalog.refreshByPath(path)


#: Stored layouts ``(partition columns, write tasks)`` of the three
#: pair indexes, shared by :func:`_pair_sink`'s append and the history
#: seed.
_MINHASH_LAYOUT = (("band_idx", "band_bucket"), 64)
_IVF_LAYOUT = (("cell_id",), 8)
_SRP_LAYOUT = (("band_idx",), 64)


def _stream_index(
    spark: SparkSession,
    sf_dir: str,
    kind: Callable,
    name: str,
    compacted: bool = False,
    cap: int | None = None,
) -> DataFrame:
    """The stored-index streaming lifecycle of the MinHash, IVF and
    SRP pair indexes under ``_SCRATCH/name``.

    ``kind(spark, sf_dir, index, pairs, cap)`` (:func:`_minhash_stream`,
    :func:`_ivf_stream`, :func:`_srp_stream`) returns ``(rows, id_col,
    history, layout, sink)``, ``sink`` built by one of the three
    :func:`_pair_sink` factories. The history (even ids) is seeded at
    batch_id = -1 in the sink's layout; the odd ids stream as two
    files, ``id % 4 == 1`` then ``== 3``: one wave, or, when
    ``compacted``, two waves with the offline compaction between them
    (one file per index dir, batch ids sealed to -1). ``cap`` is the
    sink's hot-block guard (None = unguarded). Returns the sink's
    stored pairs."""
    base = os.path.join(_SCRATCH, name)
    index, pairs = os.path.join(base, "index"), os.path.join(base, "pairs")
    shutil.rmtree(base, ignore_errors=True)
    rows, id_col, history, (cols, n), sink = kind(
        spark, sf_dir, index, pairs, cap
    )
    _write_batch(history, index, -1, cols, n)
    first, second = (rows.filter(F.col(id_col) % 4 == r) for r in (1, 3))
    replay(
        spark, base, [[first], [second]] if compacted else [[first, second]],
        sink, between=lambda: compact_partitioned_index(spark, index, cols),
    )
    return spark.read.parquet(pairs)


def _summed_bands(pairs: DataFrame) -> DataFrame:
    """Read-back of a banded pair sink: shared-band counts summed per
    pair over the batches that emitted it."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.sum("n_shared_bands").alias("n_shared_bands")
    )


def _pair_sink(
    idx_dir: str,
    out_dir: str,
    index_rows: Callable[[DataFrame], DataFrame],
    id_col: str,
    layout: tuple[tuple[str, ...], int],
    pair_step: Callable[..., DataFrame],
    blocks: list[str],
    census_col: str,
    cap: int | None,
):
    """foreachBatch sink of a stored pair index, the one body of
    :func:`incremental_dedup_sink`, :func:`incremental_vector_sink` and
    :func:`incremental_srp_sink`. The index lives at ``idx_dir`` in
    ``layout`` (partition columns, write tasks), then ``batch_id``;
    bootstrap history with ``_write_batch(rows, idx_dir, -1,
    *layout)``. Per micro-batch:

    1. ``index_rows(batch)`` computes the batch's index rows once,
       pinned: the guard, both joins and the append read them;
    2. with ``cap`` set, ``cap_blocks_with_census`` cuts the batch's
       over-cap ``blocks`` groups from the join side;
    3. the batch's own SEALED ids are looked up (below);
    4. history is read: stored rows of strictly earlier batches
       (``batch_id < current``) minus the sealed-own ids, pruned to
       the join side's values of the layout's partition columns (an
       IN-set bounded by the bucket or cell count, pushed down as
       PartitionFilters);
    5. ``pair_step(join_side, history, id_col, blocks)`` emits the
       same-batch pairs (self-join) and the batch×history pairs
       (probe), each with ``id_a < id_b``;
    6. with ``cap`` set, the batch's cut-block census rides every
       pair row as ``census_col`` (``attach_census``; a NULL-id
       sentinel when a batch cuts everything): truncation is part of
       the result, never a silent drop;
    7. the pairs go to ``out_dir``; then the FULL index rows (the cap
       bounds join work, not storage: history stays complete) minus
       the sealed-own ids are appended to ``idx_dir``.

    Replay. foreachBatch is at-least-once. Both writes of step 7
    overwrite exactly the batch's own ``batch_id`` dirs
    (:func:`_write_batch`) and step 4 never reads the batch itself, so
    a replayed batch rewrites its pairs and index rows instead of
    doubling pair counts or inflating the index.

    Sealed own. If the stream died after the append but before its
    checkpoint commit, and a compaction sealed the index to
    ``batch_id = -1`` before the restart, the replayed batch's own rows
    are in history, where ``batch_id < current`` cannot tell them
    apart: the probe would self-match and the append would duplicate
    them permanently. Index rows are deterministic, so any sealed copy
    sits in the batch's own partitions. Step 3 reads the sealed slice
    pruned to the partition values of the UNGUARDED rows (a hostile
    batch whose every block is over the cap still finds its copies)
    and semi-joins it against the batch's bounded id set; steps 4 and
    7 exclude what it finds. In a banded layout (``band_idx`` among the
    partition columns) every id has a row in every band, so the band-0
    slice alone witnesses each sealed id. On clean runs the lookup is
    empty and costs one pruned scan.

    ``cap`` None keeps exact oracle parity with the whole-corpus pair
    join."""
    cols, n = layout

    def pruned(df: DataFrame, where):
        # band_idx is never pruned by value: every band holds every id
        for c in cols:
            if c != "band_idx":
                vals = sorted(r[c] for r in df.select(c).distinct().collect())
                where &= F.col(c).isin(vals)
        return where

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        rows = index_rows(batch_df).localCheckpoint(eager=False)
        join_side = rows
        if cap is not None:
            join_side, census = cap_blocks_with_census(
                rows, blocks, cap, census_col
            )
        own, sealed = rows, F.col("batch_id") == -1
        if "band_idx" in cols:
            own = rows.filter(F.col("band_idx") == 0)
            sealed &= F.col("band_idx") == 0
        sealed_own = (
            ss.read.parquet(idx_dir)
            .filter(pruned(own, sealed))
            .join(
                F.broadcast(batch_df.select(id_col).distinct()),
                id_col,
                "left_semi",
            )
            .select(id_col)
            .distinct()
            .localCheckpoint(eager=True)  # two consumers: probe + append
        )
        history = (
            ss.read.parquet(idx_dir)
            .filter(pruned(join_side, F.col("batch_id") < F.lit(batch_id)))
            .join(F.broadcast(sealed_own), id_col, "left_anti")
        )
        pairs = pair_step(join_side, history, id_col, blocks)
        if cap is not None:
            pairs = attach_census(pairs, census)
        _write_batch(pairs, out_dir, batch_id)
        _write_batch(
            rows.join(F.broadcast(sealed_own), id_col, "left_anti"),
            idx_dir, batch_id, cols, n,
        )

    return sink


def _band_pairs(
    join_side: DataFrame, history: DataFrame, id_col: str, blocks: list[str]
) -> DataFrame:
    """Pair step of the banded sinks (MinHash, SRP): ids that share a
    band bucket (``blocks`` equal), with their shared-band count."""
    a, b = join_side.alias("a"), join_side.alias("b")
    within = a.join(
        b,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocks]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    probe = join_side.withColumnRenamed(id_col, "probe_id")
    cross = history.join(probe, blocks).select(
        F.least("probe_id", id_col).alias("id_a"),
        F.greatest("probe_id", id_col).alias("id_b"),
    )
    return (
        within.unionByName(cross)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _cosine_pairs(threshold: float) -> Callable[..., DataFrame]:
    """Pair step of the IVF sink: ids in one cell (``blocks``) whose
    cosine is ≥ ``threshold``; a NaN cosine never passes."""

    def step(join_side, history, id_col, blocks):
        within = near_dup_embeddings(
            join_side, threshold=threshold, id_col=id_col, block_col=blocks[0]
        ).select("id_a", "id_b")
        h, b = history.alias("h"), join_side.alias("b")
        hid, bid = F.col(f"h.{id_col}"), F.col(f"b.{id_col}")
        sim = cosine(F.col("h.embedding"), F.col("b.embedding"))
        cross = (
            h.join(b, [F.col(f"h.{c}") == F.col(f"b.{c}") for c in blocks])
            .select(
                F.least(hid, bid).alias("id_a"),
                F.greatest(hid, bid).alias("id_b"),
                sim.alias("__sim"),
            )
            .filter((F.col("__sim") >= threshold) & ~F.isnan("__sim"))
            .select("id_a", "id_b")
        )
        return within.unionByName(cross).distinct()

    return step


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O88: tumbling 1-day windows per event type (oracle = batch
    twin: day-truncated group-by)."""
    s = _stream_events(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    out = _drain(agg).select(
        F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
    )
    return out


@register(
    "stream_sliding_counts",
    oracle="""
    WITH contrib AS (
      SELECT unnest([date_trunc('day', ts),
                     date_trunc('day', ts) - INTERVAL 1 DAY]) AS window_start,
             value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM contrib
    GROUP BY window_start
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O89: sliding windows (2-day length, 1-day slide) — each event
    lands in exactly two windows; the oracle materializes that
    contribution list explicitly."""
    s = _stream_events(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "2 days", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return _drain(agg).select(
        F.col("w.start").alias("window_start"), "n", "sum_value"
    )


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts > COALESCE(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                    + INTERVAL 1 HOUR,
                    ts - INTERVAL 1 SECOND)
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    runs AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1 HOUR AS session_end,
           COUNT(*) AS n_events
    FROM runs
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O90: gap-based session windows (1-hour gap) per user — the
    streaming twin of O53 sessionization. session_window's end is
    last-event + gap; the oracle's gap-islands form mirrors that."""
    s = _stream_events(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return _drain(agg).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@register(
    "stream_static_join",
    oracle="""
    WITH weights(event_type, weight) AS (VALUES
      ('click', 1), ('view', 1), ('purchase', 10), ('signup', 5), ('error', -1))
    SELECT e.event_id, e.event_type, w.weight,
           e.value * w.weight AS weighted_value
    FROM events e JOIN weights w USING (event_type)
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O94: stream ⋈ static dim — the dim broadcasts to every
    micro-batch (stream side never shuffles)."""
    s = _stream_events(spark, sf_dir)
    weights = spark.createDataFrame(
        [("click", 1), ("view", 1), ("purchase", 10), ("signup", 5), ("error", -1)],
        "event_type string, weight int",
    )
    joined = s.join(F.broadcast(weights), "event_type").select(
        "event_id",
        "event_type",
        "weight",
        (F.col("value") * F.col("weight")).alias("weighted_value"),
    )
    return _drain(joined, mode="append")


@register(
    "stream_dedup_watermark",
    oracle="""
    -- One REAL row per event_id (not per-column MIN, which could
    -- fabricate a row mixing fields from different source rows if a
    -- testdata regeneration ever ships non-identical duplicate ids):
    -- arg-min of the whole row by the full column tuple, the
    -- duplicate-proof twin of dropDuplicates(["event_id"]).
    SELECT event_id, ts, user_id, event_type FROM (
      SELECT event_id, ts, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY ts, user_id, event_type) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O91/O92 (oracle-backed): watermarked exactly-once dedup on
    event_id. dropDuplicatesWithinWatermark — NOT plain
    dropDuplicates(["event_id"]), which keeps every key forever when
    the event-time column is outside the subset (state metrics show
    numRowsRemoved=0, monotone growth — measured in
    tests/test_streaming_semantics.py): within-watermark dedup evicts
    a key once the watermark passes first-seen + delay, which is what
    actually bounds state on an unbounded stream. The dedup guarantee
    weakens to "duplicates arriving within the delay" — exactly the
    guarantee a replayed/at-least-once source needs, and the injected
    duplicates here (self-union doubles every event) arrive in the
    SAME batch, so the surviving row set equals the distinct input,
    the batch twin the oracle runs."""
    s = _stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    deduped = (
        s.union(s)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _drain(deduped, mode="append")


@register("stream_stateful_user_stats", oracle=None)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O93: custom stateful per-key logic via applyInPandasWithState —
    running per-user event count / max value / last event type carried
    in explicit GroupState (rows-only; emission timing is
    batch-boundary-dependent)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    s = _stream_events(spark, sf_dir).select("user_id", "ts", "value", "event_type")

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, vmax = state.get
        else:
            n, vmax = 0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            # dropna: a NULL measurement must not poison (or fabricate)
            # the max — a user with ONLY nulls keeps the -inf sentinel
            # and emits NULL, matching MAX(value) over all-null input.
            v = pdf["value"].dropna()
            if len(v):
                vmax = max(vmax, float(v.max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": pd.array(
                    [vmax if vmax != float("-inf") else None], dtype="Float64"
                ),
            }
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(out, mode="update")


@register("stream_transform_with_state", oracle=None)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O93 (Spark 4 surface): the same running per-user stats as
    stream_stateful_user_stats, but through transformWithStateInPandas
    — the StatefulProcessor API that replaces applyInPandasWithState
    (typed value state, timers, Arrow-batched). Rows-only: emission
    timing is batch-boundary-dependent.

    Environment gate: the TWS runner needs a working google.protobuf
    (its driver-side state server speaks protobuf). Where that import
    is broken, fall back to the applyInPandasWithState twin so the
    query still returns the same per-user stats."""
    import pandas as pd  # noqa: PLC0415

    try:
        from google.protobuf import descriptor  # noqa: F401,PLC0415
        from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:
        return stream_stateful_user_stats(spark, sf_dir)

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n BIGINT, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, vmax = self._state.get()
            else:
                n, vmax = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                vals = pdf["value"].dropna()
                if len(vals):
                    vmax = max(vmax, float(vals.max()))
            self._state.update((n, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    # all-null user: emit NULL, not the -inf sentinel
                    "max_value": pd.array(
                        [vmax if vmax != float("-inf") else None],
                        dtype="Float64",
                    ),
                }
            )

        def close(self) -> None:
            pass

    s = _stream_events(spark, sf_dir).select("user_id", "ts", "value")
    out = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id bigint, n_events bigint, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    return _drain(out, mode="update")


@register(
    "stream_foreach_batch_export",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O95 (oracle-backed): foreachBatch sink — per-micro-batch custom
    export (the reference's JSON-doc output as a stream, SURVEY.md
    O95). Each batch appends its raw rows as parquet partitioned by
    batch id; the query re-reads every exported batch and aggregates
    per event type with an exact-decimal sum. Batch BOUNDARIES are
    source-dependent, but the exported row UNION is the whole input —
    so the read-back aggregate is batch-count-invariant and carries a
    plain batch oracle (exactly-once: the checkpoint prevents an
    interrupted run from double-appending a batch)."""
    out_dir = os.path.join(_SCRATCH, "stream_batches")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(out_dir + "_ckpt", ignore_errors=True)
    s = _stream_events(spark, sf_dir)
    agg_src = s.select("event_type", "value")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        agg_src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", out_dir + "_ckpt")
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(out_dir + "_ckpt", ignore_errors=True)
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O94+: stream-stream inner join — purchases within 1 hour after a
    click by the same user. Both sides carry watermarks and the join
    has a time-bound condition, so state stores expire rows instead of
    growing without bound (the production requirement for stream-stream
    joins). availableNow drains everything in-order, so the result set
    equals the batch twin the oracle runs."""
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = _drain(joined, mode="append")
    return out.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


@register(
    "stream_windows_suite",
    oracle="""
    SELECT 'tumbling' AS kind, date_trunc('day', ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding', window_start, NULL, COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
    FROM (
      SELECT unnest([date_trunc('day', ts),
                     date_trunc('day', ts) - INTERVAL 1 DAY]) AS window_start,
             value
      FROM events
    )
    GROUP BY 2
    """,
)
def stream_windows_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7+O8+O88+O89 tagged union: tumbling 1-day windows per event
    type and sliding (2-day, 1-day slide) windows — two availableNow
    streams drained through memory sinks, each the same plan a live
    source would run. The sliding oracle materializes each event's two
    window contributions explicitly."""
    tumb = _stream_events(spark, sf_dir).groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    t_out = _drain(tumb).select(
        F.lit("tumbling").alias("kind"),
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )
    slid = _stream_events(spark, sf_dir).groupBy(
        F.window("ts", "2 days", "1 day").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    s_out = _drain(slid).select(
        F.lit("sliding").alias("kind"),
        F.col("w.start").alias("window_start"),
        F.lit(None).cast("string").alias("event_type"),
        "n",
        "sum_value",
    )
    return t_out.unionByName(s_out)


@register(
    "stream_user_state_suite",
    oracle="""
    WITH weights(event_type, weight) AS (VALUES
      ('click', 1), ('view', 1), ('purchase', 10), ('signup', 5), ('error', -1)),
    base AS (
      -- count/max over ALL events, like the dedup and GroupState
      -- streams — only the weighted sum rides the weights join (an
      -- unknown event_type must drop from sum_weighted, not from the
      -- counts; the suite's inner join then drops that user row on
      -- both sides identically). n_dedup = COUNT(DISTINCT event_id),
      -- not COUNT(*): the dedup twin must stay correct even if a
      -- testdata regeneration ships duplicate event_ids.
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(DISTINCT event_id) AS n_dedup_ids,
             MAX(value) AS max_value
      FROM events GROUP BY user_id
    ),
    wsum AS (
      SELECT e.user_id,
             CAST(SUM(CAST(e.value * w.weight AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_weighted
      FROM events e JOIN weights w USING (event_type)
      GROUP BY e.user_id
    )
    SELECT b.user_id,
           b.n_dedup_ids AS n_dedup,
           b.n_events,
           b.max_value,
           s.sum_weighted
    FROM base b JOIN wsum s ON b.user_id = s.user_id
    """,
)
def stream_user_state_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O91+O92+O93+O94 with one oracle: three streaming plans drained
    availableNow, reduced to their per-user FINAL state (which is
    batch-deterministic even though per-batch emission timing is not):

    - watermarked exactly-once dedup (O91 watermark bounds the id
      state, O92 dropDuplicates) fed a duplicate-injected stream — the
      self-union doubles every event, so a dedup that leaks produces
      2x counts and a red row;
    - applyInPandasWithState running per-user stats (O93) in update
      mode — the max over the update log IS the final state;
    - stream x static broadcast join (O94) weighting each event, then
      an exact-decimal per-user sum of the drained append log.

    The three per-user frames join on user_id into one row per user.
    Scale: all state is keyed and watermark-bounded; the static dim
    broadcasts; each drain shuffles once on its key."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    # O91/O92 — duplicate-injected watermarked dedup, reduced per user.
    # dropDuplicatesWithinWatermark: the variant whose state actually
    # EVICTS (plain dropDuplicates on a non-event-time subset never
    # removes keys — see stream_dedup_watermark).
    s1 = _stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    deduped = (
        s1.union(s1)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    dedup_counts = (
        _drain(deduped, mode="append")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_dedup"))
    )

    # O93 — running per-user stats via explicit GroupState; final
    # state = max over the update-mode emission log.
    s2 = _stream_events(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, vmax = state.get
        else:
            n, vmax = 0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            # dropna: a NULL measurement must not poison (or fabricate)
            # the max — a user with ONLY nulls keeps the -inf sentinel
            # and emits NULL, matching MAX(value) over all-null input.
            v = pdf["value"].dropna()
            if len(v):
                vmax = max(vmax, float(v.max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": pd.array(
                    [vmax if vmax != float("-inf") else None], dtype="Float64"
                ),
            }
        )

    stats_log = s2.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final_stats = (
        _drain(stats_log, mode="update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )

    # O94 — stream x static broadcast join, exact-decimal reduced.
    weights = spark.createDataFrame(
        [("click", 1), ("view", 1), ("purchase", 10), ("signup", 5), ("error", -1)],
        "event_type string, weight int",
    )
    s3 = _stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    weighted = s3.join(F.broadcast(weights), "event_type").select(
        "user_id", (F.col("value") * F.col("weight")).alias("weighted_value")
    )
    weighted_sums = (
        _drain(weighted, mode="append")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("weighted_value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_weighted")
        )
    )

    return dedup_counts.join(final_stats, "user_id").join(weighted_sums, "user_id")


def incremental_dedup_sink(
    idx_dir: str,
    out_dir: str,
    kw: dict,
    max_bucket_size: int | None = None,
):
    """foreachBatch sink of the incremental MinHash dedup stream — the
    :func:`_pair_sink` contract, exposed so deployments (and tests) can
    compose it onto any documents stream. Index rows: the batch's
    MinHash bands (``minhash_band_index(..., **kw)``) stored
    ``(band_idx, band_bucket, batch_id)``; pairs: docs sharing a band
    signature, with their shared-band counts. ``max_bucket_size`` cuts
    over-cap (band, signature) groups; the census rides as
    ``n_cut_buckets``. stream_dedup_index_probe_guarded registers the
    guarded form."""
    return _pair_sink(
        idx_dir, out_dir,
        lambda df: minhash_band_index(df, "doc_id", "text", **kw),
        "doc_id", _MINHASH_LAYOUT, _band_pairs,
        ["band_idx", "band_hash"], "n_cut_buckets", max_bucket_size,
    )


def _minhash_stream(spark, sf_dir, index, pairs, cap):
    """The MinHash text kind of :func:`_stream_index`: documents
    banded through ``_BAND_KW``, history = the even doc_ids' bands."""
    d = t(spark, sf_dir, "documents")
    history = minhash_band_index(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", **_BAND_KW
    )
    sink = incremental_dedup_sink(index, pairs, _BAND_KW, max_bucket_size=cap)
    return d.select("doc_id", "text"), "doc_id", history, _MINHASH_LAYOUT, sink


#: Batch-twin oracle of the unguarded MinHash streams = the
#: WHOLE-CORPUS band join (the same relation dedup_band_index_probe's
#: oracle checks), restricted to pairs with at least one streamed (odd)
#: member and normalized (id_a < id_b).
_O_STREAM_MINHASH = """
    WITH {ctes}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1
    GROUP BY 1, 2
    """.format(ctes=_minhash_md5_ctes(where="TRUE"))


@register(
    "stream_dedup_index_probe",
    # Batch boundaries are source-dependent, but the emitted pair UNION
    # is batch-count-INVARIANT by construction: a same-batch pair is
    # found by the batch self-join, a cross-batch pair by the later
    # batch's probe of the appended index — each exactly once.
    oracle=_O_STREAM_MINHASH,
)
def stream_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63+O95 — INCREMENTAL near-dup dedup as a STREAM: the composition
    the 100 TB pipeline actually runs on continuous ingestion. The
    historical corpus's MinHash band index sits stored
    partitionBy(band_idx, band_bucket); new documents arrive as a file
    stream (availableNow, maxFilesPerTrigger=1 → multiple micro-
    batches) and each micro-batch, inside foreachBatch:

      1. bands itself once (localCheckpoint),
      2. self-joins its own bands (same-batch candidate pairs),
      3. probes the STORED index — bucket IN-set pushed down as
         PartitionFilters, so history is a point lookup, never a scan,
      4. appends its bands to the index (partition-consistent, one
         file per touched dir), so the NEXT batch's probe sees it,
      5. appends its candidate pairs to the result sink.

    Batch 2 finding batch 1's near-dups is asserted in
    tests/test_streaming_semantics.py; the oracle is the whole-corpus
    band join — the same relation the batch lifecycle queries check —
    which the streamed pair union must equal regardless of how the
    source happened to batch the files."""
    return _summed_bands(
        _stream_index(spark, sf_dir, _minhash_stream, "stream_dedup_index")
    )


def mg_state_sink(state_dir: str, capacity: int):
    """foreachBatch sink factory for RESTARTABLE streaming heavy
    hitters: each micro-batch tokenizes itself, computes its own
    bounded MG summary (mg_partition_summaries — vectorized, ≤
    capacity counters per partition), and persists that summary to a
    batch_id-keyed subdirectory of the parquet state table
    (mg_save_batch_summary, mode=overwrite → idempotent under
    foreachBatch's at-least-once replay). NO driver dict survives
    between batches — kill the driver at any point and the next run
    reconstructs the exact cross-batch state from the table
    (mg_load_state), because MG summaries are mergeable."""
    from process_spark.operators.sketch import (
        mg_partition_summaries,
        mg_save_batch_summary,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tk = batch_df.select(F.explode(tokens("text")).alias("tok"))
        counters, batch_total = mg_partition_summaries(tk, "tok", capacity)
        mg_save_batch_summary(
            batch_df.sparkSession, state_dir, batch_id, counters,
            batch_total,
        )

    return sink


def _stream_heavy_hitters(
    spark: SparkSession, sf_dir: str, name: str, compacted: bool
) -> DataFrame:
    """stream_heavy_hitters and its compacted twin: the even and then
    the odd documents stream through :func:`mg_state_sink` (one wave,
    or two with mg_compact_state sealing the state between them), then
    the state reloads from the table and one exact-verify pass over
    the full corpus restores true counts."""
    from process_spark.operators.sketch import (
        exact_verify,
        mg_compact_state,
        mg_load_state,
    )

    base = os.path.join(_SCRATCH, name)
    state_dir = os.path.join(base, "mg_state")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    even, odd = (
        d.select("doc_id", "text").filter(F.col("doc_id") % 2 == r)
        for r in (0, 1)
    )
    replay(
        spark, base, [[even], [odd]] if compacted else [[even, odd]],
        mg_state_sink(state_dir, _HH_CAPACITY),
        between=lambda: mg_compact_state(spark, state_dir, _HH_CAPACITY),
    )
    counters, total = mg_load_state(spark, state_dir, _HH_CAPACITY)
    tk_all = d.select(F.explode(tokens("text")).alias("tok"))
    return exact_verify(tk_all, "tok", list(counters.keys()), total,
                        _HH_CAPACITY)


@register(
    "stream_heavy_hitters",
    # Batch-twin oracle = text_heavy_hitters' statement VERBATIM: MG
    # summaries are mergeable, so however the source batches the
    # files, the merged candidate set still covers every token above
    # the total/capacity bar, and the final exact verify over the full
    # corpus returns the same rows — batch-count-INVARIANT by theorem,
    # hash-checked here.
    oracle=_O_HEAVY_HITTERS,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O95 + sketch — heavy hitters over CONTINUOUS ingestion, with
    DURABLE cross-batch state: the documents table replayed as a file
    stream (availableNow, maxFilesPerTrigger=1 → multiple micro-
    batches); each micro-batch, inside foreachBatch, persists its own
    bounded Misra-Gries summary to a batch_id-keyed parquet state
    table (mg_state_sink — mode=overwrite per batch_id, so a replayed
    batch rewrites rather than double-counts). Nothing survives on the
    driver between batches: after the stream drains, the cross-batch
    state is RECONSTRUCTED from the table (mg_load_state — pointwise
    sum + one mergeable-summaries merge) and one exact-verify pass
    over the full corpus restores true counts of the ≤ capacity
    candidates. Kill-and-resume (two availableNow runs sharing
    checkpoint + state dir) is pinned in
    tests/test_streaming_semantics.py.

    The merge rule preserves the coverage guarantee ACROSS batches
    (any token with whole-stream frequency > total/capacity survives),
    so the emitted rows equal the batch query's exactly, no matter how
    the source happened to batch the files — the oracle is
    text_heavy_hitters' statement verbatim."""
    return _stream_heavy_hitters(
        spark, sf_dir, "stream_heavy_hitters", compacted=False
    )


@register(
    "stream_heavy_hitters_compacted",
    # Batch-twin oracle = text_heavy_hitters' statement VERBATIM, same
    # as stream_heavy_hitters: the driver stop, the state compaction
    # (every per-batch summary sealed into one batch_id = -1 row), and
    # the resumed second wave are all maintenance details the final
    # exact-verified row set is invariant to — sealing is the same
    # pointwise-sum + bounding merge reload performs, so by the
    # mergeable-summaries theorem nothing can change.
    oracle=_O_HEAVY_HITTERS,
)
def stream_heavy_hitters_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O95 + sketch — the durable-MG-state PRODUCTION lifecycle: ingest
    wave 1 (availableNow), STOP the driver, run the offline maintenance
    pass (mg_compact_state — one batch_id subdir per micro-batch folded
    into a single sealed batch_id = -1 summary; the same small-files
    decay the band/IVF indexes got compaction for in r8), then RESUME
    wave 2 against the same checkpoint. Wave 2's batches land next to
    the sealed row, and the final reload (pointwise sum + one bounding
    merge) must reconstruct exactly the state an uncompacted run
    reaches — the oracle is the whole-corpus heavy-hitters statement,
    so maintenance moved files, never counts. File-count collapse and
    kill-resume-across-compaction are asserted in
    tests/test_streaming_semantics.py."""
    return _stream_heavy_hitters(
        spark, sf_dir, "stream_heavy_hitters_compacted", compacted=True
    )


@register(
    "stream_dedup_index_compacted",
    # Same batch-count-invariant relation as stream_dedup_index_probe:
    # the whole-corpus band join restricted to pairs with a streamed
    # (odd) member. The driver restart between waves, the compaction
    # (batch_ids sealed to -1, one file per dir), and the second
    # wave's probe of the sealed index are all storage/lifecycle
    # details the emitted pair union is invariant to — which is
    # exactly what this hash checks.
    oracle=_O_STREAM_MINHASH,
)
def stream_dedup_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63+O95 — the FULL incremental-dedup production lifecycle in one
    query: ingest wave 1 (availableNow), STOP the driver, run the
    offline maintenance pass (indexlife.compact_partitioned_index on
    the (band_idx, band_bucket) layout — every partition dir rewritten to
    one file, batch_ids sealed to -1), then RESUME wave 2
    against the same checkpoint. Wave 2's probe reads the compacted,
    sealed index (its ``batch_id < current`` history filter sees every
    sealed row because -1 < everything) and must find wave-1 and
    historical near-dups exactly as if no maintenance had run — the
    oracle is the same whole-corpus band join stream_dedup_index_probe
    checks, so the hash proves restart + compaction moved bytes, never
    pairs. This is the weekly-compaction rhythm a continuous-ingest
    deployment actually runs; without it, probes open one file per
    ingested batch per partition forever."""
    return _summed_bands(
        _stream_index(
            spark, sf_dir, _minhash_stream, "stream_dedup_index_compacted",
            compacted=True,
        )
    )


@register(
    "stream_heavy_hitters_by_lang",
    # Batch-twin oracle = text_heavy_hitters_by_lang's statement
    # VERBATIM: per-group MG summaries are mergeable group-wise, so
    # however the source batches the files, each language's merged
    # candidate set still covers every token above that language's
    # total/capacity bar, and the final per-group exact verify over
    # the full corpus returns the same rows.
    oracle=f"""
    WITH tk AS (SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok FROM documents),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM tk
            GROUP BY lang)
    SELECT tk.lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(tot.n // 48 + 1 AS BIGINT) AS threshold
    FROM tk JOIN tot USING (lang)
    GROUP BY tk.lang, tok, tot.n
    HAVING COUNT(*) >= tot.n // 48 + 1
    """,
)
def stream_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O95 + grouped sketch — per-language heavy hitters over
    CONTINUOUS ingestion with DURABLE per-group state: each micro-batch
    persists one grouped MG summary row per language to the
    batch_id-keyed parquet state table
    (mg_save_batch_summary_by_group — overwrite per batch → replay-
    idempotent), nothing survives on the driver; after the stream
    drains, per-language state reconstructs from the table
    (mg_load_state_by_group) and one exact-verify pass restores each
    language's true counts at its OWN total/capacity bar. Group-wise
    mergeability makes the output batch-count-invariant, so the oracle
    is text_heavy_hitters_by_lang's statement verbatim — the grouped
    composition of the stream_heavy_hitters durability story."""
    from process_spark.operators.sketch import (
        mg_load_state_by_group,
        mg_partition_summaries_by_group,
        mg_save_batch_summary_by_group,
    )

    cap = 48
    base = os.path.join(_SCRATCH, "stream_heavy_hitters_by_lang")
    state_dir = os.path.join(base, "mg_state")
    shutil.rmtree(base, ignore_errors=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tk = batch_df.select(
            "lang", F.explode(tokens("text")).alias("tok")
        )
        counters, totals = mg_partition_summaries_by_group(
            tk, "lang", "tok", cap
        )
        mg_save_batch_summary_by_group(
            batch_df.sparkSession, state_dir, batch_id, counters, totals
        )

    d = t(spark, sf_dir, "documents")
    docs = d.select("doc_id", "lang", "text")
    even_odd = [docs.filter(F.col("doc_id") % 2 == r) for r in (0, 1)]
    replay(spark, base, [even_odd], sink)

    counters, totals = mg_load_state_by_group(spark, state_dir, cap)
    # exact verify, per group: bounded candidate + threshold tables
    tk_all = d.select("lang", F.explode(tokens("text")).alias("tok"))
    cand = spark.createDataFrame(
        [(g, k) for g, dd in counters.items() for k in dd]
        or [("", "")],
        "lang string, tok string",
    )
    thr = spark.createDataFrame(
        [(g, t // cap + 1) for g, t in totals.items()] or [("", 1)],
        "lang string, threshold long",
    )
    exact = (
        tk_all.join(F.broadcast(cand), ["lang", "tok"])
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.join(F.broadcast(thr), "lang").filter(
        F.col("cnt") >= F.col("threshold")
    )


def incremental_vector_sink(
    idx_dir: str,
    out_dir: str,
    cells: DataFrame,
    threshold: float = 0.9995,
    max_block_size: int | None = None,
):
    """foreachBatch sink of the incremental SEMANTIC dedup stream — the
    :func:`_pair_sink` contract for vectors. Index rows: the batch's
    vectors assigned to the FIXED pre-trained ``cells`` (ivf_assign —
    no retrain; centroid drift is the offline rebuild's job) stored
    ``(cell_id, batch_id)``; pairs: vectors in one cell with cosine
    ≥ ``threshold``. ``max_block_size`` cuts over-cap cells; the
    census rides as ``n_cut_cells``. stream_semantic_dedup_probe_guarded
    registers the guarded form."""
    return _pair_sink(
        idx_dir, out_dir, lambda df: ivf_assign(df, cells), "vec_id",
        _IVF_LAYOUT, _cosine_pairs(threshold),
        ["cell_id"], "n_cut_cells", max_block_size,
    )


def _ivf_stream(spark, sf_dir, index, pairs, cap):
    """The IVF vector kind of :func:`_stream_index`: cells trained
    ONCE on the even vec_ids (md5 seeds), history = their assignment;
    the odd vectors stream against the fixed cells."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, history = ivf_build(
        e.filter(F.col("vec_id") % 2 == 0), n_cells=8, seed_hash="md5"
    )
    sink = incremental_vector_sink(index, pairs, cells, max_block_size=cap)
    rows = e.filter(F.col("vec_id") % 2 == 1)
    return rows, "vec_id", history, _IVF_LAYOUT, sink


#: Batch-twin oracle of the unguarded IVF streams = the WHOLE-CORPUS
#: cell-blocked threshold pair join under the md5 IVF chain (cells
#: trained on the even half — the bootstrap history — assignment over
#: everything), restricted to pairs with at least one streamed (odd)
#: member.
_O_STREAM_IVF = f"""
    WITH {_ivf_md5_ctes(build_where="vec_id % 2 = 0")},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign1 a JOIN assign1 b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE (1 + a.tv * b.tv)
              / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
        AND (a.vec_id % 2 = 1 OR b.vec_id % 2 = 1)
    )
    SELECT id_a, id_b FROM pairs
    """


@register(
    "stream_semantic_dedup_probe",
    # Batch boundaries are source-dependent, but the emitted pair UNION is
    # batch-count-INVARIANT by construction: a same-batch pair is
    # found by the batch self-join, a cross-batch pair by the later
    # batch's probe of the appended index — each exactly once.
    oracle=_O_STREAM_IVF,
)
def stream_semantic_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64+O95 — INCREMENTAL semantic dedup as a STREAM: the brief's
    headline capability (embedding near-dup detection) running the
    same continuous-ingestion shape as the text pipeline. The
    historical corpus (even vec_ids) trains the IVF cells ONCE and its
    cell-coded vectors sit stored partitionBy(cell_id, batch_id=-1);
    new vectors arrive as a file stream (availableNow,
    maxFilesPerTrigger=1 → multiple micro-batches) and each
    micro-batch, inside foreachBatch (incremental_vector_sink):

      1. assigns itself to the FIXED cells (no retrain),
      2. self-joins within cells (same-batch near-dup pairs),
      3. probes the STORED index — its cell IN-set pushed down as
         PartitionFilters, history = strictly earlier batches,
      4. appends its cell-coded vectors (dynamic partition overwrite
         on batch_id → replay-idempotent),
      5. writes its pairs keyed by batch_id (same idempotence).

    The oracle replays cells-from-history + assign-everything + the
    cell-blocked threshold join in one statement; the streamed pair
    union must equal it no matter how the source batched the files.
    Replay safety is pinned in tests/test_streaming_semantics.py."""
    return (
        _stream_index(spark, sf_dir, _ivf_stream, "stream_vec_index")
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_srp_sink(
    idx_dir: str, out_dir: str, max_bucket_size: int | None = None
):
    """foreachBatch sink of the incremental SRP-ANN candidate stream —
    the :func:`_pair_sink` contract for the shared 112-band SRP pool
    (the vec_ann_srp_bucketed relation verbatim). Index rows: the
    batch's band buckets (``_ann_banded``) stored ``(band_idx,
    batch_id)``; pairs: vectors sharing a band bucket, with their
    shared-band counts. A deployment that tuned to b bands
    (ann_srp_tune) filters ``band_idx < b`` on BOTH sides — realized
    as PartitionFilters on the stored scan, see
    vec_srp_stored_lifecycle. ``max_bucket_size`` cuts over-cap
    (band, bucket) groups; the census rides as ``n_cut_buckets``.
    stream_srp_index_probe_guarded registers the guarded form."""
    return _pair_sink(
        idx_dir, out_dir, _ann_banded, "vec_id", _SRP_LAYOUT, _band_pairs,
        ["band_idx", "bucket"], "n_cut_buckets", max_bucket_size,
    )


def _srp_stream(spark, sf_dir, index, pairs, cap):
    """The SRP vector kind of :func:`_stream_index`: history = the
    even vec_ids banded through the shared 112-band pool."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    history = _ann_banded(e.filter(F.col("vec_id") % 2 == 0))
    sink = incremental_srp_sink(index, pairs, max_bucket_size=cap)
    rows = e.filter(F.col("vec_id") % 2 == 1)
    return rows, "vec_id", history, _SRP_LAYOUT, sink


#: Batch-twin oracle of the unguarded SRP streams = the whole-corpus
#: SRP band-collision join (vec_ann_srp_bucketed's bb relation
#: self-joined with shared-band counts), restricted to pairs with at
#: least one streamed (odd) member.
_O_STREAM_SRP = f"""
    WITH {_O_SRP_BB}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM bb a JOIN bb b
      ON a.band_idx = b.band_idx AND a.bucket = b.bucket
     AND a.vec_id < b.vec_id
    WHERE a.vec_id % 2 = 1 OR b.vec_id % 2 = 1
    GROUP BY 1, 2
    """


@register(
    "stream_srp_index_probe",
    # The same batch-count-invariance argument as the MinHash and IVF
    # streaming sinks: same-batch pairs from the self-join, cross-batch
    # pairs from the later batch's probe, each exactly once, so the
    # summed counts equal the static join's.
    oracle=_O_STREAM_SRP,
)
def stream_srp_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68+O95 — the SRP ANN index under CONTINUOUS ingestion: history
    (even vec_ids) banded and stored partitionBy(band_idx, batch_id=-1);
    new vectors arrive as a file stream (availableNow,
    maxFilesPerTrigger=1 → two micro-batches) and each batch, inside
    foreachBatch (incremental_srp_sink), self-joins its own bands,
    probes the stored index against strictly-earlier history, and
    appends its band rows idempotently. The emitted (pair,
    shared-band-count) union must equal the whole-corpus static band
    join restricted to streamed members — batch-count-invariant, the
    exact same theorem the MinHash streaming sink is graded on, now
    holding for the SRP family too. Signatures are computed once per
    INGESTED vector; a probe never re-bands history."""
    return _summed_bands(
        _stream_index(spark, sf_dir, _srp_stream, "stream_srp_index")
    )


@register(
    "stream_semantic_dedup_probe_guarded",
    # The GUARDED twin's oracle cannot be batch-count-invariant (a
    # cell's over/under-cap status depends on which batch its vectors
    # arrived in), so it replays the PINNED two-batch staging
    # (vec_id%4==1 then %4==3) batch by batch: per batch, cells over
    # the 20-vector cap are cut from the self-join and the probe
    # (history side stays complete — the append is never guarded),
    # and the count of cut cells rides every pair row as n_cut_cells.
    oracle=f"""
    WITH {_ivf_md5_ctes(build_where="vec_id % 2 = 0")},
    hist0 AS (SELECT vec_id, tv, cell_id FROM assign1 WHERE vec_id % 2 = 0),
    b1 AS (SELECT vec_id, tv, cell_id FROM assign1 WHERE vec_id % 4 = 1),
    b2 AS (SELECT vec_id, tv, cell_id FROM assign1 WHERE vec_id % 4 = 3),
    b1c AS (SELECT *, COUNT(*) OVER (PARTITION BY cell_id) AS cn FROM b1),
    u1 AS (SELECT vec_id, tv, cell_id FROM b1c WHERE cn <= 20),
    cut1 AS (SELECT CAST(COUNT(DISTINCT cell_id) AS BIGINT) AS n_cut
             FROM b1c WHERE cn > 20),
    b2c AS (SELECT *, COUNT(*) OVER (PARTITION BY cell_id) AS cn FROM b2),
    u2 AS (SELECT vec_id, tv, cell_id FROM b2c WHERE cn <= 20),
    cut2 AS (SELECT CAST(COUNT(DISTINCT cell_id) AS BIGINT) AS n_cut
             FROM b2c WHERE cn > 20),
    h2 AS (SELECT * FROM hist0 UNION ALL SELECT * FROM b1),
    p1 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM u1 a JOIN u1 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE (1 + a.tv * b.tv)
              / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
      UNION ALL
      SELECT LEAST(h.vec_id, p.vec_id), GREATEST(h.vec_id, p.vec_id)
      FROM hist0 h JOIN u1 p ON h.cell_id = p.cell_id
      WHERE (1 + h.tv * p.tv)
              / (sqrt(1 + h.tv * h.tv) * sqrt(1 + p.tv * p.tv)) >= 0.9995
    ),
    p2 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM u2 a JOIN u2 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE (1 + a.tv * b.tv)
              / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
      UNION ALL
      SELECT LEAST(h.vec_id, p.vec_id), GREATEST(h.vec_id, p.vec_id)
      FROM h2 h JOIN u2 p ON h.cell_id = p.cell_id
      WHERE (1 + h.tv * p.tv)
              / (sqrt(1 + h.tv * h.tv) * sqrt(1 + p.tv * p.tv)) >= 0.9995
    )
    SELECT p1.id_a, p1.id_b, cut1.n_cut AS n_cut_cells FROM p1, cut1
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), cut1.n_cut
    FROM cut1 WHERE cut1.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p1)
    UNION ALL
    SELECT p2.id_a, p2.id_b, cut2.n_cut AS n_cut_cells FROM p2, cut2
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), cut2.n_cut
    FROM cut2 WHERE cut2.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p2)
    """,
)
def stream_semantic_dedup_probe_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O64+O95 — stream_semantic_dedup_probe with the hot-cell guard
    ENGAGED (max_block_size=20): the deployment setting for hostile
    boilerplate-embedding bursts, where an unguarded burst makes one
    cell's self-join a cap-free O(|batch ∩ cell|²) task. Per batch,
    over-cap cells are cut from the self-join and the history probe
    (bounding those tasks at cap² and |stored cell|·cap) while the
    APPEND stays complete, and the batch's cut-cell census rides every
    output pair as ``n_cut_cells`` — truncation is hash-checked, not
    silent. Unlike the unguarded twin, the guarded relation is NOT
    batch-count-invariant (capping depends on batch composition), so
    the oracle replays the pinned two-batch staging exactly; replay
    idempotence and guard-vs-append completeness are pinned in
    tests/test_streaming_semantics.py. At sf0.01 the cap engages (~125
    probe vectors per batch over 8 cells → the hot cells exceed 20;
    3 cells cut per batch) while the pair output stays oracle-exact —
    the x10 probe in SCALE.md shows the bound doing its job."""
    return _stream_index(
        spark, sf_dir, _ivf_stream, "stream_vec_index_guarded", cap=20
    ).select("id_a", "id_b", "n_cut_cells")


@register(
    "stream_semantic_dedup_compacted",
    # Same batch-count-invariant relation as stream_semantic_dedup_probe
    # (the whole-corpus cell-blocked threshold join under the md5 IVF
    # chain, restricted to pairs with a streamed member): the driver
    # stop between waves, the compaction (cell dirs rewritten to one
    # file, batch_ids sealed to -1) and the resumed wave's probe of the
    # sealed index are storage/lifecycle details the pair union is
    # invariant to — which is exactly what this hash checks.
    oracle=_O_STREAM_IVF,
)
def stream_semantic_dedup_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O64+O95 — the semantic family's production lifecycle, now
    REGISTERABLE because round 10 made the vector sink sealed-own
    hygienic: ingest wave 1 (availableNow), STOP the driver, run the
    offline maintenance pass (indexlife.compact_partitioned_index on
    the cell layout — one file per cell dir, batch_ids sealed to -1), RESUME
    wave 2 on the same checkpoint. Wave 2's probe reads the compacted
    sealed index (batch_id = -1 < everything) and must find wave-1 and
    historical near-dups exactly as if no maintenance ran — the oracle
    is stream_semantic_dedup_probe's whole-corpus relation verbatim,
    so the hash proves restart + compaction moved bytes, never pairs.
    Completes the compacted-resume column of the lifecycle matrix for
    the IVF family (the text family has stream_dedup_index_compacted;
    SRP gets its twin below)."""
    return (
        _stream_index(
            spark, sf_dir, _ivf_stream, "stream_vec_index_compacted",
            compacted=True,
        )
        .select("id_a", "id_b")
        .distinct()
    )


@register(
    "stream_srp_index_compacted",
    # stream_srp_index_probe's whole-corpus band-collision relation
    # verbatim — the restart + compaction between waves must not move
    # a single shared-band count.
    oracle=_O_STREAM_SRP,
)
def stream_srp_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68+O95 — the SRP family's compacted-resume lifecycle (the last
    empty cell of the {MinHash, IVF, SRP} × {…, compact-between-waves}
    matrix): wave 1 ingests, the driver stops, compact_partitioned_index
    rewrites the band dirs to one file each sealing batch_ids to -1,
    wave 2 resumes on the same checkpoint and probes the sealed index.
    Safe to run precisely because the SRP sink detects its own sealed
    vec_ids (round-10 hygiene); the oracle — the whole-corpus
    band-collision join with summed shared-band counts — proves the
    maintenance moved bytes, never candidates."""
    return _summed_bands(
        _stream_index(
            spark, sf_dir, _srp_stream, "stream_srp_index_compacted",
            compacted=True,
        )
    )


@register(
    "stream_dedup_index_probe_guarded",
    # The guarded relation is NOT batch-count-invariant (a band
    # group's over/under-cap status depends on which batch its docs
    # arrived in), so the oracle replays the PINNED two-batch staging
    # (doc_id%4==1 then %4==3) batch by batch: per batch, (band,
    # signature) groups over the cap are cut from the self-join and
    # the probe (history stays complete — the append is unguarded),
    # shared-band counts aggregate per batch, the cut census rides
    # every row, and an all-cut batch emits the NULL-id sentinel.
    oracle="""
    WITH {ctes},
    hist0 AS (SELECT doc_id, band_idx, band_key FROM banded
              WHERE doc_id % 2 = 0),
    b1 AS (SELECT doc_id, band_idx, band_key FROM banded
           WHERE doc_id % 4 = 1),
    b2 AS (SELECT doc_id, band_idx, band_key FROM banded
           WHERE doc_id % 4 = 3),
    b1c AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key)
                      AS cn FROM b1),
    u1 AS (SELECT doc_id, band_idx, band_key FROM b1c WHERE cn <= 3),
    cut1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cut FROM
             (SELECT DISTINCT band_idx, band_key FROM b1c WHERE cn > 3)),
    b2c AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key)
                      AS cn FROM b2),
    u2 AS (SELECT doc_id, band_idx, band_key FROM b2c WHERE cn <= 3),
    cut2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cut FROM
             (SELECT DISTINCT band_idx, band_key FROM b2c WHERE cn > 3)),
    h2 AS (SELECT * FROM hist0 UNION ALL SELECT * FROM b1),
    p1 AS (
      SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM u1 a JOIN u1 b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        UNION ALL
        SELECT LEAST(h.doc_id, p.doc_id), GREATEST(h.doc_id, p.doc_id)
        FROM hist0 h JOIN u1 p
          ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      ) GROUP BY 1, 2
    ),
    p2 AS (
      SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM u2 a JOIN u2 b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        UNION ALL
        SELECT LEAST(h.doc_id, p.doc_id), GREATEST(h.doc_id, p.doc_id)
        FROM h2 h JOIN u2 p
          ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      ) GROUP BY 1, 2
    )
    SELECT p1.id_a, p1.id_b, p1.n_shared_bands,
           cut1.n_cut AS n_cut_buckets FROM p1, cut1
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), cut1.n_cut
    FROM cut1 WHERE cut1.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p1)
    UNION ALL
    SELECT p2.id_a, p2.id_b, p2.n_shared_bands,
           cut2.n_cut AS n_cut_buckets FROM p2, cut2
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), cut2.n_cut
    FROM cut2 WHERE cut2.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p2)
    """.format(ctes=_minhash_md5_ctes(where="TRUE")),
)
def stream_dedup_index_probe_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O63+O95 — stream_dedup_index_probe with the hot-bucket guard
    ENGAGED (max_bucket_size=3, the text_lsh_hot_bucket_guard cap):
    the deployment setting for boilerplate bursts, where one shared
    band signature otherwise makes a batch's self-join a single
    O(|batch ∩ group|²) task. Per batch, over-cap (band, signature)
    groups are cut from the self-join and the history probe while the
    APPEND stays complete, the batch's cut census rides every pair row
    as ``n_cut_buckets``, and an all-cut batch emits the NULL-id
    sentinel instead of silently vanishing. At sf0.01 the synthetic
    corpus's per-batch groups max out at 2, so the guard passes
    everything through (census 0 — the true answer, hash-checked); at
    x10 every replicated doc's group is ≥ 10 and the guard engages
    (SCALE.md). The oracle replays the pinned two-batch staging —
    capping is batch-composition-dependent, so the batch-count-
    invariance theorem of the unguarded twin deliberately does NOT
    apply."""
    return _stream_index(
        spark, sf_dir, _minhash_stream, "stream_dedup_index_guarded", cap=3
    ).select("id_a", "id_b", "n_shared_bands", "n_cut_buckets")


@register(
    "stream_srp_index_probe_guarded",
    # Same pinned-two-batch replay as the text and vector guarded
    # twins, over the SRP band relation: per batch, (band, bucket)
    # groups over 8 are cut from the self-join and probe, the cut
    # census rides every row, all-cut batches emit the sentinel. The
    # cap ENGAGES at sf0.01 (hot buckets hold 10-11 of a ~125-vector
    # batch).
    oracle=f"""
    WITH {_O_SRP_BB},
    hist0 AS (SELECT * FROM bb WHERE vec_id % 2 = 0),
    b1 AS (SELECT * FROM bb WHERE vec_id % 4 = 1),
    b2 AS (SELECT * FROM bb WHERE vec_id % 4 = 3),
    b1c AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bucket)
                      AS cn FROM b1),
    u1 AS (SELECT vec_id, band_idx, bucket FROM b1c WHERE cn <= 8),
    cut1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cut FROM
             (SELECT DISTINCT band_idx, bucket FROM b1c WHERE cn > 8)),
    b2c AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bucket)
                      AS cn FROM b2),
    u2 AS (SELECT vec_id, band_idx, bucket FROM b2c WHERE cn <= 8),
    cut2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cut FROM
             (SELECT DISTINCT band_idx, bucket FROM b2c WHERE cn > 8)),
    h2 AS (SELECT * FROM hist0 UNION ALL SELECT * FROM b1),
    p1 AS (
      SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM u1 a JOIN u1 b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        UNION ALL
        SELECT LEAST(h.vec_id, p.vec_id), GREATEST(h.vec_id, p.vec_id)
        FROM hist0 h JOIN u1 p
          ON h.band_idx = p.band_idx AND h.bucket = p.bucket
      ) GROUP BY 1, 2
    ),
    p2 AS (
      SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM u2 a JOIN u2 b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        UNION ALL
        SELECT LEAST(h.vec_id, p.vec_id), GREATEST(h.vec_id, p.vec_id)
        FROM h2 h JOIN u2 p
          ON h.band_idx = p.band_idx AND h.bucket = p.bucket
      ) GROUP BY 1, 2
    )
    SELECT p1.id_a, p1.id_b, p1.n_shared_bands,
           cut1.n_cut AS n_cut_buckets FROM p1, cut1
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), cut1.n_cut
    FROM cut1 WHERE cut1.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p1)
    UNION ALL
    SELECT p2.id_a, p2.id_b, p2.n_shared_bands,
           cut2.n_cut AS n_cut_buckets FROM p2, cut2
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), cut2.n_cut
    FROM cut2 WHERE cut2.n_cut > 0 AND NOT EXISTS (SELECT 1 FROM p2)
    """,
)
def stream_srp_index_probe_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O68+O95 — stream_srp_index_probe with the hot-bucket guard
    ENGAGED (max_bucket_size=8): near-identical embedding bursts share
    every band bucket, so an unguarded burst emits O(|batch|²)
    candidates per band; here each batch's over-cap (band, bucket)
    groups are cut from the self-join and the history probe (append
    complete), the cut census rides every candidate row, and an
    all-cut batch emits the NULL-id sentinel. The cap genuinely binds
    on the fixture: at sf0.01 each ~125-vector batch has hot buckets
    of 10-11 vectors, so several hundred groups are cut per batch and
    the candidate set visibly shrinks vs the unguarded twin — all of
    it replayed exactly by the pinned-two-batch oracle."""
    return _stream_index(
        spark, sf_dir, _srp_stream, "stream_srp_index_guarded", cap=8
    ).select("id_a", "id_b", "n_shared_bands", "n_cut_buckets")
