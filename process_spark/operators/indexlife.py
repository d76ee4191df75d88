"""One lifecycle for every stored index: write, append, tombstone,
compact, audit and repair. Five families run through it — the IVF
cell index (``vec_ivf_stored_*``), the MinHash band index
(``dedup_band_index_*``), the SRP band index
(``vec_srp_stored_lifecycle``), the SimHash band index
(``dedup_simhash_index_probe``) and the BM25 postings index
(operators/retrieval.py) — and this module owns compaction for every
partitioned index in the engine (:func:`compact_partitioned_index`
also serves the streaming sinks' ``batch_id`` layouts).

Why this exists: deleting a document updates the text index
(queries/retrieval.stream_bm25_index_updated) but its EMBEDDING stayed
searchable and its SIGNATURES kept matching — semantic dedup and ANN
retrieval would resurrect deleted content forever. Same rhythm as
Lucene's soft-deletes + merge-time purge (cited as a design analogy,
not copied code).

Layout (all under one index ``path``):

- ``data/`` — the index rows, ``partitionBy(part_cols)`` (the family's
  pruning key: ``cell_id`` for IVF, ``(band_idx, band_bucket)`` for
  band indexes, ``term_bucket`` for postings). One file per touched
  dir per write.
- ``_ids/`` — identity membership, ``partitionBy(id_bucket)`` with
  ``id_bucket = pmod(hash(id), n_id_buckets)``: the index's pruning
  key depends on CONTENT (an updated embedding lands in a different
  cell; re-tokenized text in different buckets), so "is this id in the
  index?" needs an id-keyed sidecar to stay a pruned lookup.
- ``_meta/`` — one row ``(id_col, part_cols, n_id_buckets)`` persisted
  at build time, so tombstone/append/compact derive their pruning
  config from the index instead of trusting caller-supplied values
  (:func:`check_index_meta` is the one comparison).
- ``_tombstones/`` — logical deletes: the tombstoned ids' ``_ids``
  rows, partitioned by ``id_bucket``; probes anti-join them out
  immediately, bytes go at the next compaction.

The postings index extends this layout in two ways. Its ``_ids`` rows
carry a payload, ``(doc_id, dl, src_batch)`` under ``(id_bucket,
batch_id)``: ``dl`` (the doc's token length) therefore rides every
tombstone, so a probe can subtract a deleted doc from N/Σdl without
hunting its postings; ``src_batch`` (the ingesting batch, kept as a
column when compaction seals ``batch_id`` to -1) lets the streaming
sink tell its own replayed rows from a foreign re-ingest. And it
carries a ``_stats`` sidecar of per-batch ``(n_docs, sum_dl)`` deltas
summed on read, which BM25 needs for N/avgdl (the other families score
per pair, so a delete is complete once the row is invisible). The
postings family keeps its own writers (the ``dl`` payload, an
AQE-sized data write, and an overwrite that overlaps its component
writes) and its own ``postings_stats_audit``.
:func:`stored_index_audit` and :func:`repair_stored_index` stay
batch-family only: a zero-token document legitimately holds an
``_ids`` row with no postings, and a repair that rebuilds ``_ids``
from ``data`` would drop the ``dl`` payload.
"""

from __future__ import annotations

import posixpath
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.operators.fsutil import fs_exists, fs_path, swap_in


def _ids_membership(
    rows: DataFrame, id_col: str, n_id_buckets: int
) -> DataFrame:
    """``(id_bucket, <id_col>)`` — one row per distinct id."""
    return (
        rows.select(id_col)
        .distinct()
        .select(
            F.pmod(F.hash(id_col), F.lit(n_id_buckets))
            .cast("int")
            .alias("id_bucket"),
            id_col,
        )
    )


def index_meta(spark: SparkSession, path: str) -> dict:
    """The persisted index config: ``{"id_col", "part_cols",
    "n_id_buckets"}`` (part_cols as a list)."""
    row = spark.read.parquet(posixpath.join(path, "_meta")).collect()
    if len(row) != 1:
        raise ValueError(
            f"stored index at {path}: _meta must hold exactly one row, "
            f"found {len(row)}"
        )
    return {
        "id_col": row[0]["id_col"],
        "part_cols": row[0]["part_cols"].split(","),
        "n_id_buckets": int(row[0]["n_id_buckets"]),
    }


def write_index_meta(
    spark: SparkSession,
    path: str,
    id_col: str,
    part_cols: Sequence[str],
    n_id_buckets: int,
) -> None:
    """Persist the one-row ``_meta`` that :func:`index_meta` reads."""
    spark.createDataFrame(
        [(id_col, ",".join(part_cols), n_id_buckets)],
        "id_col string, part_cols string, n_id_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(path, "_meta")
    )


def check_index_meta(
    spark: SparkSession,
    path: str,
    id_col: str,
    part_cols: Sequence[str],
    n_id_buckets: int,
) -> None:
    """Raise unless the persisted ``_meta`` equals the caller's layout:
    a caller config that disagrees with the bytes would prune the wrong
    id or partition buckets (false "not in the index" answers, missed
    re-ingests), so it fails loudly instead."""
    meta = index_meta(spark, path)
    want = {
        "id_col": id_col,
        "part_cols": list(part_cols),
        "n_id_buckets": n_id_buckets,
    }
    if meta != want:
        raise ValueError(
            f"stored index at {path} was built with {meta}, requested "
            f"{want}"
        )


def bucket_in_set(ids: DataFrame, id_col: str, n_id_buckets: int) -> list:
    """Bounded (≤ n_id_buckets ints) bucket IN-set of an id relation."""
    return sorted(
        r["b"]
        for r in ids.select(
            F.pmod(F.hash(id_col), F.lit(n_id_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )


def refuse_held_ids(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str,
    n_id_buckets: int,
) -> None:
    """The APPEND-ONLY identity check: raise if any of ``ids`` (one
    column, ``id_col``) is already in ``_ids`` — live OR
    tombstoned-but-unpurged — with the update recipe. Exact and
    content-independent: the id-keyed sidecar sees a changed-content
    re-ingest whose index rows share no partition with the stored copy,
    and the bucket IN-set prunes its read. No broadcast hint on ``ids``:
    a batch append can be corpus-scale, so AQE sizes the join."""
    held = (
        spark.read.parquet(posixpath.join(path, "_ids"))
        .filter(
            F.col("id_bucket").isin(bucket_in_set(ids, id_col, n_id_buckets))
        )
        .join(ids, id_col, "left_semi")
    )
    foreign = [r[id_col] for r in held.select(id_col).limit(5).collect()]
    if foreign:
        raise ValueError(
            f"stored index at {path}: append re-ingests ids already "
            f"in the index (sample: {foreign}) — ids are append-only."
            " To UPDATE: tombstone_index_ids, compact the index "
            "(purges every trace), then re-ingest the new version"
        )


def write_stored_index(
    rows: DataFrame,
    path: str,
    part_cols: list[str],
    id_col: str,
    mode: str = "overwrite",
    n_id_buckets: int = 16,
    n_write_tasks: int = 8,
) -> None:
    """Write (or append to) a stored index under the lifecycle layout.

    ``mode="overwrite"`` is an in-place REBUILD: stale ``_tombstones``
    from a previous life at the path are deleted first (they would
    silently anti-join live ids out of every probe — the same gap the
    postings writer closed), and ``_ids``/``_meta`` are rewritten.

    ``mode="append"`` validates against the persisted ``_meta``
    (:func:`check_index_meta`) and enforces the APPEND-ONLY identity
    contract (:func:`refuse_held_ids`).

    Crash ordering: ``_ids`` is written BEFORE ``data`` on purpose. A
    crash between the two writes leaves the batch's ids REGISTERED but
    its index rows absent, so re-running the append RAISES the
    already-ingested error above — fail loud, then repair
    (:func:`tombstone_index_ids` the batch's ids →
    :func:`compact_stored_index` purges them from ``_ids`` →
    re-ingest) and the index is exact again. The opposite order would
    leave the rows in ``data`` invisible to the ``_ids``-based
    validation, so the re-run would APPEND THE SAME ROWS AGAIN —
    silent duplicates (inflated band-collision counts, duplicate ANN
    candidates) that nothing downstream detects. The half-ingested
    state is visible to :func:`stored_index_audit` as
    ``n_ids_without_data > 0``."""
    data_dir = posixpath.join(path, "data")
    ids_dir = posixpath.join(path, "_ids")
    spark = rows.sparkSession
    if mode == "append":
        check_index_meta(spark, path, id_col, part_cols, n_id_buckets)
        refuse_held_ids(
            spark, path,
            rows.select(id_col).distinct().localCheckpoint(eager=True),
            id_col, n_id_buckets,
        )
    else:
        fs, HPath = fs_path(spark, path)
        fs.delete(HPath(posixpath.join(path, "_tombstones")), True)
    rows = rows.localCheckpoint(eager=False)  # two consumers below
    # _ids FIRST (see the crash-ordering contract in the docstring):
    # a crash between the writes must make the re-run fail loud, not
    # silently duplicate the batch's data rows.
    (
        _ids_membership(rows, id_col, n_id_buckets)
        .repartition(1)
        .write.mode(mode)
        .partitionBy("id_bucket")
        .parquet(ids_dir)
    )
    (
        rows.repartition(n_write_tasks, *[F.col(c) for c in part_cols])
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(data_dir)
    )
    if mode != "append":
        write_index_meta(spark, path, id_col, part_cols, n_id_buckets)
    spark.catalog.refreshByPath(data_dir)
    spark.catalog.refreshByPath(ids_dir)


def tombstone_index_ids(
    spark: SparkSession, path: str, ids: DataFrame
) -> dict:
    """Logical DELETE: record ``ids`` (a bounded maintenance request,
    single column named as the index's id_col) under
    ``_tombstones/(id_bucket)``. Each tombstone is the id's ``_ids`` row
    minus ``batch_id`` — ``(id_bucket, <id>)`` for the batch families;
    the postings index's rows also carry ``dl``, the stats correction
    its probe subtracts. Probes must exclude them immediately
    (:func:`live_index_rows`); bytes are purged at the next
    :func:`compact_stored_index`, after which the ids are free to
    re-ingest (the UPDATE path). Raises on ids never ingested (deleting
    what does not exist is a caller bug, not a no-op); re-tombstoning
    is idempotent (skipped). Returns ``{"n_tombstoned": n}``."""
    meta = index_meta(spark, path)
    id_col, nb = meta["id_col"], meta["n_id_buckets"]
    ids_dir = posixpath.join(path, "_ids")
    tomb_dir = posixpath.join(path, "_tombstones")
    req = ids.select(id_col).distinct().localCheckpoint(eager=True)
    members = (
        spark.read.parquet(ids_dir)
        .filter(F.col("id_bucket").isin(bucket_in_set(req, id_col, nb)))
        .join(F.broadcast(req), id_col, "left_semi")
        .drop("batch_id")
        .localCheckpoint(eager=True)
    )
    missing = [
        r[id_col]
        for r in req.join(members, id_col, "left_anti").limit(5).collect()
    ]
    if missing:
        raise ValueError(
            f"tombstone_index_ids: ids not in the index at {path} "
            f"(sample: {missing})"
        )
    fresh = members
    if fs_exists(spark, tomb_dir):
        fresh = members.join(
            spark.read.parquet(tomb_dir).select(id_col), id_col, "left_anti"
        )
    n = fresh.count()
    if n:
        (
            fresh.repartition(1)
            .write.mode("append")
            .partitionBy("id_bucket")
            .parquet(tomb_dir)
        )
    return {"n_tombstoned": n}


def live_index_rows(spark: SparkSession, path: str) -> DataFrame:
    """The index's LIVE rows: ``data/`` minus tombstoned ids. Partition
    filters a caller stacks on top (the probe's cell/bucket IN-set)
    still reach the scan — the anti-join keys on the id column, so the
    pruning predicate pushes below it. No broadcast hint on the
    tombstone side: the set grows until the next purge — AQE sizes the
    join (the postings probe's reasoning, verbatim)."""
    meta = index_meta(spark, path)
    stored = spark.read.parquet(posixpath.join(path, "data"))
    tomb_dir = posixpath.join(path, "_tombstones")
    if fs_exists(spark, tomb_dir):
        stored = stored.join(
            spark.read.parquet(tomb_dir).select(meta["id_col"]),
            meta["id_col"],
            "left_anti",
        )
    return stored


def compact_partitioned_index(
    spark: SparkSession,
    path: str,
    part_cols: Sequence[str],
    n_write_tasks: int = 64,
    row_filter=None,
) -> dict:
    """Maintenance op for any STORED partitioned index: rewrite every
    partition directory to ONE file.

    Appends accrete one file per touched dir per batch (the
    one-file-per-write discipline), so after N ingest batches a probe
    reads N files per pruned partition — the classic streaming-ingest
    small-files decay. Compaction rewrites the whole index with the
    rows hash-repartitioned on exactly the partition keys (each dir
    written by one task → one file per dir) into a ``__compacting``
    sibling, then swaps it in (:func:`fsutil.swap_in`: rename aside,
    rename in, restore on failure). Probe results are invariant by
    construction — the rows are untouched, only the file layout
    changes. ``row_filter`` (DataFrame → DataFrame) is the purge hook:
    compaction is the one moment the whole index is rewritten anyway,
    so tombstoned rows ride out for free.

    If the index carries a ``batch_id`` partition level (the
    idempotent streaming layout — see queries/streaming._pair_sink), the
    compacted history is SEALED as ``batch_id = -1``: future appends
    keep their replay-overwrite semantics and future probes'
    ``batch_id < current`` history filter still sees every sealed row.
    Run it offline (between streaming runs / behind a catalog swap) —
    the directory swap is not transactional against in-flight readers.

    Crash-ordering caveat: prefer running compaction only after a
    CLEANLY terminated stream (last batch committed to the
    checkpoint). If the stream died mid-batch and compaction sealed
    the orphaned batch's rows into ``batch_id = -1``, a naive restart
    would probe the batch against its own sealed bands and re-append
    duplicates; the engine's three streaming pair sinks share one
    body (``queries/streaming._pair_sink``) that detects and skips its
    own sealed ids, and the postings sink does the same, but third-party sinks over the same layout must either
    replicate that hygiene or observe the clean-termination ordering.

    Returns ``{"files_before", "files_after", "rows"}``."""
    fs, HPath = fs_path(spark, path)

    def _count_files(p: str) -> int:
        if not fs.exists(HPath(p)):
            return 0
        it = fs.listFiles(HPath(p), True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    files_before = _count_files(path)
    df = spark.read.parquet(path)
    if row_filter is not None:
        df = row_filter(df)
    part_cols = list(part_cols)
    has_batch = "batch_id" in df.columns and "batch_id" not in part_cols
    if has_batch:
        df = df.withColumn("batch_id", F.lit(-1))
    n_rows = df.count()
    tmp = path.rstrip("/") + "__compacting"
    fs.delete(HPath(tmp), True)
    df.repartition(n_write_tasks, *[F.col(c) for c in part_cols]).write.mode(
        "overwrite"
    ).partitionBy(*(part_cols + (["batch_id"] if has_batch else []))).parquet(
        tmp
    )
    swap_in(spark, path, tmp, label="compaction")
    spark.catalog.refreshByPath(path)
    return {
        "files_before": files_before,
        "files_after": _count_files(path),
        "rows": n_rows,
    }


def compact_stored_index(
    spark: SparkSession, path: str, n_write_tasks: int = 8
) -> dict:
    """Offline maintenance pass: rewrite ``data/`` (one file per
    partition dir) and ``_ids/`` with tombstoned ids PURGED (the
    deletes ride the rewrite compaction does anyway —
    :func:`compact_partitioned_index`'s ``row_filter`` hook), then drop the
    tombstones LAST — after which the ids are free to re-ingest.

    Crash ordering: every component swaps whole; a crash anywhere
    before the tombstone drop leaves probes correct (tombstones still
    anti-join, purged rows resolve to nothing) and re-ingests of the
    half-purged ids still REFUSED (``_ids`` keeps them until its own
    purge lands) — re-running the compactor converges (purges are
    idempotent, the drop completes). Refuses a tombstone set covering
    the ENTIRE index (the rewrite would leave empty parquet dirs that
    fail schema inference on every later read — drop the index
    directory instead). ``n_purged_ids`` counts ids actually still
    present before the rewrite (0 on a post-crash re-run), not the
    tombstone count. Run between ingest runs, like every compactor
    (the directory swaps are not transactional against in-flight
    readers)."""
    meta = index_meta(spark, path)
    id_col = meta["id_col"]
    data_dir = posixpath.join(path, "data")
    ids_dir = posixpath.join(path, "_ids")
    tomb_dir = posixpath.join(path, "_tombstones")

    row_filter = None
    tomb_ids = None
    n_purged = 0
    if fs_exists(spark, tomb_dir):
        tomb_ids = (
            spark.read.parquet(tomb_dir)
            .select(id_col)
            .distinct()
            .localCheckpoint(eager=True)  # outlives the dir drop below
        )
        idx_ids = spark.read.parquet(ids_dir).select(id_col)
        n_purged = idx_ids.join(tomb_ids, id_col, "left_semi").count()
        if idx_ids.join(tomb_ids, id_col, "left_anti").isEmpty():
            raise ValueError(
                f"compact_stored_index: tombstones at {path} cover the "
                "ENTIRE index — purging would leave empty data/_ids dirs "
                "that fail schema inference on every later read. Drop "
                "the whole index directory instead"
            )

        def row_filter(df):  # noqa: F811 — the purge hook
            return df.join(tomb_ids, id_col, "left_anti")

    out = {
        "data": compact_partitioned_index(
            spark, data_dir, meta["part_cols"], n_write_tasks,
            row_filter=row_filter,
        ),
        "ids": compact_partitioned_index(
            spark, ids_dir, ["id_bucket"], n_write_tasks,
            row_filter=row_filter,
        ),
        "n_purged_ids": n_purged,
    }
    if tomb_ids is not None:
        fs, HPath = fs_path(spark, tomb_dir)
        fs.delete(HPath(tomb_dir), True)
    spark.catalog.refreshByPath(data_dir)
    spark.catalog.refreshByPath(ids_dir)
    return out


def stored_index_audit(spark: SparkSession, path: str) -> DataFrame:
    """Cross-component INTEGRITY MONITOR for a stored-index layout
    (the postings family's ``postings_stats_audit``, for the generic
    lifecycle): reconcile the ``_ids`` identity sidecar, the ``data``
    rows, and the ``_tombstones`` against each other — one row of
    exact integers with a ``consistent`` verdict. Every divergence
    class this catches maps to a named crash window:

    - ``n_ids_without_data > 0`` — an append crashed between the
      ``_ids`` write and the ``data`` write (the fail-loud half of
      :func:`write_stored_index`'s crash-ordering contract); repair =
      tombstone the orphaned ids → :func:`compact_stored_index` →
      re-ingest.
    - ``n_data_ids_without_ids > 0`` — rows reached ``data`` around
      the sidecar (a raw write, or an index written before the
      _ids-first ordering existed): these ids are INVISIBLE to the
      append-only validation, so a re-ingest would silently duplicate
      them; repair = rebuild with ``mode="overwrite"``.
    - ``n_dup_id_rows > 0`` — the same id registered twice in
      ``_ids`` (double-append around the validation); repair =
      rebuild.
    - ``n_tombstones_without_ids > 0`` — a compaction crashed between
      the ``_ids`` purge and the tombstone drop (the documented
      re-run-converges window); repair = re-run
      :func:`compact_stored_index`.

    All reconciliation is distributed (distinct + one full-outer join
    on the id column, aggregated to counts — no driver-side id sets),
    so the audit holds at any index size. ``consistent`` is TRUE iff
    all four divergence counts are zero."""
    meta = index_meta(spark, path)
    id_col = meta["id_col"]
    ids_rows = spark.read.parquet(posixpath.join(path, "_ids")).select(
        id_col
    )
    data_ids = (
        spark.read.parquet(posixpath.join(path, "data"))
        .select(id_col)
        .distinct()
    )
    id_counts = ids_rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_id_rows"),
        F.countDistinct(id_col).cast("long").alias("n_ids"),
    )
    recon = (
        ids_rows.distinct()
        .withColumn("_in_ids", F.lit(1))
        .join(data_ids.withColumn("_in_data", F.lit(1)), id_col, "full_outer")
        .agg(
            F.coalesce(F.sum("_in_data"), F.lit(0))
            .cast("long")
            .alias("n_data_ids"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_in_data").isNull(), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_ids_without_data"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_in_ids").isNull(), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_data_ids_without_ids"),
        )
    )
    tomb_dir = posixpath.join(path, "_tombstones")
    if fs_exists(spark, tomb_dir):
        tomb_ids = (
            spark.read.parquet(tomb_dir).select(id_col).distinct()
        )
        tomb = (
            tomb_ids.join(
                ids_rows.distinct().withColumn("_in_ids", F.lit(1)),
                id_col,
                "left_outer",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tombstoned"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("_in_ids").isNull(), F.lit(1))
                        .otherwise(F.lit(0))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_tombstones_without_ids"),
            )
        )
    else:
        tomb = spark.createDataFrame(
            [(0, 0)],
            "n_tombstoned long, n_tombstones_without_ids long",
        )
    return (
        id_counts.crossJoin(recon)
        .crossJoin(tomb)
        .select(
            "n_ids",
            (F.col("n_id_rows") - F.col("n_ids")).alias("n_dup_id_rows"),
            "n_data_ids",
            "n_ids_without_data",
            "n_data_ids_without_ids",
            "n_tombstoned",
            "n_tombstones_without_ids",
            (
                (F.col("n_ids_without_data") == 0)
                & (F.col("n_data_ids_without_ids") == 0)
                & (F.col("n_id_rows") == F.col("n_ids"))
                & (F.col("n_tombstones_without_ids") == 0)
            ).alias("consistent"),
        )
    )


def repair_stored_index(spark: SparkSession, path: str) -> dict:
    """Offline REPAIR for a stored index whose
    :func:`stored_index_audit` verdict is FALSE — the recovery tool
    for every divergence class the audit names, cheaper than the
    rebuild it replaces (one id-column scan of ``data`` instead of
    re-deriving the whole index from source):

    - ``_ids`` is REBUILT from the distinct ids actually present in
      ``data`` — in one pass this heals orphaned registrations (ids
      without rows: the failed-append residue), rows written around
      the sidecar (ids the append-only validation couldn't see — now
      registered, so a re-ingest fails loud instead of duplicating),
      and duplicate registrations.
    - tombstones referencing ids no longer in the rebuilt ``_ids``
      are DROPPED (their bytes are already gone — the
      crashed-mid-compaction residue); tombstones of live ids are
      KEPT (they are pending deletes, not corruption — the next
      :func:`compact_stored_index` purges them as usual).

    The rebuilt ``_ids`` is written COMPLETE to a scratch sibling and
    swapped in whole (the compactor's crash ordering), so a crash
    mid-repair leaves the old sidecar intact and the repair is
    re-runnable. Returns the before/after audit verdicts plus what
    was rewritten: ``{"was_consistent", "n_ids", "n_dropped_
    tombstones", "consistent"}``.

    NOT a substitute for the append crash repair while the failed
    append's content is still wanted: this makes the layout
    self-consistent with what ``data`` holds — a batch whose rows
    never landed is simply forgotten (re-ingest it afterwards; the
    rebuilt ``_ids`` no longer blocks it)."""
    meta = index_meta(spark, path)
    id_col, nb = meta["id_col"], meta["n_id_buckets"]
    data_dir = posixpath.join(path, "data")
    ids_dir = posixpath.join(path, "_ids")
    tomb_dir = posixpath.join(path, "_tombstones")

    before = stored_index_audit(spark, path).collect()[0]
    if before["consistent"]:
        return {
            "was_consistent": True,
            "n_ids": int(before["n_ids"]),
            "n_dropped_tombstones": 0,
            "consistent": True,
        }

    rebuilt = _ids_membership(
        spark.read.parquet(data_dir), id_col, nb
    ).localCheckpoint(eager=True)  # pinned: outlives the _ids swap
    tmp = ids_dir.rstrip("/") + "__repairing"
    fs, HPath = fs_path(spark, tmp)
    fs.delete(HPath(tmp), True)
    (
        rebuilt.repartition(1)
        .write.mode("overwrite")
        .partitionBy("id_bucket")
        .parquet(tmp)
    )
    swap_in(spark, ids_dir, tmp, label="stored-index ids")

    n_dropped = 0
    if fs_exists(spark, tomb_dir):
        tombs = spark.read.parquet(tomb_dir).localCheckpoint(eager=True)
        keep = tombs.join(rebuilt.select(id_col), id_col, "left_semi")
        n_keep = keep.count()
        n_dropped = tombs.count() - n_keep
        if n_dropped:
            if n_keep == 0:
                fs.delete(HPath(tomb_dir), True)
            else:
                tmp_t = tomb_dir.rstrip("/") + "__repairing"
                fs.delete(HPath(tmp_t), True)
                (
                    keep.select("id_bucket", id_col)
                    .repartition(1)
                    .write.mode("overwrite")
                    .partitionBy("id_bucket")
                    .parquet(tmp_t)
                )
                swap_in(spark, tomb_dir, tmp_t, label="stored-index tombs")
    spark.catalog.refreshByPath(ids_dir)
    after = stored_index_audit(spark, path).collect()[0]
    return {
        "was_consistent": False,
        "n_ids": int(after["n_ids"]),
        "n_dropped_tombstones": int(n_dropped),
        "consistent": bool(after["consistent"]),
    }
