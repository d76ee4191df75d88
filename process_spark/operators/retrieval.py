"""Text retrieval operators: BM25 scoring, inverted (postings) index
with a partition-pruned stored layout, and reciprocal-rank fusion
(SURVEY.md §2 contract extension "similarity search" — the lexical
channel a hybrid retrieval stack pairs with the vector family in
operators/similarity.py).

Scale shape (the 100 TB contract):

- **Query-terms-first pruning**: BM25 needs corpus statistics (df,
  doc length, N, avgdl) only for the TERMS IN THE QUERY SET. The
  kernel semi-joins the exploded corpus against the (tiny, broadcast)
  query-term relation BEFORE any aggregation, so the shuffled state is
  ``O(docs containing a query term)``, never the full corpus vocabulary
  (billions of distinct tokens at 100 TB of multilingual text — the
  same reason queries/text.py's TF-IDF refuses a broadcast hint on the
  full df side).
- **Integer-summed scores**: per-(query, doc, term) contributions are
  half-up-scaled to int64 (``contrib_e6``) and SUMMED AS INTEGERS, so
  the per-document score is order-independent and engine-exact — the
  `_util` float policy applied one level earlier than usual, which is
  what lets a DuckDB oracle hash-match a ranked float formula. The
  only cross-engine wobble left is ``ln`` (libm vs JVM, ~1 ULP before
  the 1e6 grid snaps it).
- **Stored postings layout**: ``(term_bucket=hash(tok) % n_buckets)``
  partition dirs, exactly the banded-index discipline of
  operators/dedup.py — every posting for a term lives in ONE bucket,
  so a probe reads ``len(query buckets) / n_buckets`` of the index via
  PartitionFilters, and per-term document frequency is computable from
  the pruned read alone. Global stats (N, total token count) ride in a
  1-row ``_stats`` sidecar — the Lucene segment-stats shape — because
  corpus-wide N must NOT be derived from a pruned scan.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from process_spark.functions.textfn import tokens
from process_spark.operators.execution import overlap
from process_spark.operators.fsutil import (
    fs_exists,
    fs_path,
    live_batch_ids,
    read_watermark,
    swap_in,
    write_watermark,
)
from process_spark.operators.indexlife import (
    bucket_in_set,
    check_index_meta,
    compact_stored_index,
    index_meta,
    refuse_held_ids,
    write_index_meta,
)

#: Lucene-default BM25 parameters; inlined identically into oracles.
K1 = 1.2
B = 0.75

#: Half-up scale for per-term contributions (``contrib_e6``): scores
#: are O(1..30); 1e6 leaves ULP-level ln() noise ~1e-10 of the grid.
SCORE_SCALE = 1_000_000


def doc_term_freqs(docs: DataFrame) -> DataFrame:
    """Per-(doc, token) term frequencies + per-doc token length:
    ``(doc_id, tok, tf, dl)``. One explode + one hash agg (map-side
    combine); dl rides the groupBy as a first() of a per-row constant
    so the corpus is scanned once. The tokens() HOF (interpreted, not
    codegen'd — the expensive per-row stage) is evaluated exactly ONCE
    per document: projected below the Generate, with explode_OUTER +
    a post-Generate null filter instead of plain explode — Catalyst's
    InferFiltersFromGenerate would otherwise push an
    isnotnull/size pre-filter below the projection and re-inline the
    tokenize into it (measured: 3 evaluations per row)."""
    tk = (
        docs.select("doc_id", tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.explode_outer("__toks").alias("tok"),
            F.size("__toks").alias("dl"),
        )
        .filter(F.col("tok").isNotNull())
    )
    return tk.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def _corpus_stats_rel(docs: DataFrame) -> DataFrame:
    """1-row ``(__n, __avgdl)`` corpus-stats relation, broadcast-cross-
    joined into the scoring plan instead of collected to the driver.

    Computed in ONE map-only pass over ``docs``: N = COUNT(*) and
    Σdl = Σ size(tokens(text)) ride the same aggregate, so the stats
    consumer never touches the (doc, term) relation. Two exactness
    identities make this a pure plan transformation: Σ size(toks) per
    doc equals Σtf over the per-(doc, tok) aggregation EXACTLY (the
    groupBy conserves token counts, and a zero-token doc contributes 0
    either way — the identity write_postings_index's stats delta
    already relies on), and both integers are the same the old eager
    helper collected; the ONE IEEE division producing avgdl runs
    inside the plan on the identical operands — identical bits.

    Why map-only (guide §2.3/§2.4): the previous form aggregated
    Σtf over the FULL (doc, term) relation, which forced the whole
    corpus VOCABULARY through the tokenize → explode → hash-agg
    exchange once per kernel call — the exact full-vocabulary shuffle
    the query-terms-first design exists to avoid, smuggled back in by
    the stats consumer. Summing token-array sizes needs no explode and
    no (doc, tok) exchange: one scan, one 1-row agg.

    Why in-plan (guide §1.2 order-1, §5 driver): the original eager
    collect was one full driver-synchronized job per kernel call
    *before* the query's own job — at bench scale a fixed ~0.3-0.5 s
    tax per call, on a cluster an extra full barrier. Degenerate 0-doc
    corpora make ``__avgdl`` NaN (0/0) — never read, since no
    (doc, term) hit row exists to score."""
    agg = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0))
        .cast("double")
        .alias("__sdl"),
    )
    return agg.select("__n", (F.col("__sdl") / F.col("__n")).alias("__avgdl"))


def bm25_contrib_e6(tf, df, dl, n_docs, avgdl):
    """Half-up-scaled int64 BM25 contribution of one (query, doc, term)
    match. Expression order is pinned — the DuckDB oracle replays the
    identical parenthesization (queries/retrieval.py `_O_CONTRIB`):

        idf    = ln(((N - df + 0.5) / (df + 0.5)) + 1.0)   # Lucene BM25
        denom  = tf + K1 * ((1 - B) + B * (dl / avgdl))
        contrib = idf * ((tf * (K1 + 1)) / denom)

    ``n_docs`` / ``avgdl`` are Python scalars (the stored-probe path,
    where they come from the ``_stats`` sidecar), bare column NAMES
    ("__n"/"__avgdl" from the 1-row :func:`_corpus_stats_rel`
    broadcast — the kernel path), or Columns — the expression tree is
    identical in every case.

    For scalar/name operands the whole formula is assembled as ONE SQL
    string parsed server-side (~15 Column ops ≈ ~30 py4j round trips of
    driver time per construction otherwise — guide §7.3). Constants are
    Python-evaluated and repr-inlined with the D suffix (repr
    round-trips exactly; a bare SQL float literal would parse as
    DECIMAL), so the parsed literals are bit-identical to the
    F.lit doubles of the Column form. Column names are backtick-quoted
    with any backtick inside them doubled."""
    if not isinstance(n_docs, Column) and not isinstance(avgdl, Column):
        def q(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        n_s = q(n_docs) if isinstance(n_docs, str) else f"{float(n_docs)!r}D"
        avg_s = q(avgdl) if isinstance(avgdl, str) else f"{float(avgdl)!r}D"
        tf_s, df_s, dl_s = q(tf), q(df), q(dl)
        return F.expr(
            f"CAST(FLOOR(("
            f"ln((((({n_s} - {df_s}) + 0.5D) / ({df_s} + 0.5D)) + 1.0D))"
            f" * (({tf_s} * {K1 + 1.0!r}D)"
            f" / ({tf_s} + {float(K1)!r}D"
            f" * ({1.0 - B!r}D + {float(B)!r}D * ({dl_s} / {avg_s}))))"
            f") * {float(SCORE_SCALE)!r}D + 0.5D) AS BIGINT)"
        )
    n_c = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    avg_c = avgdl if isinstance(avgdl, Column) else F.lit(float(avgdl))
    idf = F.log(((n_c - F.col(df) + 0.5) / (F.col(df) + 0.5)) + 1.0)
    denom = F.col(tf) + K1 * ((1.0 - B) + B * (F.col(dl) / avg_c))
    contrib = idf * ((F.col(tf) * (K1 + 1.0)) / denom)
    return F.floor(contrib * float(SCORE_SCALE) + 0.5).cast("long")


def bm25_scores(docs: DataFrame, query_terms: DataFrame) -> DataFrame:
    """BM25 score of every document against every query:
    ``(query_id, doc_id, score_e6)`` — only (query, doc) pairs sharing
    at least one term appear (score 0 pairs are implicit, as in any
    posting-list engine).

    ``query_terms`` is ``(query_id, term)`` — assumed SMALL (a query
    workload, not a table) and broadcast. Corpus stats (df per term)
    are computed AFTER the semi-join restriction to query terms, so
    nothing vocabulary-sized ever shuffles.

    Every matching term scores. The hot-term guard (Lucene's stopword /
    maxDocFreq idiom — ``tokens()`` keeps stopwords, so at 100 TB the
    Zipf head matches most of the corpus per term for a ~0 idf
    contribution) is :func:`bm25_scores_max_df`, which also carries the
    per-query census of the terms it drops."""
    # Lazy pin on the query-term relation: it feeds TWO broadcast
    # builds (the term semi-join and the contrib join) whose subtrees
    # would otherwise each re-derive it — in the query-by-example
    # composites qt is itself a join + explode over documents, so
    # unpinned it cost a corpus pass per broadcast (the same fix
    # bm25_probe_postings already carries). A bounded workload relation
    # pays only a no-op block pin.
    qt = (
        query_terms.select("query_id", F.col("term").alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    terms = qt.select("tok").distinct()

    # The (doc, term) relation has three consumers (stats, df build
    # side, contrib probe side); the duplicated subtrees execute
    # CONCURRENTLY inside the one job (measured: pinning them behind a
    # localCheckpoint serializes the stages and loses ~15% wall-clock
    # on idle cores), so the relation is deliberately NOT pinned.
    dtf = doc_term_freqs(docs)
    # restrict to query terms BEFORE df aggregation — the whole corpus
    # vocabulary never aggregates.
    hit = dtf.join(F.broadcast(terms), "tok", "left_semi")
    df_t = hit.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))

    stats = _corpus_stats_rel(docs)
    contrib = (
        hit.join(F.broadcast(qt), "tok")
        .join(F.broadcast(df_t), "tok")
        .join(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            bm25_contrib_e6("tf", "df", "dl", "__n", "__avgdl").alias(
                "contrib_e6"
            ),
        )
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_e6").alias("score_e6")
    )


def bm25_scores_max_df(
    docs: DataFrame, query_terms: DataFrame, max_df_fraction: float
) -> DataFrame:
    """:func:`bm25_scores` under the hot-term guard WITH the census
    column the truncation-never-silent rule requires:
    ``(query_id, doc_id, score_e6, n_q_terms_dropped)`` — every result
    row carries how many of ITS query's terms the guard dropped (0 =
    the guard did not touch this query). One corpus pass: the
    pre-guard per-term df table is pinned (bounded — ≤ |workload
    terms| rows) and feeds both the filtered scoring join and the
    dropped-term census, so the guard costs no second tokenize.
    Queries whose EVERY matching term is dropped vanish from the
    output entirely (no surviving contribution — the same implicit-
    zero convention as unmatched queries)."""
    # Same lazy qt pin as bm25_scores — here qt additionally feeds the
    # dropped-term census (two more subtree references).
    qt = (
        query_terms.select("query_id", F.col("term").alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    terms = qt.select("tok").distinct()

    dtf = doc_term_freqs(docs)
    hit = dtf.join(F.broadcast(terms), "tok", "left_semi")
    # bounded (≤ |workload terms| rows) and consumed twice (guarded
    # scoring + census) — pin it so the semi-join runs once.
    df_all = (
        hit.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .localCheckpoint(eager=False)  # lazy: no standalone driver job
    )
    stats = _corpus_stats_rel(docs)
    # threshold rides the 1-row stats broadcast — one IEEE multiply of
    # identical operands per comparison, same drop set on both engines
    df_thr = df_all.join(F.broadcast(stats)).select(
        "tok",
        "df",
        (F.lit(float(max_df_fraction)) * F.col("__n")).alias("__thr"),
    )
    df_t = df_thr.filter(F.col("df") <= F.col("__thr")).select("tok", "df")
    census = (
        qt.select("query_id")
        .distinct()
        .join(
            qt.join(
                F.broadcast(
                    df_thr.filter(F.col("df") > F.col("__thr")).select("tok")
                ),
                "tok",
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.countDistinct("tok").alias("__nd")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce("__nd", F.lit(0))
            .cast("int")
            .alias("n_q_terms_dropped"),
        )
    )
    contrib = (
        hit.join(F.broadcast(qt), "tok")
        .join(F.broadcast(df_t), "tok")
        .join(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            bm25_contrib_e6("tf", "df", "dl", "__n", "__avgdl").alias(
                "contrib_e6"
            ),
        )
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_e6").alias("score_e6")
    )
    return scores.join(F.broadcast(census), "query_id")


def topk_ranked(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Deterministic per-query top-k: rank on the SCALED INTEGER score
    (desc) then id (asc) — rank ties cannot flip on float ULP seams
    because the ordering key is already an exact integer."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Stored postings index (the 5th stored-index family: MinHash / IVF /
# SRP / SimHash / postings)
# ---------------------------------------------------------------------------


def postings_index(docs: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Inverted-index rows ``(term_bucket, tok, doc_id, tf, dl)``.

    ``dl`` is denormalized onto every posting (Lucene's norms file does
    the same) so a pruned probe can score BM25 without touching any
    other partition. ``term_bucket = pmod(hash(tok), n_buckets)`` is
    the partition key: all postings for a term co-locate in one dir,
    probe reads prune to the query's buckets via PartitionFilters, and
    per-term df is exact within the pruned read."""
    return doc_term_freqs(docs).select(
        F.pmod(F.hash("tok"), F.lit(n_buckets)).cast("int").alias("term_bucket"),
        "tok",
        "doc_id",
        "tf",
        "dl",
    )


def _require_partitioned_stats(spark: SparkSession, path: str) -> None:
    """Legacy-layout guard, run BEFORE an append or a compaction can do
    damage: an index built before the stats sidecar was
    batch_id-partitioned holds bare parquet files at the ``_stats``
    root. A ``batch_id=N`` dir beside them would make every later read
    of ``_stats`` fail partition discovery (conflicting directory
    structures), and a compaction would rewrite data/_ids before the
    stats seal failed — so both fail loud with the rebuild
    instruction."""
    stats_dir = posixpath.join(path, "_stats")
    fs, HPath = fs_path(spark, stats_dir)
    if not fs.exists(HPath(stats_dir)) or not any(
        st.getPath().getName().startswith("batch_id=")
        for st in fs.listStatus(HPath(stats_dir))
        if st.isDirectory()
    ):
        raise ValueError(
            f"postings index at {path} has no batch_id= partitioned "
            "_stats (a legacy unpartitioned layout, or none) — rebuild "
            "it with write_postings_index(mode='overwrite'), which "
            "writes the batch_id-partitioned layout"
        )


def write_postings_index(
    docs: DataFrame, path: str, mode: str = "overwrite", n_buckets: int = 16
) -> None:
    """Write ``postings_index(docs)`` partitioned by term_bucket (one
    file per dir per batch — the compactable layout) plus the
    ``_stats`` sidecar (n_docs, sum_dl, n_buckets). The postings are
    derived HERE from the same ``docs`` the stats aggregate — a
    (pidx, docs) parameter pair would let the two silently diverge.

    The index is an operators/indexlife index (``id_col = doc_id``,
    ``part_cols = term_bucket``, ``n_id_buckets = n_buckets``): both
    modes maintain its ``_ids`` membership sidecar (``(id_bucket,
    batch_id)`` partitions, rows ``(doc_id, dl, src_batch)`` — the
    streaming sink's layout), and overwrite writes its ``_meta``. An
    append validates ``n_buckets`` against ``_meta``
    (indexlife.check_index_meta) and runs indexlife's APPEND-ONLY
    identity check (indexlife.refuse_held_ids): re-ingesting a doc_id
    the index already holds RAISES with the update recipe
    (indexlife.tombstone_index_ids → :func:`compact_postings_index` →
    re-ingest). An index whose ``_meta`` or ``_ids`` is missing fails
    that validation before anything is written.

    On append, the batch's stats are APPENDED as a delta row (probes
    SUM the sidecar's rows — :func:`bm25_probe_postings` already does,
    for the streaming layout's sake), never accumulated in place: a
    read-modify-overwrite of the accumulated row would leave the
    sidecar permanently stale if a crash landed between the postings
    append and the stats overwrite, silently skewing idf/avgdl on
    every later probe. With delta rows the same crash window leaves a
    MISSING delta — a recoverable gap, not a corrupted accumulator.
    ``n_buckets`` is persisted with every row so a probe under a
    different bucket count fails loudly instead of pruning to the
    wrong partitions.

    Crash ordering (the indexlife.write_stored_index contract):
    ``_ids`` lands BEFORE the postings and the stats delta, so a
    crash mid-append leaves the batch's ids REGISTERED but its rows
    absent/uncounted — the re-run RAISES the already-ingested error
    (fail loud), and the repair is the update recipe above (the
    compactor purges the orphaned membership and recomputes the
    sealed stats from ``_ids``, so the index is exact again). The
    opposite order would let the re-run silently append the same
    postings twice.

    Stats deltas land under ``batch_id=`` partition dirs — the SAME
    layout the streaming sink uses, with SYNTHETIC monotone batch ids
    (overwrite → 0, each append → max(existing, watermark) + 1) — so
    ONE reader and ONE compactor (:func:`compact_postings_stats`)
    serve both lifecycles.

    In overwrite mode the whole path is an in-place REBUILD, so any
    stale lifecycle sidecars from a previous (streaming) life at this
    path are deleted first: leftover ``_tombstones`` would silently
    anti-join live doc_ids out of probes and subtract their
    (count, dl) from N/avgdl; ``_ids`` is rewritten fresh for the new
    corpus (a stale membership would hold foreign identities that
    block legitimate future ingests)."""
    stats_path = posixpath.join(path, "_stats")
    spark = docs.sparkSession
    if mode == "append":
        check_index_meta(spark, path, "doc_id", ["term_bucket"], n_buckets)
        _require_partitioned_stats(spark, path)
        batch_no = (
            max(
                [read_watermark(spark, stats_path)]
                + live_batch_ids(spark, stats_path)
            )
            + 1
        )
    else:
        fs, HPath = fs_path(spark, path)
        for side in ("_tombstones", "_ids"):
            fs.delete(HPath(posixpath.join(path, side)), True)
        batch_no = 0
    # The write materializes the (lazily pinned) postings; the stats
    # delta then reads the pinned rows instead of tokenizing the corpus
    # a second time: Σ dl = Σ tf over the postings EXACTLY (the per-doc
    # groupBy conserves token counts, and a zero-token doc contributes
    # 0 either way); n_docs is a tokenize-free count of ``docs``.
    # Overwrite mode pins EAGERLY (one materialization job) so the
    # component writes below can consume the pinned blocks
    # concurrently; append mode stays lazy — its validation collects
    # materialize the pin on their own first action.
    pidx = postings_index(docs, n_buckets).localCheckpoint(
        eager=(mode != "append")
    )
    bids = (
        docs.select("doc_id")
        .distinct()
        .localCheckpoint(eager=False)  # validation + membership below
    )
    if mode == "append":
        refuse_held_ids(spark, path, bids, "doc_id", n_buckets)

    def _write_ids() -> None:
        (
            postings_membership(bids, pidx, n_buckets=n_buckets)
            .withColumn("src_batch", F.lit(batch_no))
            .withColumn("batch_id", F.lit(batch_no))
            .repartition(n_buckets, F.col("id_bucket"))
            .write.mode(mode)
            .partitionBy("id_bucket", "batch_id")
            .parquet(posixpath.join(path, "_ids"))
        )

    def _write_data() -> None:
        # Keyed repartition with NO pinned partition count: AQE sizes
        # the exchange from the shuffle bytes (guide §2.2/§6 —
        # scale-adaptive: a couple of tasks at bench scale, thousands
        # at 100 TB) instead of always launching 64 tasks; the layout
        # is unchanged (every term_bucket still lands in exactly one
        # partition dir).
        (
            pidx.repartition(F.col("term_bucket"))
            .write.mode(mode)
            .partitionBy("term_bucket")
            .parquet(posixpath.join(path, "data"))
        )

    def _write_stats() -> None:
        # n_docs rides the same plan as the Σtf fold (1-row cross join
        # of two 1-row aggregates) instead of a separate eager
        # docs.count() — one stats-write job, not a count barrier plus
        # a write (guide §5: the driver should do almost no data work;
        # the integers are identical either way).
        batch = (
            pidx.agg(F.sum("tf").cast("long").alias("sum_dl"))
            .join(docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
            .withColumn("n_buckets", F.lit(n_buckets).cast("int"))
            .select("n_docs", F.coalesce("sum_dl", F.lit(0)).alias("sum_dl"),
                    "n_buckets")
            .withColumn("batch_id", F.lit(batch_no).cast("int"))
        )
        batch.coalesce(1).write.mode(
            "append" if mode == "append" else "overwrite"
        ).partitionBy("batch_id").parquet(stats_path)

    if mode == "append":
        # Append crash-ordering contract (docstring): _ids FIRST (a
        # half-appended batch must fail loud on the re-run, never
        # silently duplicate its postings), postings second, the stats
        # delta LAST (a crash between them leaves a MISSING delta — a
        # recoverable gap — never a delta counting absent postings).
        # The ordering is load-bearing, so the writes stay sequential.
        _write_ids()
        _write_data()
        _write_stats()
    else:
        # Overwrite is an in-place REBUILD: a crash anywhere mid-way
        # leaves a partially rebuilt index that needs the overwrite
        # re-run no matter which component landed first (the stale
        # sidecars were already deleted above), so no write ordering is
        # load-bearing — run the component writes CONCURRENTLY
        # (guide §2.6); all consume the eagerly pinned pidx blocks, so
        # nothing recomputes.
        overlap(
            _write_ids, _write_data, _write_stats,
            lambda: write_index_meta(
                spark, path, "doc_id", ["term_bucket"], n_buckets
            ),
        )


def bm25_probe_postings(
    spark: SparkSession,
    path: str,
    query_terms: DataFrame,
    n_buckets: int = 16,
    max_df_fraction: float | None = None,
    query_terms_prepared: bool = False,
) -> DataFrame:
    """Score a query workload against the STORED postings index:
    ``(query_id, doc_id, score_e6)``.

    ``query_terms_prepared=True`` declares that ``query_terms`` is
    ALREADY the probe's internal query-term relation — distinct
    ``(query_id, tok)`` rows, pinned — so the probe skips its own
    derivation/pin. Callers use it to materialize the query terms
    CONCURRENTLY with an index build (guide §2.6) instead of paying
    that derivation inside the probe's first collect.

    The probe computes each query term's bucket with the same
    ``pmod(hash(tok), n_buckets)`` the writer used, collects the
    bounded bucket IN-set (≤ n_buckets ints), and filters the stored
    scan on it — PartitionFilters, so only the query's buckets' dirs
    are opened. df per term comes from the pruned postings themselves
    (complete by the co-location invariant); N/avgdl from the 1-row
    sidecar.

    Tombstones (logical deletes — indexlife.tombstone_index_ids, whose
    rows carry each doc's ``dl`` from ``_ids``) are honored without
    touching the stored bytes: deleted doc_ids are
    anti-joined out of the pruned hit set BEFORE df aggregation, and
    their (count, Σdl) — carried on the tombstone rows — are
    subtracted from the sidecar's N/Σdl, so scores equal a fresh index
    over the remaining corpus exactly. Physical removal happens at the
    next :func:`compact_postings_index` (the Lucene soft-delete +
    merge-purge rhythm).

    ``max_df_fraction`` (the Lucene stopword/maxDocFreq idiom) drops
    terms with ``df > fraction · N`` from scoring — the stored layout's
    real 100 TB hazard is exactly these: ``tokens()`` keeps stopwords,
    so the Zipf head's term buckets are both the hottest dirs at write
    and a near-full hit set at probe whenever a query contains a
    common term, all for a ~0 idf contribution. The registered census
    (:func:`postings_skew_report` / ``text_postings_skew_report``)
    keeps the cap observable; the per-query dropped-term count rides
    :func:`bm25_scores_max_df` for the kernel path."""
    # Pinned lazily: the bucket collect below materializes the query-
    # term derivation ONCE; the two broadcast builds in the scoring
    # plan then read the pinned rows instead of re-executing it (in the
    # query-by-example composites qt is itself a join + explode over
    # documents — three re-executions otherwise).
    if query_terms_prepared:
        qt = query_terms
    else:
        qt = (
            query_terms.select("query_id", F.col("term").alias("tok"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    # Three independent driver-synchronized lookups gate the probe
    # plan: the bounded bucket IN-set, the 1-row stats fold, and the
    # tombstone adjustment. They share no state — overlap them
    # (guide §2.6) so the probe pays the slowest, not the sum.
    def _buckets() -> list[int]:
        return sorted(
            r["b"]
            for r in qt.select(
                F.pmod(F.hash("tok"), F.lit(n_buckets)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )

    def _stats():
        # Two sidecar layouts share this reader: the batch lifecycle's
        # single accumulated row, and the streaming layout's one row
        # PER ingested batch (partitionBy(batch_id) — replay overwrites
        # its own row). Integer-summing the rows is exact either way,
        # and the one IEEE division lands both engines on the identical
        # avgdl.
        return (
            spark.read.parquet(posixpath.join(path, "_stats"))
            .agg(
                F.sum("n_docs").alias("n"),
                F.sum("sum_dl").alias("sdl"),
                F.min("n_buckets").alias("nb_min"),
                F.max("n_buckets").alias("nb_max"),
            )
            .collect()[0]
        )

    def _tomb():
        tomb_dir = posixpath.join(path, "_tombstones")
        if not fs_exists(spark, tomb_dir):
            return 0, 0, None
        tomb = (
            spark.read.parquet(tomb_dir).select("doc_id", "dl").distinct()
        )
        trow = tomb.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
        ).collect()[0]
        n, sdl = int(trow["n"] or 0), int(trow["sdl"] or 0)
        return n, sdl, (tomb.select("doc_id") if n else None)

    buckets, stats, (n_del, sdl_del, tomb_ids) = overlap(_buckets, _stats, _tomb)

    # Bucket-count mismatch = silently wrong pruning (query terms would
    # be looked up in partitions the writer never used) — fail loudly.
    if stats["nb_min"] is not None and (
        stats["nb_min"] != n_buckets or stats["nb_max"] != n_buckets
    ):
        raise ValueError(
            f"postings index at {path} was written with n_buckets="
            f"{stats['nb_min']}..{stats['nb_max']}, probe requested "
            f"{n_buckets}"
        )

    n_docs = int(stats["n"] or 0) - n_del
    if n_docs <= 0:
        n_docs, avgdl = max(n_docs, 0), 1.0  # empty index: no hit rows
    else:
        avgdl = float((stats["sdl"] or 0) - sdl_del) / float(n_docs)

    stored = spark.read.parquet(posixpath.join(path, "data")).filter(
        F.col("term_bucket").isin(buckets)
    )
    if tomb_ids is not None:
        # no broadcast hint: the tombstone set grows until the next
        # purge — let AQE size the join
        stored = stored.join(tomb_ids, "doc_id", "left_anti")
    hit = stored.join(
        F.broadcast(qt.select("tok").distinct()), "tok", "left_semi"
    )
    df_t = hit.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    if max_df_fraction is not None:
        df_t = df_t.filter(
            F.col("df")
            <= F.lit(float(max_df_fraction)) * F.lit(float(n_docs))
        )
    contrib = (
        hit.join(F.broadcast(qt), "tok")
        .join(F.broadcast(df_t), "tok")
        .select(
            "query_id",
            "doc_id",
            bm25_contrib_e6("tf", "df", "dl", n_docs, avgdl).alias(
                "contrib_e6"
            ),
        )
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_e6").alias("score_e6")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion
# ---------------------------------------------------------------------------

#: RRF dampening constant (Cormack, Clarke & Buettcher SIGIR'09).
RRF_K = 60

#: Half-up scale for 1/(k + rank) contributions: one IEEE division of
#: exact-integer operands then floor — bit-identical across engines.
RRF_SCALE = 1_000_000_000


def rrf_contrib_e9(rank_col):
    """int64 RRF contribution of one channel's rank."""
    return F.floor(
        F.lit(float(RRF_SCALE)) / (F.lit(float(RRF_K)) + F.col(rank_col)) + 0.5
    ).cast("long")


def rrf_fuse(channels: list[DataFrame]) -> DataFrame:
    """Fuse per-channel rankings ``(query_id, doc_id, rank)`` into
    ``(query_id, doc_id, rrf_e9)``. A doc missing from a channel's
    top-k contributes nothing for that channel (the standard RRF
    union-of-top-k convention) — so the fuse is a unionByName + one
    integer-sum groupBy, no outer join, no null handling."""
    if not channels:
        raise ValueError("rrf_fuse requires at least one channel")
    contribs = [
        ch.select(
            "query_id", "doc_id", rrf_contrib_e9("rank").alias("c_e9")
        )
        for ch in channels
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    # One keyed repartition on query_id serves BOTH the fuse aggregate
    # (hash(query_id) satisfies the (query_id, doc_id) clustering) and
    # every consumer's per-query top-k window — 2 exchanges → 1 (guide
    # §2.4 "two operations keyed the same way can share one exchange").
    # Safe at any scale: the fused relation is ≤ |channels|·k rows per
    # query by construction (each channel is a top-k), so a query_id
    # partition is bounded — no skew hazard; the count is left to AQE.
    return (
        allc.repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_e9").alias("rrf_e9"))
    )


def postings_membership(
    docs: DataFrame, pidx: DataFrame, n_buckets: int = 16
) -> DataFrame:
    """``_ids`` rows ``(id_bucket, doc_id, dl)`` of the postings index:
    one row per distinct doc, partitioned by ``id_bucket =
    pmod(hash(doc_id), n_buckets)`` (the operators/indexlife layout).
    Unlike the postings themselves (whose term buckets depend on
    CONTENT), a doc's membership bucket depends only on its id — so "is
    this doc_id already in the index?" is answerable from a pruned read
    no matter how the doc's text changed. ``dl`` (the doc's token
    length, taken from the already-computed postings ``pidx``; 0 for
    zero-token docs, which have no postings rows) is denormalized here
    so a DELETE carries its stats correction on the tombstone row
    instead of hunting the doc's postings across content-dependent
    term buckets."""
    per_doc_dl = pidx.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return (
        docs.select("doc_id")
        .distinct()
        .join(per_doc_dl, "doc_id", "left")
        .select(
            F.pmod(F.hash("doc_id"), F.lit(n_buckets))
            .cast("int")
            .alias("id_bucket"),
            "doc_id",
            F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl"),
        )
    )


def incremental_postings_sink(path: str, n_buckets: int = 16):
    """foreachBatch sink of the CONTINUOUS postings-index maintenance
    stream — the streaming column of the postings (inverted-index)
    lifecycle, the same rhythm as the engine's MinHash/IVF/SRP sinks
    (queries/streaming.py). Unlike the dedup sinks there is no
    per-batch pair emission: BM25 retrieval is a query-time op, so the
    stream's whole job is keeping the index fresh — per micro-batch,
    append the batch's postings under ``(term_bucket, batch_id)``, its
    membership rows under ``_ids/(id_bucket, batch_id)``, and its
    1-row corpus-stats delta under ``_stats/batch_id=B``. ``n_buckets``
    is validated against the index's ``_meta``
    (indexlife.check_index_meta) before anything is pruned; the first
    batch on a fresh path writes that ``_meta``.

    Idempotence: all three writes use dynamic partition overwrite
    keyed on the batch (exactly-once-via-batchId), so at-least-once
    replay rewrites identical rows instead of double-counting —
    including the stats row, which is why stats are stored per batch
    and SUMMED at probe time rather than accumulated in place (an
    accumulate-on-append sidecar would double-add under replay). If
    the ``_stats`` sidecar was sealed (:func:`compact_postings_stats`),
    a replayed batch at or below its ``sealed_through`` watermark skips
    the stats write: its delta already lives inside the sealed row.

    Sealed-own crash-compaction hygiene (the invariant all the
    engine's streaming sinks share — see compact_partitioned_index's
    crash-ordering caveat): if a compaction sealed this batch's
    postings into ``batch_id = -1`` after a mid-batch crash, the
    replayed batch detects its own sealed doc_ids — one lookup pruned
    to the batch's term-bucket IN-set (≤ n_buckets partitions),
    semi-joined against the bounded batch doc-id set, severed from the
    subsequent self-overwrite with an eager localCheckpoint — and
    excludes them from the re-append. A replayed batch re-presents
    byte-identical content, so its sealed copies sit exactly in the
    batch's own term buckets. Empty (and nearly free) on every clean
    run; on a fresh never-bootstrapped index path the lookup is
    skipped entirely (no PATH_NOT_FOUND on the first micro-batch).

    Append-only VALIDATION (doc_ids must be unique across the index
    lifetime — this stream models index growth; an update is a
    different op): re-ingesting a doc_id the index already holds
    would silently corrupt it — the sealed-own anti-join would drop
    the new postings while the stats row still counted the doc (stale
    index, skewed N/avgdl). The sink therefore RAISES on any batch
    doc_id already recorded by a DIFFERENT batch, detected exactly from
    the ``_ids`` membership sidecar: rows carry their origin batch as a
    DATA column (``src_batch`` — compaction seals the partition key to
    -1 but preserves the column), so a foreign copy is simply
    ``src_batch != batch_id``, and the lookup prunes to the batch's
    doc_id buckets (content-independent).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        data_dir = posixpath.join(path, "data")
        ids_dir = posixpath.join(path, "_ids")
        stats_dir = posixpath.join(path, "_stats")
        if fs_exists(ss, posixpath.join(path, "_meta")):
            check_index_meta(ss, path, "doc_id", ["term_bucket"], n_buckets)
        else:
            write_index_meta(ss, path, "doc_id", ["term_bucket"], n_buckets)
        pidx = postings_index(batch_df, n_buckets=n_buckets).localCheckpoint(
            eager=False
        )  # three consumers: bucket IN-set + append + stats delta
        bids = batch_df.select("doc_id").distinct()  # bounded (micro-batch)
        buckets = sorted(  # bounded: ≤ n_buckets ints
            r["term_bucket"]
            for r in pidx.select("term_bucket").distinct().collect()
        )

        # --- membership-sidecar validation (exact) ------------------
        ids_sealed_own = None
        if fs_exists(ss, ids_dir):
            members = (
                ss.read.parquet(ids_dir)
                .filter(
                    F.col("id_bucket").isin(
                        bucket_in_set(bids, "doc_id", n_buckets)
                    )
                )
                .join(F.broadcast(bids), "doc_id", "left_semi")
                .select("doc_id", "src_batch", "batch_id")
                .localCheckpoint(eager=True)  # read before self-overwrite
            )
            foreign = [
                r["doc_id"]
                for r in members.filter(F.col("src_batch") != batch_id)
                .select("doc_id")
                .distinct()
                .limit(5)
                .collect()
            ]
            if foreign:
                raise ValueError(
                    f"postings index at {path}: batch {batch_id} re-ingests "
                    f"doc_ids already in the index (sample: {foreign}) — "
                    "doc_ids are append-only. To UPDATE a doc: "
                    "tombstone_index_ids it, run compact_postings_index "
                    "(purges every trace), then re-ingest the new version"
                )
            ids_sealed_own = (
                members.filter(
                    (F.col("src_batch") == batch_id)
                    & (F.col("batch_id") == -1)
                )
                .select("doc_id")
                .distinct()
            )

        # --- postings-side sealed-own lookup -------------------------
        if fs_exists(ss, data_dir):
            sealed_own = (
                ss.read.parquet(data_dir)
                .filter(
                    F.col("term_bucket").isin(buckets)
                    & (F.col("batch_id") == -1)
                )
                .join(F.broadcast(bids), "doc_id", "left_semi")
                .select("doc_id")
                .distinct()
                .localCheckpoint(eager=True)  # read before self-overwrite
            )
        else:  # fresh, never-bootstrapped index path: first batch
            sealed_own = ss.createDataFrame(
                [], pidx.select("doc_id").schema
            )

        (
            pidx.join(F.broadcast(sealed_own), "doc_id", "left_anti")
            .withColumn("batch_id", F.lit(batch_id))
            .repartition(8, F.col("term_bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("term_bucket", "batch_id")
            .parquet(data_dir)
        )
        membership = postings_membership(
            bids, pidx, n_buckets=n_buckets
        ).withColumn("src_batch", F.lit(batch_id))
        if ids_sealed_own is not None:
            # don't re-record docs whose membership rows were already
            # sealed to -1 (the sidecar would hold two rows per doc)
            membership = membership.join(
                F.broadcast(ids_sealed_own), "doc_id", "left_anti"
            )
        (
            membership.withColumn("batch_id", F.lit(batch_id))
            .repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("id_bucket", "batch_id")
            .parquet(ids_dir)
        )
        if batch_id > read_watermark(ss, stats_dir):
            # Σdl = Σtf over the batch's pinned postings EXACTLY (the
            # per-doc groupBy conserves token counts; zero-token docs
            # contribute 0 either way) and n_docs is the bounded
            # distinct-id count — no second tokenize pass over the
            # batch (the interpreted-HOF double-evaluation the batch
            # writer already eliminated the same way). The delta counts
            # the FULL batch content even when the sealed-own anti-join
            # excluded rows from the data append: a batch above the
            # watermark is not in the sealed row, which counts only
            # ``_ids`` rows with ``src_batch`` at or below it.
            (
                pidx.agg(
                    F.coalesce(F.sum("tf"), F.lit(0))
                    .cast("long")
                    .alias("sum_dl")
                )
                .withColumn("n_docs", F.lit(bids.count()).cast("long"))
                .select("n_docs", "sum_dl")
                .withColumn("n_buckets", F.lit(n_buckets).cast("int"))
                .withColumn("batch_id", F.lit(batch_id))
                .coalesce(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(stats_dir)
            )
        ss.catalog.refreshByPath(data_dir)

    return sink


def compact_postings_stats(spark: SparkSession, path: str) -> dict:
    """Seal the postings ``_stats`` sidecar: replace its per-batch delta
    rows with ONE ``batch_id = -1`` row — the same small-files rhythm
    every other durable artifact gets (without it the sidecar grows one
    directory per batch forever, and every probe's stats read opens
    every historical batch file).

    The sealed row is RECOMPUTED from the index bytes, never folded
    from the deltas: ``n_docs`` = distinct ``_ids`` doc ids, ``Σdl`` =
    their ``dl`` (equal to Σtf over the postings — the per-doc groupBy
    conserves token counts), counting only ``_ids`` rows whose
    ``src_batch`` is at or below the ``sealed_through`` watermark (max
    batch_id whose stats delta landed). So deletes purged from ``_ids``
    drop out of N/Σdl even after their tombstones are gone (a compactor
    re-run converges), and a batch whose bytes landed without its
    delta (a crash before the stats write) stays out of the sealed row
    — its replay, above the watermark, writes its full delta.

    Crash-safe ordering and sealed-replay safety are the MG state
    compactor's, via the shared fsutil toolkit: the sealed row is
    written COMPLETE to a ``__compacting`` scratch sibling together
    with the watermark, then swapped in whole — and
    :func:`incremental_postings_sink` skips the stats write for any
    replayed batch at or below the watermark, so a crash-mid-batch →
    compact → restart replay cannot double-add its delta. Both writers'
    layouts are batch_id-partitioned (the batch writer's synthetic
    ids); a legacy unpartitioned ``_stats`` is refused.

    Returns ``{"files_before", "files_after"}``."""
    stats_dir = posixpath.join(path, "_stats")
    _require_partitioned_stats(spark, path)
    wm = max(
        [read_watermark(spark, stats_dir)] + live_batch_ids(spark, stats_dir)
    )
    row = (
        spark.read.parquet(posixpath.join(path, "_ids"))
        .filter(F.col("src_batch") <= wm)
        .select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        .collect()[0]
    )
    fs, HPath = fs_path(spark, stats_dir)

    def _n_files(p: str) -> int:
        if not fs.exists(HPath(p)):
            return 0
        it, n = fs.listFiles(HPath(p), True), 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    files_before = _n_files(stats_dir)
    tmp = stats_dir.rstrip("/") + "__compacting"
    fs.delete(HPath(tmp), True)
    (
        spark.createDataFrame(
            [(row["n_docs"], row["sum_dl"],
              index_meta(spark, path)["n_id_buckets"], -1)],
            "n_docs long, sum_dl long, n_buckets int, batch_id int",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(tmp)
    )
    write_watermark(spark, tmp, wm)
    swap_in(spark, stats_dir, tmp, label="postings stats")
    spark.catalog.refreshByPath(stats_dir)
    return {"files_before": files_before, "files_after": _n_files(stats_dir)}


def compact_postings_index(
    spark: SparkSession, path: str, n_write_tasks: int = 64
) -> dict:
    """Full offline maintenance pass over a postings index (batch or
    streaming layout), in three steps: refuse a legacy unpartitioned
    ``_stats`` before touching anything; indexlife's
    ``compact_stored_index`` — the postings (one file per term_bucket
    dir) and ``_ids`` (``src_batch`` survives as a data column, so
    re-ingest validation still works on sealed rows) rewritten with
    batch_ids sealed to -1 and tombstoned doc_ids PURGED, then the
    tombstones dropped, after which the doc_ids are free to re-ingest
    (the UPDATE path); then the stats seal
    (:func:`compact_postings_stats`), recomputed from the purged
    ``_ids``.

    Crash ordering: each component swaps whole. A crash before the
    tombstone drop leaves probes correct (tombstones still subtract,
    purged rows anti-join to nothing); between the tombstone drop and
    the stats swap, probes over-count N/avgdl by the purged docs until
    the compactor is re-run — re-running converges (purges are
    idempotent, and the seal recomputes from the bytes whether or not
    tombstones are left).

    Run it between streaming runs, like every compactor (the swaps are
    not transactional against in-flight readers). Returns
    ``compact_stored_index``'s per-component file counts (``data``,
    ``ids``), ``n_purged_docs`` — the count of tombstoned docs ACTUALLY
    still present before the rewrite (0 on a post-crash re-run whose
    purge already happened) — and the seal's ``stats``. Raises on a
    tombstone set that covers the entire index (the purge would leave
    empty parquet dirs that fail schema inference — drop the index
    directory instead)."""
    _require_partitioned_stats(spark, path)
    out = compact_stored_index(spark, path, n_write_tasks)
    out["n_purged_docs"] = out.pop("n_purged_ids")
    out["stats"] = compact_postings_stats(spark, path)
    return out


# ---------------------------------------------------------------------------
# MMR diversification re-rank
# ---------------------------------------------------------------------------

#: MMR trade-off (Carbonell & Goldstein SIGIR'98): obj = LAM * rel -
#: (1 - LAM) * max-sim-to-selected. ONE_MINUS_LAM is the Python-
#: evaluated double (0.7 -> 0.30000000000000004) inlined verbatim into
#: oracles — writing "0.3" in SQL would be a DIFFERENT double and the
#: selection could flip on the discrepancy.
MMR_LAM = 0.7
MMR_ONE_MINUS_LAM = 1.0 - MMR_LAM


def mmr_rerank(pairs: DataFrame, k: int) -> DataFrame:
    """Maximal-marginal-relevance selection of ``k`` items per query
    from a candidate pool: ``(query_id, doc_id, mmr_rank, obj)``.

    ``pairs`` carries the per-query candidate-pair relation
    ``(query_id, a_id, b_id, sim, rel_a)`` — every ordered candidate
    pair with its similarity, plus the relevance of ``a_id``. The
    selection loop is inherently sequential (step t needs step t-1's
    pick) but PER-QUERY TINY (k·|pool| comparisons over ≤ pool² pairs),
    so it runs as one applyInPandas over query groups: the cluster
    parallelizes across queries, the loop never sees more than one
    pool. All floating inputs (rel, sim) arrive Arrow-exact, and the
    objective arithmetic (one mult, one mult, one subtract on identical
    doubles) is reproduced bit-identically by the SQL oracle's
    unrolled-step CTE chain — which is what lets a greedy iterative
    algorithm be hash-checked end to end.

    Selection contract (mirrored by queries/retrieval._o_mmr):
    step 1 picks argmax(MMR_LAM * rel) (no diversity term — the
    standard MMR initialization); step t>1 picks argmax over unselected
    c of ``MMR_LAM * rel(c) - MMR_ONE_MINUS_LAM * max_{s in S} sim(c, s)``;
    all argmaxes tie-break on ascending doc_id.
    """
    import pandas as pd

    def select(g: pd.DataFrame) -> pd.DataFrame:
        qid = g["query_id"].iloc[0]
        rel = dict(
            g.drop_duplicates("a_id")[["a_id", "rel_a"]].itertuples(
                index=False, name=None
            )
        )
        sim = {
            (a, b): s
            for a, b, s in g[["a_id", "b_id", "sim"]].itertuples(
                index=False, name=None
            )
        }
        remaining = sorted(rel)  # ascending id = the tie-break order
        selected: list[int] = []
        out = []
        for step in range(min(k, len(remaining))):
            best_id, best_obj = None, None
            for c in remaining:
                if selected:
                    maxsim = max(sim[(c, s)] for s in selected)
                    obj = MMR_LAM * rel[c] - MMR_ONE_MINUS_LAM * maxsim
                else:
                    obj = MMR_LAM * rel[c]
                # strict > : on obj ties the FIRST (smallest id) wins
                if best_obj is None or obj > best_obj:
                    best_id, best_obj = c, obj
            selected.append(best_id)
            remaining.remove(best_id)
            out.append((qid, best_id, step + 1, best_obj))
        return pd.DataFrame(
            out, columns=["query_id", "doc_id", "mmr_rank", "obj"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        select, "query_id long, doc_id long, mmr_rank int, obj double"
    )


def postings_stats_audit(spark: SparkSession, path: str) -> DataFrame:
    """Integrity monitor for the postings ``_stats`` sidecar (the
    drift-report family's member for this stored artifact): one row
    comparing the sidecar's claim against an exact recount of the
    index — ``(stored_n_docs, stored_sum_dl, n_tombstoned,
    tombstoned_sum_dl, effective_n_docs, effective_sum_dl,
    actual_n_docs, actual_sum_dl, n_docs_without_postings,
    n_postings_docs_without_membership, consistent)``.

    *stored* = the sidecar rows summed (what probes start from);
    *effective* = stored minus tombstones (what probes actually use);
    *actual* = recounted from the index itself — n_docs from the
    ``_ids`` membership (distinct ids, minus tombstoned), Σdl = Σtf
    over the live (non-tombstoned) postings.

    The two cross-component columns close the cancellation blind spot
    of pure totals: a doc present in ONE component but not the other
    (a raw write around the membership sidecar) could otherwise offset
    an opposite drift and hide.
    ``n_docs_without_postings`` counts live membership docs with
    ``dl > 0`` but no live posting row (zero-token docs legitimately
    have membership only — excluded); ``n_postings_docs_without_
    membership`` counts live postings doc_ids missing from the
    membership — two anti-join counts over relations the audit already
    reads. ``consistent`` requires the exact-integer equality of
    effective and actual AND both cross-component counts to be zero. A
    False means the sidecars have drifted from the bytes — the known
    cause is a crash between a batch append and its stats delta
    (write_postings_index's documented window); the repair for a
    drifted ``_stats`` is :func:`compact_postings_index`, whose sealed
    row is recomputed from ``_ids``. One scan of each component; output
    is one row regardless of corpus size."""
    data_dir = posixpath.join(path, "data")
    stats_dir = posixpath.join(path, "_stats")
    tomb_dir = posixpath.join(path, "_tombstones")

    st = spark.read.parquet(stats_dir).agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("sum_dl").cast("long").alias("sdl"),
    ).collect()[0]
    stored_n, stored_sdl = int(st["n"] or 0), int(st["sdl"] or 0)

    tomb_n, tomb_sdl, tomb_ids = 0, 0, None
    if fs_exists(spark, tomb_dir):
        tomb = spark.read.parquet(tomb_dir).select("doc_id", "dl").distinct()
        tr = tomb.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
        ).collect()[0]
        tomb_n, tomb_sdl = int(tr["n"] or 0), int(tr["sdl"] or 0)
        tomb_ids = tomb.select("doc_id")

    live = spark.read.parquet(data_dir)
    members = (
        spark.read.parquet(posixpath.join(path, "_ids"))
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
    )
    if tomb_ids is not None:
        live = live.join(tomb_ids, "doc_id", "left_anti")
        members = members.join(tomb_ids, "doc_id", "left_anti")
    actual_n = members.count()
    ar = live.agg(F.sum("tf").cast("long").alias("sdl")).collect()[0]
    actual_sdl = int(ar["sdl"] or 0)

    live_ids = live.select("doc_id").distinct()
    n_wo_post = (
        members.filter(F.col("dl") > 0)
        .join(live_ids, "doc_id", "left_anti")
        .count()
    )
    n_wo_memb = live_ids.join(
        members.select("doc_id"), "doc_id", "left_anti"
    ).count()

    eff_n, eff_sdl = stored_n - tomb_n, stored_sdl - tomb_sdl
    return spark.createDataFrame(
        [(
            stored_n, stored_sdl, tomb_n, tomb_sdl,
            eff_n, eff_sdl, actual_n, actual_sdl,
            n_wo_post, n_wo_memb,
            eff_n == actual_n
            and eff_sdl == actual_sdl
            and n_wo_post == 0
            and n_wo_memb == 0,
        )],
        "stored_n_docs long, stored_sum_dl long, n_tombstoned long, "
        "tombstoned_sum_dl long, effective_n_docs long, "
        "effective_sum_dl long, actual_n_docs long, actual_sum_dl long, "
        "n_docs_without_postings long, "
        "n_postings_docs_without_membership long, consistent boolean",
    )


def postings_skew_report(
    spark: SparkSession,
    path: str,
    top_n: int = 20,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Term-skew census of a stored postings index — the hot-bucket
    introspection the LSH family already has (dedup_lsh_skew_report),
    for the layout whose real 100 TB hazard is the Zipf head:
    ``tokens()`` keeps stopwords, and because every posting for a term
    co-locates in ONE ``term_bucket``, the highest-df terms ARE the
    hottest write dirs and the biggest probe hit sets. One pruned-free
    scan, ``top_n`` rows out:

    ``(tok, term_bucket, df, total_tf, df_fraction, dropped)`` — the
    ``top_n`` LIVE terms by document frequency (tombstoned docs
    excluded, like every probe), with the bucket the term's postings
    live in, its total occurrence count, ``df / N`` (N from the stats
    sidecar minus tombstones — never a pruned scan), and whether the
    :func:`bm25_probe_postings` ``max_df_fraction`` guard at the given
    fraction would drop it (False everywhere when unset). A term with
    ``dropped = TRUE`` is exactly one the guard silently skips at
    probe time — this census is what keeps that cap observable.

    ``term_bucket`` is murmur3-derived (the layout's real hash) and so
    has no cross-engine SQL twin — the registered oracle checks the
    hash-free columns; per-bucket totals are pinned Spark-side in
    tests (a bucket's heat is the Σ df of its terms, so the df census
    IS the bucket census's driver)."""
    data_dir = posixpath.join(path, "data")
    stats_dir = posixpath.join(path, "_stats")
    tomb_dir = posixpath.join(path, "_tombstones")

    st = spark.read.parquet(stats_dir).agg(
        F.sum("n_docs").cast("long").alias("n")
    ).collect()[0]
    n_docs = int(st["n"] or 0)
    live = spark.read.parquet(data_dir)
    if fs_exists(spark, tomb_dir):
        tomb = spark.read.parquet(tomb_dir).select("doc_id").distinct()
        n_docs -= tomb.count()
        live = live.join(tomb, "doc_id", "left_anti")

    # Dedupe to one row per (tok, doc_id) BEFORE aggregating: only the
    # streaming sink and the _ids-validated batch append enforce
    # append-only doc_ids — postings appended around the validation
    # (raw data-dir writes) can hold duplicate
    # (doc_id, tok) rows, which would double-count df/total_tf here
    # while the probe itself stays immune (it countDistincts). The
    # duplicates are byte-identical copies of one ingest, so max(tf)
    # reads the one true value; the extra pre-aggregation shuffles on
    # the same (tok)-dominated key and keeps map-side partial agg.
    per_doc = live.groupBy("tok", "doc_id").agg(
        F.min("term_bucket").cast("int").alias("term_bucket"),
        F.max("tf").alias("tf"),
    )
    per_tok = per_doc.groupBy("tok").agg(
        F.min("term_bucket").cast("int").alias("term_bucket"),
        F.count(F.lit(1)).alias("df"),  # one row per (tok, doc) now
        F.sum("tf").cast("long").alias("total_tf"),
    )
    # distributed TakeOrdered (per-partition top-n, n-row driver merge)
    # — NEVER an unpartitioned window over the corpus vocabulary
    # (billions of distinct tokens at 100 TB through one task).
    top = per_tok.orderBy(F.col("df").desc(), F.col("tok")).limit(top_n)
    dropped = (
        F.col("df") > F.lit(float(max_df_fraction)) * F.lit(float(n_docs))
        if max_df_fraction is not None
        else F.lit(False)
    )
    return top.select(
        "tok",
        "term_bucket",
        F.col("df").cast("long").alias("df"),
        "total_tf",
        (F.col("df").cast("double") / F.lit(float(n_docs))).alias(
            "df_fraction"
        ),
        dropped.alias("dropped"),
    )
