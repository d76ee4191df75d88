"""Similarity search over embeddings (SURVEY.md §2.10, O65-O69;
contract: "similarity search").

Baseline: brute-force cosine top-k (exact, oracle-checkable at small
SF). Scale path: IVF — k-means-ish coarse centroids assign each vector
to a cell; queries probe the nearest cells only, turning the cross
join into an equi-join on cell id. An SRP-LSH variant is in
functions.vectorfn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from process_spark.functions.vectorfn import dot, l2_norm, unit_with
from process_spark.operators.execution import cut
from process_spark.operators.relational import (
    cap_blocks,
    cap_blocks_with_census,
    topk_per_group,
)


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    query_vec: str = "q_emb",
    corpus_vec: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """O67 — exact k-NN: broadcast the (small) query side, score every
    corpus vector, row_number ≤ k per query.

    The corpus never shuffles for scoring (map-side broadcast join);
    the only shuffle is the per-query top-k, which is tiny. This is the
    right physical shape when |queries| ≪ |corpus| — the common case.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"unknown metric {metric!r}: use 'cosine' or 'dot'")
    # Fan the corpus out BEFORE any per-row vector math: a single-file
    # local scan is one partition, which would serialize both the O(|C|)
    # normalization folds and the |Q|·|C| score evaluations on one core
    # (explicit count — AQE would coalesce the small shuffle back).
    # Order matters: HOF expressions (aggregate/transform/zip_with) are
    # interpreted, not codegen'd, so the normalize projection is the
    # expensive per-row stage and must sit downstream of the exchange.
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(n_part, F.col(corpus_id))
    if metric == "cosine":
        # Normalize each side ONCE in its pre-join projection, then
        # score with a plain dot: |Q|+|C| norm folds instead of |Q|·|C|
        # (cosine(a,b) re-derives both norms per scored pair). Unit
        # vectors are array<double> (2x the float32 bytes through the
        # broadcast) — the standard trade for 3x fewer O(d) folds.
        # Zero/underflow-norm vectors get a NULL unit vector from
        # unit_with (ANSI-safe — never DIVIDE_BY_ZERO) and therefore a
        # NULL dot score; they are EXCLUDED by the score-isNotNull
        # filter AFTER the window below. No pre-join filter on the norm
        # or on isNotNull(unit vector): Catalyst pushes such predicates
        # below the exchange / into the Filter, re-evaluating the
        # interpreted-HOF norm fold per row a second time on the narrow
        # scan stage (measured 1.4-2.3x on the bench).
        queries = queries.select(
            query_id, l2_norm(query_vec).alias("__qn"), F.col(query_vec)
        ).select(query_id, unit_with(query_vec, "__qn").alias(query_vec))
        corpus = corpus.select(
            corpus_id, l2_norm(corpus_vec).alias("__cn"), F.col(corpus_vec)
        ).select(corpus_id, unit_with(corpus_vec, "__cn").alias(corpus_vec))
    score = dot(query_vec, corpus_vec)
    scored = corpus.join(F.broadcast(queries)).select(
        F.col(query_id), F.col(corpus_id), score.alias("score")
    )
    # Order by a NaN-nulled copy of the score: Spark sorts NaN ABOVE
    # every real value, so a NaN-element vector would otherwise occupy
    # a top-k slot (displacing a real candidate) before the post-window
    # filter removes it. The CASE reads the materialized score column —
    # no re-evaluation of the dot fold.
    w = Window.partitionBy(query_id).orderBy(
        F.when(~F.isnan("score"), F.col("score")).desc(), F.col(corpus_id).asc()
    )
    # score IS NOT NULL drops degenerate vectors (NULL unit → NULL dot);
    # the window is a pushdown barrier (score is not a partition key),
    # so the predicate reads the materialized score column — it cannot
    # migrate into the scoring projection. NULLs sort last under desc,
    # so they never displace a real candidate from the top-k. NOT NaN:
    # Spark orders NaN ABOVE every real number, so a NaN-element vector
    # would otherwise squat in the top-k — the Arrow twin excludes such
    # vectors (NaN norm fails its cn > 0 check) and the twins must agree
    # on degenerate inputs.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") <= k)
            & F.col("score").isNotNull()
            & ~F.isnan("score")
        )
    )


def brute_force_knn_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    query_vec: str = "q_emb",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O67/O97 — the Arrow/numpy throughput scorer for exact cosine
    k-NN. Same contract as :func:`brute_force_knn` (queries ≪ corpus),
    different physical shape for when SCORING dominates:

    - Phase 1: ``mapInPandas`` over the corpus. Each Arrow batch is one
      ``(batch × dim) @ (dim × n_queries)`` unit-cosine matmul against
      the broadcast query matrix (BLAS — the per-pair HOF fold and even
      the per-pair numpy kernel redo O(d) work per scored pair), then
      an ``argpartition`` keeps that batch's per-query top-k only.
    - Phase 2: one tiny shuffle (≤ k·|Q| rows per batch) reduces the
      batch candidates to the global top-k per query.

    The corpus never shuffles; the driver materializes only the query
    side — the SAME boundedness contract ``F.broadcast(queries)``
    already imposes on the expression path, just made explicit as a
    numpy matrix. Zero/underflow-norm vectors are excluded on both
    sides (NULL-semantics twin of the expression path). Tie-breaking
    inside a batch is by argpartition order, so exact score ties at
    the k-boundary may pick a different (equally-scored) id than the
    expression path — registered rows-only for that reason.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    # NULL-vector rows degrade to a NULL (excluded) score on the
    # expression path; mirror that by dropping them before np.stack
    # (which would otherwise raise on a None element).
    qpdf = queries.select(query_id, query_vec).toPandas()
    qpdf = qpdf[qpdf[query_vec].notna()]
    qids = qpdf[query_id].to_numpy()
    if len(qids):
        qmat = np.stack(qpdf[query_vec].to_numpy()).astype("float64")
        qn = np.linalg.norm(qmat, axis=1)
        keep = qn > 0  # zero-norm AND NaN-element vectors (NaN norm) drop
        qids = qids[keep]
        qunit = qmat[keep] / qn[keep, None]
    else:
        qunit = np.zeros((0, 1))
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qunit))

    def score_batches(batches):
        ids_q, qu = bq.value
        nq = len(ids_q)
        for pdf in batches:
            pdf = pdf[pdf[corpus_vec].notna()]  # NULL vector → no score
            if not len(pdf) or nq == 0:
                continue
            mat = np.stack(pdf[corpus_vec].to_numpy()).astype("float64")
            cn = np.linalg.norm(mat, axis=1)
            valid = cn > 0
            if not valid.any():
                continue
            unit = mat[valid] / cn[valid, None]
            vids = pdf[corpus_id].to_numpy()[valid]
            scores = unit @ qu.T  # (batch, nq)
            m = min(k, scores.shape[0])
            idx = np.argpartition(-scores, m - 1, axis=0)[:m]  # (m, nq)
            rows = idx.ravel(order="F")
            cols = np.repeat(np.arange(nq), m)
            yield pd.DataFrame(
                {
                    query_id: np.repeat(ids_q, m),
                    corpus_id: vids[rows],
                    "score": scores[rows, cols],
                }
            )

    # Output id types follow the INPUT id columns (the expression twin
    # is generic over id type; hardcoding `long` would mistype e.g.
    # string or int ids).
    q_id_t = queries.schema[query_id].dataType.simpleString()
    c_id_t = corpus.schema[corpus_id].dataType.simpleString()
    cand = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_batches,
        schema=f"{query_id} {q_id_t}, {corpus_id} {c_id_t}, score double",
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """O69 — per-label mean vector via posexplode → avg per dimension →
    re-assemble ordered array. Two shuffles, both on small keys."""
    exploded = emb.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    per_dim = exploded.groupBy(label_col, "pos").agg(F.avg("val").alias("avg_val"))
    return (
        per_dim.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("avg_val")))
            ).alias("__pairs")
        )
        .select(
            F.col(label_col),
            F.transform(F.col("__pairs"), lambda p: p.getField("avg_val")).alias(
                "centroid"
            ),
        )
    )


def ivf_build(
    corpus: DataFrame,
    n_cells: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 9973,
    scorer: str = "expr",
    seed_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """O68 scale path — IVF index: one round of :func:`kmeans` (the
    deterministic seed vectors refined once, every vector assigned to
    its nearest refined cell).

    Returns (cells, assignments). ``cells`` is small (n_cells rows) —
    always broadcastable, and pinned, so both outputs read the same
    centroid bits; ``assignments`` adds a ``cell_id`` to every corpus
    row, ready to be written bucketed/partitioned by cell.

    ``scorer``: "expr" (default — bit-reproducible HOF dots) or
    "arrow" (BLAS matmul assignment, the throughput path at scale —
    see SCALE.md k-means shoot-out).

    ``seed_hash``: "xxhash64" (default — cheapest) or "md5" (first 8
    hex chars of md5(id) as a 32-bit int — byte-reproducible in DuckDB,
    which is what lets the WHOLE build→assign→refine→search chain carry
    a cross-engine oracle; same base-hash trade as minhash_lsh_pairs).
    """
    return kmeans(
        corpus,
        n_cells,
        n_iter=1,
        corpus_id=corpus_id,
        vec_col=vec_col,
        seed_mod=seed_mod,
        scorer=scorer,
        seed_hash=seed_hash,
    )


def _refine_cells_arrow(
    corpus: DataFrame, cells: DataFrame, vec_col: str
) -> DataFrame:
    """Fused assign-and-recompute for the Arrow k-means path: ONE
    mapInPandas pass per iteration matmul-assigns each batch to its
    nearest broadcast centroid and immediately reduces it to PARTIAL
    (sum-vector, count) rows per (batch, cell). Only those tiny
    partials (n_batches · k rows) are shuffled; assignment rows are
    never materialized mid-loop. The expression path posexplodes the
    whole corpus x dim into its hash aggregate each iteration — at
    scale that shuffle is dim x corpus, here it is k x n_batches.
    Means are sum/count of partials (float summation order differs
    from the expression path by ULPs — the arrow path's contract)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    cpdf = cells.toPandas().sort_values("cell_id")
    cmat = np.stack(cpdf["centroid"].to_numpy()).astype("float64")
    cn = np.linalg.norm(cmat, axis=1)
    keep = cn > 0
    cell_ids = cpdf["cell_id"].to_numpy()[keep]
    cunit = cmat[keep] / cn[keep, None]
    bc = corpus.sparkSession.sparkContext.broadcast((cell_ids, cunit))

    def assign_reduce(batches):
        ids_c, cu = bc.value
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vector → unassigned
            if not len(pdf) or not len(ids_c):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            best = np.argmax(mat @ cu.T, axis=1)
            out_c, out_n, out_s = [], [], []
            for b in np.unique(best):
                sel = mat[best == b]
                out_c.append(int(ids_c[b]))
                out_n.append(sel.shape[0])
                out_s.append(sel.sum(axis=0))
            yield pd.DataFrame({"cell_id": out_c, "n": out_n, "s": out_s})

    parts = corpus.select(vec_col).mapInPandas(
        assign_reduce, schema="cell_id int, n long, s array<double>"
    )
    per_dim = (
        parts.select("cell_id", "n", F.posexplode("s").alias("pos", "v"))
        .groupBy("cell_id", "pos")
        .agg((F.sum("v") / F.sum("n")).alias("m"))
    )
    return (
        per_dim.groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("__p"))
        .select(
            "cell_id",
            F.transform("__p", lambda p: p.getField("m").cast("float")).alias(
                "centroid"
            ),
        )
    )


def _pick_assigner(scorer: str):
    if scorer == "expr":
        return _assign_cells
    if scorer == "arrow":
        return _assign_cells_arrow
    raise ValueError(f"unknown scorer {scorer!r}: use 'expr' or 'arrow'")


def _assign_cells(
    corpus: DataFrame, cells: DataFrame, corpus_id: str, vec_col: str
) -> DataFrame:
    # Nearest-cell RANKING for a fixed vector v is invariant to |v|, so
    # score against unit centroids with a plain dot: n_cells norm folds
    # total (in the broadcast) and one dot per (vector, cell) pair —
    # cosine(v, c) would re-fold |v| n_cells times per corpus vector.
    ucells = (
        cells.select(
            "cell_id", l2_norm("centroid").alias("__cn"), F.col("centroid")
        )
        .filter(F.col("__cn") > 0)  # degenerate cell → unprobeable
        .select("cell_id", unit_with("centroid", "__cn").alias("centroid"))
    )
    scored = corpus.join(F.broadcast(ucells)).select(
        corpus_id,
        vec_col,
        "cell_id",
        dot(vec_col, "centroid").alias("__sim"),
    )
    w = Window.partitionBy(corpus_id).orderBy(
        F.col("__sim").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(corpus_id, vec_col, "cell_id")
    )


def ivf_assign(
    corpus: DataFrame,
    cells: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "expr",
) -> DataFrame:
    """O68 — the incremental-index APPEND step: assign NEW vectors to
    an EXISTING (already-refined) cell table, no retrain — exactly
    what continuous ingestion does between periodic rebuilds. Returns
    (corpus_id, vec_col, cell_id) rows, partition-consistent with
    ivf_build's assignments, so appending them
    ``partitionBy(cell_id)`` extends a stored IVF index in place (the
    lifecycle vec_ivf_stored_append registers and oracle-checks).
    Centroid drift is the rebuild trigger, not this step's job."""
    return _pick_assigner(scorer)(corpus, cells, corpus_id, vec_col)


def _assign_cells_arrow(
    corpus: DataFrame, cells: DataFrame, corpus_id: str, vec_col: str
) -> DataFrame:
    """Arrow/BLAS twin of :func:`_assign_cells` — one matmul per Arrow
    batch against the broadcast unit-centroid matrix instead of one
    interpreted dot per (vector, cell) pair. Assignment ties resolve to
    the LOWEST cell_id (argmax returns the first maximum; columns are
    ordered by cell_id), matching the expression path's row_number
    tie-break. No shuffle: assignment is a map-side projection."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    cpdf = cells.toPandas().sort_values("cell_id")
    cmat = np.stack(cpdf["centroid"].to_numpy()).astype("float64")
    cn = np.linalg.norm(cmat, axis=1)
    keep = cn > 0  # degenerate cell → unprobeable (expression-path twin)
    cell_ids = cpdf["cell_id"].to_numpy()[keep]
    cunit = cmat[keep] / cn[keep, None]
    bc = corpus.sparkSession.sparkContext.broadcast((cell_ids, cunit))

    def assign(batches):
        ids_c, cu = bc.value
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # NULL vector → unassigned
            if not len(pdf) or not len(ids_c):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            best = np.argmax(mat @ cu.T, axis=1)
            out = pdf[[corpus_id, vec_col]].copy()
            out["cell_id"] = ids_c[best]
            yield out

    # Mirror the input's actual id/vector types (the expression twin is
    # type-generic; `long`/`array<float>` literals would mistype other
    # id types or double vectors).
    id_t = corpus.schema[corpus_id].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    return corpus.select(corpus_id, vec_col).mapInPandas(
        assign,
        schema=f"{corpus_id} {id_t}, {vec_col} {vec_t}, cell_id int",
    )


def _default_n_probe(probeable_cells: DataFrame) -> int:
    """Recall-driven default: ceil(0.75 · n_cells). Sized to the
    ISOTROPIC floor — with no cluster structure, expected recall ≈
    probed corpus fraction, so probing 3/4 of the cells is what it
    takes to clear recall@10 ≥ 0.9 in the worst case (measured 0.93 on
    the isotropic sf0.1 testdata; the old n_probe=2 default measured
    0.51 — SCALE.md). On a clustered corpus (every real embedding
    corpus) 1-2 probes already reach ~1.0 recall at a fraction of the
    cost — pass ``n_probe`` explicitly there (or use
    :func:`ivf_tune_n_probe`); this default trades speed for never
    silently missing most neighbors.

    Counts the PROBEABLE (non-degenerate, ``__cn > 0``) cell table so
    the default can never exceed the cells that the search actually
    ranks. The count is one extra job on the (k-row) cell plan —
    callers relying on the default should cache/localCheckpoint
    ``cells`` so the build refinement isn't recomputed."""
    n_cells = probeable_cells.count()  # k-row table — bounded by construction
    return max(1, -(-3 * n_cells // 4))


def ivf_probe_cells(
    cells: DataFrame,
    queries: DataFrame,
    n_probe: int | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
) -> DataFrame:
    """Probe selection shared by :func:`ivf_search` and the stored-
    index queries: rank every (query, probeable cell) by dot against
    the unit centroid (same |v|-invariance as ``_assign_cells``), keep
    the ``n_probe`` nearest per query. Returns (query_id, cell_id,
    unit query vector) — ≤ |Q|·n_probe rows, the bounded table the
    search broadcasts. Exposed so a cell-PARTITIONED stored index can
    collect the probed cell ids (≤ n_cells, bounded by construction)
    into a partition-pruning IN filter before the candidate join."""
    ucells = (
        cells.select(
            "cell_id", l2_norm("centroid").alias("__cn"), F.col("centroid")
        )
        .filter(F.col("__cn") > 0)
        .select("cell_id", unit_with("centroid", "__cn").alias("centroid"))
    )
    if n_probe is None:
        n_probe = _default_n_probe(ucells)
    qcells = (
        queries.join(F.broadcast(ucells))
        .select(
            query_id,
            query_vec,
            "cell_id",
            dot(query_vec, "centroid").alias("__sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("__sim").desc(), F.col("cell_id").asc()
    )
    return (
        qcells.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select(
            query_id, "cell_id", l2_norm(query_vec).alias("__qn"), F.col(query_vec)
        )
        .select(
            query_id, "cell_id", unit_with(query_vec, "__qn").alias(query_vec)
        )
    )


def ivf_search(
    queries: DataFrame,
    cells: DataFrame,
    assignments: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O68 — probe the ``n_probe`` nearest cells per query, brute-force
    within them. Probed fraction ≈ n_probe/n_cells of the corpus —
    that's the speedup; the cell equi-join keeps it shuffle-shaped.
    Default ``n_probe`` is recall-driven (see :func:`_default_n_probe`:
    ceil(0.75·n_cells), the worst-case isotropic sizing)."""
    probes = ivf_probe_cells(
        cells, queries, n_probe=n_probe, query_id=query_id, query_vec=query_vec
    )
    # Final re-rank: normalize each side once (queries in the broadcast
    # above, corpus per candidate row here), score with a plain dot.
    ucand = assignments.select(
        corpus_id,
        "cell_id",
        l2_norm(corpus_vec).alias("__cn"),
        F.col(corpus_vec),
    ).select(
        corpus_id, "cell_id", unit_with(corpus_vec, "__cn").alias(corpus_vec)
    )
    cand = ucand.join(F.broadcast(probes), on="cell_id").select(
        query_id,
        corpus_id,
        dot(query_vec, corpus_vec).alias("score"),
    )
    # NaN-nulled ordering + post-window NaN filter: same degenerate-
    # input rule as brute_force_knn (NaN would sort above every real
    # score and displace a candidate; the Arrow twin excludes it).
    w2 = Window.partitionBy(query_id).orderBy(
        F.when(~F.isnan("score"), F.col("score")).desc(), F.col(corpus_id).asc()
    )
    # Degenerate vectors (NULL unit → NULL score) drop here, after the
    # window pushdown barrier — see brute_force_knn for why no earlier
    # filter exists.
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(
            (F.col("rank") <= k)
            & F.col("score").isNotNull()
            & ~F.isnan("score")
        )
    )


def soft_assign_cells(
    corpus: DataFrame,
    cells: DataFrame,
    n_assign: int = 2,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SOFT IVF assignment: each vector joins its ``n_assign`` nearest
    cells (same dot-with-unit-centroid ranking as the hard
    ``_assign_cells``) — the standard mitigation for blocked
    near-dup/ANN losing pairs that straddle a cell boundary: with
    top-2 assignment, a pair split across ONE boundary still shares a
    block. Output rows ≈ n_assign × corpus (each block roughly
    n_assign/n_cells of the corpus); downstream pair generation must
    de-duplicate (a pair can share up to n_assign cells). Expression
    path: k-row broadcast cell table, per-vector rank window —
    partitioned by vector id, no global window."""
    ucells = (
        cells.select(
            "cell_id", l2_norm("centroid").alias("__cn"), F.col("centroid")
        )
        .filter(F.col("__cn") > 0)
        .select("cell_id", unit_with("centroid", "__cn").alias("centroid"))
    )
    w = Window.partitionBy(corpus_id).orderBy(
        F.col("__score").desc(), F.col("cell_id").asc()
    )
    return (
        corpus.join(F.broadcast(ucells))
        .select(
            corpus_id,
            vec_col,
            "cell_id",
            dot(vec_col, "centroid").alias("__score"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_assign)
        .select(corpus_id, vec_col, "cell_id")
    )


def ivf_tune_n_probe(
    queries: DataFrame,
    cells: DataFrame,
    assignments: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    ladder: tuple[int, ...] | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """SAMPLED-RECALL auto-tuner for IVF — picks the cheapest
    ``n_probe`` whose measured recall@k on a query sample clears
    ``target_recall``, instead of the static worst-case default
    (``ceil(0.75·n_cells)``, sized for isotropic data and therefore
    paying worst-case cost on every clustered corpus).

    One pass ranks EVERY (query, cell) probe and scores every
    candidate, tagged with ``probe_rank`` — "the search at n_probe=p"
    is the filter ``probe_rank <= p``, so the whole ladder is measured
    from one candidate scoring (lazily checkpointed). Ground truth is
    exact kNN on the sample queries (map-side matmul). Per rung the
    driver sees two scalars (join-count recall, candidate fraction);
    data never leaves the cluster.

    Returns (n_probe, recall, candidate_fraction, chosen) — ``chosen``
    marks the cheapest rung ≥ target (largest rung if none clears).
    Default ladder: doubling 1, 2, 4, … capped at the probeable cell
    count, which is always included. At 100 TB: tune on an ingestion
    sample, deploy the chosen n_probe; re-tune when the corpus drifts.
    ``queries`` should be a SAMPLE (the same boundedness contract the
    search's broadcast already imposes)."""
    spark = queries.sparkSession
    ucells = (
        cells.select(
            "cell_id", l2_norm("centroid").alias("__cn"), F.col("centroid")
        )
        .filter(F.col("__cn") > 0)
        .select("cell_id", unit_with("centroid", "__cn").alias("centroid"))
        .localCheckpoint(eager=False)  # k rows; feeds count + probe join
    )
    n_cells = ucells.count()
    if ladder is None:
        steps = []
        p = 1
        while p < n_cells:
            steps.append(p)
            p *= 2
        # doubling + the static worst-case default + the full scan —
        # the default rung keeps the tuner's answer comparable to the
        # non-adaptive path's cost.
        steps.append(max(1, -(-3 * n_cells // 4)))
        ladder = tuple(sorted(set(steps + [n_cells])))
    uq = queries.select(
        query_id, l2_norm(query_vec).alias("__qn"), F.col(query_vec)
    ).select(query_id, unit_with(query_vec, "__qn").alias(query_vec))
    wp = Window.partitionBy(query_id).orderBy(
        F.col("__sim").desc(), F.col("cell_id").asc()
    )
    probes = (
        uq.join(F.broadcast(ucells))
        .select(
            query_id,
            query_vec,
            "cell_id",
            dot(query_vec, "centroid").alias("__sim"),
        )
        .withColumn("probe_rank", F.row_number().over(wp))
        .select(query_id, query_vec, "cell_id", "probe_rank")
    )
    ucand = assignments.select(
        corpus_id,
        "cell_id",
        l2_norm(corpus_vec).alias("__cn"),
        F.col(corpus_vec),
    ).select(
        corpus_id, "cell_id", unit_with(corpus_vec, "__cn").alias(corpus_vec)
    )
    scored = (
        ucand.join(F.broadcast(probes), on="cell_id")
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(
            query_id,
            corpus_id,
            F.col("probe_rank"),
            dot(query_vec, corpus_vec).alias("score"),
        )
        .filter(F.col("score").isNotNull() & ~F.isnan("score"))
        .localCheckpoint(eager=False)  # one scoring pass feeds every rung
    )
    wx = Window.partitionBy(query_id).orderBy("rank")
    exact = (
        brute_force_knn_arrow(
            queries, assignments.select(corpus_id, corpus_vec), k=k + 1,
            query_id=query_id, corpus_id=corpus_id,
            query_vec=query_vec, corpus_vec=corpus_vec,
        )
        .filter(F.col(corpus_id) != F.col(query_id))
        .withColumn("__r", F.row_number().over(wx))
        .filter(F.col("__r") <= k)
        .select(query_id, corpus_id)
        .localCheckpoint(eager=False)
    )
    n_q = queries.count()
    n_corpus = assignments.count()
    # Recall denominator = the ACTUAL exact ground-truth row count, not
    # n_q·k: a query with fewer than k non-self neighbors (tiny corpus,
    # zero-norm queries) would otherwise cap measured recall below 1.0
    # forever and silently force `chosen` to the most expensive rung.
    n_exact = exact.count()
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    rows = []
    for p in ladder:
        sub = scored.filter(F.col("probe_rank") <= p)
        topk = (
            sub.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id)
        )
        hits = topk.join(exact, [query_id, corpus_id]).count()
        recall = hits / max(1, n_exact)
        frac = sub.count() / max(1, n_q * (n_corpus - 1))
        rows.append((p, recall, frac))
    cleared = [p for p, r, _ in rows if r >= target_recall]
    chosen = min(cleared) if cleared else max(p for p, _, _ in rows)
    return spark.createDataFrame(
        [(p, r, f, p == chosen) for p, r, f in rows],
        "n_probe int, recall double, candidate_fraction double, chosen boolean",
    )


def ivf_search_arrow(
    queries: DataFrame,
    cells: DataFrame,
    assignments: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O68 — IVF search with the Arrow/BLAS re-rank (the matmul twin of
    :func:`ivf_search`, same probe semantics).

    Probe selection stays on the expression path (|Q| x n_cells dots —
    cheap). The re-rank then avoids shuffling the corpus at all:
    the probe table (≤ |Q|·n_probe rows — bounded by the same contract
    that lets ivf_search broadcast it) is collected into a
    cell_id → unit-query-matrix dict and broadcast; one ``mapInPandas``
    pass over the cell-filtered assignments scores each Arrow batch
    with one matmul per (cell, batch) and keeps the per-batch top-k.
    One tiny candidate shuffle then reduces to the global top-k.

    The ``cell_id IS IN probed`` filter reaches the assignments scan as
    a pushed predicate — with assignments written partitioned/bucketed
    by cell (the layout ivf_build recommends), that is real partition
    pruning: only n_probe/n_cells of the corpus is even read.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    ucells = (
        cells.select(
            "cell_id", l2_norm("centroid").alias("__cn"), F.col("centroid")
        )
        .filter(F.col("__cn") > 0)
        .select("cell_id", unit_with("centroid", "__cn").alias("centroid"))
    )
    if n_probe is None:
        # probeable (non-degenerate) cells only — same rule as ivf_search
        n_probe = _default_n_probe(ucells)
    qcells = queries.join(F.broadcast(ucells)).select(
        query_id,
        query_vec,
        "cell_id",
        dot(query_vec, "centroid").alias("__sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("__sim").desc(), F.col("cell_id").asc()
    )
    probes_pdf = (
        qcells.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select(query_id, "cell_id", query_vec)
        .toPandas()
    )
    # NULL query vectors score NULL (excluded) on the expression path;
    # drop them before np.stack.
    probes_pdf = probes_pdf[probes_pdf[query_vec].notna()]
    per_cell: dict = {}
    for cell, sub in probes_pdf.groupby("cell_id"):
        qmat = np.stack(sub[query_vec].to_numpy()).astype("float64")
        qn = np.linalg.norm(qmat, axis=1)
        keep = qn > 0  # zero-norm query: no neighbors (NULL-unit twin)
        if not keep.any():
            continue
        per_cell[int(cell)] = (
            sub[query_id].to_numpy()[keep],
            qmat[keep] / qn[keep, None],
        )
    bq = assignments.sparkSession.sparkContext.broadcast(per_cell)

    def score_batches(batches):
        probes = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            for cell, sub in pdf.groupby("cell_id"):
                entry = probes.get(int(cell))
                if entry is None:
                    continue
                ids_q, qu = entry
                sub = sub[sub[corpus_vec].notna()]  # NULL vector → no score
                if not len(sub):
                    continue
                mat = np.stack(sub[corpus_vec].to_numpy()).astype("float64")
                cn = np.linalg.norm(mat, axis=1)
                valid = cn > 0  # zero-norm corpus vector: excluded
                if not valid.any():
                    continue
                unit = mat[valid] / cn[valid, None]
                vids = sub[corpus_id].to_numpy()[valid]
                scores = unit @ qu.T
                m = min(k, scores.shape[0])
                idx = np.argpartition(-scores, m - 1, axis=0)[:m]
                rows = idx.ravel(order="F")
                cols = np.repeat(np.arange(len(ids_q)), m)
                yield pd.DataFrame(
                    {
                        query_id: np.repeat(ids_q, m),
                        corpus_id: vids[rows],
                        "score": scores[rows, cols],
                    }
                )

    probed = sorted(per_cell)
    q_id_t = queries.schema[query_id].dataType.simpleString()
    c_id_t = assignments.schema[corpus_id].dataType.simpleString()
    cand = (
        assignments.select(corpus_id, "cell_id", corpus_vec)
        .filter(F.col("cell_id").isin(probed) if probed else F.lit(False))
        .mapInPandas(
            score_batches,
            schema=f"{query_id} {q_id_t}, {corpus_id} {c_id_t}, score double",
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def near_dup_embeddings(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    max_block_size: int | None = None,
) -> DataFrame:
    """O64 — semantic dedup: pairs above a cosine threshold, blocked to
    bound the pair count (block by label/IVF cell at scale). Vectors
    are normalized ONCE in the pre-join projection; the pair score is
    then a plain dot — O(pairs) folds instead of 3x that (cosine(a,b)
    re-derives both norms per pair).

    ``max_block_size`` is the same guard contract as
    :func:`~process_spark.operators.dedup.jaccard_pairs`: the per-block
    self-join is O(|block|²), and real embedding corpora have
    boilerplate clusters (near-identical template docs) that land in
    one IVF cell — an unguarded hot cell is a single quadratic task at
    100 TB. Blocks over the cap are EXCLUDED before the join (requires
    ``block_col``); output schema stays mode-invariant
    (id_a, id_b, cosine_sim). Skip census is OUT-OF-BAND — use
    :func:`near_dup_embeddings_arrow_with_census`."""
    if max_block_size is not None and block_col is None:
        raise ValueError("max_block_size requires block_col (the guard caps blocks)")
    if max_block_size is not None:
        emb = cap_blocks(emb, [block_col], max_block_size)
    sel = [F.col(id_col), F.col(vec_col)]
    if block_col:
        sel.append(F.col(block_col))
    # Repartition on (block, id) — NOT block alone — before normalizing:
    # the interpreted-HOF normalize is the CPU-bound stage, and block
    # keys can be few and hot (a handful of labels here; skewed IVF
    # cells at scale), which would cap the fan-out at n_blocks cores and
    # serialize the hot block. The id in the key spreads every block
    # across the cluster; the self-join then performs its own exchange
    # on the block key, computed once and reused for both sides
    # (ReusedExchange — the normalize does not run twice). Net: one
    # extra cheap exchange buys full-parallel normalization.
    part_keys = (
        [F.col(block_col), F.col(id_col)] if block_col else [F.col(id_col)]
    )
    emb = emb.repartition(*part_keys)
    # Zero-norm vectors get a NULL unit vector (unit_with, ANSI-safe),
    # hence a NULL pair dot, and the >= threshold predicate drops them —
    # no explicit norm filter (Catalyst would push it down and run the
    # norm fold twice per row; see brute_force_knn).
    base = emb.select(*sel, l2_norm(vec_col).alias("__n")).select(
        *([F.col(id_col)] + ([F.col(block_col)] if block_col else [])),
        unit_with(vec_col, "__n").alias(vec_col),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    sim = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        # ~isnan: Spark evaluates NaN >= threshold as TRUE (NaN compares
        # greater than any value), so a NaN-element vector would emit
        # NaN pairs the Arrow twin excludes (NaN norm fails cn > 0).
        .filter((F.col("cosine_sim") >= threshold) & ~F.isnan("cosine_sim"))
    )


def near_dup_embeddings_arrow(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    chunk: int = 1024,
    max_block_size: int | None = None,
) -> DataFrame:
    """O64 — the Arrow/BLAS twin of :func:`near_dup_embeddings`: one
    ``applyInPandas`` per block computes the block's pair cosines as
    chunked matmuls (``(chunk × d) @ (d × n)``) instead of one
    interpreted fold per pair — the same >5x win as the kNN scorer.

    Blocks must be BOUNDED (labels here; IVF cells at scale). The
    bound is now ENFORCEABLE, not just a contract on the caller:
    ``max_block_size`` cuts over-cap blocks BEFORE the grouped map —
    the same hot-block guard ``jaccard_pairs`` applies to its text
    twin — so one boilerplate-heavy IVF cell can no longer run a
    quadratic-output pair scan as a single straggler task. Output
    schema is MODE-INVARIANT: (block, id_a, id_b, cosine_sim) with
    id_a < id_b in either mode; skipped blocks' members simply emit no
    pairs (a downstream components stage sees them as singletons). The
    skip census is OUT-OF-BAND — use
    :func:`near_dup_embeddings_arrow_with_census` when the pipeline
    must surface the truncation. Memory stays O(chunk · |block|) via
    row-chunking, never O(|block|²). Zero-norm vectors are excluded
    (NULL-unit twin).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    thr = float(threshold)

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "block": pd.Series(dtype="object"),
                "id_a": pd.Series(dtype="object"),
                "id_b": pd.Series(dtype="object"),
                "cosine_sim": pd.Series(dtype="float64"),
            }
        )
        pdf = pdf[pdf[vec_col].notna()]  # NULL vector → no pairs (twin rule)
        if len(pdf) < 2:
            return empty
        mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        nrm = np.linalg.norm(mat, axis=1)
        valid = nrm > 0
        if valid.sum() < 2:
            return empty
        # Sort by id so the upper triangle aligns with the id_a<id_b rule.
        ids = pdf[id_col].to_numpy()[valid]
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        unit = (mat[valid] / nrm[valid, None])[order]
        out_a, out_b, out_s = [], [], []
        n = len(ids)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            scores = unit[lo:hi] @ unit.T  # (hi-lo, n)
            rows, cols = np.nonzero(scores >= thr)
            # Strict inequality on id VALUES, not positions: duplicate
            # ids within a block would otherwise emit id_a == id_b
            # pairs the expression twin's `<` join never produces.
            keep = ids[cols] > ids[rows + lo]
            out_a.append(ids[rows[keep] + lo])
            out_b.append(ids[cols[keep]])
            out_s.append(scores[rows[keep], cols[keep]])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "block": np.repeat(pdf[block_col].iloc[0], sum(map(len, out_a))),
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    # Mirror the input's actual block/id types, and drop NULL-block
    # rows BEFORE the groupBy — the expression twin's equi-join drops
    # NULL blocks (NULL = NULL is never true); applyInPandas would
    # otherwise keep a NULL-label group and pair its members.
    blk_t = emb.schema[block_col].dataType.simpleString()
    id_t = emb.schema[id_col].dataType.simpleString()
    base = emb.select(id_col, vec_col, block_col).filter(
        F.col(block_col).isNotNull()
    )
    if max_block_size is not None:
        # Over-cap blocks never reach the Python worker: the guard is a
        # JVM-side window + filter on the grouped map's own key.
        base = cap_blocks(base, [block_col], max_block_size)
    return base.groupBy(block_col).applyInPandas(
        pairs,
        schema=f"block {blk_t}, id_a {id_t}, id_b {id_t}, cosine_sim double",
    )


def near_dup_embeddings_arrow_with_census(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    chunk: int = 1024,
    max_block_size: int | None = None,
) -> tuple:
    """Guarded :func:`near_dup_embeddings_arrow` plus its skip census,
    OUT-OF-BAND — the semantic twin of
    :func:`~process_spark.operators.dedup.jaccard_pairs_with_census`.
    Returns ``(pairs, census)``: ``pairs`` keeps the mode-invariant
    (block, id_a, id_b, cosine_sim) schema; ``census`` is exactly one
    row ``(n_skipped_blocks bigint)`` — 0 when nothing was cut, present
    even when every block was cut and the pair set is empty. A keeper
    pipeline broadcasts the 1-row census onto its own output, and the
    cut blocks' members surface as connected-component singletons."""
    if max_block_size is None:
        raise ValueError(
            "near_dup_embeddings_arrow_with_census requires max_block_size; "
            "use near_dup_embeddings_arrow when nothing can be skipped"
        )
    base = emb.select(id_col, vec_col, block_col).filter(
        F.col(block_col).isNotNull()
    )
    kept, census = cap_blocks_with_census(
        base, [block_col], max_block_size, "n_skipped_blocks"
    )
    pairs = near_dup_embeddings_arrow(
        kept,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col=block_col,
        chunk=chunk,
    )
    return pairs, census


def _seed_cells(
    corpus: DataFrame,
    k: int,
    corpus_id: str,
    vec_col: str,
    seed_mod: int,
    seed_hash: str,
) -> DataFrame:
    """Deterministic k-means/IVF seeds ``(cell_id, centroid)``: the k
    vectors with the smallest ``hash(id) % seed_mod`` (ties by id), no
    RNG so replays are bit-stable. ``seed_hash="md5"`` is the first 8
    hex chars of md5(id) as a 32-bit int, which DuckDB reproduces.

    ``orderBy().limit()`` is a distributed TakeOrdered (per-partition
    top-k, k-row merge on the driver), never a single-partition sort
    of the whole corpus; the row_number window then runs over the
    k-row result only."""
    if seed_hash == "md5":
        base = F.conv(
            F.substring(F.md5(F.col(corpus_id).cast("string")), 1, 8), 16, 10
        ).cast("long")
    else:
        base = F.xxhash64(F.col(corpus_id))
    key = F.pmod(base, F.lit(seed_mod))
    topk = (
        corpus.select(F.col(corpus_id), F.col(vec_col), key.alias("__key"))
        .orderBy("__key", corpus_id)
        .limit(k)
    )
    w = Window.orderBy("__key", corpus_id)
    return topk.select(
        (F.row_number().over(w) - 1).alias("cell_id"),
        F.col(vec_col).alias("centroid"),
    )


def kmeans(
    corpus: DataFrame,
    k: int,
    n_iter: int = 5,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 9973,
    scorer: str = "expr",
    checkpoint_dir: str | None = None,
    seed_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an embedding column, fully distributed.

    Deterministic init (:func:`_seed_cells`), then ``n_iter`` rounds of
    assign → recompute means. Each round is one broadcast join
    (centroids are k rows — always broadcastable) plus one hash
    aggregate over (cluster, dim); no driver-side data movement, so the
    same plan runs at any corpus scale. Each round's centroids are cut
    from the lineage (:func:`~process_spark.operators.execution.cut`,
    reliable when ``checkpoint_dir`` is set) to keep plans bounded.

    Returns (centroids, assignments): centroids(cell_id, centroid),
    assignments(corpus_id, vec_col, cell_id).
    """
    # Fan out + pin the corpus once: every assignment pass scores each
    # (vector, centroid) pair with interpreted HOF folds, so the
    # exchange parallelizes the CPU-bound stages and the pin stops a
    # rescan+reshuffle per pass.
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = cut(corpus.repartition(n_part, F.col(corpus_id)), checkpoint_dir)
    cents = _seed_cells(corpus, k, corpus_id, vec_col, seed_mod, seed_hash)
    assign_fn = _pick_assigner(scorer)
    for _ in range(n_iter):
        if scorer == "arrow":
            # Fused pass: assignment rows never materialize mid-loop.
            cents = _refine_cells_arrow(corpus, cents, vec_col)
        else:
            assign = assign_fn(corpus, cents, corpus_id, vec_col)
            cents = (
                assign.select(
                    "cell_id", F.posexplode(F.col(vec_col)).alias("pos", "v")
                )
                .groupBy("cell_id", "pos")
                .agg(F.avg("v").alias("m"))
                .groupBy("cell_id")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))).alias(
                        "__p"
                    )
                )
                .select(
                    "cell_id",
                    F.transform(
                        "__p", lambda p: p.getField("m").cast("float")
                    ).alias("centroid"),
                )
            )
        # The pin also gives every consumer of a round (the next
        # round's broadcast, the returned centroids, the assignments'
        # broadcast) the identical centroid bits: two executions of
        # the float avg could reduce in different orders.
        cents = cut(cents, checkpoint_dir)
    assignments = assign_fn(corpus, cents, corpus_id, vec_col)
    return cents, assignments


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    sample_cap: int = 4096,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> "list":
    """O68 — PRODUCT-QUANTIZATION codebook training (Jégou, Douze,
    Schmid, "Product Quantization for Nearest Neighbor Search", IEEE
    TPAMI 2011 — public method). The vector space is split into ``m``
    contiguous subspaces; each gets its own ``k``-centroid codebook via
    Lloyd iterations, so a d-dim float32 vector compresses to ``m``
    one-byte codes — 4·d/m× smaller (32× at d=64, m=8). At 100 TB this
    is the difference between an index that fits in cluster memory and
    one that does not; search quality is recovered by exact re-rank of
    the ADC top-C (see :func:`pq_search`).

    Codebooks are trained on a DETERMINISTIC hash-ordered sample of at
    most ``sample_cap`` vectors, collected to the driver — the one
    bounded driver-side step, the standard practice for codebook
    training (the sample is the training SET; the corpus is never
    collected), with numpy Lloyd iterations (seeded farthest-first
    init on the hash order). Returns the nested list
    ``codebooks[m][k][d/m]`` — plain floats, broadcastable into the
    encode/search kernels."""
    import numpy as np  # noqa: PLC0415

    sample = (
        corpus.select(corpus_id, vec_col)
        .orderBy(F.xxhash64(F.col(corpus_id).cast("string")), F.col(corpus_id))
        .limit(sample_cap)
        .collect()
    )
    mat = np.array([list(r[vec_col]) for r in sample], dtype="float64")
    _empty_msg = (
        "pq_train: no trainable vectors — the sample is empty or every "
        "sampled vector has zero/underflow norm (the cosine contract "
        "trains on unit vectors; zero-norm vectors are excluded)"
    )
    if mat.size == 0:
        raise ValueError(_empty_msg)
    # COSINE contract: train on UNIT vectors — ADC approximates angular
    # distance only if magnitude is normalized out on both sides (a
    # raw-norm corpus would let ||x||² dominate the L2 ranking).
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat[norms[:, 0] > 0] / norms[norms[:, 0] > 0]
    if mat.shape[0] == 0:
        raise ValueError(_empty_msg)
    n, d = mat.shape
    if n < k:
        raise ValueError(
            f"pq_train: sample holds only {n} unit vectors but k={k} "
            "centroids per subspace were requested — raise sample_cap, "
            "lower k, or pass a larger corpus (training would otherwise "
            "silently return fewer than k centroids per codebook)"
        )
    if d % m:
        raise ValueError(f"dim {d} must split evenly into m={m} subspaces")
    sub_d = d // m
    books = []
    for s in range(m):
        x = mat[:, s * sub_d : (s + 1) * sub_d]
        # deterministic farthest-first init on the hash-ordered sample
        cents = [x[0]]
        d2 = ((x - cents[0]) ** 2).sum(axis=1)
        for _ in range(1, min(k, n)):
            cents.append(x[int(np.argmax(d2))])
            d2 = np.minimum(d2, ((x - cents[-1]) ** 2).sum(axis=1))
        c = np.stack(cents)
        for _ in range(n_iter):
            assign = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for j in range(len(c)):
                mask = assign == j
                if mask.any():
                    c[j] = x[mask].mean(axis=0)
        books.append(c.tolist())
    return books


def pq_save_codebooks(spark, codebooks: "list", path: str) -> None:
    """Persist trained PQ codebooks as the engine's standard stored
    artifact — parquet rows ``(subspace int, centroid int,
    vec array<double>)``, one coalesced file (m·k rows, driver-sized
    by construction). Train-once / encode-many: stored codes are only
    decodable against the exact codebooks that produced them, so a
    deployment that persists PQ codes without pinning the codebooks
    has an unreadable index after the next retrain. Doubles round-trip
    parquet exactly, so the reloaded codebooks are bit-identical and
    encode/search results are byte-equal (pinned in
    tests/test_properties.py)."""
    rows = [
        (s, j, list(map(float, c)))
        for s, book in enumerate(codebooks)
        for j, c in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, centroid int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def pq_load_codebooks(spark, path: str) -> list:
    """Load stored PQ codebooks back into the nested
    ``codebooks[m][k][d/m]`` list the encode/search kernels consume —
    bit-identical to what :func:`pq_save_codebooks` wrote (bounded
    driver collect: m·k rows)."""
    rows = spark.read.parquet(path).orderBy("subspace", "centroid").collect()
    books: list = []
    for r in rows:
        while len(books) <= r["subspace"]:
            books.append([])
        books[r["subspace"]].append(list(r["vec"]))
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: "list",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """O68 — PQ encoding: one Arrow-batched ``mapInPandas`` pass maps
    each vector to its ``m`` nearest-subcentroid codes
    (``array<tinyint>`` — m bytes/vector). The codebooks ride the
    closure (m·k·d/m floats — a few KB); the corpus never shuffles.
    This CODES table is what a 100 TB deployment stores and scans —
    the float vectors are only re-read for the final re-rank of the
    ADC top-C."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    books = [np.array(b, dtype="float64") for b in codebooks]
    m = len(books)
    sub_d = books[0].shape[1]
    id_t = corpus.schema[corpus_id].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            # unit-normalize: codes quantize DIRECTION (cosine contract,
            # matching pq_train/pq_search); zero-norm vectors drop —
            # same exclusion as every cosine path here
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0
            if not keep.any():
                continue
            pdf = pdf.iloc[keep]
            mat = mat[keep] / norms[keep, None]
            codes = np.empty((len(pdf), m), dtype="int8")
            for s, c in enumerate(books):
                x = mat[:, s * sub_d : (s + 1) * sub_d]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                d2 = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {corpus_id: pdf[corpus_id].to_numpy(), "codes": list(codes)}
            )

    return corpus.select(corpus_id, vec_col).mapInPandas(
        encode, schema=f"{corpus_id} {id_t}, codes array<tinyint>"
    )


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: "list",
    k: int = 10,
    rerank: int = 100,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O68 — PQ-ADC search with exact re-rank: the compressed-index
    k-NN a 100 TB deployment runs when the float vectors don't fit.

    Phase 1 (ADC over CODES only): each query builds its m×k
    asymmetric-distance lookup table (query subvector vs every
    subcentroid — m·k distances, computed once per query); one
    ``mapInPandas`` pass over the codes table scores every vector as a
    SUM OF TABLE LOOKUPS (no float vectors read, no per-pair O(d)
    work) and keeps the per-batch ADC top-``rerank``. One k·|Q|-bounded
    shuffle reduces to the global ADC top-``rerank`` per query.

    Phase 2 (exact re-rank): ONLY those ≤ rerank·|Q| candidate ids
    join back to the float corpus for exact cosine — quantization
    error affects which candidates surface, not their final order, so
    recall@k is governed by ``rerank`` (measured in SCALE.md; raise it
    for more recall at linear candidate cost)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    books = [np.array(b, dtype="float64") for b in codebooks]
    m = len(books)
    sub_d = books[0].shape[1]
    q_rows = queries.select(query_id, query_vec).collect()  # bounded query side
    q_ids = [r[query_id] for r in q_rows]
    q_mat = np.array([list(r[query_vec]) for r in q_rows], dtype="float64")
    # Unit-normalize queries so ADC L2 ranking tracks cosine ranking of
    # unit-normalized corpus vectors as closely as quantization allows.
    qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    q_mat = q_mat / qn
    # luts[q, s, j] = ||q_sub - c_sj||² for each query, subspace, code
    luts = np.empty((len(q_ids), m, books[0].shape[0]), dtype="float64")
    for s, c in enumerate(books):
        qs = q_mat[:, s * sub_d : (s + 1) * sub_d]
        luts[:, s, :] = (
            (qs * qs).sum(axis=1)[:, None]
            - 2.0 * (qs @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
    id_t = codes.schema[corpus_id].dataType.simpleString()

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(pdf["codes"].to_numpy()).astype("int64")  # n×m
            ids = pdf[corpus_id].to_numpy()
            # dist[q, n] = Σ_s luts[q, s, cm[n, s]] — gathered per
            # subspace, accumulated (m table-lookups per scored pair,
            # no O(d) work, no float vectors)
            acc = np.zeros((luts.shape[0], len(pdf)))
            for s in range(m):
                acc += luts[:, s, cm[:, s]]
            top = min(rerank, acc.shape[1])
            part = np.argpartition(acc, top - 1, axis=1)[:, :top]
            out_q, out_id, out_d = [], [], []
            for qi in range(acc.shape[0]):
                out_q.extend([q_ids[qi]] * top)
                out_id.extend(ids[part[qi]])
                out_d.extend(acc[qi, part[qi]])
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_id, "__adc": out_d}
            )

    cand = (
        codes.mapInPandas(
            adc, schema=f"{query_id} {id_t}, {corpus_id} {id_t}, __adc double"
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(
                    F.col("__adc").asc(), F.col(corpus_id).asc()
                )
            ),
        )
        .filter(F.col("__rn") <= rerank)
        .select(query_id, corpus_id)
    )
    # Phase 2: exact cosine on the bounded candidate set only.
    uq = queries.select(
        query_id, l2_norm(query_vec).alias("__qn"), F.col(query_vec)
    ).select(query_id, unit_with(query_vec, "__qn").alias(query_vec))
    uc = corpus.select(
        corpus_id, l2_norm(corpus_vec).alias("__cn"), F.col(corpus_vec)
    ).select(corpus_id, unit_with(corpus_vec, "__cn").alias(corpus_vec))
    scored = (
        cand.join(uc, corpus_id)
        .join(F.broadcast(uq), query_id)
        .select(
            query_id,
            corpus_id,
            dot(query_vec, corpus_vec).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.when(~F.isnan("score"), F.col("score")).desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") <= k)
            & F.col("score").isNotNull()
            & ~F.isnan("score")
        )
    )


def _sq8_unit_code(vec: Column, norm: Column) -> Column:
    """int8 code of a UNIT vector on the fixed symmetric grid:
    floor(x/norm * 127 + 0.5) ∈ [-127, 127]. Normalizing first and
    using ONE global scale keeps the integer dot product exactly
    proportional to the decoded dot product (∝ cosine + quantization
    noise) — a per-dimension affine grid would reweight dimensions and
    distort the ranking (measured recall 0.04 vs 0.95 here). Every
    step is one IEEE double op on identical operands → codes are
    bit-identical across engines."""
    return F.transform(
        vec,
        lambda x: F.floor(x / norm * 127.0 + 0.5).cast("long"),
    )


def sq8_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O68 — int8 scalar-quantization k-NN: unit-normalize, quantize
    onto the fixed symmetric 127-step grid (1 byte/dim, 4× smaller
    than float32, no training or calibration pass at all), score with
    an INTEGER dot product over the codes. Integer arithmetic makes
    the ranking reproducible bit-for-bit and SQL-checkable end to end
    — the compressed-index family's exact oracle (PQ's float ADC is
    rows-only). Zero/underflow-norm vectors are EXCLUDED from both
    sides (the unit_with contract: no DIVIDE_BY_ZERO, no NULL codes).

    Scale: corpus codes never shuffle — bounded query broadcast,
    map-side integer fold, partial WindowGroupLimit before the
    per-query exchange carries k rows per (query, partition). For
    recall-critical use, exact re-rank of the top-C composes exactly
    like pq_search's phase 2; to prune pairs as well as bytes, compose
    with IVF cell probing."""
    qq = queries.select(
        query_id, l2_norm(query_vec).alias("__qn"), F.col(query_vec)
    ).filter(F.col("__qn") > 0).select(
        query_id,
        _sq8_unit_code(F.col(query_vec), F.col("__qn")).alias("__qq"),
    )
    qc = corpus.select(
        corpus_id, l2_norm(corpus_vec).alias("__cn"), F.col(corpus_vec)
    ).filter(F.col("__cn") > 0).select(
        corpus_id,
        _sq8_unit_code(F.col(corpus_vec), F.col("__cn")).alias("__qc"),
    )
    scored = (
        qc.crossJoin(F.broadcast(qq))
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            F.aggregate(
                F.zip_with("__qq", "__qc", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("adc_score"),
        )
    )
    return topk_per_group(
        scored,
        [query_id],
        [F.desc("adc_score"), F.col(corpus_id)],
        k,
        rank_col="rn",
        keep_rank=True,
    ).withColumn("rn", F.col("rn").cast("long"))


def sq8_search_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """O68/O100 — the Arrow/numpy throughput twin of :func:`sq8_search`
    (same SQ8 semantics, batch-matmul physical shape — the exact
    relationship brute_force_knn_arrow has to brute_force_knn). The
    interpreted zip_with/aggregate integer fold redoes O(d) expression
    work per scored pair; here each Arrow batch quantizes onto the SAME
    fixed symmetric grid (bit-identical to :func:`_sq8_unit_code`: the
    float32 squares accumulate sequentially in float64 exactly as the
    HOF fold does, then floor(x/norm*127+0.5)) and scores all pairs as
    ONE (batch × d) @ (d × |Q|) matmul. Products ≤ 127² and sums ≤
    d·127² keep every intermediate exactly representable in float64, so
    the BLAS matmul returns EXACT integer scores — the twin is
    id-set-EQUAL to the HOF path, not merely close (asserted in
    tests/test_properties.py). Per-batch top-k uses the same total
    order (score desc, id asc), so boundary ties cannot diverge either.

    Corpus codes never shuffle: bounded query side broadcast as an int
    matrix, per-batch top-k, then one ≤ k·|Q|-per-batch reduce."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def _codes(mat32: "np.ndarray") -> "tuple":
        """(codes int64, keep mask) mirroring _sq8_unit_code exactly:
        square in float32 (Spark float*float), accumulate the squares
        SEQUENTIALLY in float64 (the HOF fold order), sqrt, then the
        fixed-grid round — every step the same IEEE op on the same
        operands."""
        sq = mat32 * mat32  # float32 squares, as the HOF computes them
        acc = np.zeros(len(mat32), dtype="float64")
        for j in range(mat32.shape[1]):
            acc += sq[:, j].astype("float64")
        norm = np.sqrt(acc)
        keep = norm > 0
        codes = np.floor(
            mat32[keep].astype("float64") / norm[keep, None] * 127.0 + 0.5
        ).astype("int64")
        return codes, keep

    qpdf = queries.select(query_id, query_vec).toPandas()
    qpdf = qpdf[qpdf[query_vec].notna()]
    if len(qpdf):
        qmat = np.stack(qpdf[query_vec].to_numpy()).astype("float32")
        qcodes, qkeep = _codes(qmat)
        qids = qpdf[query_id].to_numpy()[qkeep]
    else:
        qcodes, qids = np.zeros((0, 1), dtype="int64"), np.array([])
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qcodes))

    def score_batches(batches):
        ids_q, qc = bq.value
        nq = len(ids_q)
        for pdf in batches:
            pdf = pdf[pdf[corpus_vec].notna()]
            if not len(pdf) or nq == 0:
                continue
            mat = np.stack(pdf[corpus_vec].to_numpy()).astype("float32")
            codes, keep = _codes(mat)
            vids = pdf[corpus_id].to_numpy()[keep]
            n = len(vids)
            # float64 matmul of int codes: |v| ≤ 127, d ≤ 2^38 → every
            # product/sum exact in f64; round-trip to int64 is lossless.
            scores = (
                codes.astype("float64") @ qc.astype("float64").T
            ).astype("int64")  # (n, nq)
            # self-pair exclusion, as the HOF path's q_id != vec_id.
            # The mask lands on the COMPOSITE key, never the raw
            # scores: a pre-multiplied int64.min sentinel wraps under
            # ·n (for even n, min·n ≡ 0 mod 2^64), re-entering the
            # top-m as if the self row scored 0 and displacing a real
            # candidate whose score ≤ 0. The sentinel is min+1, not
            # min, because argpartition below negates the key and
            # -int64.min wraps back to int64.min — which would sort
            # the self row FIRST instead of last.
            self_mask = np.zeros((n, nq), dtype=bool)
            for qi in range(nq):
                self_mask[vids == ids_q[qi], qi] = True
            # composite key = score·n + (n-1-rank_by_id): argpartition
            # then respects the SAME total order (score desc, id asc)
            # the HOF window uses — boundary ties cannot diverge.
            id_rank = np.empty(n, dtype="int64")
            id_rank[np.argsort(vids, kind="stable")] = np.arange(n)
            comp = scores * n + (n - 1 - id_rank)[:, None]
            comp[self_mask] = np.iinfo("int64").min + 1
            m = min(k, n)
            idx = np.argpartition(-comp, m - 1, axis=0)[:m]
            out_q, out_id, out_s = [], [], []
            for qi in range(nq):
                sel = idx[:, qi]
                sel = sel[np.argsort(-comp[sel, qi])]
                sel = sel[~self_mask[sel, qi]]
                out_q.extend([ids_q[qi]] * len(sel))
                out_id.extend(vids[sel])
                out_s.extend(scores[sel, qi])
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_id, "adc_score": out_s}
            )

    q_id_t = queries.schema[query_id].dataType.simpleString()
    c_id_t = corpus.schema[corpus_id].dataType.simpleString()
    cand = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_batches,
        schema=f"{query_id} {q_id_t}, {corpus_id} {c_id_t}, adc_score long",
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_score").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .withColumn("rn", F.col("rn").cast("long"))
    )


def pq_quantization_error(
    corpus: DataFrame,
    codebooks: "list",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """O68 — the PQ STALENESS measurement: per-subspace mean squared
    quantization error of ``corpus`` under stored ``codebooks`` (the
    nested list :func:`pq_save_codebooks` persists). PQ codebooks have
    a train-once / encode-many lifecycle, so as the corpus
    distribution shifts away from the training sample the per-subspace
    error creeps up — exactly the way IVF centroids drift — and a
    deployment with no error monitor has no retrain signal. Compare
    the report on the current corpus against the report on the
    training-time sample: the delta IS the drift (see
    vec_pq_drift_report).

    Semantics mirror :func:`pq_encode`: vectors unit-normalize first
    (the cosine contract; zero-norm vectors drop), each subspace's
    error is the squared L2 distance to its NEAREST stored
    subcentroid. Scale shape: the codebook is an m·k-row literal
    (broadcast); the corpus is scanned once, scored JVM-side
    (zip_with/aggregate — no Python on the corpus path), min-reduced
    per (vector, subspace) map-side, then avg-reduced to m output
    rows. Output: (subspace, n_vectors, mse)."""
    spark = corpus.sparkSession
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    book = spark.createDataFrame(
        [
            (s, j, [float(x) for x in c])
            for s, b in enumerate(codebooks)
            for j, c in enumerate(b)
        ],
        "subspace int, centroid int, cvec array<double>",
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("__v"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    unit = (
        corpus.select(
            corpus_id, F.col(vec_col).cast("array<double>").alias("__v")
        )
        .withColumn("__n", norm)
        .filter(F.col("__n") > 0)
        .select(
            corpus_id,
            F.transform(
                F.col("__v"), lambda x: x / F.col("__n")
            ).alias("__u"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.slice(F.col("__u"), F.col("subspace") * sub_d + 1, sub_d),
            F.col("cvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = (
        unit.join(F.broadcast(book))
        .select(corpus_id, "subspace", d2.alias("__d2"))
        .groupBy(corpus_id, "subspace")
        .agg(F.min("__d2").alias("__best"))
    )
    return per_vec.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.avg("__best").alias("mse"),
    )
