"""Vector / similarity-search queries over ``embeddings`` (SURVEY.md
§2.10 O65-O69; contract extension "similarity search").

Exactness note: the engine computes dot/norm with sequential array
HOFs (``F.aggregate`` folds left-to-right in float64 over float32
products). The DuckDB oracles mirror that exact fold with
``list_reduce`` — identical operand order → identical IEEE results →
hash-stable scores and therefore hash-stable top-k rankings.

Scale shape: queries broadcast; corpus never shuffles for scoring;
pair generation always rides a blocking key (label here, IVF cell at
100 TB). See operators/similarity.py for the IVF path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from process_spark.functions.vectorfn import (
    cosine,
    l2_norm,
    l2_normalize,
    random_hyperplanes,
    srp_band_pool,
    srp_signature,
)
from process_spark.operators.indexlife import (
    compact_stored_index,
    live_index_rows,
    tombstone_index_ids,
    write_stored_index,
)
from process_spark.operators.similarity import (
    brute_force_knn,
    ivf_assign,
    ivf_build,
    ivf_probe_cells,
    ivf_search,
    near_dup_embeddings,
)
from process_spark.queries._util import _SCRATCH, t
from process_spark.queries.registry import register


def _o_fold(terms: str) -> str:
    """DuckDB twin of ``F.aggregate(terms, 0.0D, (a,x) -> a+x)``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {terms}), (a, x) -> a + x)"
    )


def _o_dot(a: str, b: str) -> str:
    """Dot product: float32 products folded left-to-right in float64 —
    the exact op order of functions.vectorfn.dot."""
    terms = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)])"
    )
    return _o_fold(terms)


def _o_norm(a: str) -> str:
    return f"sqrt({_o_fold(f'list_transform({a}, x -> x * x)')})"


def _o_cosine(a: str, b: str) -> str:
    """NULL when either norm is zero — DuckDB's raw ``/`` would yield
    inf/nan where Spark's guarded cosine() yields NULL; the CASE keeps
    both engines on the same degenerate-input semantics."""
    den = f"({_o_norm(a)} * {_o_norm(b)})"
    return f"(CASE WHEN {den} > 0 THEN {_o_dot(a, b)} / {den} END)"


def _o_unit_cte(source_sql: str, extra_cols: str = "") -> str:
    """DuckDB twin of the normalize-once projection in
    operators.similarity (l2_norm as its own column, then elementwise
    x / norm): ``u(vec_id, {extra}, nemb)`` over ``source_sql``.
    ``WHERE nn > 0`` mirrors the operator's exclude-NULL-unit-vectors
    rule (unit_with → NULL → filtered) for zero/underflow norms."""
    cols = f"vec_id, {extra_cols}, " if extra_cols else "vec_id, "
    return (
        f"n AS (SELECT {cols}embedding, {_o_norm('embedding')} AS nn"
        f" FROM ({source_sql})),"
        f" u AS (SELECT {cols}list_transform(embedding, x -> x / nn) AS nemb"
        f" FROM n WHERE nn > 0)"
    )


@register(
    "vec_norms",
    oracle=f"""
    SELECT vec_id,
           {_o_norm('embedding')} AS l2,
           CAST(list_min(embedding) AS DOUBLE) AS min_elem,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem,
           (CASE WHEN {_o_norm('embedding')} > 0
                 THEN CAST(embedding[1] AS DOUBLE) / {_o_norm('embedding')}
            END) AS unit_first
    FROM embeddings
    """,
)
def vec_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O65: norms & normalization (scalar projections so the oracle
    compares doubles, not array renderings)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        l2_norm("embedding").alias("l2"),
        F.array_min("embedding").cast("double").alias("min_elem"),
        F.array_max("embedding").cast("double").alias("max_elem"),
        F.element_at(l2_normalize("embedding"), 1).cast("double").alias("unit_first"),
    )


@register(
    "vec_cosine_pairs",
    oracle=f"""
    WITH s AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_o_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
    """,
)
def vec_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O66: pairwise cosine within label blocks (equi-join blocking —
    never an unblocked cross join)."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    a, b = e.alias("a"), e.alias("b")
    return a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
    )


@register(
    "vec_knn_bruteforce",
    oracle=f"""
    WITH {_o_unit_cte('SELECT * FROM embeddings')},
    q AS (SELECT vec_id AS q_id, nemb AS q_emb
          FROM u WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_o_dot('q.q_emb', 'e.nemb')} AS score
      FROM q CROSS JOIN u e
    )
    SELECT q_id, vec_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def vec_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O67: exact top-5 cosine k-NN — broadcast queries, score the
    corpus map-side as dot-of-unit-vectors (normalized once per side,
    not per pair; oracle mirrors the op order), per-query top-k. Rank
    ties break on vec_id; scores are bit-identical across engines."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_knn(q, e, k=5)


@register(
    "vec_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id,
             unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY vec_id)),
                       (a, v) -> a + v) / COUNT(*) AS centroid_val
    FROM ex
    GROUP BY label, dim
    """,
)
def vec_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O69: per-label centroid, exploded to (label, dim, value).

    Oracle-exact form: per group, fold values in vec_id order (both
    engines fold the identical sequence). The production path at scale
    is operators.similarity.centroids (plain avg — no per-group
    collect); this query exists to pin the semantics.
    """
    e = t(spark, sf_dir, "embeddings")
    ex = e.select("label", "vec_id", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("__vs"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "label",
            "dim",
            (
                F.aggregate(
                    F.transform("__vs", lambda p: p.getField("x")),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / F.col("__n")
            ).alias("centroid_val"),
        )
    )


@register(
    "vec_near_dup",
    oracle=f"""
    WITH {_o_unit_cte('SELECT * FROM embeddings WHERE vec_id % 4 = 0', 'label')}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_o_dot('a.nemb', 'b.nemb')} AS cosine_sim
    FROM u a JOIN u b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_o_dot('a.nemb', 'b.nemb')} >= 0.2
    """,
)
def vec_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64: semantic near-dup pairs — cosine threshold within label
    blocks, scored as dot-of-unit-vectors (normalized once pre-join;
    the oracle mirrors the exact op order). Thresholding on
    bit-identical scores keeps the row set hash-stable."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    return near_dup_embeddings(e, threshold=0.2, block_col="label")


#: 16-plane signature set for the bucket histogram (separate constants
#: from the 6-plane ANN set: rng.randn(16, 64) != rng.randn(6, 64)).
_SRP16_PLANES = random_hyperplanes(dim=64, n_planes=16, seed=42)
_SRP16_PLANES_VALUES = ",\n      ".join(
    "({}, [{}])".format(i, ", ".join(repr(w) for w in plane))
    for i, plane in enumerate(_SRP16_PLANES)
)


@register(
    "vec_srp_lsh_buckets",
    oracle=f"""
    WITH planes(p_idx, w) AS (VALUES
      {_SRP16_PLANES_VALUES}
    ),
    sig AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN {_o_dot('e.embedding', 'p.w')} > 0
                           THEN (CAST(1 AS BIGINT) << p.p_idx) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM sig GROUP BY bucket
    """,
)
def vec_srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68: signed-random-projection LSH bucket histogram. Bucketing
    turns ANN into an equi-join on signature bands at scale; the
    fixed-seed plane constants are inlined into the oracle (shortest-
    roundtrip literals → bit-identical projections, same technique as
    vec_ann_srp_bucketed)."""
    e = t(spark, sf_dir, "embeddings")
    sig = srp_signature("embedding", _SRP16_PLANES)
    return (
        e.select(sig.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


#: Multi-band SRP constants for the oracle-backed ANN query: a pool of
#: 63 fixed-seed Rademacher (±1) planes — one ≤63-bit signature per
#: vector — and 112 six-bit band selections OR-amplified over it
#: (recall@10 = 0.94 at this default on the ISOTROPIC sf0.1 testdata,
#: the worst case for any partitioned index; see SCALE.md — a single
#: 6-plane bucket measured 0.05). The SAME constants are inlined into
#: the DuckDB oracle as literals: ±1 floats round-trip exactly, every
#: projection product is a pure sign flip (no rounding), and band
#: buckets are integer bit-extractions — so both engines land every
#: vector in identical buckets and the whole approximate index carries
#: an exact cross-engine oracle.
_ANN_POOL, _ANN_BAND_SEL = srp_band_pool(
    dim=64, n_pool=63, m=6, n_bands=112, seed=42
)
_ANN_POOL_VALUES = ",\n      ".join(
    "({}, [{}])".format(i, ", ".join(repr(w) for w in plane))
    for i, plane in enumerate(_ANN_POOL)
)
_ANN_BAND_VALUES = ",\n      ".join(
    "({}, [{}])".format(i, ", ".join(str(x) for x in sel))
    for i, sel in enumerate(_ANN_BAND_SEL)
)
#: DuckDB twin of the band-bucket bit-selection (sel is 1-indexed).
_O_ANN_BUCKET = " + ".join(
    f"(((s.sig >> b.sel[{j + 1}]) & 1) << {j})" for j in range(6)
)
#: The oracle preamble of the 112-band SRP relation: pool planes →
#: band selections → 63-bit signatures → ``bb(vec_id, band_idx,
#: bucket)``, the DuckDB twin of :func:`_ann_banded`.
_O_SRP_BB = f"""planes(p_idx, w) AS (VALUES
      {_ANN_POOL_VALUES}
    ),
    bands(band_idx, sel) AS (VALUES
      {_ANN_BAND_VALUES}
    ),
    sig AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {_o_dot('e.embedding', 'p.w')} > 0
                      THEN (CAST(1 AS BIGINT) << p.p_idx) ELSE 0 END) AS sig
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id
    ),
    bb AS (
      SELECT s.vec_id, b.band_idx,
             CAST({_O_ANN_BUCKET} AS BIGINT) AS bucket
      FROM sig s CROSS JOIN bands b
    )"""


def _ann_banded(e: DataFrame) -> DataFrame:
    """Shared banding stage of the multi-band SRP ANN: one 63-bit pool
    signature per vector (map-side, checkpointed), 112 band buckets
    bit-selected and posexploded → (vec_id, band_idx, bucket)."""
    # The signature expression as ONE SQL string — semantically
    # identical to srp_signature(embedding, _ANN_POOL) (same zip_with
    # product, same left-to-right double fold, same shiftleft bit
    # assembly → identical bits), but parsed in one py4j call instead
    # of ~4,000 Column-API round-trips (measured 5-8 s of driver time
    # per invocation; the parse is milliseconds).
    def plane_fold(plane: list[float]) -> str:
        arr = ", ".join(f"{w:.1f}D" for w in plane)  # ±1.0 exact
        return (
            f"aggregate(zip_with(embedding, array({arr}), "
            f"(x, w) -> x * w), 0.0D, (acc, x) -> acc + x)"
        )

    sig_sql = " + ".join(
        f"IF({plane_fold(p)} > 0, shiftleft(CAST(1 AS BIGINT), {i}), "
        f"CAST(0 AS BIGINT))"
        for i, p in enumerate(_ANN_POOL)
    )
    # Checkpoint AFTER the signature projection: Catalyst collapses
    # projections into their consumers, so without the cut each of the
    # 112 band-bucket expressions below would re-inline the 63-fold
    # signature (63×112 folds per row — measured 21 s vs sub-second at
    # sf0.01). With it, the 63 folds run once per vector and the bands
    # are pure bit ops over the materialized long (at warehouse scale:
    # the signature table is materialized once, exactly like the
    # MinHash band relation in operators/dedup.py).
    sigs = e.selectExpr("vec_id", f"({sig_sql}) AS __sig").localCheckpoint(
        eager=False
    )

    # One SQL string for the whole 112-element band array: building
    # these ~2,700 bit-op Columns through the Python Column API costs
    # ~8 s of py4j round-trips PER CALL; one selectExpr parse is
    # milliseconds for the identical expression tree.
    def bucket_sql(sel: tuple[int, ...]) -> str:
        terms = " + ".join(
            f"shiftleft(shiftright(__sig, {idx}) & 1, {j})"
            for j, idx in enumerate(sel)
        )
        return f"CAST({terms} AS BIGINT)"

    band_array = ", ".join(bucket_sql(sel) for sel in _ANN_BAND_SEL)
    return sigs.selectExpr(
        "vec_id",
        f"posexplode(array({band_array})) AS (band_idx, bucket)",
    )


def _ann_query_bands(banded: DataFrame, query_mod: int = 100) -> DataFrame:
    return banded.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("band_idx").alias("q_band_idx"),
        F.col("bucket").alias("q_bucket"),
    )


def _ann_srp_candidates(e: DataFrame, n_bands: int | None = None) -> DataFrame:
    """Candidate stage of the multi-band SRP ANN: distinct
    (q_id, vec_id) pairs whose vectors collide with the query in ≥1 of
    the 112 band buckets (exposed separately so scripts/ann_recall.py
    can measure the candidate fraction of the REGISTERED operator).
    ``n_bands`` truncates to the pool's first n selections — the knob
    the auto-tuner (:func:`ann_srp_tune`) picks."""
    banded = _ann_banded(e)
    if n_bands is not None:
        banded = banded.filter(F.col("band_idx") < n_bands)
    qb = _ann_query_bands(banded)
    return (
        banded.join(
            F.broadcast(qb),
            (F.col("band_idx") == F.col("q_band_idx"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
        .distinct()
    )


def _ann_srp_topk(e: DataFrame, k: int, n_bands: int | None = None) -> DataFrame:
    """Shared candidate-generation + re-rank of the multi-band SRP ANN
    (used by vec_ann_srp_bucketed and scripts/ann_recall.py so the
    measured recall IS the registered operator's). One map-side pass
    computes each vector's 63-bit pool signature; 112 band buckets are
    bit-selected from it and posexploded; candidates = the per-band
    (band_idx, bucket) equi-join against the broadcast query bands,
    deduplicated; exact cosine re-ranks. Corpus never shuffles for
    banding (broadcast hash join); the only shuffles are the candidate
    dedup and the re-rank join — both bounded by the candidate volume
    that IS the ANN cost knob."""
    cands = _ann_srp_candidates(e, n_bands=n_bands)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cands.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("q_emb")).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: Band-count ladder for the SRP auto-tuner: prefixes of the SAME
#: 112-band pool (a run at b bands IS the registered operator truncated
#: to its first b band selections — no new constants, no new recall
#: model).
_ANN_TUNE_LADDER = (7, 14, 28, 56, 112)


def ann_srp_tune(
    e: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    ladder: tuple[int, ...] = _ANN_TUNE_LADDER,
    query_mod: int = 100,
) -> DataFrame:
    """SAMPLED-RECALL auto-tuner for the multi-band SRP ANN — the
    adaptive path that gives clustered corpora (every real embedding
    corpus) a real speedup instead of the isotropic worst-case default.

    One banding pass at the FULL 112-band pool tags each candidate
    pair with ``first_band`` — the smallest band index where it
    collides — so "the candidate set at b bands" is the filter
    ``first_band < b``: the whole ladder is measured from ONE
    candidate generation + ONE exact-cosine scoring pass (both
    lazily checkpointed). Ground truth is exact kNN on the SAMPLE
    queries only (|sample| × corpus map-side matmul — the affordable
    end of exact search). Recall/fraction per rung are distributed
    join-counts; the driver sees |ladder| scalars, never data.

    Returns the evidence table, one row per rung: (n_bands, recall,
    candidate_fraction, chosen) — ``chosen`` marks the cheapest rung
    with recall ≥ ``target_recall`` (largest rung if none clears it,
    so a caller always gets a setting plus the printed proof it's the
    best available). On the isotropic testdata the tuner lands on the
    full 112 bands (recall ≈ fraction there — nothing cheaper exists);
    on the clustered twin it picks a small prefix at a fraction ≤ ~0.2
    (tests/test_ann_tuning.py, SCALE.md). At 100 TB: run once on an
    ingestion sample, deploy the chosen band count."""
    from process_spark.operators.similarity import brute_force_knn_arrow

    spark = e.sparkSession
    banded = _ann_banded(e)
    qb = _ann_query_bands(banded, query_mod)
    cands = (
        banded.join(
            F.broadcast(qb),
            (F.col("band_idx") == F.col("q_band_idx"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.min("band_idx").alias("first_band"))
    )
    q = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cands.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            "first_band",
            cosine(F.col("embedding"), F.col("q_emb")).alias("score"),
        )
        .localCheckpoint(eager=False)  # one scoring pass feeds every rung
    )
    # Exact non-self top-k on the sample queries (ask k+1, drop self).
    wx = Window.partitionBy("q_id").orderBy("rank")
    exact = (
        brute_force_knn_arrow(q, e, k=k + 1)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("__r", F.row_number().over(wx))
        .filter(F.col("__r") <= k)
        .select("q_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    n_q = q.count()
    n_corpus = e.count()
    # Recall denominator = the ACTUAL exact ground-truth row count, not
    # n_q·k — a query with fewer than k non-self neighbors would
    # otherwise cap measured recall below target forever and silently
    # force `chosen` to the most expensive rung (same rule as
    # ivf_tune_n_probe).
    n_exact = exact.count()
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    rows = []
    for b in ladder:
        sub = scored.filter(F.col("first_band") < b)
        topk = (
            sub.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id")
        )
        hits = topk.join(exact, ["q_id", "vec_id"]).count()
        recall = hits / max(1, n_exact)
        frac = sub.count() / max(1, n_q * (n_corpus - 1))
        rows.append((b, recall, frac))
    cleared = [b for b, r, _ in rows if r >= target_recall]
    chosen = min(cleared) if cleared else max(b for b, _, _ in rows)
    return spark.createDataFrame(
        [(b, r, f, b == chosen) for b, r, f in rows],
        "n_bands int, recall double, candidate_fraction double, chosen boolean",
    )


@register(
    "vec_ann_srp_bucketed",
    oracle=f"""
    WITH {_O_SRP_BB},
    qb AS (
      SELECT vec_id AS q_id, band_idx, bucket FROM bb WHERE vec_id % 100 = 0
    ),
    cand AS (
      SELECT DISTINCT qb.q_id, bb.vec_id
      FROM qb JOIN bb
        ON bb.band_idx = qb.band_idx AND bb.bucket = qb.bucket
       AND bb.vec_id <> qb.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             {_o_cosine('e.embedding', 'qe.embedding')} AS score
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings qe ON qe.vec_id = c.q_id
    )
    SELECT q_id, vec_id, score, rank FROM (
      SELECT q_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def vec_ann_srp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 (oracle-backed): approximate k-NN via MULTI-BAND
    signed-random-projection LSH — 112 six-bit band tables OR-amplified
    (Indyk-Motwani banding) over a shared 63-plane Rademacher pool,
    then exact cosine re-rank of the deduplicated candidates, top-5
    per query. The registered default measures recall@10 = 0.94 on the
    real (isotropic — worst-case) testdata, vs 0.05 for the previous
    single-bucket setting (SCALE.md); on clustered corpora the same
    setting keeps near-1.0 recall at a small candidate fraction.

    Deterministic end-to-end: fixed-seed ±1 planes and band selections
    inlined into both engines, signature → bucket derivation is pure
    integer arithmetic, bit-identical HOF cosine fold, (score, vec_id)
    total order — which is what lets an *approximate* index carry an
    exact cross-engine oracle. Scale shape: one map-side signature
    pass; band join against the broadcast query bands; only candidate
    dedup + re-rank shuffle, both proportional to the candidate
    volume."""
    e = t(spark, sf_dir, "embeddings")
    return _ann_srp_topk(e, k=5)


@register("vec_ivf_knn", oracle=None)
def vec_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68: IVF approximate k-NN (rows-only). Build coarse cells, probe
    the nearest cells per query — the equi-join-on-cell shape that
    replaces the cross join at 100 TB. Runs at the RECALL-DRIVEN
    default n_probe = ceil(0.75·n_cells) (recall@10 = 0.93 on the
    isotropic testdata vs 0.51 at the old n_probe=2 — SCALE.md);
    clustered deployments pass a lower n_probe explicitly."""
    e = t(spark, sf_dir, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_search(q, cells, assignments, k=5)


@register("vec_ann_srp_tuned", oracle=None)
def vec_ann_srp_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 ADAPTIVE path: the sampled-recall auto-tuner for the
    multi-band SRP ANN (:func:`ann_srp_tune`). Output = the evidence
    ladder — one row per band-count rung with its measured recall@10,
    candidate fraction, and the chosen (cheapest ≥0.9-recall) rung
    marked — i.e. the stats table a deployment reads to pick its
    setting, produced by the operator itself instead of a human
    reading SCALE.md. Rows-only (row count = ladder size, schema
    fixed): the recall values are measurements, not SQL-replayable
    relations; the underlying candidate/scoring kernels are
    oracle-backed via vec_ann_srp_bucketed."""
    e = t(spark, sf_dir, "embeddings")
    return ann_srp_tune(e, k=10, target_recall=0.9)


@register("vec_ann_srp_search_tuned", oracle=None)
def vec_ann_srp_search_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 ADAPTIVE path END TO END: tune (sampled recall across the
    band ladder), then SEARCH at the chosen band count — the call a
    deployment actually makes. The tuner's evidence table is a
    |ladder|-row bounded collect (the one driver-side read); the
    search is the registered SRP operator truncated to the chosen
    prefix of the same band pool, so its physical plan is
    vec_ann_srp_bucketed's with a smaller posexplode — nothing new to
    audit. Rows-only: the chosen rung depends on measured recall (on
    the isotropic testdata it equals the full 112-band operator; on
    clustered data it is a small prefix)."""
    e = t(spark, sf_dir, "embeddings")
    stats = ann_srp_tune(e, k=10, target_recall=0.9).collect()  # |ladder| rows
    chosen = next(r["n_bands"] for r in stats if r["chosen"])
    return _ann_srp_topk(e, k=10, n_bands=chosen).withColumn(
        "n_bands_used", F.lit(chosen)
    )


@register("vec_ivf_tuned", oracle=None)
def vec_ivf_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 ADAPTIVE path: sampled-recall auto-tuner for IVF
    (operators.similarity.ivf_tune_n_probe). Same contract as
    vec_ann_srp_tuned: one row per n_probe rung with measured recall@10
    + candidate fraction, cheapest ≥0.9 rung marked chosen. On
    clustered corpora this picks n_probe=1-2 (fraction ≈ 1/n_cells)
    where the static default probes 3/4 of the cells — the ~4-6x
    search-cost reduction the round-6 verdict asked for. IVF kernels
    are oracle-backed via vec_ivf_knn_md5_idset."""
    from process_spark.operators.similarity import ivf_tune_n_probe

    e = t(spark, sf_dir, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_tune_n_probe(q, cells, assignments, k=10, target_recall=0.9)


@register("vec_ivf_search_tuned", oracle=None)
def vec_ivf_search_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 ADAPTIVE path END TO END (IVF twin of
    vec_ann_srp_search_tuned): build the index, tune n_probe on the
    query sample, search at the chosen rung. The search plan is
    ivf_search's — cell equi-join, broadcast probes — with the tuned
    n_probe; ``n_probe_used`` rides every row so the chosen setting is
    part of the output contract. Rows-only: the rung depends on
    measured recall."""
    from process_spark.operators.similarity import ivf_search, ivf_tune_n_probe

    e = t(spark, sf_dir, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    stats = ivf_tune_n_probe(q, cells, assignments, k=10).collect()  # ladder rows
    chosen = next(r["n_probe"] for r in stats if r["chosen"])
    return ivf_search(q, cells, assignments, k=10, n_probe=chosen).withColumn(
        "n_probe_used", F.lit(chosen)
    )


@register("vec_pq_knn", oracle=None)
def vec_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — PRODUCT-QUANTIZATION k-NN (Jégou/Douze/Schmid, TPAMI
    2011): the compressed-index path for when 100 TB of float32
    embeddings cannot be scanned, let alone cached. Codebooks (m=16
    subspaces × 128 centroids, trained on a bounded hash-ordered
    sample) quantize each unit vector to 16 one-byte codes — 16×
    smaller than float32 — and search scores the CODES table with
    per-query lookup tables (no float vectors read, no O(d) work per
    pair), then exactly re-ranks only the ADC top-200. Recall@10 = 0.9
    at these defaults on both the isotropic testdata and the clustered
    twin (measured in SCALE.md; ``rerank`` is the recall/cost knob).
    Rows-only: codebook training is iterative numpy Lloyd — no SQL
    twin; the exact re-rank kernel is oracle-anchored via
    vec_knn_bruteforce."""
    from process_spark.operators.similarity import (
        pq_encode,
        pq_search,
        pq_train,
    )

    e = t(spark, sf_dir, "embeddings")
    books = pq_train(e, m=16, k=128)
    codes = pq_encode(e, books).localCheckpoint(eager=False)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return pq_search(q, codes, e, books, k=10, rerank=200)


@register("vec_near_dup_arrow", oracle=None)
def vec_near_dup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64: the Arrow/BLAS twin of vec_near_dup — per-block chunked
    matmul inside applyInPandas instead of one interpreted fold per
    pair (operators.similarity.near_dup_embeddings_arrow). Measured
    21x the expression path on a x10 probe (SCALE.md); pair id-sets
    identical (tests/test_properties.py). Rows-only: BLAS summation
    has no SQL twin."""
    from process_spark.operators.similarity import near_dup_embeddings_arrow

    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    return near_dup_embeddings_arrow(e, threshold=0.2, block_col="label")


@register("vec_ivf_knn_arrow", oracle=None)
def vec_ivf_knn_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68: IVF approximate k-NN with the Arrow/BLAS re-rank
    (operators.similarity.ivf_search_arrow) — same probes as
    vec_ivf_knn, but the corpus is never shuffled: the probe table
    broadcasts as a cell→query-matrix dict and a single mapInPandas
    pass matmul-scores only the probed cells (the cell_id filter is a
    pushed predicate → partition pruning when assignments are laid out
    by cell). Rows-only: BLAS summation order has no SQL twin."""
    from process_spark.operators.similarity import ivf_search_arrow

    e = t(spark, sf_dir, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_search_arrow(q, cells, assignments, k=5)


@register("vec_knn_arrow", oracle=None)
def vec_knn_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O97: the Arrow/numpy throughput scorer — same top-k as
    vec_knn_bruteforce but scored as one BLAS matmul per Arrow batch
    against the broadcast query matrix, per-batch top-k, then one tiny
    candidate shuffle (operators.similarity.brute_force_knn_arrow).
    Measured 7.5x the HOF expression path at a 100k-corpus x 200-query
    probe with identical top-k id sets (SCALE.md); rows-only because
    numpy's summation is not bit-identical to the HOF fold. This is
    the recommended default once scoring dominates — the HOF form
    stays as the oracle-checked exact twin."""
    from process_spark.operators.similarity import brute_force_knn_arrow

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_knn_arrow(q, e, k=5)


#: DuckDB twin of the hash-derived scalar used by the margin-guarded
#: Arrow-twin oracles: first 8 hex chars of md5(vec_id-as-string) as a
#: 32-bit int, divided by 2^32 → t ∈ [0, 1). Identical on the Spark
#: side (F.conv of the same md5 substring; one IEEE division of
#: identical operands → identical bits).
_O_T32 = (
    "(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0)"
)


def _t32() -> "F.Column":
    """Spark twin of :data:`_O_T32`."""
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return h / F.lit(4294967296.0)


def _neighbor_ids(knn: DataFrame) -> DataFrame:
    """``(q_id, neighbor_ids)``: each query's neighbour ids, sorted and
    comma-joined — the id-set shape every idset oracle hashes."""
    return knn.groupBy("q_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("vec_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("neighbor_ids")
    )


@register(
    "vec_knn_arrow_idset",
    # score((1,tq),(1,tc)) = (1 + tq·tc) / (sqrt(1+tq²)·sqrt(1+tc²)):
    # strictly determined by the hash-derived t's, with k-boundary gaps
    # ~1e-6..1e-3 — 9+ orders above BLAS vs HOF summation noise, which
    # is what lets the Arrow path carry an EXACT id-set oracle. Scores
    # are excluded from the output (ids only) so the hash compares the
    # set, not the float representation.
    oracle=f"""
    WITH h AS (SELECT vec_id, {_O_T32} AS tv FROM embeddings),
    q AS (SELECT vec_id AS q_id, tv AS tq FROM h WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.q_id, h.vec_id,
             (1 + q.tq * h.tv)
               / (sqrt(1 + q.tq * q.tq) * sqrt(1 + h.tv * h.tv)) AS score
      FROM q CROSS JOIN h
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    )
    SELECT q_id,
           array_to_string(list(vec_id ORDER BY vec_id), ',') AS neighbor_ids
    FROM topk GROUP BY q_id
    """,
)
def vec_knn_arrow_idset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O67/O100 (oracle-backed ARROW path): the BLAS matmul scorer
    under a margin-guarded fixture. Embeddings are replaced by 2-d
    vectors [1.0, t] with t a per-id md5-derived scalar — cosine
    ranking is then a strict function of t with k-boundary margins far
    above any float-summation noise, so the Arrow kernel's top-k ID
    SETS (ids only, scores dropped) carry an exact DuckDB oracle. This
    closes the "Arrow twins are rows-only" gap: the same kernel that
    runs 7.5x faster at scale is hash-checked here."""
    from process_spark.operators.similarity import brute_force_knn_arrow

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    knn = brute_force_knn_arrow(q, e, k=5)
    return _neighbor_ids(knn)


@register(
    "vec_near_dup_arrow_idset",
    # Same margin construction for the threshold operator: the nearest
    # pair score to the 0.999 cut sits ~1e-6 away (hash-derived t's),
    # so BLAS noise cannot flip membership; ids only, scores dropped.
    oracle=f"""
    WITH h AS (
      SELECT e.vec_id, e.label, {_O_T32} AS tv
      FROM embeddings e WHERE vec_id % 4 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM h a JOIN h b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (1 + a.tv * b.tv)
            / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.999
    """,
)
def vec_near_dup_arrow_idset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64/O99 (oracle-backed ARROW path): per-block chunked-matmul
    near-dup pairs under the same margin-guarded 2-d fixture — the
    applyInPandas kernel's pair ID SET is hash-checked against a plain
    SQL self-join."""
    from process_spark.operators.similarity import near_dup_embeddings_arrow

    e = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 4 == 0)
        .select(
            "vec_id",
            F.array(F.lit(1.0), _t32()).alias("embedding"),
            "label",
        )
    )
    return near_dup_embeddings_arrow(
        e, threshold=0.999, block_col="label"
    ).select("id_a", "id_b")


#: score of vector-with-scalar a against unit-normalized [1, b]:
#: ranking-equivalent to the engine's dot(raw v, unit centroid).
def _o_cell_score(tv: str, tc: str) -> str:
    return f"(1 + {tv} * {tc}) / sqrt(1 + {tc} * {tc})"


def _ivf_md5_ctes(
    build_where: str = "TRUE", query_where: str = "vec_id % 100 = 0"
) -> str:
    """The shared CTE prefix of the md5-fixture IVF oracles: seed pick
    → assign → float32-rounded refine → reassign (``assign1``) → 2-cell
    ``probes`` per query. Tail queries compose scoring on top (exact
    cosine re-rank in :func:`_ivf_md5_oracle`; integer SQ8 ADC in
    ``vec_ivf_sq8_md5_idset``). ``query_where`` picks the probe's query
    population (default: the standard every-100th-id sample; the
    fixed-workload hybrid variant narrows it so the query set stays
    CONSTANT while the corpus grows)."""
    return f"""h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    hb AS (SELECT * FROM h WHERE {build_where}),
    seeds AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM hb
      QUALIFY cell_id < 8
    ),
    assign0 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM hb v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM assign0 GROUP BY cell_id
    ),
    assign1 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, tq, cell_id FROM (
        SELECT v.vec_id AS q_id, v.tv AS tq, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
        WHERE {query_where}
      ) WHERE rn <= 2
    )"""


def _ivf_md5_oracle(build_where: str = "TRUE") -> str:
    """The ENTIRE IVF chain in SQL: md5-keyed seed pick → assign to
    nearest seed → per-cell mean (CAST AS REAL — the engine rounds
    refined centroids to float32, and rounding the oracle's mean the
    same way makes the assignment operands bit-identical) → reassign →
    probe 2 cells per query → exact re-rank. Under the 2-d
    margin-guarded fixture every ranking gap dwarfs the remaining
    op-order ULPs, so an APPROXIMATE index carries an exact id-set
    oracle end to end (seed hashing included). ``build_where``
    restricts the BUILD population (seeds + Lloyd refinement) — the
    append-lifecycle twin trains on half the corpus and assigns ALL of
    it, exactly what an incremental index does."""
    return f"""
    WITH {_ivf_md5_ctes(build_where)},
    cand AS (
      SELECT p.q_id, a.vec_id,
             (1 + p.tq * a.tv)
               / (sqrt(1 + p.tq * p.tq) * sqrt(1 + a.tv * a.tv)) AS score
      FROM probes p JOIN assign1 a ON a.cell_id = p.cell_id
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn <= 5
    )
    SELECT q_id,
           array_to_string(list(vec_id ORDER BY vec_id), ',') AS neighbor_ids
    FROM topk GROUP BY q_id
    """


@register(
    "vec_ivf_knn_md5_idset",
    # see _ivf_md5_oracle — the whole chain replayed in SQL
    oracle=_ivf_md5_oracle(),
)
def vec_ivf_knn_md5_idset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 (oracle-backed END-TO-END IVF): the full
    ivf_build(seed_hash='md5') → one-Lloyd-refinement → ivf_search
    chain under the margin-guarded 2-d fixture. DuckDB replays seed
    hashing, nearest-seed assignment, the float32-rounded per-cell
    means, reassignment, 2-cell probing, and the exact re-rank — so
    this ANN operator's whole index lifecycle is hash-checked, not just
    its final scoring. The xxhash64 default stays the scale path (8-
    byte keys, cheaper hash); this is its cross-engine anchor, same
    pattern as text_minhash_lsh_md5_pairs. n_probe is pinned to 2 here
    (a FIXTURE setting the SQL replays verbatim — recall defaults are
    the production queries' concern, see vec_ivf_knn)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, assignments = ivf_build(e, n_cells=8, seed_hash="md5")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    knn = ivf_search(q, cells, assignments, k=5, n_probe=2)
    return _neighbor_ids(knn)


def _stored_ivf_oracle() -> str:
    """The stored-index probe must be INVARIANT to the parquet
    round-trip and cell-partitioned layout — so its oracle IS
    vec_ivf_knn_md5_idset's oracle, verbatim (same chain, same fixture,
    same probes): identical results prove storage is a detail."""
    from process_spark.queries.registry import REGISTRY

    return REGISTRY["vec_ivf_knn_md5_idset"].oracle


#: "Re-crawled" embedding scalar for the update lifecycle: the same
#: md5 fold as _O_T32 but over 'u' || vec_id — a DIFFERENT deterministic
#: value per id, replayable in DuckDB, so an UPDATE genuinely moves the
#: vector (and possibly its cell) instead of re-ingesting identical
#: content.
_O_T32U = (
    "(CAST(('0x' || substr(md5('u' || CAST(vec_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0)"
)


def _t32u() -> "F.Column":
    """Spark twin of :data:`_O_T32U`."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("u"), F.col("vec_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h / F.lit(4294967296.0)


#: The "re-crawled" vectors: every id ending in 7 — disjoint from the
#: every-100th-id query sample, so the query set survives the delete.
_UPD_VEC_FILTER = "vec_id % 10 = 7"


def _probed_cells(cells: DataFrame, q: DataFrame) -> list[int]:
    """The queries' 2-probe cell IN-set, collected in one job — bounded
    by the cell domain (n_cells=8), so the ``isin`` filter it feeds
    reaches a stored cell index's scan as PartitionFilters."""
    return sorted(
        r["cell_id"]
        for r in ivf_probe_cells(cells, q, n_probe=2)
        .select("cell_id")
        .distinct()
        .collect()
    )


def _ivf_stored(
    spark: SparkSession,
    sf_dir: str,
    index: str,
    append: bool = False,
    compact: bool = False,
    update: bool = False,
) -> DataFrame:
    """The stored IVF index lifecycle under ``_SCRATCH/index``, every
    step through operators/indexlife.py (cell-partitioned ``data/``,
    ``_ids``, ``_meta``; 8 write tasks, one file per cell dir per
    write) on the md5 2-d fixture:

    - build cells and write assignments over the whole corpus, or with
      ``append`` over the even half, then append the odd half assigned
      to the EXISTING cells (no retrain);
    - ``update``: tombstone every id ending in 7 and pin phase 1, the
      probe over the live rows, before the purge mutates the index;
    - ``compact`` (implied by ``update``): purge tombstones and rewrite
      one file per cell dir;
    - ``update``: re-ingest the re-crawled vectors (new md5-fold
      content, possibly a new cell) through the validated append;
    - probe: the probed-cell IN-set prunes the stored scan and
      ivf_search re-ranks within it → ``(q_id, neighbor_ids)``, with a
      leading ``phase`` 1|2 column under ``update``."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, assigned = ivf_build(
        e.filter(F.col("vec_id") % 2 == 0) if append else e,
        n_cells=8,
        seed_hash="md5",
    )
    path = os.path.join(_SCRATCH, index)
    shutil.rmtree(path, ignore_errors=True)

    def write(rows: DataFrame, mode: str) -> None:
        write_stored_index(rows, path, ["cell_id"], "vec_id", mode=mode)

    write(assigned, "overwrite")
    if append:
        write(ivf_assign(e.filter(F.col("vec_id") % 2 == 1), cells), "append")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probed = _probed_cells(cells, q)

    def probe() -> DataFrame:
        pruned = live_index_rows(spark, path).filter(
            F.col("cell_id").isin(probed)
        )
        return _neighbor_ids(ivf_search(q, cells, pruned, k=5, n_probe=2))

    if update:
        tombstone_index_ids(
            spark, path, e.filter(F.expr(_UPD_VEC_FILTER)).select("vec_id")
        )
        phase1 = probe().localCheckpoint(eager=True)
    if compact or update:
        compact_stored_index(spark, path)
    if not update:
        return probe()
    e_upd = t(spark, sf_dir, "embeddings").filter(
        F.expr(_UPD_VEC_FILTER)
    ).select("vec_id", F.array(F.lit(1.0), _t32u()).alias("embedding"))
    write(ivf_assign(e_upd, cells), "append")
    return phase1.select(
        F.lit(1).cast("int").alias("phase"), "*"
    ).unionByName(probe().select(F.lit(2).cast("int").alias("phase"), "*"))


@register("vec_ivf_stored_probe", oracle=_stored_ivf_oracle())
def vec_ivf_stored_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 STORED ANN index lifecycle (oracle-backed): the IVF twin of
    dedup_band_index_probe. Assignments are WRITTEN through
    indexlife.write_stored_index, partitioned by cell_id (one file per
    cell dir, the same small-files discipline as the band index, and
    an ``_ids`` sidecar stored_index_audit reconciles), the probe's
    cell id-set (≤ n_cells, bounded by construction) is collected
    into an ``isin`` filter that reaches
    the stored scan as PartitionFilters (asserted in
    tests/test_plan_shapes.py) — so a 100 TB corpus laid out by cell
    reads only n_probe/n_cells of its files per query batch — and
    ivf_search re-ranks within the pruned cells. The oracle is
    vec_ivf_knn_md5_idset's, verbatim: identical results through the
    parquet round-trip prove the storage layout is semantics-free."""
    return _ivf_stored(spark, sf_dir, "ivf_cell_index")


def _kmeans_md5_oracle(n_iter: int = 2, k: int = 8, seed_mod: int = 9973) -> str:
    """Generate the DuckDB twin of kmeans(seed_hash='md5', scorer='expr')
    on the 2-d margin-guarded fixture: the md5-keyed seed pick, then
    ``n_iter`` unrolled Lloyd iterations (assign → float32-rounded
    per-cell mean — CAST AS REAL matches the engine's centroid cast
    bit-for-bit), then the final assignment. Iterative fixpoints are
    usually the canonical 'no SQL twin' carve-out; with a fixed
    iteration count and scalar-parameterized centroids the whole loop
    unrolls into one WITH chain."""
    parts = [
        f"""h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    )""",
        f"""seeds AS (
      SELECT tv AS m,
             ROW_NUMBER() OVER (ORDER BY h32 % {seed_mod}, vec_id) - 1 AS cell_id
      FROM h
      QUALIFY cell_id < {k}
    )""",
    ]
    cells = "seeds"
    for i in range(n_iter):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'c.m')} DESC, c.cell_id
               ) AS rn
        FROM h v CROSS JOIN {cells} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""r{i + 1} AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM a{i} GROUP BY cell_id
    )"""
        )
        cells = f"r{i + 1}"
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT vec_id, cell_id FROM (
      SELECT v.vec_id, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {_o_cell_score('v.tv', 'c.m')} DESC, c.cell_id
             ) AS rn
      FROM h v CROSS JOIN {cells} c
    ) WHERE rn = 1
    """


@register("vec_kmeans_md5_assignments", oracle=_kmeans_md5_oracle())
def vec_kmeans_md5_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O69 (oracle-backed ITERATIVE k-means): kmeans(seed_hash='md5',
    n_iter=2) on the margin-guarded 2-d fixture, full per-vector
    assignment table hash-checked against a DuckDB replay of the
    unrolled Lloyd loop (seed pick → assign → float32-rounded means →
    assign → means → final assign). Narrows the 'iterative algorithms
    are rows-only' carve-out to genuinely unbounded fixpoints; the
    production path (64-d, xxhash seeds, arrow scorer) stays
    vec_kmeans_clusters."""
    from process_spark.operators.similarity import kmeans

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    _, assign = kmeans(e, k=8, n_iter=2, seed_hash="md5")
    return assign.select("vec_id", "cell_id")


@register(
    "pipeline_semantic_dedup_ivf",
    # The full label-free chain in SQL: md5 seed pick → nearest-seed
    # assignment → float32-rounded cell means → reassignment (same CTEs
    # as vec_ivf_knn_md5_idset), then per-cell self-join ≥ threshold.
    # Under the margin-guarded 2-d fixture the pair id-set is exact.
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM h
      QUALIFY cell_id < 8
    ),
    assign0 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM h v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM assign0 GROUP BY cell_id
    ),
    assign1 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
      ) WHERE rn = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM assign1 a JOIN assign1 b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE (1 + a.tv * b.tv)
            / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
    """,
)
def pipeline_semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64+O68 composite (oracle-backed id-set): LABEL-FREE semantic
    dedup — a real training corpus has no label column to block the
    pairwise compare on, so the blocking key is LEARNED from the data:
    build IVF cells (md5 seeds, one Lloyd refinement), assign every
    vector, then chunked-matmul near-dup pairs WITHIN each cell
    (near_dup_embeddings_arrow over block_col=cell_id). The 100 TB
    shape: cells bound every block, the per-cell applyInPandas kernel
    keeps memory at O(chunk × |cell|), and no unblocked pair join
    exists anywhere. Known IVF-blocking caveat, stated not hidden:
    near-dup pairs STRADDLING a cell boundary are missed — production
    mitigations are soft assignment (each vector to its n_probe
    nearest cells) or a second pass on cell-edge bands. Margin-guarded
    2-d fixture → DuckDB replays seed pick, Lloyd refinement,
    reassignment and the per-cell threshold self-join exactly."""
    from process_spark.operators.similarity import near_dup_embeddings_arrow

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    _, assign = ivf_build(e, n_cells=8, seed_hash="md5")
    pairs = near_dup_embeddings_arrow(
        assign.select("vec_id", "embedding", "cell_id"),
        threshold=0.9995,
        block_col="cell_id",
    )
    return pairs.select("id_a", "id_b")


@register(
    "pipeline_semantic_dedup_ivf_soft",
    # Same CTE chain as pipeline_semantic_dedup_ivf up to the refined
    # cells; the final assignment keeps rn ≤ 2 (SOFT assignment: each
    # vector in its two nearest cells) and the pair join deduplicates —
    # a pair sharing both cells would otherwise appear twice.
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM h
      QUALIFY cell_id < 8
    ),
    assign0 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM h v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM assign0 GROUP BY cell_id
    ),
    soft AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
      ) WHERE rn <= 2
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM soft a JOIN soft b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE (1 + a.tv * b.tv)
            / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
    """,
)
def pipeline_semantic_dedup_ivf_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64+O68 — label-free semantic dedup with SOFT (top-2) cell
    assignment: the cross-cell mitigation pipeline_semantic_dedup_ivf's
    docstring names, now implemented and oracle-backed. Every vector
    joins its TWO nearest refined cells, so a near-dup pair straddling
    one cell boundary still shares a block (pairs straddling two
    boundaries remain missable — measured missed-pair fraction for both
    variants is in SCALE.md; a planted-boundary-pair test is in
    tests/test_ann_tuning.py). Cost: each block roughly doubles
    (fraction ≈ 2/n_cells of the corpus per block), the per-cell
    chunked-matmul kernel is unchanged, and duplicate discoveries
    (pairs sharing both cells) collapse in one distinct. The soft
    assignment is the expression path (broadcast k-row cell table +
    per-vector rank window) — the margin-guarded fixture makes its
    ranking bit-agree with the oracle's."""
    from process_spark.operators.similarity import near_dup_embeddings_arrow

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, _ = ivf_build(e, n_cells=8, seed_hash="md5")
    # top-2 assignment against the refined cells; score mirrors
    # _assign_cells' dot-with-unit-centroid ranking (oracle form:
    # (1 + tv·m)/sqrt(1 + m²) — dim 0 of every refined centroid is
    # exactly 1.0f on this fixture)
    m = F.element_at(F.col("centroid"), 2).cast("double")
    tv = F.element_at(F.col("embedding"), 2).cast("double")
    score = (F.lit(1.0) + tv * m) / F.sqrt(F.lit(1.0) + m * m)
    w = Window.partitionBy("vec_id").orderBy(
        score.desc(), F.col("cell_id").asc()
    )
    soft = (
        e.join(F.broadcast(cells))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select("vec_id", "embedding", "cell_id")
    )
    pairs = near_dup_embeddings_arrow(
        soft, threshold=0.9995, block_col="cell_id"
    )
    return pairs.select("id_a", "id_b").distinct()


@register("vec_kmeans_clusters", oracle=None)
def vec_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed k-means (Lloyd's, deterministic init, 4
    rounds) over the embeddings — cluster sizes plus mean
    within-cluster cosine to the centroid. Rows-only by design:
    iterative fixpoints have no single-statement SQL twin (SURVEY.md
    §5.2 carve-out for iterative algorithms); determinism within Spark
    is covered by the seeded init and tie-broken assignment."""
    from process_spark.operators.similarity import kmeans

    e = t(spark, sf_dir, "embeddings")
    cents, assign = kmeans(e, k=8, n_iter=4)
    scored = assign.join(F.broadcast(cents), "cell_id").select(
        "cell_id", cosine(F.col("embedding"), F.col("centroid")).alias("__sim")
    )
    return (
        scored.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("__sim"), 6).alias("avg_cosine_to_centroid"),
        )
        .orderBy("cell_id")
    )


# The WHOLE scalar-quantization lifecycle replayed in SQL:
# unit-normalize (the proven left-fold norm) → fixed symmetric
# 127-step integer grid (floor half-up over identical IEEE double
# ops) → integer ADC dot product → top-k. Integer scores make this
# the one compressed-index variant with an exact hash oracle (PQ's
# float ADC is rows-only). SHARED by vec_sq8_knn (HOF fold) and
# vec_sq8_knn_arrow (batch int matmul): the two physical layouts are
# row-identical by construction (every matmul intermediate is an
# exactly-representable integer), so one statement checks both.
_O_SQ8_KNN = f"""
    WITH nv AS (
      SELECT vec_id, embedding, {_o_norm('embedding')} AS nrm
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) / nrm * 127.0 + 0.5)
                         AS BIGINT)
             ) AS code
      FROM nv WHERE nrm > 0
    ),
    adc AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(q.code) + 1),
                   i -> q.code[CAST(i AS INT)] * c.code[CAST(i AS INT)])),
               (a, x) -> a + x) AS BIGINT) AS adc_score
      FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
      WHERE q.vec_id % 100 = 0
    )
    SELECT q_id, vec_id, adc_score, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY adc_score DESC, vec_id
      ) AS BIGINT) AS rn FROM adc
    ) WHERE rn <= 10
    """


@register("vec_sq8_knn", oracle=_O_SQ8_KNN)
def vec_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — SCALAR-QUANTIZATION (int8) k-NN, the third compressed
    index beside IVF and PQ: unit vectors on a fixed symmetric
    127-step grid (1 byte/dim — 4× smaller than float32, and NO
    training/calibration pass), integer ADC scoring. One global scale
    keeps the integer dot exactly proportional to the decoded dot (∝
    cosine + quantization noise; recall@10 = 0.95 vs exact cosine at
    sf0.1 — SCALE.md), and because codes AND scores are exact
    integers, the ENTIRE lifecycle hash-matches a DuckDB replay, which
    PQ's float ADC cannot. Scale: corpus codes never shuffle (bounded
    query broadcast + map-side integer fold + partial WindowGroupLimit
    before the q_id exchange); zero-norm vectors are excluded on both
    sides (the unit_with contract)."""
    from process_spark.operators.similarity import sq8_search

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return sq8_search(q, e, k=10)


@register("vec_sq8_knn_arrow", oracle=_O_SQ8_KNN)
def vec_sq8_knn_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68/O100 — the Arrow/numpy THROUGHPUT twin of vec_sq8_knn: same
    fixed-grid int8 quantization, same integer scores, but each Arrow
    batch scores all pairs as one (batch × d) @ (d × |Q|) matmul
    instead of the interpreted per-pair zip_with/aggregate fold — the
    same ~8× physical win the float k-NN shoot-out measured
    (SCALE.md). Because SQ8's grid codes are bit-identical across the
    two layouts (the numpy path accumulates the float32 squares
    sequentially in float64, mirroring the HOF fold) and every matmul
    intermediate is an exactly-representable integer in float64, the
    twin is row-IDENTICAL, ties included — so it shares vec_sq8_knn's
    exact end-to-end hash oracle rather than settling for a rows-only
    registration (row-for-row equality also pinned in
    tests/test_properties.py). Corpus codes never shuffle; per-batch
    top-k bounds the reduce at k·|Q| rows per batch."""
    from process_spark.operators.similarity import sq8_search_arrow

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return sq8_search_arrow(q, e, k=10)


@register(
    "vec_ivf_stored_append",
    # Same chain as the md5 oracle but the BUILD population (seed pick
    # + Lloyd refinement) is the even half only, while assignment and
    # search cover everything — exactly what the engine's
    # write(even) → append(assign(odd)) → probe lifecycle computes.
    oracle=_ivf_md5_oracle(build_where="vec_id % 2 = 0"),
)
def vec_ivf_stored_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — the stored IVF index's APPEND lifecycle (the IVF twin of
    dedup_band_index_append): build cells on the even half of the
    corpus, write its assignments by cell_id through indexlife; a
    second batch (the odd half) arrives, is assigned to the EXISTING
    refined cells via ivf_assign (no retrain) and APPENDED
    partition-consistently; the probe then searches the stored,
    twice-written index with the probed-cell IN-set pushed as
    PartitionFilters. The oracle replays
    the whole thing in SQL — seeds and Lloyd over the even half only,
    assignment over everything — so the hash proves the appended batch
    lands in exactly the cells a one-shot assignment would give it,
    and storage layout stays semantics-free. One file per touched cell
    dir per write (asserted in tests/test_plan_shapes.py)."""
    return _ivf_stored(spark, sf_dir, "ivf_cell_index_append", append=True)


@register(
    "vec_ivf_stored_compact",
    # Identical relation to vec_ivf_stored_append's oracle: the md5
    # chain replays build-on-even + assign-everything; the append AND
    # the compaction between it and the probe are storage details the
    # result must be invariant to — exactly what the hash checks.
    oracle=_ivf_md5_oracle(build_where="vec_id % 2 = 0"),
)
def vec_ivf_stored_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — the stored IVF index's MAINTENANCE phase (the IVF twin of
    dedup_band_index_compact): build on the even half, append the odd
    half (each cell dir now holds 2 files — one per write), then
    ``compact_stored_index`` rewrites every cell dir to ONE file
    and swaps it in; the probe then searches the compacted index with
    the probed-cell IN-set still pushed as PartitionFilters. Same
    small-files story as the band index: a year of hourly appends
    means probes open thousands of files per pruned cell without this
    op. The oracle is the append lifecycle's statement verbatim —
    compaction moves bytes, never rows. File-count collapse is
    asserted in tests/test_plan_shapes.py."""
    return _ivf_stored(
        spark, sf_dir, "ivf_cell_index_compact", append=True, compact=True
    )


def _ivf_updated_oracle() -> str:
    """Two-phase replay of the stored IVF index's DELETE/UPDATE
    lifecycle: build on the even half (seeds + one Lloyd refinement —
    the _ivf_md5_ctes chain verbatim), assign everything; phase 1
    searches the assignments MINUS the tombstoned ids; phase 2 searches
    survivors UNION the re-crawled vectors re-assigned (new content →
    possibly new cell) against the UNCHANGED refined cells — exactly
    what tombstone → purge-at-compaction → re-ingest computes when the
    whole machinery is storage detail."""
    score = "(1 + p.tq * a.tv) / (sqrt(1 + p.tq * p.tq) * sqrt(1 + a.tv * a.tv))"

    def _phase(tag: str, live: str) -> str:
        return f"""
    cand{tag} AS (
      SELECT p.q_id, a.vec_id, {score} AS score
      FROM probes p JOIN {live} a ON a.cell_id = p.cell_id
    ),
    topk{tag} AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM cand{tag}
      ) WHERE rn <= 5
    ),
    r{tag} AS (
      SELECT q_id,
             array_to_string(list(vec_id ORDER BY vec_id), ',')
               AS neighbor_ids
      FROM topk{tag} GROUP BY q_id
    )"""

    return f"""
    WITH {_ivf_md5_ctes(build_where="vec_id % 2 = 0")},
    livea AS (SELECT * FROM assign1 WHERE NOT ({_UPD_VEC_FILTER})),
    hu AS (SELECT vec_id, {_O_T32U} AS tv
           FROM embeddings WHERE {_UPD_VEC_FILTER}),
    assignu AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM hu v CROSS JOIN refined r
      ) WHERE rn = 1
    ),
    liveb AS (SELECT * FROM livea UNION ALL SELECT * FROM assignu),
    {_phase("a", "livea")},
    {_phase("b", "liveb")}
    SELECT CAST(1 AS INT) AS phase, * FROM ra
    UNION ALL
    SELECT CAST(2 AS INT) AS phase, * FROM rb
    """


@register("vec_ivf_stored_updated", oracle=_ivf_updated_oracle())
def vec_ivf_stored_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — the stored IVF index's DELETE/UPDATE lifecycle (the r11
    verdict's top task: deleting a document updated the text index but
    left its EMBEDDING searchable — ANN retrieval resurrected deleted
    content). Build on the even half, append the odd half, then
    "re-crawl" every id ending in 7: tombstone_index_ids records the
    logical deletes (probes exclude them immediately via
    live_index_rows' anti-join — phase 1 must equal a search over the
    surviving corpus); compact_stored_index PURGES every trace from
    data/ and _ids/ and drops the tombstones, freeing the ids; the
    updated vectors (new md5-fold content — possibly a DIFFERENT cell)
    re-ingest through the same append path, whose append-only identity
    validation accepts them only because the purge removed the old
    identity. Phase 2 must equal a search over survivors + updated
    vectors assigned to the UNCHANGED cells — the whole delete/update
    machinery is storage detail, hash-checked end to end under the md5
    2-d fixture."""
    return _ivf_stored(
        spark, sf_dir, "ivf_index_updated", append=True, update=True
    )


@register(
    "vec_ivf_sq8_md5_idset",
    # The COMPOSED index end to end in SQL: the shared md5 IVF chain
    # (seed pick → float32-rounded refine → reassign → 2-cell probes)
    # feeds SQ8 quantization (floor(x/norm·127 + 0.5) on the fixed
    # symmetric grid — every step one IEEE double op on identical
    # operands) and an INTEGER ADC top-k. Integer scores + replayed
    # tie-break make the whole pruned+compressed search hash-exact —
    # the oracle vec_ivf_sq8_knn's docstring could only point at per-
    # component twins before.
    oracle=f"""
    WITH {{ctes}},
    codes AS (
      SELECT vec_id, cell_id,
             CAST(FLOOR(1.0 / sqrt(1.0 + tv * tv) * 127.0 + 0.5)
                  AS BIGINT) AS c0,
             CAST(FLOOR(tv / sqrt(1.0 + tv * tv) * 127.0 + 0.5)
                  AS BIGINT) AS c1
      FROM assign1
    ),
    qcodes AS (
      SELECT q_id, cell_id,
             CAST(FLOOR(1.0 / sqrt(1.0 + tq * tq) * 127.0 + 0.5)
                  AS BIGINT) AS q0,
             CAST(FLOOR(tq / sqrt(1.0 + tq * tq) * 127.0 + 0.5)
                  AS BIGINT) AS q1
      FROM probes
    ),
    adc AS (
      SELECT p.q_id, c.vec_id,
             CAST(p.q0 * c.c0 + p.q1 * c.c1 AS BIGINT) AS adc_score
      FROM qcodes p JOIN codes c ON c.cell_id = p.cell_id
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc_score DESC, vec_id) AS rn
        FROM adc
      ) WHERE rn <= 5
    )
    SELECT q_id,
           array_to_string(list(vec_id ORDER BY vec_id), ',') AS neighbor_ids
    FROM topk GROUP BY q_id
    """.replace("{ctes}", _ivf_md5_ctes()),
)
def vec_ivf_sq8_md5_idset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 (oracle-backed END-TO-END composed index): IVF cell pruning
    × SQ8 int8 compression, the exact kernels vec_ivf_sq8_knn runs,
    under the margin-guarded md5 fixture — DuckDB replays seed
    hashing, Lloyd refinement, 2-cell probing, fixed-grid int8
    quantization of BOTH sides, and the integer ADC top-k, so the
    composed pruned+compressed search (not just its components) is
    hash-checked. The production variant (vec_ivf_sq8_knn) adds the
    exact float re-rank on top — the one stage with no integer form —
    and stays rows-only with its recall contract (0.91 at default,
    SCALE.md); this anchor proves everything beneath it. Same pattern
    as vec_ivf_knn_md5_idset / vec_sq8_knn: fixture settings n_probe=2,
    k=5, self-matches included on both sides."""
    from process_spark.operators.relational import topk_per_group
    from process_spark.operators.similarity import _sq8_unit_code

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, assignments = ivf_build(e, n_cells=8, seed_hash="md5")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probes = ivf_probe_cells(cells, q, n_probe=2).select(
        "q_id",
        "cell_id",
        _sq8_unit_code(F.col("q_emb"), F.lit(1.0)).alias("__qq"),
    )
    qc = (
        assignments.select(
            "vec_id",
            "cell_id",
            l2_norm("embedding").alias("__cn"),
            F.col("embedding"),
        )
        .filter(F.col("__cn") > 0)
        .select(
            "vec_id",
            "cell_id",
            _sq8_unit_code(F.col("embedding"), F.col("__cn")).alias("__qc"),
        )
    )
    scored = qc.join(F.broadcast(probes), "cell_id").select(
        "q_id",
        "vec_id",
        F.aggregate(
            F.zip_with("__qq", "__qc", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("adc_score"),
    )
    topk = topk_per_group(
        scored, ["q_id"], [F.desc("adc_score"), F.col("vec_id")], 5
    )
    return _neighbor_ids(topk)


@register("vec_ivf_sq8_knn", oracle=None)
def vec_ivf_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — IVF pruning composed with SQ8 compression plus an EXACT
    re-rank: the three scale levers in one index. IVF's cell probing
    cuts the PAIR COUNT (only n_probe/n_cells of the corpus is scored
    per query); the fixed-grid int8 codes cut the BYTES PER PAIR 4×
    and keep the candidate scoring an exact-integer fold; then — as in
    pq_search's phase 2 — only the integer-ADC top-C (C = 4·k)
    candidate ids join back to the float vectors for exact cosine, so
    int8 quantization noise affects WHICH candidates surface, never
    their final order. That re-rank closes the composed index's
    quality gap: recall@10 at the default n_probe equals float IVF's
    0.91 on the isotropic worst case (was 0.88 ADC-ranked — the 4×
    byte cut is now free of recall cost, SCALE.md). This is the shape
    a 100 TB deployment actually runs (pruned AND compressed AND
    re-ranked). Rows-only: each component carries its own oracle (the
    md5 IVF chain end-to-end; SQ8's exact integer lifecycle; the
    re-rank is pq_search's oracle-adjacent phase 2 verbatim); their
    composition introduces no new arithmetic. Corpus codes never
    shuffle: the probe table (≤ |Q|·n_probe rows, bounded) broadcasts
    onto the cell-pruned candidates, the integer fold runs map-side,
    WindowGroupLimit takes per-partition top-C before the q_id
    exchange, and the float corpus is only re-read for the ≤ C·|Q|
    re-rank joins."""
    from process_spark.functions.vectorfn import dot, unit_with
    from process_spark.operators.relational import topk_per_group
    from process_spark.operators.similarity import _sq8_unit_code

    e = t(spark, sf_dir, "embeddings")
    cells, assignments = ivf_build(e, n_cells=8)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # probes carry UNIT query vectors — quantize with norm 1. n_probe
    # defaults to the recall-driven ceil(0.75·n_cells) — the isotropic
    # testdata is the worst case for ANY cell pruning (recall ≤
    # fraction probed; SCALE.md), same rationale as vec_ivf_knn.
    probes = ivf_probe_cells(cells, q).select(
        "q_id",
        "cell_id",
        _sq8_unit_code(F.col("q_emb"), F.lit(1.0)).alias("__qq"),
    )
    qc = (
        assignments.select(
            "vec_id",
            "cell_id",
            l2_norm("embedding").alias("__cn"),
            F.col("embedding"),
        )
        .filter(F.col("__cn") > 0)
        .select(
            "vec_id",
            "cell_id",
            _sq8_unit_code(F.col("embedding"), F.col("__cn")).alias("__qc"),
        )
    )
    scored = (
        qc.join(F.broadcast(probes), "cell_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            F.aggregate(
                F.zip_with("__qq", "__qc", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("adc_score"),
        )
    )
    # Integer-ADC top-C candidates (C = 4·k), then exact re-rank —
    # pq_search's phase 2: only ≤ C·|Q| ids rejoin the float corpus.
    k, rerank = 10, 40
    cand = topk_per_group(
        scored,
        ["q_id"],
        [F.desc("adc_score"), F.col("vec_id")],
        rerank,
    ).select("q_id", "vec_id")
    uq = q.select(
        "q_id", l2_norm("q_emb").alias("__qn"), F.col("q_emb")
    ).select("q_id", unit_with("q_emb", "__qn").alias("q_emb"))
    uc = e.select(
        "vec_id", l2_norm("embedding").alias("__cn"), F.col("embedding")
    ).select("vec_id", unit_with("embedding", "__cn").alias("embedding"))
    rescored = (
        cand.join(uc, "vec_id")
        .join(F.broadcast(uq), "q_id")
        .select(
            "q_id",
            "vec_id",
            dot("q_emb", "embedding").alias("score"),
        )
        .filter(F.col("score").isNotNull() & ~F.isnan("score"))
    )
    return topk_per_group(
        rescored,
        ["q_id"],
        [F.desc("score"), F.col("vec_id")],
        k,
        rank_col="rn",
        keep_rank=True,
    ).withColumn("rn", F.col("rn").cast("long"))


@register(
    "pipeline_semantic_keeper",
    # The WHOLE label-free semantic keep-one policy in one statement:
    # the hard-assignment pair chain (same CTEs as
    # pipeline_semantic_dedup_ivf), a recursive min-label walk over
    # those edges (the dedup_connected_components oracle shape), and
    # the keeper verdict. Components are CELL-LOCAL by construction
    # (every edge joins same-cell vectors), so the walk is bounded per
    # cell.
    oracle=f"""
    WITH RECURSIVE h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM h
      QUALIFY cell_id < 8
    ),
    assign0 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM h v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM assign0 GROUP BY cell_id
    ),
    assign1 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign1 a JOIN assign1 b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE (1 + a.tv * b.tv)
              / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, label) AS (
      SELECT vec_id, vec_id FROM h
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS vec_id, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT vec_id, component, vec_id = component AS is_keeper
    FROM comp
    """,
)
def pipeline_semantic_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O64+O68 composite, completed to the KEEP-ONE policy — the
    semantic twin of pipeline_dedup_keeper: label-free IVF-blocked
    near-dup pairs (the pipeline_semantic_dedup_ivf chain verbatim) →
    distributed connected components → one canonical vector per
    cluster (the min vec_id — the component id IS that keeper, so
    the verdict is one comparison, no extra window). This is the
    query that decides which EMBEDDED documents a 100 TB
    semantic-dedup pass actually keeps. Scale
    shape: every stage is blocked — cells PARTITION the pair join and
    components are CELL-LOCAL by construction (edges never cross
    cells), so the star contraction converges in a few rounds and no
    corpus-sized window exists anywhere. One honest caveat: with a
    FIXED n_cells each cell is ~|corpus|/n_cells, so per-cell pair
    scoring is still quadratic in corpus size and a boilerplate-heavy
    hot cell has no bound here — the production path is
    ``pipeline_semantic_keeper_guarded`` (max-cell cap + out-of-band
    skip census, the same guard the text keeper carries). The oracle
    replays seed pick, Lloyd refinement, the per-cell threshold
    self-join, the recursive min-label walk, and the keeper verdict in
    one statement."""
    from process_spark.operators.dedup import connected_components
    from process_spark.operators.similarity import near_dup_embeddings_arrow

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    _, assign = ivf_build(e, n_cells=8, seed_hash="md5")
    pairs = near_dup_embeddings_arrow(
        assign.select("vec_id", "embedding", "cell_id"),
        threshold=0.9995,
        block_col="cell_id",
    ).select("id_a", "id_b")
    comp = connected_components(
        pairs, src="id_a", dst="id_b", vertices=e, id_col="vec_id"
    ).withColumnRenamed("id", "vec_id")
    return comp.select(
        "vec_id",
        "component",
        (F.col("vec_id") == F.col("component")).alias("is_keeper"),
    )


#: Hot-cell cap for the guarded semantic keeper: every per-cell BLAS
#: pair scan is bounded at cap² candidate scores. 512 keeps every
#: sf0.01 cell intact (max cell = 104 of 500 vectors across 8 cells)
#: while cutting the quadratic blow-up a boilerplate-heavy cell (or
#: the x10 probe's replicas, ~10× the cell sizes) manufactures;
#: skipped cells are counted in the output (n_skipped_cells) and
#: their members surface as component singletons.
_SEM_KEEPER_CELL_CAP = 512


@register(
    "pipeline_semantic_keeper_guarded",
    # Same CTE chain as pipeline_semantic_keeper with the hot-cell
    # guard spliced between assignment and the pair self-join: cells
    # over the cap are cut BEFORE pairing (sized/kept), counted
    # out-of-band (skip), and their members still seed the walk — so
    # they surface as singletons, exactly the Spark side's degrade
    # semantics.
    oracle=f"""
    WITH RECURSIVE h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM h
      QUALIFY cell_id < 8
    ),
    assign0 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM h v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
      FROM assign0 GROUP BY cell_id
    ),
    assign1 AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN refined r
      ) WHERE rn = 1
    ),
    sized AS (
      SELECT vec_id, tv, cell_id,
             COUNT(*) OVER (PARTITION BY cell_id) AS bn
      FROM assign1
    ),
    kept AS (
      SELECT vec_id, tv, cell_id FROM sized
      WHERE bn <= {_SEM_KEEPER_CELL_CAP}
    ),
    skip AS (
      SELECT COUNT(*) AS n_skipped_cells FROM (
        SELECT DISTINCT cell_id FROM sized
        WHERE bn > {_SEM_KEEPER_CELL_CAP}
      )
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM kept a JOIN kept b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE (1 + a.tv * b.tv)
              / (sqrt(1 + a.tv * a.tv) * sqrt(1 + b.tv * b.tv)) >= 0.9995
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, label) AS (
      SELECT vec_id, vec_id FROM h
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS vec_id, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT vec_id, component, vec_id = component AS is_keeper,
           (SELECT n_skipped_cells FROM skip) AS n_skipped_cells
    FROM comp
    """,
)
def pipeline_semantic_keeper_guarded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION semantic keep-one policy: the
    ``pipeline_semantic_keeper`` chain with the hot-cell guard the text
    keeper has carried since the LSH hot-bucket incident — the one
    quadratic block the engine still left unguarded. With a fixed
    n_cells each IVF cell is ~|corpus|/n_cells, and a real corpus's
    boilerplate cluster (near-identical template docs) lands in ONE
    cell, whose BLAS pair scan then emits O(|cell|²) rows as a single
    straggler task. Here cells over ``_SEM_KEEPER_CELL_CAP`` are cut
    BEFORE the grouped map (JVM-side window + filter; the Python worker
    never sees them), the cut is visible on every output row via the
    broadcast 1-row census (``n_skipped_cells``), and cut cells'
    members degrade to component SINGLETONS — kept, never silently
    dropped, exactly ``pipeline_dedup_keeper``'s semantics. The oracle
    replays the full chain including the guard: sized/kept/skip CTEs
    between assignment and the pair join. The star contraction behind
    the components takes O(log L) rounds on a near-dup chain of length
    L (sliding boilerplate), and labels each component by its minimum
    id, as the oracle's recursive walk does."""
    from process_spark.operators.dedup import connected_components
    from process_spark.operators.similarity import (
        near_dup_embeddings_arrow_with_census,
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    _, assign = ivf_build(e, n_cells=8, seed_hash="md5")
    pairs, census = near_dup_embeddings_arrow_with_census(
        assign.select("vec_id", "embedding", "cell_id"),
        threshold=0.9995,
        block_col="cell_id",
        max_block_size=_SEM_KEEPER_CELL_CAP,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        vertices=e,
        id_col="vec_id",
    ).withColumnRenamed("id", "vec_id")
    return (
        comp.select(
            "vec_id",
            "component",
            (F.col("vec_id") == F.col("component")).alias("is_keeper"),
        )
        .crossJoin(
            F.broadcast(
                census.withColumnRenamed(
                    "n_skipped_blocks", "n_skipped_cells"
                )
            )
        )
    )


#: Tuned band prefix for the stored-SRP phase-1 probe: the deployment
#: story is "run ann_srp_tune once, deploy the chosen prefix" — the
#: stored index partitioned by band_idx turns that choice into
#: PartitionFilters (only the first n_bands dirs are read). 56 is the
#: ladder rung below the full pool.
_SRP_STORED_PROBE_BANDS = 56


@register(
    "vec_srp_stored_lifecycle",
    # The in-memory SRP relation, PHASED: phase 1 = probe of the
    # history-only index (even vec_ids) through the tuned 56-band
    # prefix; phase 2 = probe of the full index (after append +
    # compact) at the full 112-band pool — identical to
    # vec_ann_srp_bucketed's relation. Storage layout must be
    # semantics-free: however many appends and compactions produced
    # the files, the probe equals the plain in-memory band join.
    oracle=f"""
    WITH {_O_SRP_BB},
    qb AS (
      SELECT vec_id AS q_id, band_idx, bucket FROM bb WHERE vec_id % 100 = 0
    ),
    cand1 AS (
      SELECT DISTINCT qb.q_id, bb.vec_id
      FROM qb JOIN bb
        ON bb.band_idx = qb.band_idx AND bb.bucket = qb.bucket
       AND bb.vec_id <> qb.q_id
      WHERE bb.vec_id % 2 = 0 AND bb.band_idx < {_SRP_STORED_PROBE_BANDS}
    ),
    cand2 AS (
      SELECT DISTINCT qb.q_id, bb.vec_id
      FROM qb JOIN bb
        ON bb.band_idx = qb.band_idx AND bb.bucket = qb.bucket
       AND bb.vec_id <> qb.q_id
    ),
    scored AS (
      SELECT 1 AS phase, c.q_id, c.vec_id,
             {_o_cosine('e.embedding', 'qe.embedding')} AS score
      FROM cand1 c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings qe ON qe.vec_id = c.q_id
      UNION ALL
      SELECT 2 AS phase, c.q_id, c.vec_id,
             {_o_cosine('e.embedding', 'qe.embedding')} AS score
      FROM cand2 c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings qe ON qe.vec_id = c.q_id
    )
    SELECT phase, q_id, vec_id, score, rank FROM (
      SELECT phase, q_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY phase, q_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def vec_srp_stored_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 STORED ANN index lifecycle for the multi-band SRP family —
    the one index family that still rebuilt its hash tables per run.
    The (vec_id, band_idx, bucket) relation (the 112-band pool of
    vec_ann_srp_bucketed, verbatim) is WRITTEN through
    indexlife.write_stored_index, partitioned by band_idx with the
    one-file-per-dir discipline, then run through the full
    production lifecycle in one query:

      write(history = even vec_ids) → probe 1 (the TUNED
      ``band_idx < 56`` prefix — band truncation is ann_srp_tune's
      knob, and the band-partitioned layout turns it into
      PartitionFilters: a deployment that tuned to b bands reads
      b/112 of its index files) → append the odd vectors in two
      batches (dirs accrete one file per batch) → compact
      (compact_stored_index, 3 files/dir → 1) →
      probe 2 (full pool over the whole corpus).

    Phase 2 must equal the in-memory vec_ann_srp_bucketed relation
    and phase 1 its history-restricted truncation — the oracle replays
    both from the inlined plane/band constants, so the store → probe →
    append → compact → re-probe cycle is exact-hash-checked end to
    end. PartitionFilters + file-count collapse asserted in
    tests/test_plan_shapes.py. Scale shape: signatures are computed
    once per INGESTED vector (never recomputed at probe time — the
    point of storing the index); query bands broadcast; only candidate
    dedup + re-rank shuffle."""
    e = t(spark, sf_dir, "embeddings")
    path = os.path.join(_SCRATCH, "srp_band_index")
    shutil.rmtree(path, ignore_errors=True)

    def write(part: DataFrame, mode: str) -> None:
        write_stored_index(
            _ann_banded(part), path, ["band_idx"], "vec_id", mode=mode,
            n_write_tasks=64,
        )

    write(e.filter(F.col("vec_id") % 2 == 0), "overwrite")

    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    qb = _ann_banded(e.filter(F.col("vec_id") % 100 == 0)).select(
        F.col("vec_id").alias("q_id"),
        F.col("band_idx").alias("q_band_idx"),
        F.col("bucket").alias("q_bucket"),
    ).localCheckpoint(eager=False)  # band queries once: both probes

    def probe(stored: DataFrame, phase: int) -> DataFrame:
        cands = (
            stored.join(
                F.broadcast(qb),
                (F.col("band_idx") == F.col("q_band_idx"))
                & (F.col("bucket") == F.col("q_bucket"))
                & (F.col("vec_id") != F.col("q_id")),
            )
            .select("q_id", "vec_id")
            .distinct()
        )
        scored = (
            cands.join(e.select("vec_id", "embedding"), "vec_id")
            .join(F.broadcast(q), "q_id")
            .select(
                "q_id",
                "vec_id",
                cosine(F.col("embedding"), F.col("q_emb")).alias("score"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("score").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select(F.lit(phase).alias("phase"), "q_id", "vec_id", "score", "rank")
        )

    # Phase 1: tuned-prefix probe of history only. The band predicate
    # reaches the stored scan as PartitionFilters (band-partitioned
    # layout = the tuner's knob becomes file pruning). Materialized
    # BEFORE the appends mutate the index (lazy plans must not see
    # later batches).
    stored1 = live_index_rows(spark, path).filter(
        F.col("band_idx") < _SRP_STORED_PROBE_BANDS
    )
    phase1 = probe(stored1, 1).localCheckpoint(eager=True)

    # Ingest the odd half in two batches, then weekly maintenance.
    write(e.filter(F.col("vec_id") % 4 == 1), "append")
    write(e.filter(F.col("vec_id") % 4 == 3), "append")
    compact_stored_index(spark, path, n_write_tasks=64)

    phase2 = probe(live_index_rows(spark, path), 2)
    return phase1.unionByName(phase2)


@register(
    "vec_ivf_drift_report",
    # The md5 IVF chain (seed pick → assign → float32-rounded refine →
    # reassign) plus ONE more aggregation: the post-assignment per-cell
    # mean — i.e. what the NEXT Lloyd step would move each centroid to.
    # Drift is emitted as a half-up-scaled integer (the engine's float
    # policy) over the difference of two float32 values, so the hash
    # is exact.
    oracle=f"""
    WITH {_ivf_md5_ctes()},
    cur AS (
      SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(AVG(tv) AS REAL) AS m2
      FROM assign1 GROUP BY cell_id
    )
    SELECT r.cell_id, c.n_vectors,
           CAST(FLOOR(ABS(CAST(r.m AS DOUBLE) - CAST(c.m2 AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS drift_ppm
    FROM refined r JOIN cur c USING (cell_id)
    """,
)
def vec_ivf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68/O69 — the REBUILD TRIGGER a stored-IVF deployment monitors:
    per cell, how far the post-assignment mean has moved from the
    stored centroid (exactly the next Lloyd step's delta). ivf_assign
    appends new vectors to FIXED cells by design (see its docstring:
    centroid drift is the rebuild trigger, not the append's job) — but
    nothing in the engine MEASURED that drift until now. A deployment
    schedules the offline rebuild (ivf_build from scratch, or more
    Lloyd iterations) when drift_ppm crosses its threshold; below it,
    appends keep compounding safely. Output: (cell_id, n_vectors,
    drift_ppm) — n_cells rows, driver-safe. Scale shape: one
    aggregation over the assignments (map-side combined, n_cells
    output rows) joined to the n_cells-row centroid table; the corpus
    is scanned once. The oracle replays the whole md5 chain plus the
    drift aggregation; drift is a half-up-scaled integer over float32
    operands, so the comparison is exact."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, assign = ivf_build(e, n_cells=8, seed_hash="md5")
    cur = assign.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.avg(F.element_at("embedding", 2)).cast("float").alias("m2"),
    )
    stored = cells.select(
        "cell_id", F.element_at("centroid", 2).alias("m")
    )
    return stored.join(cur, "cell_id").select(
        "cell_id",
        "n_vectors",
        F.floor(
            F.abs(F.col("m").cast("double") - F.col("m2").cast("double"))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("drift_ppm"),
    )


@register(
    "vec_pq_drift_report",
    # The whole stored-codebook chain in SQL: unit-normalize →
    # md5-seeded seed pick per 1-d subspace → L2 assign →
    # float32-rounded refine (= the stored codebook) → per-subspace
    # mean quantization error on the training half AND on the full
    # current corpus. Both means are float32-snapped before the
    # half-up integer scaling (the vec_ivf_drift_report precedent), so
    # the comparison is exact.
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    u AS (
      SELECT vec_id, h32,
             1.0 / sqrt(1 + tv * tv) AS u0,
             tv / sqrt(1 + tv * tv) AS u1
      FROM h
    ),
    hb AS (SELECT * FROM u WHERE vec_id % 2 = 0),
    seeds AS (
      SELECT u0, u1,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM hb QUALIFY cell_id < 8
    ),
    a0 AS (
      SELECT vec_id, u0, cell_id FROM (
        SELECT v.vec_id, v.u0, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY (v.u0 - s.u0) * (v.u0 - s.u0), s.cell_id) AS rn
        FROM hb v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    c0 AS (SELECT cell_id, CAST(AVG(u0) AS REAL) AS m FROM a0 GROUP BY cell_id),
    a1 AS (
      SELECT vec_id, u1, cell_id FROM (
        SELECT v.vec_id, v.u1, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY (v.u1 - s.u1) * (v.u1 - s.u1), s.cell_id) AS rn
        FROM hb v CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    c1 AS (SELECT cell_id, CAST(AVG(u1) AS REAL) AS m FROM a1 GROUP BY cell_id),
    e0t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(AVG(d) AS REAL) AS mse
      FROM (SELECT v.vec_id,
                   MIN((v.u0 - CAST(c.m AS DOUBLE))
                       * (v.u0 - CAST(c.m AS DOUBLE))) AS d
            FROM hb v CROSS JOIN c0 c GROUP BY v.vec_id)
    ),
    e0c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(AVG(d) AS REAL) AS mse
      FROM (SELECT v.vec_id,
                   MIN((v.u0 - CAST(c.m AS DOUBLE))
                       * (v.u0 - CAST(c.m AS DOUBLE))) AS d
            FROM u v CROSS JOIN c0 c GROUP BY v.vec_id)
    ),
    e1t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(AVG(d) AS REAL) AS mse
      FROM (SELECT v.vec_id,
                   MIN((v.u1 - CAST(c.m AS DOUBLE))
                       * (v.u1 - CAST(c.m AS DOUBLE))) AS d
            FROM hb v CROSS JOIN c1 c GROUP BY v.vec_id)
    ),
    e1c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(AVG(d) AS REAL) AS mse
      FROM (SELECT v.vec_id,
                   MIN((v.u1 - CAST(c.m AS DOUBLE))
                       * (v.u1 - CAST(c.m AS DOUBLE))) AS d
            FROM u v CROSS JOIN c1 c GROUP BY v.vec_id)
    ),
    rep AS (
      SELECT CAST(0 AS INTEGER) AS subspace, e0t.n AS n_train,
             e0c.n AS n_current,
             CAST(FLOOR(CAST(e0t.mse AS DOUBLE) * 1000000000.0 + 0.5)
                  AS BIGINT) AS err_train_ppb,
             CAST(FLOOR(CAST(e0c.mse AS DOUBLE) * 1000000000.0 + 0.5)
                  AS BIGINT) AS err_current_ppb
      FROM e0t, e0c
      UNION ALL
      SELECT CAST(1 AS INTEGER), e1t.n, e1c.n,
             CAST(FLOOR(CAST(e1t.mse AS DOUBLE) * 1000000000.0 + 0.5)
                  AS BIGINT),
             CAST(FLOOR(CAST(e1c.mse AS DOUBLE) * 1000000000.0 + 0.5)
                  AS BIGINT)
      FROM e1t, e1c
    )
    SELECT subspace, n_train, n_current, err_train_ppb, err_current_ppb,
           err_current_ppb - err_train_ppb AS drift_ppb
    FROM rep
    """,
)
def vec_pq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — the RETRAIN TRIGGER a stored-PQ deployment monitors: per
    subspace, the mean quantization error of the CURRENT corpus under
    the STORED codebooks vs the error those codebooks had on their own
    training sample. pq_save_codebooks pins a train-once/encode-many
    artifact (stored codes are only decodable against the exact
    codebooks that produced them), so a deployment keeps encoding
    against stale books as the corpus drifts — this report is the
    signal for when quantization error has crept past budget and a
    retrain+re-encode is due, completing the monitor family
    vec_ivf_drift_report started (IVF got its monitor in round 9; PQ
    is the next index left running stale).

    Lifecycle is real: the fixture codebooks (md5-seeded 1-d k-means,
    one Lloyd step per subspace — the engine's deterministic trainer,
    SQL-replayable unlike pq_train's numpy farthest-first loop) are
    SAVED with pq_save_codebooks and LOADED back before measuring, and
    the measurement is :func:`pq_quantization_error` — one broadcast
    of the m·k-row codebook, one JVM-side scan per cohort, m output
    rows. Output: (subspace, n_train, n_current, err_train_ppb,
    err_current_ppb, drift_ppb); errors are float32-snapped then
    half-up-scaled to integers, so the oracle is exact."""
    from process_spark.operators.similarity import (
        pq_load_codebooks,
        pq_quantization_error,
        pq_save_codebooks,
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    hist = e.filter(F.col("vec_id") % 2 == 0)

    # train: md5-seeded seed pick + one Lloyd step per 1-d subspace of
    # the unit-normalized history half
    h32 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    norm = F.sqrt(F.lit(1.0) + F.col("tv") * F.col("tv"))
    hb = (
        hist.select("vec_id", _t32().alias("tv"), h32.alias("h32"))
        .select(
            "vec_id",
            "h32",
            (F.lit(1.0) / norm).alias("u0"),
            (F.col("tv") / norm).alias("u1"),
        )
    )
    wseed = Window.orderBy(F.col("h32") % 9973, F.col("vec_id"))
    seeds = hb.withColumn("cell_id", F.row_number().over(wseed) - 1).filter(
        F.col("cell_id") < 8
    )
    books = []
    for col in ("u0", "u1"):
        v = hb.select("vec_id", F.col(col).alias("x"))
        sd = seeds.select("cell_id", F.col(col).alias("sx"))
        wa = Window.partitionBy("vec_id").orderBy(
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")),
            F.col("cell_id"),
        )
        refined = (
            v.join(F.broadcast(sd))
            .withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .groupBy("cell_id")
            .agg(F.avg("x").cast("float").alias("m"))
        )
        # ≤ 8 rows per subspace — the bounded train-side collect
        books.append(
            [[float(r["m"])] for r in refined.orderBy("cell_id").collect()]
        )
    path = os.path.join(_SCRATCH, "pq_drift_codebooks")
    pq_save_codebooks(spark, books, path)
    loaded = pq_load_codebooks(spark, path)

    def ppb(c: "F.Column") -> "F.Column":
        return (
            F.floor(c.cast("float").cast("double") * 1000000000.0 + 0.5)
            .cast("long")
        )

    tr = pq_quantization_error(hist, loaded).select(
        "subspace",
        F.col("n_vectors").alias("n_train"),
        ppb(F.col("mse")).alias("err_train_ppb"),
    )
    cu = pq_quantization_error(e, loaded).select(
        "subspace",
        F.col("n_vectors").alias("n_current"),
        ppb(F.col("mse")).alias("err_current_ppb"),
    )
    return tr.join(cu, "subspace").select(
        "subspace",
        "n_train",
        "n_current",
        "err_train_ppb",
        "err_current_ppb",
        (F.col("err_current_ppb") - F.col("err_train_ppb")).alias(
            "drift_ppb"
        ),
    )


@register(
    "vec_sq8_drift_report",
    # SQ8's grid is FIXED (unit symmetric, 127 steps — no training
    # pass), so its staleness signal is the RECONSTRUCTION-error drift
    # between the historical cohort and the incoming cohort: every
    # step (normalize, floor-quantize, decode, squared residual) is
    # one IEEE double op on identical operands, the mean is
    # float32-snapped, the report is half-up-scaled integers — exact.
    oracle=f"""
    WITH h AS (SELECT vec_id, {_O_T32} AS tv FROM embeddings),
    u AS (
      SELECT vec_id % 2 AS cohort,
             1.0 / sqrt(1 + tv * tv) AS u0,
             tv / sqrt(1 + tv * tv) AS u1
      FROM h
    ),
    c AS (
      SELECT cohort, u0, u1,
             FLOOR(u0 * 127.0 + 0.5) AS c0,
             FLOOR(u1 * 127.0 + 0.5) AS c1
      FROM u
    )
    SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(FLOOR(CAST(CAST(AVG(
                  (u0 - c0 / 127.0) * (u0 - c0 / 127.0)
                + (u1 - c1 / 127.0) * (u1 - c1 / 127.0)
                ) AS REAL) AS DOUBLE) * 1000000000.0 + 0.5)
                AS BIGINT) AS recon_err_ppb
    FROM c GROUP BY cohort
    """,
)
def vec_sq8_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68 — the staleness monitor for the SQ8 family: mean squared
    reconstruction error (unit vector vs its decoded int8 code,
    code/127) per cohort — historical (even vec_ids) vs incoming
    (odd). SQ8 has no trained artifact to drift (the grid is fixed by
    design — see _sq8_unit_code), so what a deployment watches is
    whether the INCOMING distribution reconstructs as well as the
    corpus the recall numbers were measured on: a rising cohort delta
    means the fixed grid is resolving the new vectors worse (e.g.
    mass concentrating in many small components) and the SQ8 tier
    needs re-validation or a re-ranked composition
    (vec_ivf_sq8_rerank). One scan, map-side agg, 2 output rows;
    quantization uses the real :func:`_sq8_unit_code` codes. The md5
    fixture draws both cohorts from one distribution, so near-equal
    cohort errors (no drift) are the true hash-checked answer there."""
    from process_spark.operators.similarity import _sq8_unit_code

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    norm = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)
    )
    coded = (
        e.select(
            (F.col("vec_id") % 2).alias("cohort"),
            F.col("embedding"),
            norm.alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(
            "cohort",
            F.transform("embedding", lambda x: x / F.col("__n")).alias(
                "__u"
            ),
            _sq8_unit_code(F.col("embedding"), F.col("__n")).alias("__c"),
        )
    )
    err = F.aggregate(
        F.zip_with(
            "__u",
            "__c",
            lambda x, c: (x - c / F.lit(127.0)) * (x - c / F.lit(127.0)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        coded.select("cohort", err.alias("__e"))
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.floor(
                F.avg("__e").cast("float").cast("double") * 1000000000.0
                + 0.5
            )
            .cast("long")
            .alias("recon_err_ppb"),
        )
    )


#: Rebuild threshold for vec_ivf_rebuild_trigger, in ppm of centroid
#: movement (the vec_ivf_drift_report unit). At sf0.01 the even-half
#: trained cells drift up to ~23,700 ppm against the full corpus, so
#: the fixture exercises the REBUILD branch; the decision is an exact
#: integer comparison, so both engines take the same branch at any sf.
_IVF_REBUILD_PPM = 10000


@register(
    "vec_ivf_rebuild_trigger",
    # Both chains replayed with suffixed CTEs (the shared prefix names
    # in _ivf_md5_ctes can only appear once): the even-trained chain
    # feeds the drift census and the keep branch, the full-trained
    # chain feeds the rebuild branch; a scalar boolean subquery picks
    # exactly one side — the same exact-integer decision the engine
    # takes on its collected 1-row max.
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h32,
             {_O_T32} AS tv
      FROM embeddings
    ),
    hb AS (SELECT * FROM h WHERE vec_id % 2 = 0),
    seeds_e AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM hb QUALIFY cell_id < 8
    ),
    a0_e AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM hb v CROSS JOIN seeds_e s
      ) WHERE rn = 1
    ),
    r_e AS (SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
            FROM a0_e GROUP BY cell_id),
    assign_e AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN r_e r
      ) WHERE rn = 1
    ),
    cur AS (SELECT cell_id, CAST(AVG(tv) AS REAL) AS m2
            FROM assign_e GROUP BY cell_id),
    drift AS (
      SELECT r.cell_id,
             CAST(FLOOR(ABS(CAST(r.m AS DOUBLE) - CAST(cur.m2 AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS drift_ppm
      FROM r_e r JOIN cur USING (cell_id)
    ),
    trig AS (SELECT MAX(drift_ppm) > {_IVF_REBUILD_PPM} AS rebuild
             FROM drift),
    seeds_f AS (
      SELECT vec_id, tv,
             ROW_NUMBER() OVER (ORDER BY h32 % 9973, vec_id) - 1 AS cell_id
      FROM h QUALIFY cell_id < 8
    ),
    a0_f AS (
      SELECT vec_id, tv, cell_id FROM (
        SELECT v.vec_id, v.tv, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 's.tv')} DESC, s.cell_id
               ) AS rn
        FROM h v CROSS JOIN seeds_f s
      ) WHERE rn = 1
    ),
    r_f AS (SELECT cell_id, CAST(AVG(tv) AS REAL) AS m
            FROM a0_f GROUP BY cell_id),
    assign_f AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, r.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_o_cell_score('v.tv', 'r.m')} DESC, r.cell_id
               ) AS rn
        FROM h v CROSS JOIN r_f r
      ) WHERE rn = 1
    )
    SELECT vec_id, cell_id, TRUE AS rebuilt FROM assign_f
    WHERE (SELECT rebuild FROM trig)
    UNION ALL
    SELECT vec_id, cell_id, FALSE AS rebuilt FROM assign_e
    WHERE NOT (SELECT rebuild FROM trig)
    """,
)
def vec_ivf_rebuild_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68/O69 — the monitor ACTING: vec_ivf_drift_report measures how
    far the stored centroids have drifted; this query closes the loop
    a deployment actually runs on a schedule — compute the drift
    census against the STORED (history-trained) cells, and if any
    cell's drift_ppm exceeds the threshold, retrain from scratch on
    the full corpus and re-assign; otherwise keep the stored
    assignment. Output: every vector's (vec_id, cell_id) under the
    CHOSEN index plus the decision as a ``rebuilt`` flag — so the
    decision itself is part of the hash-checked result, and a
    threshold regression (rebuilding too eagerly or never) fails the
    oracle, not just a dashboard.

    Scale shape: the drift census is one aggregation to n_cells rows;
    the decision is ONE collected scalar (the engine's only
    driver-side step); each branch is the standard build/assign chain
    — one corpus scan + broadcast cells. At sf0.01 the even-trained
    cells drift up to ~23,700 ppm vs the 10,000 ppm threshold, so the
    fixture exercises the rebuild branch; the oracle replays BOTH
    branches and picks by the same exact-integer comparison."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, _ = ivf_build(
        e.filter(F.col("vec_id") % 2 == 0), n_cells=8, seed_hash="md5"
    )
    assign_stored = ivf_assign(e, cells)
    cur = assign_stored.groupBy("cell_id").agg(
        F.avg(F.element_at("embedding", 2)).cast("float").alias("m2")
    )
    max_drift = (
        cells.select("cell_id", F.element_at("centroid", 2).alias("m"))
        .join(cur, "cell_id")
        .agg(
            F.max(
                F.floor(
                    F.abs(
                        F.col("m").cast("double")
                        - F.col("m2").cast("double")
                    )
                    * 1000000.0
                    + 0.5
                ).cast("long")
            )
        )
        .collect()[0][0]
    )
    if max_drift is not None and max_drift > _IVF_REBUILD_PPM:
        _, assign_new = ivf_build(e, n_cells=8, seed_hash="md5")
        out, rebuilt = assign_new, True
    else:
        out, rebuilt = assign_stored, False
    return out.select(
        "vec_id", "cell_id", F.lit(rebuilt).alias("rebuilt")
    )


@register(
    "vec_ivf_index_audit",
    # Exact-integer oracle for the UNCORRUPTED lifecycle: every
    # embedding is registered exactly once (_ids == data identity),
    # the re-crawl subset is tombstoned and still registered, no
    # divergence class fires. (The audit CATCHING each seeded
    # divergence — orphaned ids, raw data writes, duplicate
    # registrations, orphaned tombstones — is pinned in
    # tests/test_indexlife.py, where the layout is damaged on
    # purpose.)
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM embeddings),
    tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tomb
           FROM embeddings WHERE {_UPD_VEC_FILTER})
    SELECT n.n_all AS n_ids,
           CAST(0 AS BIGINT) AS n_dup_id_rows,
           n.n_all AS n_data_ids,
           CAST(0 AS BIGINT) AS n_ids_without_data,
           CAST(0 AS BIGINT) AS n_data_ids_without_ids,
           tm.n_tomb AS n_tombstoned,
           CAST(0 AS BIGINT) AS n_tombstones_without_ids,
           TRUE AS consistent
    FROM n, tm
    """,
)
def vec_ivf_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68-monitor — the stored vector index's INTEGRITY AUDIT (the
    monitor-family member for the generic lifecycle layout, the
    text side's text_postings_stats_audit): after a build, a growth
    append, and a tombstone wave, stored_index_audit reconciles the
    _ids identity sidecar against the data rows and the tombstones —
    one row of exact integers with a ``consistent`` verdict. Each
    divergence column names a crash window (an append that died
    between the _ids and data writes, rows written around the
    sidecar, a compaction that died before its tombstone drop) and
    its repair; on this uncorrupted lifecycle the verdict is TRUE and
    every count is an exact function of the embeddings table. The
    reconciliation is one distributed full-outer join on vec_id — no
    driver-side id sets — so the audit holds at any index size."""
    from process_spark.operators.indexlife import stored_index_audit

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    e_even = e.filter(F.col("vec_id") % 2 == 0)
    e_odd = e.filter(F.col("vec_id") % 2 == 1)
    cells, assign_even = ivf_build(e_even, n_cells=8, seed_hash="md5")
    cells = cells.localCheckpoint(eager=True)

    path = os.path.join(_SCRATCH, "ivf_index_audit")
    shutil.rmtree(path, ignore_errors=True)
    write_stored_index(
        assign_even, path, ["cell_id"], "vec_id", mode="overwrite"
    )
    write_stored_index(
        ivf_assign(e_odd, cells), path, ["cell_id"], "vec_id", mode="append"
    )
    tombstone_index_ids(
        spark, path, e.filter(F.expr(_UPD_VEC_FILTER)).select("vec_id")
    )
    return stored_index_audit(spark, path)


@register(
    "vec_ivf_index_repaired",
    # Exact-integer oracle: the repair registers the one raw-written
    # row (n_ids/n_data_ids = corpus + 1), forgets the three orphaned
    # registrations, drops the one orphaned tombstone, and the audit
    # verdict flips to TRUE — every count a closed-form function of
    # the embeddings table.
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM embeddings)
    SELECT (n.n_all + 1) AS n_ids,
           CAST(0 AS BIGINT) AS n_dup_id_rows,
           (n.n_all + 1) AS n_data_ids,
           CAST(0 AS BIGINT) AS n_ids_without_data,
           CAST(0 AS BIGINT) AS n_data_ids_without_ids,
           CAST(0 AS BIGINT) AS n_tombstoned,
           CAST(0 AS BIGINT) AS n_tombstones_without_ids,
           TRUE AS consistent,
           FALSE AS was_consistent,
           CAST(1 AS BIGINT) AS n_dropped_tombstones
    FROM n
    """,
)
def vec_ivf_index_repaired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O68-repair — the recovery half of the integrity-audit story
    (vec_ivf_index_audit), registered so the repair itself is
    oracle-checked and not only test-pinned: build the stored IVF
    index over the whole corpus, then seed one instance of each
    non-pending divergence class the audit names — three orphaned
    registrations (the failed-append residue), one row written raw
    around the sidecar (the silent-duplicate precursor), one
    tombstone for an id the index never held (the crashed-compaction
    residue) — and run repair_stored_index ONCE. The repair rebuilds
    ``_ids`` from the ids actually present in ``data`` (one id-column
    scan, not a re-derive from source) and drops the orphaned
    tombstone; the returned row is the post-repair audit verdict plus
    the repair's own accounting, every value a closed-form integer
    over the embeddings table."""
    from process_spark.operators.indexlife import (
        _ids_membership,
        repair_stored_index,
        stored_index_audit,
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.array(F.lit(1.0), _t32()).alias("embedding")
    )
    cells, assign = ivf_build(e, n_cells=8, seed_hash="md5")

    path = os.path.join(_SCRATCH, "ivf_index_repaired")
    shutil.rmtree(path, ignore_errors=True)
    write_stored_index(assign, path, ["cell_id"], "vec_id", mode="overwrite")

    # synthetic ids far above the corpus id range keep the seeding
    # deterministic and collision-free at any sf
    base = 10_000_000
    orphans = spark.createDataFrame(
        [(base + i, 0, 0.0) for i in range(3)],
        "vec_id long, cell_id int, score double",
    )
    (
        _ids_membership(orphans, "vec_id", 16)
        .repartition(1).write.mode("append")
        .partitionBy("id_bucket").parquet(path + "/_ids")
    )
    # one row written RAW around the sidecar, carrying the index's own
    # data schema (deterministic TakeOrdered pick, id/cell overridden)
    raw = (
        assign.orderBy("vec_id").limit(1)
        .withColumn("vec_id", F.lit(base + 10).cast("long"))
        .withColumn("cell_id", F.lit(0))
    )
    (
        raw.repartition(1).write.mode("append")
        .partitionBy("cell_id").parquet(path + "/data")
    )
    orphan_tomb = spark.createDataFrame(
        [(base + 20, 0, 0.0)], "vec_id long, cell_id int, score double"
    )
    (
        _ids_membership(orphan_tomb, "vec_id", 16)
        .repartition(1).write.mode("append")
        .partitionBy("id_bucket").parquet(path + "/_tombstones")
    )
    spark.catalog.refreshByPath(os.path.join(path, "_ids"))
    spark.catalog.refreshByPath(os.path.join(path, "data"))

    out = repair_stored_index(spark, path)
    spark.catalog.refreshByPath(os.path.join(path, "_ids"))
    return stored_index_audit(spark, path).select(
        "*",
        F.lit(bool(out["was_consistent"])).alias("was_consistent"),
        F.lit(int(out["n_dropped_tombstones"]))
        .cast("long")
        .alias("n_dropped_tombstones"),
    )
