"""Deduplication family (SURVEY.md O62-O64; contract: "dedup" for
LLM-data pipelines).

Tiers, cheapest first — at 100 TB you run them in this order:
1. exact           — hash groupBy on content hash (one shuffle)
2. keep_latest     — row_number over the business key
3. minhash_lsh     — shingle → minhash → band-bucket equi-join
4. simhash         — 64-bit signature, bucket by band
5. ngram_jaccard   — exact token-set Jaccard within blocks (oracle-able)
6. embedding near-dup → operators.similarity (cosine threshold)
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from process_spark.functions.textfn import simhash64, tokens
from process_spark.operators.execution import cut
from process_spark.operators.relational import (
    attach_census,
    cap_blocks,
    cap_blocks_with_census,
)


def exact_dedup(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """O62 — exact dedup. dropDuplicates = hash shuffle on the subset;
    map-side combine makes this safe at any scale."""
    return df.dropDuplicates(list(subset)) if subset else df.dropDuplicates()


def keep_latest(
    df: DataFrame, key: Sequence[str], order_col: str, desc: bool = True
) -> DataFrame:
    """O62 keep-latest variant: one row per key by recency."""
    ob = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.partitionBy(*key).orderBy(ob)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: 31-bit prime from the universal-hash family ``(a*h + b) mod p`` —
#: the largest prime below 2^31 used by Spark MLlib's MinHashLSH
#: (public); small enough that a*h stays inside signed-64 arithmetic.
_MINHASH_PRIME = 2038074743


def _minhash_coefficients(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) permutation constants, a_i ≠ 0 mod p.

    Derived from a fixed-seed PRNG so signatures are byte-identical
    across runs/executors (same reason the fixture generator avoids
    RNG: reproducible dedup decisions are part of the contract).
    """
    rng = random.Random(8191)
    a = [rng.randint(1, _MINHASH_PRIME - 1) for _ in range(num_hashes)]
    b = [rng.randint(0, _MINHASH_PRIME - 1) for _ in range(num_hashes)]
    return a, b


def _fast_shingles(text: Column, n: int = 3) -> Column:
    """Shingle construction tuned for the MinHash hot path: the same
    word n-gram STRINGS as functions.textfn.word_ngrams, built by
    zipping the token array against its shifted selves (two zip_with
    passes) instead of one slice+concat per position — measured 1.8x
    faster at sf0.1. No array_distinct: MIN is duplicate-invariant, so
    deduping shingles costs a pass and changes nothing."""
    a = tokens(text)
    size = F.size(a)
    body = F.greatest(size - (n - 1), F.lit(0))
    shifted = [F.slice(a, i + 1, body) for i in range(n)]
    z = shifted[0]
    for s in shifted[1:]:
        z = F.zip_with(z, s, lambda x, y: F.concat_ws(" ", x, y))
    return (
        F.when(size >= n, z)
        .when(size > 0, F.array(F.concat_ws(" ", a)))
        .otherwise(F.array().cast("array<string>"))
    )


def _minhash_mins(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    base_hash: str,
) -> DataFrame:
    """Signature mins as ONE ``__mins`` array<bigint> column.

    The 64 per-permutation aggregates are assembled as a single SQL
    string parsed server-side by one ``F.expr`` call: building them as
    Python Column objects cost ~5 py4j round trips per permutation
    (~320 per call site), and a py4j round trip measures ~2-3 ms in
    this environment — plan CONSTRUCTION alone was a measured multi-
    second cost per bench rep for the minhash family (guide §1:
    measure first; the cost was on the driver, not in any stage)."""
    # Repartition by id BEFORE the tokenize/shingle/hash map work: a
    # single-file local scan is one partition, which would serialize
    # the whole CPU-heavy stage on one core. The partition count is
    # explicit (defaultParallelism) because AQE would coalesce a
    # few-MB text shuffle back to one partition — right for IO-bound
    # stages, wrong for this CPU-bound one.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col),
        F.explode(_fast_shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    a, b = _minhash_coefficients(num_hashes)
    if base_hash == "md5":
        # Cross-engine base hash: first 8 hex chars of md5 as a 32-bit
        # int (DuckDB reproduces it byte-for-byte — the oracle path;
        # xxhash64 is the cheaper default but has no SQL twin).
        base = F.conv(F.substring(F.md5(F.col("__sh")), 1, 8), 16, 10).cast(
            "long"
        )
    else:
        base = F.xxhash64(F.col("__sh"))
    hashed = exploded.select(
        F.col(id_col),
        F.pmod(base, F.lit(_MINHASH_PRIME)).alias("__h"),
    )
    # Plain % (not pmod): every operand is non-negative (__h ∈ [0,p),
    # a>0, b≥0), so remainder == pmod without pmod's sign branch —
    # measured ~15% off the 64-permutation aggregate. The array-of-
    # aggregates form is the same hash aggregate (one min accumulator
    # per permutation, map-side combine) with the array assembled in
    # the agg's result projection.
    mins_sql = (
        "array("
        + ",".join(
            f"min((__h * {a[i]} + {b[i]}) % {_MINHASH_PRIME})"
            for i in range(num_hashes)
        )
        + ")"
    )
    return hashed.groupBy(id_col).agg(F.expr(mins_sql).alias("__mins"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
    band_key: str = "hash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """O63 — candidate near-dup pairs via banded MinHash LSH.

    Split the signature into ``bands`` bands of r = num_hashes/bands
    rows; docs colliding on any full band are candidates. The band
    bucket join is an equi-join on (band_idx, band_hash) — shuffle
    partitioned, no cross join anywhere, which is what makes this the
    100 TB path. Returns (id_a, id_b, n_shared_bands), id_a < id_b.

    ``max_bucket_size`` is the hot-bucket guard: a boilerplate-heavy
    corpus (shared headers/footers, templated pages) collapses many
    docs into ONE band bucket, and the bucket's pair output is
    O(|bucket|²) — a single reduce task that OOMs a worker at 100 TB.
    When set, buckets larger than the cap are EXCLUDED from pair
    generation and the result carries an ``n_skipped_buckets`` column
    (constant per run — no silent truncation; a pipeline routes the
    skipped buckets' members to the next tier, e.g. exact Jaccard over
    a per-bucket sample or a re-band with more bands). See
    :func:`~process_spark.operators.relational.cap_blocks_with_census`
    and :func:`~process_spark.operators.relational.attach_census`.
    """
    banded = _minhash_banded(
        df, id_col, text_col, num_hashes, bands, shingle_n, base_hash, band_key
    )
    if max_bucket_size is not None:
        banded, skipped = cap_blocks_with_census(
            banded, ["band_idx", "band_hash"], max_bucket_size, "n_skipped_buckets"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    if max_bucket_size is None:
        return pairs
    return attach_census(pairs, skipped)


def _minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    base_hash: str,
    band_key: str,
) -> DataFrame:
    """The exploded band relation (id, band_idx, band_hash) shared by
    the pair join and the stored-index build. Materializes the BAND
    projection once — a self-join otherwise recomputes the whole
    tokenize→shingle→hash pipeline on BOTH sides (no ReusedExchange
    across the join; verified in the physical plan). Banding before
    the cut shrinks the checkpoint payload to ``bands`` longs per doc
    and computes band hashes straight off the aggregate's wide columns
    — no array build + element_at round-trip."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    mins = _minhash_mins(df, id_col, text_col, num_hashes, shingle_n, base_hash)
    bands_df = mins.select(
        id_col, F.expr(_band_array_sql(bands, r, band_key)).alias("__bands")
    ).localCheckpoint(eager=False)
    return bands_df.select(
        id_col,
        F.posexplode(F.col("__bands")).alias("band_idx", "band_hash"),
    )


def _band_array_sql(bands: int, r: int, band_key: str) -> str:
    """SQL for the per-doc band-key array over the ``__mins`` signature
    array (one ``F.expr`` parse instead of ~6 py4j round trips per
    band — see _minhash_mins). band_key="concat" keeps the raw joined
    string (has an exact SQL twin for the oracle variant); "hash"
    shrinks the shuffle key to 8 bytes — the default at scale."""
    per_band = [
        "concat_ws(','"
        + "".join(f", cast(__mins[{b * r + j}] as string)" for j in range(r))
        + ")"
        for b in range(bands)
    ]
    if band_key != "concat":
        per_band = [f"xxhash64({e})" for e in per_band]
    return "array(" + ",".join(per_band) + ")"


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
    band_key: str = "hash",
    n_buckets: int = 256,
) -> DataFrame:
    """The STORED dedup index: one row per (doc, band) with a bounded
    ``band_bucket`` partition key (``pmod(band_hash, n_buckets)``).
    Written ``partitionBy(band_idx, band_bucket)``, this is the layout
    that turns incremental dedup into a point lookup — a new batch of
    docs computes its own bands and reads ONLY the matching partitions
    (real partition pruning, asserted in tests/test_plan_shapes.py)
    instead of re-joining the whole historical corpus. Same contract
    as the IVF cell-partitioned layout."""
    banded = _minhash_banded(
        df, id_col, text_col, num_hashes, bands, shingle_n, base_hash, band_key
    )
    return banded.withColumn(
        "band_bucket", F.pmod(F.xxhash64(F.col("band_hash")), F.lit(n_buckets))
    )


def lsh_band_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
    band_key: str = "hash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Companion introspection for the hot-bucket guard: per band,
    bucket-population stats — how many buckets, the largest one, and
    how many exceed ``max_bucket_size`` (0 when unset). This is the
    view an operator reads BEFORE picking the cap, and the non-silent
    record of what :func:`minhash_lsh_pairs` skipped. Same plan prefix
    as the pair join (shingle→signature→band), one aggregate on the
    bucket key, one tiny per-band rollup."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    mins = _minhash_mins(df, id_col, text_col, num_hashes, shingle_n, base_hash)
    banded = mins.select(
        id_col,
        F.posexplode(
            F.expr(_band_array_sql(bands, r, band_key))
        ).alias("band_idx", "band_hash"),
    )
    cap = F.lit(max_bucket_size if max_bucket_size is not None else None)
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("__n").alias("max_bucket_size"),
        F.sum(
            F.when(F.col("__n") > cap, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_over_cap"),
    )


def _simhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    band_bits: int,
    base_hash: str,
) -> DataFrame:
    """Shared banding stage of the SimHash family: per-token hash →
    per-bit majority vote → signature → band split. Returns
    (``id_col``, __sim, band_idx, band_val) — consumed by the
    candidate self-join (:func:`simhash_dedup_candidates`) and the
    stored index builder (:func:`simhash_band_index`)."""
    sig_bits = 60 if base_hash == "md5" else 64
    if sig_bits % band_bits:
        # Mirror minhash_lsh_pairs' num_hashes/bands check: silently
        # truncating to floor(sig_bits/band_bits) bands would band only
        # part of the signature and weaken the pigeonhole candidate
        # guarantee without the caller noticing (e.g. base_hash='md5'
        # with the xxhash64 default band_bits=16 covers 48 of 60 bits).
        raise ValueError(
            f"band_bits must divide sig_bits evenly: {sig_bits} % "
            f"{band_bits} != 0 (use band_bits=15 for base_hash='md5')"
        )
    n_bands = sig_bits // band_bits
    mask = (1 << band_bits) - 1
    n_part = df.sparkSession.sparkContext.defaultParallelism
    # Explode-and-aggregate signature, NOT the array-HOF vote
    # (functions.textfn.simhash64): each of the ``sig_bits`` HOF
    # filters re-evaluates the per-token hash pipeline (Catalyst
    # collapses the projection into every consumer) — measured 13.5 s
    # → 2.5 s at sf0.01 for the md5 base. Here each token is hashed
    # ONCE; the vote is one codegen'd hash aggregate with a
    # conditional sum per bit — the same plan shape as _minhash_mins,
    # shuffling only (id, sig_bits counters).
    ids = df.repartition(n_part, F.col(id_col)).select(F.col(id_col)).localCheckpoint(
        eager=False
    )
    exploded = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__w")
    )
    if base_hash == "md5":
        h = F.conv(F.substring(F.md5(F.col("__w")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("__w"))
    # The per-bit vote sums and the signature fold are assembled as
    # TWO SQL strings parsed server-side by one F.expr each: built as
    # Python Column objects they cost ~14 py4j round trips per bit
    # (~900 per call site at ~2.5 ms each — multi-second driver-side
    # plan construction; see _minhash_mins for the measurement). The
    # parsed expressions are identical — same sum aggregates (map-side
    # combine), same long-typed CASE/bitwise-OR fold, same values.
    votes_sql = (
        "array("
        + ",".join(f"sum(shiftright(__h, {b}) & 1)" for b in range(sig_bits))
        + ")"
    )
    votes = (
        exploded.select(F.col(id_col), h.alias("__h"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.expr(votes_sql).alias("__sv"),
        )
    )
    sig = F.expr(
        " | ".join(
            f"(case when __sv[{b}] * 2 > __n then shiftleft(1L, {b}) else 0L end)"
            for b in range(sig_bits)
        )
    )
    # Token-less docs (empty/whitespace text) vote to signature 0 —
    # the explode drops them, so join them back with sig 0.
    signed = (
        ids.join(votes.select(id_col, sig.alias("__sim")), id_col, "left")
        .select(id_col, F.coalesce(F.col("__sim"), F.lit(0).cast("long")).alias("__sim"))
        .localCheckpoint(eager=False)  # compute once, not per join side
    )
    return signed.select(
        id_col,
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("__sim"), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def simhash_dedup_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    band_bits: int = 16,
    max_bucket_size: int | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature split into 4
    16-bit bands; Hamming-close docs share ≥1 exact band (pigeonhole).
    Equi-join on band value — same scale shape as MinHash LSH, and the
    same boilerplate failure mode, so the same ``max_bucket_size``
    hot-bucket guard (over-cap band buckets are cut before the
    self-join; see :func:`minhash_lsh_pairs`). ``base_hash="md5"``
    (with band_bits=15 → 4 bands over 60 bits) is the DuckDB-
    reproducible variant backing the oracle query."""
    banded = _simhash_banded(df, id_col, text_col, band_bits, base_hash)
    if max_bucket_size is not None:
        # pinned: both join sides read the kept rows
        banded = cap_blocks(
            banded, ["band_idx", "band_val"], max_bucket_size
        ).localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.__sim").alias("sim_a"),
        F.col("b.__sim").alias("sim_b"),
    ).distinct()
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming"))


def simhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    band_bits: int = 16,
    base_hash: str = "xxhash64",
    n_buckets: int = 16,
) -> DataFrame:
    """STORED-index form of the SimHash banding — the fourth index
    family gets the same persisted lifecycle as the MinHash band
    index, the IVF cells, and the SRP bands: one row per (doc, band),
    carrying the full signature so a probe can compute Hamming
    distances without re-reading documents. Write it
    ``partitionBy(band_idx, band_bucket)`` (``band_bucket =
    band_val % n_buckets`` — the same bounded-domain pruning key as
    minhash_band_index: a probe collects its ≤ n_buckets bucket
    IN-set and the stored scan prunes to those partition dirs).
    Returns (``id_col``, sim, band_idx, band_val, band_bucket)."""
    banded = _simhash_banded(df, id_col, text_col, band_bits, base_hash)
    return banded.select(
        id_col,
        F.col("__sim").alias("sim"),
        "band_idx",
        "band_val",
        F.pmod(F.col("band_val"), F.lit(n_buckets)).alias("band_bucket"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    min_jaccard: float = 0.0,
    max_block_size: int | None = None,
) -> DataFrame:
    """O63 exact variant — token-set Jaccard for every pair within a
    block (oracle-checkable in SQL). Blocking keeps the pair count
    bounded; at scale pass a real blocking key (source, length bucket,
    LSH band) — never run unblocked.

    ``max_block_size`` is the same guard contract as
    :func:`minhash_lsh_pairs`' hot-bucket cap: the per-block self-join
    is O(|block|²), so one boilerplate-heavy block (every doc from one
    templated source) is a single quadratic task at 100 TB. When set
    (requires ``block_col``), blocks over the cap are EXCLUDED from
    pair generation BEFORE the join — every join task is bounded at
    ≤ max_block_size² intermediate rows by construction. The output
    schema and row semantics are MODE-INVARIANT: always exactly
    (id_a, id_b, jaccard), one row per surviving pair, so guarded and
    unguarded results union cleanly and no consumer needs a
    NULL-sentinel filter. The skip census is OUT-OF-BAND — use
    :func:`jaccard_pairs_with_census` when the pipeline must surface
    the truncation (every registered guarded query does). A pipeline
    routes skipped blocks' members to a cheaper tier (banded LSH —
    minhash_lsh_pairs — whose cost is linear in the bucket census,
    not quadratic in the block)."""
    if max_block_size is not None and block_col is None:
        raise ValueError("max_block_size requires block_col (the guard caps blocks)")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(n_part, F.col(id_col))  # parallelize tokenization
        .select(
            F.col(id_col),
            F.array_distinct(tokens(text_col)).alias("__toks"),
            *([F.col(block_col)] if block_col else []),
        )
        .localCheckpoint(eager=False)  # tokenize once, not per join side
    )
    if max_block_size is not None:
        toks = cap_blocks(toks, [block_col], max_block_size)
    a, b = toks.alias("a"), toks.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a.__toks"), F.col("b.__toks")))
    uni = F.size(F.array_union(F.col("a.__toks"), F.col("b.__toks")))
    jac = F.when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(0.0)
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return pairs


def jaccard_pairs_with_census(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    min_jaccard: float = 0.0,
    max_block_size: int | None = None,
) -> tuple:
    """Guarded :func:`jaccard_pairs` plus its skip census, OUT-OF-BAND:
    returns ``(pairs, census)`` where ``pairs`` has the mode-invariant
    (id_a, id_b, jaccard) schema and ``census`` is exactly one row
    ``(n_skipped_blocks bigint)`` — 0 when nothing was cut, present
    even when every block was cut and the pair set is empty. This
    replaces the old in-band design (an ``n_skipped_blocks`` column on
    every pair row plus a NULL-id sentinel when all blocks skipped),
    which made the pair relation's schema depend on the guard mode and
    forced every consumer to filter the sentinel. A pipeline that must
    surface truncation (every registered guarded query) broadcasts the
    1-row census onto its OWN output instead."""
    if max_block_size is None:
        raise ValueError(
            "jaccard_pairs_with_census requires max_block_size; use "
            "jaccard_pairs when nothing can be skipped"
        )
    if block_col is None:
        raise ValueError("max_block_size requires block_col (the guard caps blocks)")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col),
            F.array_distinct(tokens(text_col)).alias("__toks"),
            F.col(block_col),
        )
        .localCheckpoint(eager=False)
    )
    kept, census = cap_blocks_with_census(
        toks, [block_col], max_block_size, "n_skipped_blocks"
    )
    a, b = kept.alias("a"), kept.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
    )
    inter = F.size(F.array_intersect(F.col("a.__toks"), F.col("b.__toks")))
    uni = F.size(F.array_union(F.col("a.__toks"), F.col("b.__toks")))
    jac = F.when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(0.0)
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return pairs, census


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    The cluster-formation step of a near-dup pipeline: candidate pairs
    (MinHash/Jaccard edges) → one component id per document, so a
    keeper can be chosen per component. Each round contracts the graph
    geometrically, so the round count is O(log n) whatever the
    diameter: a dense, shallow dedup graph takes a few rounds, and so
    does a long near-dup chain from sliding boilerplate.

      large-star: every node's HIGHER neighbors re-attach to the
      minimum of its closed neighborhood;
      small-star: every node and its LOWER neighbors re-attach to
      that minimum.

    Each star step is a window min per node, and the edge count never
    grows. Small-star edges point from high id to low id, so the edge
    set is at its fixpoint exactly when it is a forest of stars, each
    centered on its component's minimum. A round is one Spark action:
    the check that no star-forest violation exists (a node with two
    edges, or an edge into a node that has one of its own) also fills
    the round's lineage cut. The driver sees at most one violation
    row.

    Returns (``id``, component): component = min vertex id in the
    component; singleton vertices (if ``vertices`` given) map to
    themselves. Raises when ``max_iter`` rounds do not reach the
    fixpoint: short of it a node can still carry edges to different
    centers, and its labels would be wrong. Rounds grow with log n: in
    a plain-Python model of these two steps a 100,000-link chain takes
    17, so the default 30 leaves headroom.

    ``checkpoint_dir``: reliable-checkpoint directory for the
    per-round edge set (see
    :func:`~process_spark.operators.execution.cut`).
    """

    def pairs(*cols: tuple[str, str]) -> Column:
        return F.inline(
            F.array(
                *(F.struct(F.col(a).alias("u"), F.col(b).alias("v")) for a, b in cols)
            )
        )

    by_u = Window.partitionBy("u")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    for _ in range(max_iter):
        # large-star: m(u) = min(N(u) ∪ {u}); (v, m(u)) for every v > u
        large = (
            e.select(pairs(("u", "v"), ("v", "u")))
            .withColumn("m", F.least("u", F.min("v").over(by_u)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: m(u) = min of u's lower neighbors; (v, m) for
        # each of them and (u, m) for u itself
        small = (
            large.withColumn("m", F.min("v").over(by_u))
            .select(pairs(("v", "m"), ("u", "m")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e = cut(small, checkpoint_dir)
        # a star forest: no node with an edge to a lower one has a
        # second edge
        violations = (
            e.select(pairs(("u", "v"), ("v", "u")))
            .groupBy("u")
            .agg(F.min("v").alias("lo"), F.count("*").alias("deg"))
            .filter((F.col("lo") < F.col("u")) & (F.col("deg") > 1))
        )
        # isEmpty, not a count over limit(1): that form compiles four
        # generated classes again on every warm run
        if violations.isEmpty():
            break
    else:
        raise RuntimeError(
            "connected_components did not reach the star-forest fixpoint "
            f"within max_iter={max_iter} rounds; raise max_iter"
        )

    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    if vertices is None:
        verts = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
    else:
        verts = vertices.select(F.col(id_col).alias("id")).distinct()
    return verts.join(labels, "id", "left").select(
        F.col("id"),
        F.coalesce(F.col("component"), F.col("id")).alias("component"),
    )

