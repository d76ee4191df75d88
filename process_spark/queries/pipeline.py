"""Training-data pipeline composites over ``documents`` — the
end-to-end shapes an LLM-data pipeline runs at 100 TB (contract
extensions per BASELINE.json: dedup / text analysis), composed from
the primitives in operators.dedup and functions.textfn.

- benchmark contamination check: flag corpus docs sharing word n-grams
  with a held-out benchmark set (the decontamination pass every
  training corpus needs). Plan shape: explode distinct shingles on
  both sides → equi-join on the shingle → per-doc aggregate. The join
  is shuffle-partitioned on the shingle string — no cross join — and
  the benchmark side is orders of magnitude smaller, so at scale it
  broadcast-joins after the explode.
- dedup keeper selection: near-dup pairs → connected components → pick
  one canonical doc per component (longest text, doc_id tiebreak) —
  the final "which row survives" step of a dedup pipeline. One window
  over the (small) component table, never over the corpus.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from process_spark.functions.textfn import bpe_token_count, tokens, word_ngrams
from process_spark.operators.dedup import (
    connected_components,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from process_spark.queries._util import t
from process_spark.queries.registry import register
from process_spark.queries.text import _O_SHINGLES, _O_TOKS, _minhash_md5_ctes



@register(
    "pipeline_contamination_check",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest(list_distinct({_O_SHINGLES})) AS shingle
      FROM documents
    ),
    bench AS (SELECT DISTINCT shingle, doc_id AS bench_id
              FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
    SELECT c.doc_id,
           COUNT(DISTINCT c.shingle) AS n_shared_shingles,
           COUNT(DISTINCT b.bench_id) AS n_benchmark_docs
    FROM corpus c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
    """,
)
def pipeline_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (source != src0) that
    share any word 3-gram with the benchmark set (source = src0),
    with how many distinct shingles and benchmark docs they hit.
    Both sides explode to (doc, shingle) and meet in one equi-join on
    the shingle — the shape that scales: no pairwise comparison, and
    the benchmark side stays tiny relative to the corpus."""
    d = t(spark, sf_dir, "documents")
    # Fan out before the CPU-bound tokenize/shingle stage (a single
    # parquet file scans as one partition), and cut lineage after it:
    # the benchmark and corpus branches below otherwise EACH re-run the
    # full shingle pipeline (Catalyst has no cross-branch subplan
    # reuse). At warehouse scale this cut is "the shingle table is
    # materialized once"; locally localCheckpoint is the same.
    n_part = spark.sparkContext.defaultParallelism
    sh = (
        d.repartition(n_part, F.col("doc_id"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(word_ngrams(tokens("text"), 3))
            ).alias("shingle"),
        )
        .localCheckpoint(eager=False)
    )
    bench = (
        sh.filter(F.col("source") == "src0")
        .select(F.col("shingle").alias("b_shingle"), F.col("doc_id").alias("bench_id"))
        .distinct()
    )
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    # BROADCAST the benchmark side (allowlisted in the hint lint): a
    # decontamination benchmark is a fixed eval suite — bounded BY
    # CONSTRUCTION, it does not grow with the corpus — so the hint is
    # safe, and it changes the join from "shuffle the exploded corpus
    # shingle table on the shingle string" (the dominant cost at x10)
    # to a map-side hash join: the corpus side never shuffles; only
    # the per-doc aggregate's (doc_id-keyed, output-bounded) exchange
    # remains.
    return (
        corpus.join(F.broadcast(bench), corpus.shingle == bench.b_shingle)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


#: Hot-block cap for the exact-edge keeper: every per-block all-pairs
#: task is bounded at cap² intermediate rows. 64 keeps every sf0.01
#: block intact (max block = 12) while cutting the quadratic blow-up
#: the x10 probe manufactures; skipped blocks are counted in the
#: output (n_skipped_blocks), their members become CC singletons.
_KEEPER_BLOCK_CAP = 64


def _keepers(edges: DataFrame, docs: DataFrame) -> DataFrame:
    """Components of the (id_a, id_b) near-dup ``edges`` over ``docs``
    and one keeper per component by (longest text, lowest doc_id):
    (doc_id, component, keeper_id, is_keeper)."""
    comp = connected_components(
        edges, src="id_a", dst="id_b", vertices=docs, id_col="doc_id"
    ).withColumnRenamed("id", "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "component",
            "keeper_id",
            (F.col("rn") == 1).alias("is_keeper"),
        )
    )


@register(
    "pipeline_dedup_keeper",
    oracle=f"""
    WITH RECURSIVE tk0 AS (
      SELECT doc_id, lang, source, n_chars, list_distinct({_O_TOKS}) AS toks
      FROM documents WHERE doc_id % 5 = 0
    ),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY lang, source) AS bn FROM tk0
    ),
    tk AS (
      SELECT doc_id, lang, source, n_chars, toks FROM sized
      WHERE bn <= {_KEEPER_BLOCK_CAP}
    ),
    skip AS (
      SELECT COUNT(*) AS n_skipped_blocks FROM (
        SELECT DISTINCT lang, source FROM sized WHERE bn > {_KEEPER_BLOCK_CAP}
      )
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tk a JOIN tk b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CASE WHEN len(list_distinct(a.toks || b.toks)) > 0 THEN
              CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(a.toks || b.toks))
            ELSE 0.0 END >= 0.2
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM tk0
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    ),
    ranked AS (
      SELECT c.doc_id, c.component, tk0.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY tk0.n_chars DESC, c.doc_id) AS rn,
             FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component
                                ORDER BY tk0.n_chars DESC, c.doc_id) AS keeper_id
      FROM comp c JOIN tk0 ON tk0.doc_id = c.doc_id
    )
    SELECT doc_id, component, keeper_id, rn = 1 AS is_keeper,
           (SELECT n_skipped_blocks FROM skip) AS n_skipped_blocks
    FROM ranked
    """,
)
def pipeline_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keeper selection: near-dup clusters (Jaccard >= 0.2 within
    (lang, source) blocks, same sampled population as
    dedup_connected_components) → one canonical doc per cluster by
    (longest text, lowest doc_id). The ranking window runs over the
    component table — corpus-sized but one row per doc with three
    columns, partitioned by component — and is the pattern that picks
    survivors at 100 TB without ever re-reading document text.

    The exact-edge stage is BOUNDED: blocks over ``_KEEPER_BLOCK_CAP``
    are cut before the all-pairs join (every task ≤ cap² intermediate
    rows) and the cut is visible in the output — each row carries
    ``n_skipped_blocks`` from the OUT-OF-BAND census
    (jaccard_pairs_with_census: the pair relation keeps its
    mode-invariant (id_a, id_b, jaccard) schema, the 1-row census
    rides a broadcast), and skipped blocks' members surface as CC
    singletons. The unbounded-quadratic variant this replaces was the
    one registered query a user could walk into at 100 TB; the LSH
    keeper chain (``pipeline_dedup_keeper_lsh``) remains the
    production path for corpora where whole blocks exceed the cap."""
    from process_spark.operators.dedup import jaccard_pairs_with_census

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    blocked = d.withColumn("__blk", F.concat_ws("|", "lang", "source"))
    edges, skipcnt = jaccard_pairs_with_census(
        blocked,
        "doc_id",
        "text",
        block_col="__blk",
        min_jaccard=0.2,
        max_block_size=_KEEPER_BLOCK_CAP,
    )
    return _keepers(edges, d).crossJoin(F.broadcast(skipcnt))  # 1-row census


def _keeper_lsh_oracle(max_bucket_size: int) -> str:
    """DuckDB twin of the PRODUCTION-scale keeper chain: guarded banded
    MinHash LSH pairs (hot buckets cut before the self-join) →
    recursive min-label components → ranked keeper per component. The
    whole three-stage pipeline replays as one WITH chain off the shared
    md5 CTEs, so the keeper a 100 TB dedup pass would actually write
    out is hash-checked end to end."""
    return f"""
    WITH RECURSIVE {_minhash_md5_ctes()},
    sized AS (
      SELECT doc_id, band_idx, band_key,
             COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bn
      FROM banded
    ),
    kept AS (
      SELECT doc_id, band_idx, band_key FROM sized
      WHERE bn <= {max_bucket_size}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    verts AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM verts
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    ),
    ranked AS (
      SELECT c.doc_id, c.component, v.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY v.n_chars DESC, c.doc_id) AS rn,
             FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component
                                ORDER BY v.n_chars DESC, c.doc_id) AS keeper_id
      FROM comp c JOIN verts v USING (doc_id)
    )
    SELECT doc_id, component, keeper_id, rn = 1 AS is_keeper
    FROM ranked
    """


_KEEPER_LSH_CAP = 10


@register("pipeline_dedup_keeper_lsh", oracle=_keeper_lsh_oracle(_KEEPER_LSH_CAP))
def pipeline_dedup_keeper_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION keeper chain at its full depth: hot-bucket-
    guarded banded MinHash LSH candidate pairs (equi-join on
    (band_idx, band_key), per-task work bounded at cap² by
    construction — NOT per-block all-pairs Jaccard, whose O(n²)
    blocks grow with the corpus) → distributed connected components
    (star contraction) → one canonical keeper per component by
    (longest text, lowest doc_id). This is the chain a 100 TB dedup
    pass actually writes out: every stage is the registered scale
    path, and DuckDB replays all three (guard census included) as one
    unit. pipeline_dedup_keeper stays as the exact-Jaccard oracle
    anchor on a sampled population."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    edges = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        base_hash="md5",
        band_key="concat",
        max_bucket_size=_KEEPER_LSH_CAP,
    ).filter(F.col("id_a").isNotNull())  # drop the all-skipped sentinel
    return _keepers(edges, d)


@register(
    "pipeline_repetition_signals",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_O_TOKS} AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM tk
    ),
    tok_cnt AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
    ),
    tok_stats AS (
      SELECT doc_id,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens
      FROM tok_cnt GROUP BY doc_id
    ),
    gr AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 2 THEN
                      list_transform(range(1, len(toks)),
                                     i -> array_to_string(toks[i:i+1], ' '))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM tk
    ),
    gr_cnt AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM gr GROUP BY doc_id, gram
    ),
    gr_stats AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_grams,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_grams
      FROM gr_cnt GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.top_cnt AS DOUBLE) / t.n_tokens AS top_token_frac,
           CAST(g.n_grams - g.n_distinct_grams AS DOUBLE) / g.n_grams
             AS dup_2gram_frac
    FROM tok_stats t JOIN gr_stats g ON g.doc_id = t.doc_id
    """,
)
def pipeline_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the most
    frequent token's share of all tokens, and the duplicate fraction
    of word 2-grams — the filters that catch boilerplate/spam in a
    training corpus. Shape: two explode→two-level-aggregate branches
    re-joined on doc_id; counts stay integers until one final division,
    so both engines land on identical doubles."""
    d = t(spark, sf_dir, "documents")
    # Lazy pin: both signal branches (token counts, 2-gram counts)
    # explode the same token array — unpinned, each re-tokenized.
    tk = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(
        eager=False
    )
    tok_stats = (
        tk.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_tokens"))
    )
    gr_stats = (
        tk.select("doc_id", F.explode(word_ngrams(F.col("toks"), 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
        )
    )
    return tok_stats.join(gr_stats, "doc_id").select(
        "doc_id",
        (F.col("top_cnt").cast("double") / F.col("n_tokens")).alias(
            "top_token_frac"
        ),
        (
            (F.col("n_grams") - F.col("n_distinct_grams")).cast("double")
            / F.col("n_grams")
        ).alias("dup_2gram_frac"),
    )


_EMAIL_RE = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"


@register(
    "pipeline_pii_redaction",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact: user' || doc_id || '@example.com'
                  ELSE text END AS txt
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           md5(regexp_replace(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'))
             AS redacted_md5
    FROM aug
    """,
)
def pipeline_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact email-like spans (the testdata
    corpus has none, so a deterministic synthetic email is appended to
    every 7th doc — the redaction itself is the operator under test;
    the md5 of the redacted text proves byte-identical output across
    engines). Pure regexp expressions — JVM codegen, no UDF — the
    pattern kept to the regex subset Java and RE2 agree on."""
    d = t(spark, sf_dir, "documents")
    txt = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"), F.lit(" contact: user"), F.col("doc_id"), F.lit("@example.com")
        ),
    ).otherwise(F.col("text"))
    aug = d.select("doc_id", txt.alias("txt"))
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("txt", F.lit(_EMAIL_RE), 0)).cast("long").alias(
            "n_emails"
        ),
        F.md5(F.regexp_replace("txt", _EMAIL_RE, "<EMAIL>")).alias("redacted_md5"),
    )


def _quality_reason_expr() -> "F.Column":
    """The quality gate's first-failing-rule CASE over the metric
    columns (nc, n_tokens, n_distinct, mean_token_len) — shared by
    pipeline_quality_filter and pipeline_source_quality_report so the
    two can never disagree on what 'keep' means."""
    return (
        F.when(F.col("nc") < 100, "too_short")
        .when(F.col("n_tokens") < 20, "too_few_tokens")
        .when(
            (F.col("mean_token_len") < 2.0) | (F.col("mean_token_len") > 12.0),
            "weird_tokens",
        )
        .when(
            F.col("n_distinct").cast("double") / F.col("n_tokens") < 0.3,
            "repetitive",
        )
        .otherwise("keep")
    )


def _cascade_metrics(d: DataFrame) -> DataFrame:
    """The cascade queries' fused per-doc signal projection
    ``(doc_id, lang, source, text, nc, n_tokens, n_distinct,
    mean_token_len, n_sh, n_dup)`` — layered so the token array and the
    3-gram shingle array are each computed ONCE per row. A single flat
    projection inlined the tokenize into every metric (measured: 21
    evaluations per row in the cascade plans — HOFs get no
    common-subexpression elimination); the multiply-referenced
    non-cheap ``__toks``/``__sh`` aliases keep CollapseProject from
    folding the layers back together (guide §1.2 order-2 per-task
    work)."""
    base = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.length("text").alias("nc"),
        tokens("text").alias("__toks"),
    )
    shp = base.select("*", word_ngrams("__toks", 3).alias("__sh"))
    return shp.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "nc",
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct"),
        F.when(
            F.size("__toks") > 0,
            F.aggregate(
                "__toks", F.lit(0), lambda a, w: a + F.length(w)
            ).cast("double")
            / F.size("__toks"),
        ).alias("mean_token_len"),
        F.size("__sh").cast("long").alias("n_sh"),
        (F.size("__sh") - F.size(F.array_distinct("__sh")))
        .cast("long")
        .alias("n_dup"),
    )


def _quality_metrics(d: DataFrame, *extra_cols: str) -> DataFrame:
    """Per-doc quality metric projection feeding _quality_reason_expr
    (one scan, pure per-row expressions).

    The token array is projected ONCE in a sub-projection and the
    metrics reference the column: inlining ``tokens("text")`` into
    each metric re-ran the split per metric (measured: 5 evaluations
    per row in the optimized plan — HOFs get no common-subexpression
    elimination, and CollapseProject keeps the two projections apart
    because the alias is non-cheap and multiply-referenced). One
    interpreted tokenize per row instead of five is a per-task win at
    any scale (guide §1.2 order-2)."""
    sig = d.select(
        "doc_id",
        *extra_cols,
        F.length("text").alias("nc"),
        tokens("text").alias("__toks"),
    )
    return sig.select(
        "doc_id",
        *extra_cols,
        "nc",
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct"),
        F.when(
            F.size("__toks") > 0,
            F.aggregate(
                "__toks", F.lit(0), lambda a, w: a + F.length(w)
            ).cast("double")
            / F.size("__toks"),
        ).alias("mean_token_len"),
    )


@register(
    "pipeline_quality_filter",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, LENGTH(text) AS nc, {_O_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, nc,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                 / len(toks) END AS mean_token_len
      FROM sig
    )
    SELECT doc_id,
           CASE WHEN nc < 100 THEN 'too_short'
                WHEN n_tokens < 20 THEN 'too_few_tokens'
                WHEN mean_token_len < 2.0 OR mean_token_len > 12.0
                  THEN 'weird_tokens'
                WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3
                  THEN 'repetitive'
                ELSE 'keep' END AS reason,
           CASE WHEN nc < 100 THEN false
                WHEN n_tokens < 20 THEN false
                WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN false
                WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3 THEN false
                ELSE true END AS keep
    FROM m
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus quality gate — the one-pass keep/drop decision
    with a first-failing-rule reason (length, token count, token-shape,
    repetition), the filter stage every training pipeline runs before
    dedup. All signals are integer counts until a final division, so
    the rule cuts agree bitwise across engines; one scan, no shuffle
    at all (pure per-row expressions)."""
    d = t(spark, sf_dir, "documents")
    m = _quality_metrics(d)
    reason = _quality_reason_expr()
    return m.select(
        "doc_id", reason.alias("reason"), (reason == "keep").alias("keep")
    )


_PACK_CAP = 2048  # tokens per packed training sequence


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH cnt AS (
      SELECT doc_id, source,
             CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM cnt
    )
    SELECT doc_id, source, n_tokens, start_offset,
           start_offset // {_PACK_CAP} AS first_chunk,
           CASE WHEN n_tokens = 0 THEN start_offset // {_PACK_CAP}
                ELSE (start_offset + n_tokens - 1) // {_PACK_CAP}
           END AS last_chunk
    FROM offs
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents per source
    stream in doc_id order and chunk into fixed {cap}-token training
    windows; emit each doc's token offset and the first/last chunk it
    lands in. The running sum is windowed PER SOURCE — each stream
    packs independently, so the window never needs a global sort and
    the shape holds when one source is 100 TB (shard the stream key
    further, e.g. (source, file), exactly as a real tokenizer-sharder
    does). Integer math only — chunk ids are exact on both engines."""
    d = t(spark, sf_dir, "documents")
    cnt = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnt.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )
    first_chunk = F.expr(f"start_offset div {_PACK_CAP}")
    last_chunk = F.when(F.col("n_tokens") == 0, first_chunk).otherwise(
        F.expr(f"(start_offset + n_tokens - 1) div {_PACK_CAP}")
    )
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        first_chunk.alias("first_chunk"),
        last_chunk.alias("last_chunk"),
    )


#: Documents per (source, shard) in the sharded packer. A real
#: tokenizer-sharder picks the span so shards-per-source stays bounded
#: (n_docs/span rows in the shard-totals table — a few thousand at
#: 100 TB with a production span), which is what keeps phase 2's
#: prefix-sum table small enough for AQE to broadcast on its own.
_PACK_SHARD_SPAN = 64


@register(
    "pipeline_pack_sequences_sharded",
    # Oracle = the per-source SPEC (one window per source stream): the
    # sharded two-phase implementation must be offset-identical to the
    # unsharded semantics — that equivalence is the thing under test.
    oracle=f"""
    WITH cnt AS (
      SELECT doc_id, source,
             doc_id // {_PACK_SHARD_SPAN} AS shard,
             CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM cnt
    )
    SELECT doc_id, source, shard, n_tokens, start_offset,
           start_offset // {_PACK_CAP} AS first_chunk,
           CASE WHEN n_tokens = 0 THEN start_offset // {_PACK_CAP}
                ELSE (start_offset + n_tokens - 1) // {_PACK_CAP}
           END AS last_chunk
    FROM offs
    """,
)
def pipeline_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with (source, shard) SUB-SHARDED offsets — the
    shape that holds when ONE source stream is 100 TB (the per-source
    window of pipeline_pack_sequences would funnel that stream through
    a single task). Shard = doc_id div span: contiguous in pack order,
    so offsets compose in two phases — (1) running sum WITHIN each
    (source, shard) partition, (2) per-shard token totals prefix-summed
    per source over a shards-per-source-sized table (bounded by the
    span choice; AQE broadcasts it back — no hint, per the broadcast
    lint) and added to the within-shard offsets. Integer math only, so
    the two-phase result is bit-identical to the one-window spec — and
    the oracle IS the one-window spec, proving the equivalence."""
    d = t(spark, sf_dir, "documents")
    cnt = d.select(
        "doc_id",
        "source",
        # integer `div`, NOT double `/`+cast: float division truncates
        # toward zero for negative ids and loses exactness above 2^53
        F.expr(f"doc_id div {_PACK_SHARD_SPAN}").alias("shard"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w_in = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = cnt.withColumn(
        "within_offset",
        F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long"),
    )
    totals = cnt.groupBy("source", "shard").agg(
        F.sum("n_tokens").alias("__shard_tokens")
    )
    w_pre = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.withColumn(
        "shard_prefix",
        F.coalesce(F.sum("__shard_tokens").over(w_pre), F.lit(0)).cast("long"),
    ).select("source", "shard", "shard_prefix")
    offs = within.join(prefix, ["source", "shard"]).withColumn(
        "start_offset", (F.col("shard_prefix") + F.col("within_offset")).cast("long")
    )
    first_chunk = F.expr(f"start_offset div {_PACK_CAP}")
    last_chunk = F.when(F.col("n_tokens") == 0, first_chunk).otherwise(
        F.expr(f"(start_offset + n_tokens - 1) div {_PACK_CAP}")
    )
    return offs.select(
        "doc_id",
        "source",
        "shard",
        "n_tokens",
        "start_offset",
        first_chunk.alias("first_chunk"),
        last_chunk.alias("last_chunk"),
    )


#: md5-derived uniform in [0, 1) keyed by doc_id — same construction
#: as queries/vectors.py's _O_T32 (32 bits / 2^32; identical bits in
#: both engines: same hash, one IEEE division of identical operands).
_O_DOC_U32 = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0)"
)


@register(
    "pipeline_mixture_sample",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
      FROM tk GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(lang_tokens) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM g
    ),
    rates AS (
      SELECT g.lang,
             LEAST(1.0, (tot.total / tot.n_langs) / g.lang_tokens) AS rate
      FROM g CROSS JOIN tot
    ),
    keyed AS (
      SELECT t.doc_id, t.lang, t.n_tokens, r.rate,
             {_O_DOC_U32} AS u
      FROM tk t JOIN rates r USING (lang)
    )
    SELECT doc_id, lang, n_tokens, rate, u FROM keyed WHERE u < rate
    """,
)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER pipeline_domain_mixture computes the weights:
    actually SAMPLE the rebalanced corpus. Per-language keep-rate =
    min(1, uniform-token-budget / language-tokens); each doc keeps or
    drops by comparing an md5-derived uniform (content-keyed — NO PRNG
    state, so the sample is identical on every run/engine and a
    re-executed failed partition cannot change it, same contract as
    sample_hash_deterministic) against its language's rate. Shape: one
    aggregate for the rates (bounded: one row per language — the
    broadcast side), one map-side filtered pass over the corpus; both
    divisions are single IEEE ops on identical operands, so the kept
    id set is bit-stable cross-engine."""
    d = t(spark, sf_dir, "documents")
    # Lazy pin: tk feeds the per-language rate aggregate AND the keep
    # pass — unpinned, the corpus tokenized once per consumer.
    tk = d.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    g = tk.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    tot = g.agg(
        F.sum("lang_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    rates = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (F.col("total") / F.col("n_langs")) / F.col("lang_tokens"),
        ).alias("rate"),
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    keyed = tk.join(F.broadcast(rates), "lang").select(
        "doc_id", "lang", "n_tokens", "rate", u.alias("u")
    )
    return keyed.filter(F.col("u") < F.col("rate"))


@register(
    "pipeline_domain_mixture",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_O_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS actual_frac,
           (CAST(SUM(n_tokens) OVER () AS DOUBLE)
              / COUNT(*) OVER ()) / n_tokens AS sample_weight
    FROM g
    """,
)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-language token counts and the
    per-doc sampling weight that rebalances the corpus to a uniform
    token budget per language (weight = target_frac / actual_frac) —
    the knob a data-mixture pass turns before sampling a training set.
    One aggregate over the corpus; the corpus-wide totals are a one-row
    aggregate broadcast back onto the tiny per-domain table — no
    global window anywhere."""
    d = t(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_tokens").alias("__total"), F.count(F.lit(1)).alias("__n_langs")
    )
    total = F.col("__total")
    n_langs = F.col("__n_langs")
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total).alias("actual_frac"),
        ((total.cast("double") / n_langs) / F.col("n_tokens")).alias(
            "sample_weight"
        ),
    )


#: Quality-gate keep predicate as one SQL CASE (the same 4 rules as
#: pipeline_quality_filter's oracle, short-circuiting so no division
#: ever sees a zero token count) — reused as the document population
#: WHERE of the end-to-end pipeline oracle.
_O_KEEP = f"""(CASE WHEN LENGTH(text) < 100 THEN false
       WHEN len({_O_TOKS}) < 20 THEN false
       WHEN (CAST(list_sum(list_transform({_O_TOKS}, x -> LENGTH(x)))
                  AS DOUBLE) / len({_O_TOKS})) < 2.0 THEN false
       WHEN (CAST(list_sum(list_transform({_O_TOKS}, x -> LENGTH(x)))
                  AS DOUBLE) / len({_O_TOKS})) > 12.0 THEN false
       WHEN CAST(len(list_distinct({_O_TOKS})) AS DOUBLE)
              / len({_O_TOKS}) < 0.3 THEN false
       ELSE true END)"""


def _end_to_end_oracle(cap: int) -> str:
    """DuckDB twin of the WHOLE training-data pipeline: quality gate →
    guarded banded-LSH pairs → recursive min-label components → ranked
    keeper → per-source packed offsets — every stage is a CTE already
    proven by its standalone query's oracle, chained into one
    statement so the composition itself (filter feeding dedup feeding
    packing) is what gets hash-checked."""
    return f"""
    WITH RECURSIVE {_minhash_md5_ctes(where=_O_KEEP)},
    sized AS (
      SELECT doc_id, band_idx, band_key,
             COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bn
      FROM banded
    ),
    kept AS (
      SELECT doc_id, band_idx, band_key FROM sized WHERE bn <= {cap}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    verts AS (
      SELECT doc_id, n_chars FROM documents WHERE {_O_KEEP}
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM verts
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    ),
    ranked AS (
      SELECT c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY v.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN verts v USING (doc_id)
    ),
    keepers AS (SELECT doc_id FROM ranked WHERE rn = 1),
    ktk AS (
      SELECT d.doc_id, d.source, CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
      FROM documents d JOIN keepers USING (doc_id)
    ),
    offs AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM ktk
    )
    SELECT doc_id, source, n_tokens, start_offset,
           start_offset // {_PACK_CAP} AS first_chunk,
           CASE WHEN n_tokens = 0 THEN start_offset // {_PACK_CAP}
                ELSE (start_offset + n_tokens - 1) // {_PACK_CAP}
           END AS last_chunk
    FROM offs
    """


@register("pipeline_end_to_end", oracle=_end_to_end_oracle(_KEEPER_LSH_CAP))
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE WHOLE PIPELINE as one query — what a 100 TB training-data
    run actually executes, composed from the registered scale paths:

      1. quality gate (pipeline_quality_filter's one-pass rules),
      2. near-dup dedup on the survivors: guarded banded MinHash LSH
         (hot buckets cut pre-join) → distributed connected
         components → one keeper per cluster (longest text, lowest
         id),
      3. sequence packing of the keepers: per-source running token
         offsets → training-chunk spans.

    Every stage alone is oracle-proven elsewhere; THIS oracle chains
    them into one statement, so the hash also checks the hand-offs
    (the filter population feeding the band join, the keeper set
    feeding the offsets) — the places where real pipelines silently
    lose or duplicate documents. Scale shape: no stage introduces
    anything beyond its standalone plan (guarded equi-join, per-
    round bounded CC shuffles, one per-source window; the sharded
    pack variant is the drop-in when one source stream outgrows a
    task)."""
    d = t(spark, sf_dir, "documents")
    # Lazy pin: the keep filter otherwise pushes the whole quality
    # CASE (9 tokenize evaluations) below the metric projection, and
    # the kept relation feeds three consumers (band join, CC vertex
    # set, keeper ranking) that each re-ran the gate from the scan.
    kept_ids = (
        pipeline_quality_filter(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    kept = d.join(kept_ids, "doc_id")
    edges = minhash_lsh_pairs(
        kept,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        base_hash="md5",
        band_key="concat",
        max_bucket_size=_KEEPER_LSH_CAP,
    ).filter(F.col("id_a").isNotNull())  # drop the all-skipped sentinel
    keepers = _keepers(edges, kept).filter("is_keeper").select("doc_id")
    ktk = keepers.join(d, "doc_id").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = ktk.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w_off), F.lit(0)).cast("long"),
    )
    first_chunk = F.expr(f"start_offset div {_PACK_CAP}")
    last_chunk = F.when(F.col("n_tokens") == 0, first_chunk).otherwise(
        F.expr(f"(start_offset + n_tokens - 1) div {_PACK_CAP}")
    )
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        first_chunk.alias("first_chunk"),
        last_chunk.alias("last_chunk"),
    )


@register(
    "pipeline_lm_quality_score",
    # Laplace-smoothed unigram LM scored per document, every stage in
    # SQL: reference counts → min-count vocabulary → 1-row totals →
    # token-level log prob (OOV bucket) → per-doc mean. The log-prob
    # doubles are quantized to DECIMAL(18,6) BEFORE the per-doc sum
    # (the repo float policy: order-independent, engine-exact), and
    # the mean is emitted as a half-up milli-nat integer.
    oracle=f"""
    WITH ref AS (
      SELECT unnest({_O_TOKS}) AS tok FROM documents WHERE doc_id % 5 = 0
    ),
    vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ref
      GROUP BY tok HAVING COUNT(*) >= 2
    ),
    tot AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_cov,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM vocab
    ),
    tk AS (
      SELECT doc_id, unnest({_O_TOKS}) AS tok FROM documents
    ),
    lp AS (
      SELECT t.doc_id,
             CAST(ln(CAST(COALESCE(v.c, 0) + 1 AS DOUBLE)
                     / (tot.n_cov + tot.v + 1))
                  AS DECIMAL(18,6)) AS lp
      FROM tk t CROSS JOIN tot LEFT JOIN vocab v ON v.tok = t.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1000.0 + 0.5)
                AS BIGINT) AS mean_logprob_milli
    FROM lp
    GROUP BY doc_id
    """,
)
def pipeline_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (the CCNet-style signal: documents
    whose tokens are improbable under a reference-corpus language
    model are boilerplate/noise candidates) — here a Laplace-smoothed
    UNIGRAM model so the entire train+score pipeline stays in exact
    SQL-checkable arithmetic:

    - TRAIN: token counts over the reference slice (doc_id % 5 = 0),
      vocabulary = tokens seen ≥ 2 times (a count threshold, not a
      top-K global window — no single-task stage anywhere),
    - SCORE: every document's mean token log-probability, OOV tokens
      smoothed into one Laplace bucket; ln() is the one transcendental
      and its per-token result is quantized to DECIMAL(18,6) before
      the order-sensitive sum (float policy), the mean emitted as a
      half-up milli-nat integer.

    Scale shape: explode → count (map-side combined), the vocabulary
    join is a plain equi-join AQE is free to broadcast (no hint —
    vocabulary grows with the corpus, exactly the text_tfidf lesson),
    the corpus totals ride a 1-row broadcast. Docs with zero tokens
    have no probability and are absent from the output (same rows on
    both engines)."""
    d = t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 5 == 0).select(
        F.explode(tokens("text")).alias("tok")
    )
    # Lazy pin: vocab feeds the 1-row totals AND the scoring join —
    # unpinned, the reference cohort tokenized once per consumer.
    vocab = (
        ref.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .localCheckpoint(eager=False)
    )
    tot = vocab.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_cov"),
        F.count(F.lit(1)).alias("v"),
    )
    tk = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    lp = (
        tk.crossJoin(F.broadcast(tot))
        .join(vocab, "tok", "left")
        .select(
            "doc_id",
            (
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_cov") + F.col("v") + 1)
                )
            ).cast("decimal(18,6)").alias("lp"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.floor(
            (F.sum("lp").cast("double") / F.count(F.lit(1))) * 1000.0 + 0.5
        ).cast("long").alias("mean_logprob_milli"),
    )


_SPAN_N = 8  # span length in tokens (the dedup-span granularity knob)


@register(
    "pipeline_span_dedup_coverage",
    # Cross-document duplicated-span coverage, every stage in SQL:
    # positioned n-grams via list slicing → md5 span key → spans seen
    # in ≥2 distinct docs → per-token coverage union → per-doc counts.
    # Pure integer arithmetic throughout (permille via integer
    # floor-division) — no float policy needed.
    oracle=f"""
    WITH tkd AS (
      SELECT doc_id, {_O_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(unnest(range(1, len(toks) - {_SPAN_N} + 2)) AS BIGINT) - 1
               AS pos,
             toks
      FROM tkd
    ),
    gk AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos + 1:pos + {_SPAN_N}], ' ')) AS gk
      FROM g
    ),
    dup AS (
      SELECT gk FROM gk GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, cpos FROM (
        SELECT doc_id, pos + unnest(range({_SPAN_N})) AS cpos
        FROM gk WHERE gk IN (SELECT gk FROM dup)
      )
    ),
    ncov AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
      FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           COALESCE(n.n_covered, 0) AS n_covered,
           (COALESCE(n.n_covered, 0) * 1000) // len(t.toks)
             AS covered_permille
    FROM tkd t LEFT JOIN ncov n ON n.doc_id = t.doc_id
    WHERE len(t.toks) > 0
    """,
)
def pipeline_span_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage (the 'Deduplicating Training Data Makes
    Language Models Better' signal): for every document, how many of
    its tokens sit inside an N-token span that also occurs VERBATIM in
    at least one OTHER document. Cross-doc only — within-doc repetition
    is `pipeline_repetition_signals`' job. Downstream use: drop or trim
    docs whose covered_permille exceeds a policy threshold.

    Stage shape, 100 TB view:

    - positioned spans come from ONE array slice expression per doc
      (`transform(sequence(...), i -> slice(toks, i+1, N))`) — whole
      doc stays in its task, no window, no shuffle, full codegen;
    - spans travel as md5 keys, so the duplicate-count shuffle carries
      32 hex chars per span regardless of N (128-bit collisions are
      below data-corruption rates — same contract as the minhash/md5
      band keys);
    - `count(distinct doc_id) >= 2` is a plain hash aggregate on the
      span key; the dup-key set joins back as an equi-join AQE may
      broadcast when small (no hint — duplicated-span cardinality
      grows with the corpus);
    - coverage is `explode(sequence(pos, pos+N-1))` + distinct — both
      partition on doc_id-carrying keys, linear in tokens × N.

    Docs with zero tokens have no spans and no denominator and are
    absent from the output (same rows on both engines)."""
    d = t(spark, sf_dir, "documents")
    # Lazy pins: tkd feeds the span stage AND the final denominator
    # join, gk feeds the duplicate census AND the coverage join —
    # unpinned, each consumer re-ran the tokenize (and the span
    # transform) from the scan.
    tkd = (
        d.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .localCheckpoint(eager=False)
    )
    gk = tkd.filter(F.size("toks") >= _SPAN_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {_SPAN_N}),"
                f" i -> struct(CAST(i AS BIGINT) AS pos,"
                f" md5(array_join(slice(toks, i + 1, {_SPAN_N}), ' ')) AS gk))"
            )
        ).alias("pg"),
    ).select(
        "doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gk").alias("gk")
    ).localCheckpoint(eager=False)
    dup = (
        gk.groupBy("gk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gk")
    )
    cov = (
        gk.join(dup, "gk")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + _SPAN_N - 1)
            ).alias("cpos"),
        )
        .distinct()
    )
    ncov = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_covered"))
    return (
        tkd.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(ncov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            F.expr("(coalesce(n_covered, 0) * 1000) div n_tokens").alias(
                "covered_permille"
            ),
        )
    )


def _scrub_kept(tkd: DataFrame, cov: DataFrame) -> DataFrame:
    """Shared scrub core: per document, the surviving token array after
    dropping the flagged ``(c_doc_id, cpos)`` token positions — all of
    ``tkd``'s columns plus ``__kept`` (order preserved).

    Shape: the flagged positions fold to ONE bounded set-array per doc
    (collect_set absorbs duplicate flags, so callers need no pre-
    distinct), one doc_id equi-join, and a per-row array filter on the
    position index. This replaces the old posexplode → (doc_id, pos)
    anti-join → collect/sort reassembly aggregate: the corpus never
    explodes to token-level rows (the old shuffle carried one row PER
    TOKEN; this one carries one row per flagged doc — guide §2.3
    shuffle fewer bytes, §2.4 remove shuffles), and the per-doc
    re-sort disappears because array order already is document order.
    Rows identical: filtering positions ∉ cov ≡ anti-joining them,
    and ``filter`` preserves the survivors' relative order."""
    cov_arr = cov.groupBy(F.col("c_doc_id").alias("doc_id")).agg(
        F.collect_set("cpos").alias("__cov")
    )
    kept = F.when(F.col("__cov").isNull(), F.col("toks")).otherwise(
        F.expr(
            "filter(toks, (__t, __i) ->"
            " NOT array_contains(__cov, CAST(__i AS BIGINT)))"
        )
    )
    return (
        tkd.join(cov_arr, "doc_id", "left")
        .select("*", kept.alias("__kept"))
        .drop("__cov")
    )


def _scrub_output(k: DataFrame) -> DataFrame:
    """Shared scrub tail over :func:`_scrub_kept` rows: emit each
    document as its space-joined surviving tokens, in original order —
    ``(doc_id, n_tokens, n_removed, clean_text)``. Zero-token and
    fully-scrubbed docs come out with ``clean_text = ''`` (an empty
    array joins to the empty string)."""
    return k.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("__kept")).cast("long").alias("n_removed"),
        F.array_join("__kept", " ").alias("clean_text"),
    )


def _scrub_reassemble(tkd: DataFrame, cov: DataFrame) -> DataFrame:
    """:func:`_scrub_output` ∘ :func:`_scrub_kept`."""
    return _scrub_output(_scrub_kept(tkd, cov))


#: DuckDB twin of _scrub_reassemble, parameterized on the CTE names:
#: expects `tkd(doc_id, toks)` (the docs to scrub) and
#: `cov(doc_id, cpos)` (flagged 0-based token positions) to be defined
#: upstream in the WITH chain.
_O_SCRUB_TAIL = """
    tokv AS (
      SELECT doc_id,
             CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) - 1 AS pos,
             toks
      FROM tkd
    ),
    tok AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM tokv),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM tok t
      ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.cpos = t.pos
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(len(d.toks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM tkd d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


#: The full contamination-scrub statement (also embedded as a
#: subquery by pipeline_scrubbed_pack's composite oracle).
_O_CONTAMINATION_SCRUB = f"""
    WITH alltk AS (
      SELECT doc_id, source, {_O_TOKS} AS toks FROM documents
    ),
    bench AS (
      SELECT DISTINCT array_to_string(toks[i:i + 2], ' ') AS g
      FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
            FROM alltk WHERE source = 'src0')
    ),
    tkd AS (SELECT doc_id, toks FROM alltk WHERE source <> 'src0'),
    gr AS (
      SELECT doc_id, pos, array_to_string(toks[pos + 1:pos + 3], ' ') AS g
      FROM (SELECT doc_id,
                   CAST(unnest(range(1, len(toks) - 1)) AS BIGINT) - 1 AS pos,
                   toks
            FROM tkd)
    ),
    cov AS (
      SELECT DISTINCT doc_id, cpos FROM (
        SELECT doc_id, pos + unnest(range(3)) AS cpos
        FROM gr WHERE g IN (SELECT g FROM bench)
      )
    ),
    {_O_SCRUB_TAIL}
"""


@register(
    "pipeline_contamination_scrub",
    oracle=_O_CONTAMINATION_SCRUB,
)
def pipeline_contamination_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, the APPLY step: where
    `pipeline_contamination_check` only flags corpus docs sharing a
    word 3-gram with the benchmark set (source = src0), this emits the
    cleaned corpus — every token inside a contaminated 3-gram window
    removed, the survivors re-joined into `clean_text` in original
    order (the span-removal decontamination used for eval suites,
    rather than dropping whole documents and losing their clean
    remainder).

    Scale shape: the benchmark 3-gram set is an eval suite — bounded
    by construction, NOT corpus-scaled — so it rides a broadcast
    (allowlisted); corpus grams are positioned by one array-slice
    transform per doc (codegen, no window); flagged positions explode
    to at most 3 rows per hit; the anti-join and the reassembly
    aggregate both partition on doc_id. Zero-token and fully-scrubbed
    docs stay in the output with clean_text = '' (the doc survives
    with its remainder — even an empty one — on both engines)."""
    k = _contamination_kept(spark, sf_dir)
    return _scrub_output(k)


def _contamination_kept(
    spark: SparkSession, sf_dir: str, with_source: bool = False
) -> DataFrame:
    """The contamination scrub's shared core — :func:`_scrub_kept` rows
    ``(doc_id[, source], toks, __kept)`` for the non-benchmark corpus,
    with every token inside a benchmark-shared 3-gram flagged out of
    ``__kept``. Shared by the registered scrub (which reassembles
    ``clean_text``) and by pipeline_scrubbed_pack (which needs only the
    surviving tokens' counts — guide §2.3: compute the decision
    quantities from the survivors directly instead of reassembling a
    string and re-tokenizing it)."""
    d = t(spark, sf_dir, "documents")
    # Fan out before the CPU-bound tokenize and cut lineage after it —
    # the same pin as pipeline_contamination_check's shingle table:
    # the benchmark branch, the positioned-gram branch, and the
    # scrub-core join otherwise EACH re-run the tokenize (no
    # cross-branch subplan reuse; measured 16 tokenize evaluations in
    # the downstream scrubbed-pack plan, 4 after the pin).
    # localCheckpoint, NOT persist(): a persisted plan is registered in
    # the CacheManager and an IDENTICAL plan built by the next bench
    # rep (or the sibling registered query) would silently reuse the
    # cached tokenize — cross-invocation result reuse, which the bench
    # contract forbids. The lineage-loss trade-off (executor loss ⇒
    # query retry) is accepted and documented in OPTIMIZATION_r14.md.
    n_part = spark.sparkContext.defaultParallelism
    alltk = (
        d.repartition(n_part, F.col("doc_id"))
        .select("doc_id", "source", tokens("text").alias("toks"))
        .localCheckpoint(eager=False)
    )
    bench = (
        alltk.filter(F.col("source") == "src0")
        .select(
            F.explode(word_ngrams(F.col("toks"), 3)).alias("g")
        )
        .distinct()
    )
    cols = ["doc_id", "source", "toks"] if with_source else ["doc_id", "toks"]
    tkd = alltk.filter(F.col("source") != "src0").select(*cols)
    gr = tkd.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> struct(CAST(i AS BIGINT) AS pos,"
                " array_join(slice(toks, i + 1, 3), ' ') AS g))"
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    # Same bounded-benchmark broadcast contract as
    # pipeline_contamination_check (see its docstring + the lint
    # allowlist): the hinted side is the eval suite, never the corpus.
    # No pre-distinct on the flagged positions: _scrub_kept's
    # collect_set dedups per doc, saving the (doc_id, cpos) exchange.
    cov = gr.join(F.broadcast(bench), "g").select(
        F.col("doc_id").alias("c_doc_id"),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("cpos"),
    )
    return _scrub_kept(tkd, cov)


@register(
    "pipeline_span_scrub",
    oracle=f"""
    WITH tkd AS (
      SELECT doc_id, {_O_TOKS} AS toks FROM documents
    ),
    gk AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos + 1:pos + {_SPAN_N}], ' ')) AS gk
      FROM (SELECT doc_id,
                   CAST(unnest(range(1, len(toks) - {_SPAN_N} + 2)) AS BIGINT)
                     - 1 AS pos,
                   toks
            FROM tkd)
    ),
    dup AS (
      SELECT gk FROM gk GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, cpos FROM (
        SELECT doc_id, pos + unnest(range({_SPAN_N})) AS cpos
        FROM gk WHERE gk IN (SELECT gk FROM dup)
      )
    ),
    {_O_SCRUB_TAIL}
    """,
)
def pipeline_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal, the APPLY step paired with
    `pipeline_span_dedup_coverage`: every token inside an N-token span
    that occurs verbatim in at least one OTHER document is removed
    from ALL documents carrying it, and the survivors re-join into
    `clean_text` (the span-level dedup action — no doc is dropped, the
    duplicated boilerplate is cut out of each).

    Same stage shapes as the coverage query (positioned spans from one
    array-slice transform, md5 span keys on the duplicate-count
    shuffle, unhinted dup-set join) composed with the shared
    doc_id-partitioned scrub tail. Docs with zero tokens or below the
    span window pass through unmodified (clean_text = original
    tokens)."""
    d = t(spark, sf_dir, "documents")
    # Same lazy pin as the coverage twin: tkd feeds the span stage and
    # the reassembly tail.
    tkd = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(
        eager=False
    )
    gk = tkd.filter(F.size("toks") >= _SPAN_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {_SPAN_N}),"
                f" i -> struct(CAST(i AS BIGINT) AS pos,"
                f" md5(array_join(slice(toks, i + 1, {_SPAN_N}), ' ')) AS gk))"
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gk").alias("gk"))
    dup = (
        gk.groupBy("gk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gk")
    )
    # No pre-distinct on the flagged positions: _scrub_kept's
    # collect_set dedups per doc, saving the (doc_id, cpos) exchange.
    cov = gk.join(dup, "gk").select(
        F.col("doc_id").alias("c_doc_id"),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + _SPAN_N - 1)
        ).alias("cpos"),
    )
    return _scrub_reassemble(tkd, cov)


@register(
    "pipeline_mixture_temperature",
    # Temperature-scaled (alpha = 0.5) domain mixture. sqrt is the ONE
    # transcendental-ish op and it is IEEE-exact-rounded on both
    # engines (unlike pow(x, alpha), whose libm results can differ by
    # an ulp — the reason alpha is hardwired to 0.5 here); its output
    # is quantized to DECIMAL(18,9) before the order-sensitive
    # normalization sum (the repo float policy).
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_O_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM g),
    s AS (
      SELECT lang, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / tot.total AS actual_frac,
             CAST(sqrt(CAST(n_tokens AS DOUBLE) / tot.total)
                  AS DECIMAL(18,9)) AS sd
      FROM g CROSS JOIN tot
    ),
    z AS (SELECT SUM(sd) AS zsum FROM s)
    SELECT lang, n_docs, n_tokens, actual_frac,
           CAST(sd AS DOUBLE) / CAST(z.zsum AS DOUBLE) AS target_frac,
           (CAST(sd AS DOUBLE) / CAST(z.zsum AS DOUBLE)) / actual_frac
             AS sample_weight
    FROM s CROSS JOIN z
    """,
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-LM sampling
    rule: p_l^alpha renormalized, upweighting low-resource domains
    without letting any dominate). alpha is hardwired to 0.5 — sqrt is
    IEEE exact-rounded so both engines produce bit-identical scaled
    masses, where a general pow(p, alpha) is only ~1 ulp reproducible
    across libms; a deployment wanting a different alpha extends this with
    the same quantize-before-sum policy and a tolerance check instead
    of a hash oracle.

    Shape mirror of `pipeline_domain_mixture`: one corpus aggregate to
    the per-language table, then two 1-row aggregates (total tokens,
    normalization constant) broadcast back onto it — the per-language
    table is bounded by language cardinality, never corpus-scaled.
    The sqrt outputs are DECIMAL(18,9)-quantized BEFORE the
    normalization sum so the sum is order-independent."""
    d = t(spark, sf_dir, "documents")
    # Pinned lazily: the per-language table is bounded by language
    # cardinality, and both the 1-row total and the final projection
    # consume it — unpinned, the corpus tokenize+aggregate subtree ran
    # once per consumer.
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    tot = g.agg(F.sum("n_tokens").cast("double").alias("__total"))
    s = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__total")).alias(
            "actual_frac"
        ),
        F.sqrt(F.col("n_tokens").cast("double") / F.col("__total"))
        .cast("decimal(18,9)")
        .alias("sd"),
    )
    z = s.agg(F.sum("sd").alias("__zsum"))
    return s.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "actual_frac",
        (F.col("sd").cast("double") / F.col("__zsum").cast("double")).alias(
            "target_frac"
        ),
        (
            (F.col("sd").cast("double") / F.col("__zsum").cast("double"))
            / F.col("actual_frac")
        ).alias("sample_weight"),
    )


@register(
    "pipeline_source_overlap",
    # Source-by-source shared-content matrix in SQL: normalized
    # content key → distinct (key, source) → within-key source pairs
    # (ordered a < b) → per-pair distinct-content counts. Pure
    # integer/string arithmetic.
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT source,
             md5(array_to_string({_O_TOKS}, ' ')) AS ck
      FROM documents WHERE len({_O_TOKS}) > 0
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_contents
    FROM h a JOIN h b ON a.ck = b.ck AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def pipeline_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (the provenance/governance
    signal: which sources mirror each other's content, and how much) —
    for every ordered source pair (src_a < src_b), the number of
    distinct normalized document contents present in BOTH. Downstream
    use: pick a canonical source per mirrored pair before dedup, or
    drop a source that is a strict subset of another.

    Shape: content identity is one md5 over the normalized token
    stream (same normalization as exact content dedup), deduplicated
    to distinct (content, source) BEFORE the pair stage, so the
    self-equi-join on the content key fans out at most
    |sources|-per-key — bounded by source cardinality, never by how
    many times a content repeats inside a source. The join and the
    final aggregate both shuffle on bounded-width keys (32-hex md5,
    source names); zero-token docs are excluded (an empty content
    string is not 'shared content')."""
    d = t(spark, sf_dir, "documents")
    # Layered: token array once, then the content key and the
    # zero-token gate reference the column (the flat form re-tokenized
    # for the md5, the filter, and each downstream branch).
    h = (
        d.select("source", tokens("text").alias("__toks"))
        .select(
            "source",
            F.md5(F.array_join("__toks", " ")).alias("ck"),
            F.size("__toks").alias("__nt"),
        )
        .filter(F.length("ck").isNotNull() & (F.col("__nt") > 0))
        .select("source", "ck")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # ^ lazy pin: both sides of the pair self-join consume h —
    # unpinned, the content-key derivation ran once per side.
    a = h.select(F.col("ck"), F.col("source").alias("src_a"))
    b = h.select(F.col("ck"), F.col("source").alias("src_b"))
    return (
        a.join(b, "ck")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_contents"))
    )


_STRAT_K = 50  # per-stratum sample budget


@register(
    "pipeline_stratified_sample",
    # Deterministic per-language top-k by content-keyed hash rank —
    # the whole selection is one QUALIFY-style window DuckDB replays
    # exactly (md5 over the stringified id is engine-identical, and
    # the trailing doc_id order key makes the rank total even under
    # hash collisions).
    oracle=f"""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {_STRAT_K}
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: exactly K documents per
    language, chosen by md5-of-id rank — the 'carve a fixed eval/dev
    set per stratum' step. Content-keyed and PRNG-free like
    `pipeline_mixture_sample` (same contract: identical on every
    run/engine, re-executed partitions cannot change the pick), but
    with an EXACT per-stratum count where the rate-based sampler only
    hits its budget in expectation.

    Scale shape: row_number over (lang) would naively stream whole
    languages through single tasks, but the `rank <= K` filter
    compiles to WindowGroupLimit (Spark takes per-PARTITION top-K
    before the lang shuffle), so the exchange carries at most
    K rows per (language, input partition) — the same plan shape the
    ANN top-k relies on. The trailing doc_id order key keeps the rank
    total under md5 collisions."""
    from process_spark.operators.relational import topk_per_group

    d = t(spark, sf_dir, "documents")
    ranked = topk_per_group(
        d.select("doc_id", "lang"),
        ["lang"],
        [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
        _STRAT_K,
        rank_col="sample_rank",
        keep_rank=True,
    )
    return ranked.select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


@register(
    "pipeline_source_quality_report",
    # Per-source audit card, all counts integers: doc/token/BPE-token
    # totals, quality-gate pass count (the same CASE as
    # pipeline_quality_filter's oracle), exact-duplicate membership
    # (content md5 seen >= 2 times corpus-wide).
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             LENGTH(text) AS nc,
             {_O_TOKS} AS toks,
             CAST(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
               AS BIGINT) AS n_bpe,
             {_O_KEEP} AS keep,
             md5(array_to_string({_O_TOKS}, ' ')) AS ck
      FROM documents
    ),
    dup AS (
      SELECT ck FROM base WHERE len(toks) > 0
      GROUP BY ck HAVING COUNT(*) >= 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_pass,
           CAST(SUM(CASE WHEN len(toks) > 0
                          AND ck IN (SELECT ck FROM dup)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
    FROM base GROUP BY source
    """,
)
def pipeline_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data audit card — the governance table a pipeline
    owner reads before deciding which sources to keep, reweight, or
    re-crawl: document/word-token/BPE-token budgets, how many docs
    clear the quality gate (the SAME first-failing-rule predicate as
    `pipeline_quality_filter`, via the shared helper), and how many
    participate in an exact-duplicate group corpus-wide.

    Shape: one metric projection per doc (scan-fused, no UDF), one
    hash aggregate on the content key for the duplicate census, one
    equi-join to mark members (AQE may broadcast the dup-key set — no
    hint, duplicate cardinality grows with the corpus), one final
    per-source aggregate. Zero-token docs count toward docs/tokens but
    can never be 'exact duplicates' of each other (an empty token
    stream is not shared content — same rule as
    pipeline_source_overlap)."""
    d = t(spark, sf_dir, "documents")
    # ONE fused projection — joining separate metric/content
    # projections of the same table back on doc_id would shuffle the
    # whole corpus for nothing.
    base = _quality_metrics(
        d.withColumn("n_bpe", bpe_token_count(F.col("text")).cast("long"))
        .withColumn("ck", F.md5(F.array_join(tokens("text"), " "))),
        "source",
        "n_bpe",
        "ck",
    ).select(
        "*",
        (_quality_reason_expr() == "keep").alias("keep"),
        (F.col("n_tokens") > 0).alias("has_toks"),
    ).localCheckpoint(eager=False)
    # ^ lazy pin: base feeds the duplicate census AND the marked join;
    # unpinned, the metric/content projection (tokenize + BPE count +
    # md5) ran once per consumer, and the has_toks filter pushdown
    # re-inlined the token expression below the projection.
    dup = (
        base.filter(F.col("has_toks"))
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("ck", F.lit(True).alias("is_dup"))
    )
    marked = base.join(dup, "ck", "left")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias(
            "n_quality_pass"
        ),
        F.sum(
            F.when(F.col("has_toks") & F.col("is_dup").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_exact_dup"),
    )


@register(
    "pipeline_scrubbed_pack",
    # Composite: the contamination-scrub statement rides verbatim as a
    # subquery; the quality CASE and the packing window then run over
    # the CLEANED text — the hash checks the hand-offs (scrubbed token
    # streams feeding the gate, the gate's survivors feeding the
    # offsets), not just each stage alone.
    oracle=f"""
    WITH scrubbed AS (
      SELECT * FROM ({_O_CONTAMINATION_SCRUB})
    ),
    q AS (
      SELECT s.doc_id, d.source, s.clean_text AS text
      FROM scrubbed s JOIN documents d ON d.doc_id = s.doc_id
    ),
    kept AS (
      SELECT doc_id, source, CAST(len({_O_TOKS}) AS BIGINT) AS n_tokens
      FROM q WHERE {_O_KEEP}
    ),
    offs AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM kept
    )
    SELECT doc_id, source, n_tokens, start_offset,
           start_offset // {_PACK_CAP} AS first_chunk,
           CASE WHEN n_tokens = 0 THEN start_offset // {_PACK_CAP}
                ELSE (start_offset + n_tokens - 1) // {_PACK_CAP}
           END AS last_chunk
    FROM offs
    """,
)
def pipeline_scrubbed_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminate-then-pack: the training-set build a benchmark-
    hygiene-conscious pipeline runs — contamination scrub (every
    token inside a benchmark-shared 3-gram removed), quality gate
    re-evaluated on the CLEANED text (a doc that was mostly benchmark
    contamination now fails too_short/too_few_tokens — exactly the
    intended behavior), and sequence packing of the survivors' cleaned
    token counts. Complements `pipeline_end_to_end` (quality → dedup →
    pack on raw text): here the scrub CHANGES the text between stages,
    so the oracle's hash proves the cleaned token streams — not the
    originals — are what the gate and the offsets consume.

    Scale shape: union of the component queries' shapes (bounded
    benchmark broadcast, doc_id-partitioned scrub core, per-source
    packing window — the sharded pack variant composes the same way
    when one source outgrows a task). The gate metrics are computed
    DIRECTLY from the scrub core's surviving-token arrays (guide §2.3
    / §1.2 order-1: the pack decision needs only counts, so the
    reassembled clean_text string — which the old chain built with a
    corpus-wide posexplode + anti-join + collect/sort aggregate, only
    to re-tokenize it — is never materialized here). Metric identities
    vs the clean-text form: tokens(array_join(kept, ' ')) == kept
    (every survivor is a tokens() output — lowercase, non-empty, no
    separator chars — so the join/re-split round-trips exactly);
    LENGTH(clean_text) == Σ len(tok) + (n − 1) for n > 0 and 0 for
    n = 0; the distinct/mean forms read the same array."""
    k = _contamination_kept(spark, sf_dir, with_source=True)
    base = k.select(
        "doc_id",
        "source",
        F.size("__kept").alias("__nt"),
        F.size(F.array_distinct("__kept")).alias("n_distinct"),
        F.aggregate(
            "__kept", F.lit(0), lambda a, w: a + F.length(w)
        ).alias("__sumlen"),
    )
    # Lazy pin between the metric projection and the gate filter:
    # predicate pushdown otherwise substitutes the metric aliases into
    # the filter CASE, re-running the array aggregates per rule BELOW
    # the projection (the guide-§4.4 double-evaluation pattern, with
    # interpreted HOFs instead of a UDF). The pinned relation is the
    # narrow per-doc metric table — no text or array column.
    m = base.select(
        "doc_id",
        "source",
        F.when(F.col("__nt") > 0, F.col("__sumlen") + F.col("__nt") - 1)
        .otherwise(F.lit(0))
        .alias("nc"),
        F.col("__nt").alias("n_tokens"),
        "n_distinct",
        F.when(
            F.col("__nt") > 0,
            F.col("__sumlen").cast("double") / F.col("__nt"),
        ).alias("mean_token_len"),
    ).localCheckpoint(eager=False)
    kept = m.filter(_quality_reason_expr() == "keep").select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = kept.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {_PACK_CAP}").alias("first_chunk"),
        F.when(
            F.col("n_tokens") == 0,
            F.expr(f"start_offset div {_PACK_CAP}"),
        )
        .otherwise(
            F.expr(f"(start_offset + n_tokens - 1) div {_PACK_CAP}")
        )
        .alias("last_chunk"),
    )


@register(
    "pipeline_dedup_cluster_stats",
    # The keeper-chain statement rides verbatim as a subquery; the
    # stats are two integer aggregates over its component labels —
    # so this report is hash-checked against the exact same dedup
    # graph the keeper query writes out.
    oracle=f"""
    WITH k AS (SELECT * FROM ({_keeper_lsh_oracle(_KEEPER_LSH_CAP)})),
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM k GROUP BY component
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_redundant
    FROM sizes GROUP BY cluster_size
    """,
)
def pipeline_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus — the report a pipeline owner
    reads BEFORE deciding dedup policy: for each duplicate-cluster
    size, how many clusters exist, how many documents they hold, and
    how many of those are redundant (size − 1 per cluster — what a
    keep-one policy would delete). Built on the registered
    guarded-LSH keeper chain's component labels (the same dedup graph
    `pipeline_dedup_keeper_lsh` writes out), plus two integer
    aggregates — cluster_size is bounded by the guard cap's reach, so
    the final histogram is tiny however large the corpus."""
    k = pipeline_dedup_keeper_lsh(spark, sf_dir)
    sizes = k.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("long")
        .alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1))
        .cast("long")
        .alias("n_redundant"),
    )


@register(
    "pipeline_token_budget_report",
    # Exact throughout: counts and sums are integers; the median is
    # the DISCRETE value at row ceil(n/2) under a total order
    # (n_words, doc_id) — the same row in both engines, no
    # interpolation; the corpus share is one IEEE division of
    # identical integer operands, half-up scaled.
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, lang, source,
             CAST(len({_O_TOKS}) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
               AS BIGINT) AS n_pretokens
      FROM documents
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY n_words, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang, source) AS n
      FROM per_doc
    ),
    grp AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS total_words,
             CAST(SUM(n_pretokens) AS BIGINT) AS total_pretokens,
             CAST(MAX(n_words) AS BIGINT) AS max_words,
             CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_words END)
                  AS BIGINT) AS p50_words
      FROM ranked GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_words) AS DOUBLE) AS corpus_words
            FROM per_doc)
    SELECT lang, source, n_docs, total_words, total_pretokens,
           max_words, p50_words,
           CAST(FLOOR(CAST(total_words AS DOUBLE) / tot.corpus_words
                      * 1000000.0 + 0.5) AS BIGINT) AS share_e6
    FROM grp CROSS JOIN tot
    """,
)
def pipeline_token_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget planning report — the table a training-mixture
    designer reads before setting sampling weights: per (lang, source),
    document count, total word tokens, total GPT-2-style pretokenizer
    pieces (the 'roughly how many LLM tokens' budget), the max and
    DISCRETE median per-doc length, and each group's share of the
    corpus word budget (ppm). All integer arithmetic end to end —
    the median is the value at row ceil(n/2) under (n_words, doc_id),
    not an interpolation, so the whole report hash-matches.

    Scale shape: one scan computes both per-doc counts as codegen'd
    projections (no UDF, no explode — F.size over the split arrays);
    the per-group window is partitioned by (lang, source); the corpus
    total is a 1-row broadcast. Nothing is corpus-sized downstream of
    the scan."""
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens("text")).cast("long").alias("n_words"),
        bpe_token_count(F.col("text")).cast("long").alias("n_pretokens"),
    )
    wrk = Window.partitionBy("lang", "source").orderBy("n_words", "doc_id")
    wn = Window.partitionBy("lang", "source")
    ranked = per_doc.withColumn("rn", F.row_number().over(wrk)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    grp = ranked.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_pretokens").cast("long").alias("total_pretokens"),
        F.max("n_words").cast("long").alias("max_words"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("n_words")
            )
        ).cast("long").alias("p50_words"),
    )
    tot = per_doc.agg(
        F.sum("n_words").cast("double").alias("corpus_words")
    )
    return grp.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "total_words",
        "total_pretokens",
        "max_words",
        "p50_words",
        F.floor(
            F.col("total_words").cast("double")
            / F.col("corpus_words")
            * 1000000.0
            + 0.5
        ).cast("long").alias("share_e6"),
    )


#: PII patterns in the Java-regex / RE2 common subset (no lookaround,
#: no backrefs) so Spark's regexp_replace and DuckDB's RE2 engine
#: match the SAME spans — the BPE_SPLIT_PATTERN discipline. Scrub
#: order: URL first (contains dots and may contain @-free userinfo),
#: then EMAIL, then IP — the placeholders contain no scrubbable text.
_PII_URL = r"https?://[A-Za-z0-9./_-]+"
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_injected() -> Column:
    """Each doc's text with one planted PII span (doc_id % 3: an email,
    an IPv4 address, a URL) — pure string/integer arithmetic, so the
    oracles replay it exactly (:func:`_o_injected`)."""
    did = F.col("doc_id").cast("string")
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), did,
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"), F.lit(" from host 10."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"), F.lit(" logged"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("text"), F.lit(" see https://host.example/"), did,
                F.lit("/page for details"),
            )
        )
    )


def _pii_spans(txt: Column) -> list[Column]:
    """Per-kind PII span counts of ``txt``: emails, IPs, URLs."""
    return [
        F.size(F.regexp_extract_all(txt, F.lit(p), F.lit(0)))
        for p in (_PII_EMAIL, _PII_IP, _PII_URL)
    ]


def _pii_scrubbed(txt: Column) -> Column:
    """``txt`` with every PII span replaced by its typed placeholder,
    in the order URL → EMAIL → IP."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _PII_URL, "<URL>"), _PII_EMAIL, "<EMAIL>"
        ),
        _PII_IP,
        "<IP>",
    )


def _o_pad(sql: str, pad: int) -> str:
    """``sql`` with its continuation lines indented ``pad`` spaces, so
    one shared oracle fragment splices in at any depth."""
    return sql.replace("\n", "\n" + " " * pad)


def _o_injected(alias: str, pad: int) -> str:
    """DuckDB twin of :func:`_pii_injected`, aliased ``alias``."""
    return _o_pad(
        f"""CASE doc_id % 3
  WHEN 0 THEN text || ' contact user' ||
              CAST(doc_id AS VARCHAR) || '@example.com now'
  WHEN 1 THEN text || ' from host 10.' ||
              CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
              CAST(doc_id % 250 AS VARCHAR) || ' logged'
  ELSE text || ' see https://host.example/' ||
       CAST(doc_id AS VARCHAR) || '/page for details'
END AS {alias}""",
        pad,
    )


def _o_scrubbed(col: str, pad: int) -> str:
    """DuckDB twin of :func:`_pii_scrubbed` (RE2 needs the 'g' flag
    Spark applies implicitly)."""
    return _o_pad(
        f"""regexp_replace(
  regexp_replace(
    regexp_replace({col}, '{_PII_URL}', '<URL>', 'g'),
    '{_PII_EMAIL}', '<EMAIL>', 'g'),
  '{_PII_IP}', '<IP>', 'g')""",
        pad,
    )


@register(
    "pipeline_pii_scrub",
    # The injection AND the redaction replayed in DuckDB: same
    # deterministic PII construction (pure string/integer arithmetic),
    # same common-subset regexes (RE2 side needs the 'g' flag Spark
    # applies implicitly), so the SCRUBBED STRINGS hash-match — not
    # just the counts.
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, lang, source,
             {_o_injected("text", 13)}
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IP}'))
                AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PII_URL}'))
                AS BIGINT) AS n_urls,
           {_o_scrubbed("text", 11)} AS scrubbed
    FROM injected
    """,
)
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the pass every training corpus runs before
    tokenization: find emails / IPv4 addresses / URLs and replace them
    with typed placeholders, emitting per-doc detection counts beside
    the scrubbed text. The synthetic corpus carries no PII, so the
    query PLANTS deterministic spans first (every doc gets exactly one
    of the three kinds, derived from doc_id — the
    nmea_parse_constructed pattern: construct, then process, so the
    kernel is exercised on known ground truth) and the oracle replays
    injection AND redaction, hash-matching the scrubbed strings
    themselves. All three patterns live in the Java-regex/RE2 common
    subset so both engines agree on spans; scrub order
    URL → EMAIL → IP keeps the rewrites non-overlapping. Scale shape:
    one codegen'd projection per doc — no UDF, no shuffle, no joins;
    at 100 TB this is a pure map stage fused into the scan."""
    d = t(spark, sf_dir, "documents")
    injected = d.select("doc_id", _pii_injected().alias("text"))
    txt = F.col("text")
    return injected.select(
        "doc_id",
        *(
            n.cast("long").alias(a)
            for n, a in zip(_pii_spans(txt), ("n_emails", "n_ips", "n_urls"))
        ),
        _pii_scrubbed(txt).alias("scrubbed"),
    )


def _o_quality_cascade(dedup: bool) -> str:
    """The cascade's oracle in one statement, reusing each stage's
    proven fragment verbatim. ``dedup`` splices in the ``staged2``
    CTE (quality survivors ranked within md5(text) groups, non-keepers
    'cut_dedup'), reads it instead of ``staged`` and reports
    ``n_cut_dedup``."""
    src = "staged2" if dedup else "staged"
    staged2 = """
    staged2 AS (
      SELECT doc_id, lang, source, text,
             CASE WHEN rn > 1 THEN 'cut_dedup' ELSE 'keep' END AS stage
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM staged WHERE stage = 'keep'
      )
      UNION ALL
      SELECT doc_id, lang, source, text, stage
      FROM staged WHERE stage <> 'keep'
    ),"""
    n_cut_dedup = """
           CAST(SUM(CASE WHEN stage = 'cut_dedup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cut_dedup,"""
    return f"""
    WITH m AS (
      SELECT doc_id, lang, source, text,
             LENGTH(text) AS nc,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                 / len(toks) END AS mean_token_len,
             CAST(len(shingles) AS BIGINT) AS n_sh,
             CAST(len(shingles) - len(list_distinct(shingles)) AS BIGINT)
               AS n_dup
      FROM (
        SELECT *,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' '))
               WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
               ELSE CAST([] AS VARCHAR[]) END AS shingles
        FROM (SELECT doc_id, lang, source, text, {_O_TOKS} AS toks
              FROM documents)
      )
    ),
    staged AS (
      SELECT *,
             CASE
               WHEN (CASE WHEN n_sh > 0 THEN
                       CAST(FLOOR(CAST(n_dup AS DOUBLE) / n_sh
                                  * 1000000.0 + 0.5) AS BIGINT)
                     ELSE 0 END) > 20000 THEN 'cut_repetition'
               WHEN nc < 100 THEN 'cut_quality'
               WHEN n_tokens < 20 THEN 'cut_quality'
               WHEN mean_token_len < 2.0 OR mean_token_len > 12.0
                 THEN 'cut_quality'
               WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3
                 THEN 'cut_quality'
               ELSE 'keep' END AS stage
      FROM m
    ),{staged2 if dedup else ""}
    scrubbed AS (
      SELECT doc_id, lang, source,
             CAST(len(regexp_extract_all(inj, '{_PII_EMAIL}'))
                  + len(regexp_extract_all(inj, '{_PII_IP}'))
                  + len(regexp_extract_all(inj, '{_PII_URL}'))
                  AS BIGINT) AS n_spans,
             CAST(len(list_filter(
               string_split_regex(lower(
                 {_o_scrubbed("inj", 17)}), '[^a-z0-9]+'),
               x -> len(x) > 0)) AS BIGINT) AS n_scrubbed_words
      FROM (
        SELECT doc_id, lang, source,
               {_o_injected("inj", 15)}
        FROM {src} WHERE stage = 'keep'
      )
    )
    SELECT s.lang, s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_in,
           CAST(SUM(CASE WHEN stage = 'cut_repetition' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cut_repetition,
           CAST(SUM(CASE WHEN stage = 'cut_quality' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cut_quality,{n_cut_dedup if dedup else ""}
           CAST(SUM(CASE WHEN stage = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(sc.n_spans), 0) AS BIGINT) AS n_pii_spans,
           CAST(COALESCE(SUM(sc.n_scrubbed_words), 0) AS BIGINT)
             AS total_scrubbed_words
    FROM {src} s LEFT JOIN scrubbed sc ON sc.doc_id = s.doc_id
    GROUP BY s.lang, s.source
    """


def _quality_cascade(spark: SparkSession, sf_dir: str, dedup: bool) -> DataFrame:
    """The one body of the two cascades: repetition gate, quality gate,
    (with ``dedup``) exact-content keep-one over quality survivors,
    then PII injection + redaction of the final keepers, reported per
    (lang, source)."""
    d = t(spark, sf_dir, "documents")
    m = _cascade_metrics(d)
    rep_frac = F.when(
        F.col("n_sh") > 0,
        F.floor(
            F.col("n_dup").cast("double") / F.col("n_sh") * 1000000.0 + 0.5
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    staged = m.withColumn(
        "stage",
        F.when(rep_frac > 20000, "cut_repetition")
        .when(_quality_reason_expr() != "keep", "cut_quality")
        .otherwise("keep"),
    )
    stages = ["cut_repetition", "cut_quality"]
    if dedup:
        # rank quality survivors within exact-content groups;
        # partitioning by (stage, md5) keeps the window away from cut
        # rows — identical to the oracle's keep-only window
        wdup = Window.partitionBy("stage", F.md5(F.col("text"))).orderBy(
            "doc_id"
        )
        staged = staged.withColumn(
            "__rn", F.row_number().over(wdup)
        ).withColumn(
            "stage",
            F.when(
                (F.col("stage") == "keep") & (F.col("__rn") > 1), "cut_dedup"
            ).otherwise(F.col("stage")),
        ).drop("__rn")
        stages.append("cut_dedup")
    inj = _pii_injected()
    kept = F.col("stage") == "keep"
    kept_cols = staged.withColumn(
        "n_spans", F.when(kept, reduce(add, _pii_spans(inj)).cast("long"))
    ).withColumn(
        "n_scrubbed_words",
        F.when(kept, F.size(tokens(_pii_scrubbed(inj))).cast("long")),
    )
    return kept_cols.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_in"),
        *(
            F.sum(F.when(F.col("stage") == s, 1).otherwise(0))
            .cast("long")
            .alias(a)
            for s, a in [(s, f"n_{s}") for s in stages] + [("keep", "n_kept")]
        ),
        F.coalesce(F.sum("n_spans"), F.lit(0)).cast("long").alias(
            "n_pii_spans"
        ),
        F.coalesce(F.sum("n_scrubbed_words"), F.lit(0))
        .cast("long")
        .alias("total_scrubbed_words"),
    )


@register(
    "pipeline_quality_cascade",
    # The whole prep cascade in one statement, reusing each stage's
    # proven oracle fragment verbatim: the repetition gate
    # (text_repetition_filter), the shared quality CASE
    # (pipeline_quality_filter), PII injection + redaction
    # (pipeline_pii_scrub), and integer survivor budgets. Every output
    # cell is an integer count or sum, so the census hash-matches.
    oracle=_o_quality_cascade(dedup=False),
)
def pipeline_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL preprocessing cascade in one query — the per-stratum
    attrition report a pipeline owner reads after a prep run: stage 1
    cuts intra-doc repetition (text_repetition_filter's corpus-tuned 2%
    dup-3gram bar — the cheapest rule runs FIRST), stage 2 applies the shared
    quality gate (_quality_reason_expr — the same CASE the filter and
    the audit report use, so the cascade can never disagree with
    them), and survivors flow through PII injection + redaction (the
    pipeline_pii_scrub kernel on known ground truth) into per-(lang,
    source) budgets: docs in, cut per stage, kept, PII spans redacted,
    surviving scrubbed-token total. Scale shape: ONE scan computes
    every per-doc signal as fused projections (no UDF), the cascade is
    a single CASE, the scrub touches only survivors, and the final
    aggregate is map-side combined on a bounded (lang, source) domain
    — the whole report is one pass over the corpus plus one tiny
    shuffle."""
    return _quality_cascade(spark, sf_dir, dedup=False)


@register(
    "pipeline_quality_cascade_dedup",
    # pipeline_quality_cascade's statement with the DEDUP stage a real
    # prep run includes spliced between the quality gate and the
    # scrub: quality survivors are ranked within exact-content groups
    # (md5(text), keeper = lowest doc_id) and non-keepers become
    # 'cut_dedup'; only final keepers flow into PII injection +
    # redaction. Every stage's fragment is its proven oracle verbatim.
    oracle=_o_quality_cascade(dedup=True),
)
def pipeline_quality_cascade_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pipeline_quality_cascade completed with the DEDUP stage a real
    prep run includes between the quality gate and the scrub — the
    per-(lang, source) attrition report now shows where EVERY document
    went: cut by repetition, cut by quality, cut as a non-keeper
    duplicate (``n_cut_dedup``), or kept and scrubbed. The keeper rule
    is exact-content keep-one (lowest doc_id within an md5(text)
    group — md5 keys the shuffle at 100 TB instead of full document
    text; grouping is equivalent) over QUALITY SURVIVORS only, so the
    dedup stage never pays for documents an earlier stage already cut
    — the stage order a production cascade runs cheapest-first.

    Scale shape: the non-dedup stages keep the one-scan fused-
    projection shape (no UDF anywhere); the dedup stage adds the ONE
    unavoidable content-keyed exchange (row_number over md5(text)
    groups — bounded state per group, no corpus-sized window); the
    scrub touches only final keepers; the report aggregate stays
    map-side combined on the bounded (lang, source) domain."""
    return _quality_cascade(spark, sf_dir, dedup=True)


@register(
    "pipeline_domain_cap",
    oracle="""
    WITH rn AS (
      SELECT source, lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source, lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn > 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cut,
           md5(string_agg(CASE WHEN rn <= 4 THEN CAST(doc_id AS VARCHAR) END,
                          ',' ORDER BY doc_id)) AS kept_ids_md5
    FROM rn
    GROUP BY source, lang
    """,
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the crawl-pipeline rule "keep at most
    N documents per (domain, language)" that stops a single boilerplate-
    heavy site from dominating a training mix (the source column stands
    in for the registered domain; the per-source fixture counts are
    uniform BY CONSTRUCTION — 25 docs/source at every SF — so the cap
    cells are (source, lang), whose sizes genuinely vary 1..16).

    Selection is content-keyed and PRNG-free (the engine's sampling
    policy): rank within each cell by md5(text) then doc_id — a
    deterministic shuffle that keeps a content-hash-uniform sample, not
    the first-N by crawl order, and replays identically in both
    engines. One window over the cell partitioning, one hash agg — no
    self-join; at 100 TB the cap is a single exchange keyed on the cell
    (the same shape as pipeline_pack_sequences' per-source window), and
    skewed mega-domains are exactly the rows the cap CUTS, so the
    post-filter distribution is bounded by construction. Output: the
    attrition report per cell plus an md5 chain over the kept doc-id
    set (ORDER BY doc_id — selection is auditable, not just counted).
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5("text"), F.col("doc_id")
    )
    rn = d.select("source", "lang", "doc_id", "text").withColumn(
        "rn", F.row_number().over(w)
    )
    kept_ids = F.sort_array(
        F.collect_list(F.when(F.col("rn") <= 4, F.col("doc_id")))
    )
    return rn.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") <= 4, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 4, 1).otherwise(0))
        .cast("long")
        .alias("n_cut"),
        F.md5(
            F.concat_ws(
                ",", F.transform(kept_ids, lambda x: x.cast("string"))
            )
        ).alias("kept_ids_md5"),
    )
