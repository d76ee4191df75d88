"""Text-analysis queries over ``documents`` (SURVEY.md §2.11 O71-O78,
§2.9 O63; contract extension "text analysis" / "dedup").

Scale shape: every query here is explode/groupBy/equi-join — no cross
join without a blocking key, no driver-side loops. Tokenization and
scoring are pure Column expressions (JVM codegen), so the same plan
that passes the sf0.01 oracle runs unchanged over 100 TB of documents.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.functions.textfn import (
    bpe_token_count,
    language_guess,
    quality_signals,
    tokens,
    word_ngrams,
)
from process_spark.operators.dedup import (
    jaccard_pairs,
    minhash_band_index,
    minhash_lsh_pairs,
    simhash_band_index,
    simhash_dedup_candidates,
)
from process_spark.operators.indexlife import (
    compact_stored_index,
    live_index_rows,
    tombstone_index_ids,
    write_stored_index,
)
from process_spark.queries._util import (
    _BAND_KW,
    _SCRATCH,
    davg,
    fscaled,
    o_davg,
    o_fscaled,
    t,
)
from process_spark.queries.registry import register

#: DuckDB twin of functions.textfn.tokens — keep in sync.
_O_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

#: DuckDB twin of functions.textfn.word_ngrams(tokens(text), 3) — a
#: scalar subquery usable per documents row (shared with
#: queries/pipeline.py).
_O_SHINGLES = f"""(
  SELECT CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+2], ' '))
         WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
         ELSE CAST([] AS VARCHAR[]) END
  FROM (SELECT {_O_TOKS} AS toks)
)"""


@register(
    "text_tokenize_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CASE WHEN len(toks) > 0 THEN toks[1] END AS first_token
    FROM tk
    """,
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73: tokenization + per-doc token stats."""
    d = t(spark, sf_dir, "documents")
    # Token array projected once; the flat form re-tokenized per stat
    # (4 evaluations per row — no CSE for HOFs).
    return d.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct"),
        F.when(F.size("__toks") > 0, F.element_at("__toks", 1)).alias(
            "first_token"
        ),
    )


@register(
    "text_term_frequency",
    oracle=f"""
    SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest({_O_TOKS}) AS tok FROM documents)
    GROUP BY tok
    HAVING COUNT(*) >= 5
    """,
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O74: corpus term frequencies — explode + hash agg (map-side
    combine; the canonical word-count shuffle shape)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .filter(F.col("n_occurrences") >= 5)
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_O_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tk GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf,
           CAST(FLOOR(tf.tf * ln(n.n_docs / df.df) * 10000.0 + 0.5) AS BIGINT)
             AS tfidf_e4
    FROM tf JOIN df USING (tok) CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O74: TF-IDF — tf per (doc, term) joined to corpus doc-frequency.
    NO broadcast hint on the document-frequency side: df grows with the
    corpus VOCABULARY (billions of distinct tokens at 100 TB of
    multilingual text), and a forced hint overrides AQE's size check —
    a guaranteed executor OOM at scale. AQE broadcasts it when (and
    only when) its runtime size stat is genuinely small; otherwise the
    tok-keyed shuffle join is the right plan. Half-up-scaled integer
    output because ln() is libm-dependent (`_util` float policy)."""
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tk.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tk.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar, driver-side once — not a per-row collect
    return (
        tf.join(df_t, "tok")
        .select(
            "doc_id",
            "tok",
            "tf",
            F.floor(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 10000.0 + 0.5
            )
            .cast("long")
            .alias("tfidf_e4"),
        )
        .filter(F.col("tf") >= 3)
    )


@register(
    "text_ngram_shingles",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_O_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' '))
             WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
             ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM tk
    )
    SELECT doc_id, len(shingles) AS n_shingles,
           len(list_distinct(shingles)) AS n_distinct_shingles
    FROM sh
    """,
)
def text_ngram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O75: word 3-gram shingles (the MinHash input) — counts only, so
    the oracle needn't agree on array ordering."""
    d = t(spark, sf_dir, "documents")
    # Layered: token array once, shingle array once, metrics from the
    # column — word_ngrams references its token argument 5 times
    # internally, so the flat form tokenized 10x per row.
    return (
        d.select("doc_id", tokens("text").alias("__toks"))
        .select("doc_id", word_ngrams("__toks", 3).alias("__sh"))
        .select(
            "doc_id",
            F.size("__sh").alias("n_shingles"),
            F.size(F.array_distinct("__sh")).alias("n_distinct_shingles"),
        )
    )


@register(
    "text_levenshtein",
    oracle="""
    SELECT p1.p_partkey AS key_a, p2.p_partkey AS key_b,
           levenshtein(p1.p_name, p2.p_name) AS edit_dist
    FROM part p1 JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_partkey < p2.p_partkey
    WHERE p1.p_partkey % 50 = 0 AND p2.p_partkey % 50 = 0
    """,
)
def text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O77: fuzzy matching — edit distance between part names, blocked
    by brand + sampled by key so the pair count stays bounded."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
    )
    return (
        a.join(b, ["brand"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b", F.levenshtein("name_a", "name_b").alias("edit_dist")
        )
    )


_LEXICON: dict[str, int] = {
    "good": 2, "great": 3, "best": 3, "new": 1, "free": 1,
    "bad": -2, "worst": -3, "error": -2, "old": -1, "broken": -3,
}


@register(
    "text_lexicon_score",
    oracle=f"""
    WITH lex(tok, weight) AS (VALUES
      ('good', 2), ('great', 3), ('best', 3), ('new', 1), ('free', 1),
      ('bad', -2), ('worst', -3), ('error', -2), ('old', -1), ('broken', -3)),
    tk AS (SELECT doc_id, unnest({_O_TOKS}) AS tok FROM documents)
    SELECT tk.doc_id,
           CAST(COALESCE(SUM(lex.weight), 0) AS BIGINT) AS sentiment,
           CAST(COUNT(lex.tok) AS BIGINT) AS n_hits
    FROM tk LEFT JOIN lex USING (tok)
    GROUP BY tk.doc_id
    """,
)
def text_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O78: lexicon scoring — broadcast-join a tiny weight table to the
    exploded tokens (the only sane shape at corpus scale)."""
    d = t(spark, sf_dir, "documents")
    lex = d.sparkSession.createDataFrame(
        list(_LEXICON.items()), "tok string, weight int"
    )
    tk = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    return (
        tk.join(F.broadcast(lex), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum("weight"), F.lit(0)).cast("bigint").alias("sentiment"),
            F.count("weight").cast("bigint").alias("n_hits"),
        )
    )


@register(
    "text_lang_source_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {o_davg('n_chars', 'avg_chars')},
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O76: per-(lang, source) corpus statistics."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_signals",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, text, LENGTH(text) AS nc, {_O_TOKS} AS toks
      FROM documents
    )
    SELECT doc_id,
           nc AS n_chars,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) > 0 THEN
             CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
               / len(toks) END AS mean_token_len,
           CASE WHEN nc > 0 THEN
             CAST(nc - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                  AS DOUBLE) / nc END AS punct_ratio,
           CASE WHEN nc > 0 THEN
             CAST(nc - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
                  AS DOUBLE) / nc END AS digit_ratio,
           CASE WHEN len(toks) > 0 THEN
             CAST(len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','or','but','if','then','of','to','in','on',
                'at','by','for','with','is','are','was','were','be','been','it',
                'this','that','as','from','not','no','he','she','they','we','you',
                'i','his','her','its','their','our','your','do','does','did',
                'have','has','had','will','would','can','could'], x)))
               AS DOUBLE) / len(toks) END AS stopword_ratio
    FROM tk
    """,
)
def text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract op: document quality scoring (length / punctuation /
    digit / stopword signals) as pure expressions."""
    d = t(spark, sf_dir, "documents")
    # Token array projected once; the signals reference the column
    # (one tokenize per row instead of one per signal — see
    # quality_signals' toks contract).
    base = d.select("doc_id", "text", tokens("text").alias("__toks"))
    q = quality_signals(F.col("text"), toks="__toks")
    return base.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["mean_token_len"].alias("mean_token_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
    )


@register(
    "text_language_guess",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, text, {_O_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             LENGTH(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0
               AS has_cjk,
             list_sort([
               {{'score': len(list_filter(toks, x -> list_contains(
                  ['the','and','of','is','that','with','for'], x))),
                 'lang': 'en'}},
               {{'score': len(list_filter(toks, x -> list_contains(
                  ['el','la','los','las','de','que','es','una','para'], x))),
                 'lang': 'es'}},
               {{'score': len(list_filter(toks, x -> list_contains(
                  ['der','die','das','und','ist','nicht','mit','ein'], x))),
                 'lang': 'de'}},
               {{'score': len(list_filter(toks, x -> list_contains(
                  ['le','la','les','de','et','est','une','pour','que'], x))),
                 'lang': 'fr'}}
             ], 'DESC')[1].lang AS best_latin
      FROM tk
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN has_cjk THEN 'zh' ELSE best_latin END AS guessed_lang,
           (CASE WHEN has_cjk THEN 'zh' ELSE best_latin END) = lang AS hit
    FROM scored
    """,
)
def text_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract op: heuristic language-ID vs. the labeled lang column.
    Ties resolve identically on both sides: max/sort on (score, lang)
    structs is field-lexicographic in Spark and DuckDB."""
    d = t(spark, sf_dir, "documents")
    # Guess projected once, hit computed from the column (the flat
    # form embedded the 4-language marker scan — and its tokenize —
    # twice; with the pre-projected token array this is one tokenize
    # and one marker scan per row).
    base = d.select(
        "doc_id", "lang", "text", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        "lang",
        language_guess(F.col("text"), toks="__toks").alias("__g"),
    )
    return base.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.col("__g").alias("guessed_lang"),
        (F.col("__g") == F.col("lang")).alias("hit"),
    )


@register(
    "text_fingerprint_rolling",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nt
      FROM documents
    )
    SELECT doc_id,
           COALESCE(list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, LENGTH(nt) + 1),
                              i -> CAST(ascii(substr(nt, CAST(i AS INT), 1)) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 2147483647), 0) AS fingerprint
    FROM norm
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract op: deterministic document fingerprint — polynomial
    rolling hash over normalized text (integer arithmetic: exact on
    both engines)."""
    d = t(spark, sf_dir, "documents")
    nt = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", "")
    chars = F.filter(F.split(nt, ""), lambda c: F.length(c) > 0)
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(31) + F.ascii(ch), F.lit(2147483647)),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "text_exact_content_dedup",
    oracle="""
    SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def text_exact_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O62/contract: exact content dedup — group by normalized-text
    hash, keep the lowest doc_id (one shuffle, any scale)."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.groupBy(h.alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "text_jaccard_pairs_blocked",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, source, list_distinct({_O_TOKS}) AS toks
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(a.toks || b.toks)) > 0 THEN
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / len(list_distinct(a.toks || b.toks))
           ELSE 0.0 END AS jaccard
    FROM tk a JOIN tk b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def text_jaccard_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 exact variant: token-set Jaccard within (lang, source)
    blocks — the equi-join blocking that replaces a cross join at
    scale. Sampled by doc_id to bound the pair count for the oracle."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    blocked = d.withColumn("__blk", F.concat_ws("|", "lang", "source"))
    return jaccard_pairs(blocked, "doc_id", "text", block_col="__blk").select(
        "id_a", "id_b", "jaccard"
    )


@register("text_minhash_lsh_pairs", oracle=None)
def text_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63: banded MinHash LSH candidate pairs (rows-only check —
    xxhash64-seeded signatures have no DuckDB twin). The band-bucket
    equi-join is the 100 TB dedup path."""
    d = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", num_hashes=32, bands=8)


@register("text_simhash_candidates", oracle=None)
def text_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63: SimHash banded candidates + Hamming distance (rows-only —
    xxhash64-based signature; the md5 variant below is the oracle
    anchor for the same chain)."""
    d = t(spark, sf_dir, "documents")
    return simhash_dedup_candidates(d, "doc_id", "text")


@register(
    "text_simhash_md5_pairs",
    # Full SimHash chain in SQL: per-token 60-bit md5 hash → majority
    # vote per bit position → signature → 4×15-bit band split → band
    # equi-join → Hamming distance. Token-less docs keep signature 0
    # (the LEFT JOIN + COALESCE), same as the engine's empty-array
    # vote.
    oracle=f"""
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id % 2 = 1
    ),
    tk AS (
      SELECT doc_id, unnest({_O_TOKS}) AS w
      FROM documents WHERE doc_id % 2 = 1
    ),
    th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
      FROM tk
    ),
    votes AS (
      SELECT doc_id, b,
             CASE WHEN 2 * SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                                    THEN 1 ELSE 0 END) > COUNT(*)
                  THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
      FROM d LEFT JOIN (
        SELECT doc_id, SUM(bit) AS sig FROM votes GROUP BY doc_id
      ) s USING (doc_id)
    ),
    bv AS (
      SELECT doc_id, sig, band_idx,
             (sig >> CAST(band_idx * 15 AS INT)) & 32767 AS band_val
      FROM (SELECT doc_id, sig, unnest(range(4)) AS band_idx FROM sig)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM bv a JOIN bv b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    """,
)
def text_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 (oracle-backed): the SAME banded SimHash pipeline as
    text_simhash_candidates, but over 60-bit md5-derived token hashes
    (4 bands × 15 bits) that DuckDB reproduces byte-for-byte — so the
    token→bit-vote→signature→band→candidate chain is hash-checked end
    to end, completing the dedup family's oracle story (exact, MinHash
    LSH, SimHash, Jaccard, embedding-cosine all anchored). The
    xxhash64 flagship stays the scale default."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return simhash_dedup_candidates(
        d, "doc_id", "text", band_bits=15, base_hash="md5"
    )


@register(
    "dedup_simhash_index_probe",
    # The md5 SimHash chain over the WHOLE corpus, pairs restricted to
    # one historical (even) and one probing (odd) member — the stored
    # layout, the bucket pruning, and the parquet round-trip are
    # storage details the candidate relation must be invariant to.
    oracle=f"""
    WITH d AS (
      SELECT doc_id FROM documents
    ),
    tk AS (
      SELECT doc_id, unnest({_O_TOKS}) AS w FROM documents
    ),
    th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
      FROM tk
    ),
    votes AS (
      SELECT doc_id, b,
             CASE WHEN 2 * SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                                    THEN 1 ELSE 0 END) > COUNT(*)
                  THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
      FROM d LEFT JOIN (
        SELECT doc_id, SUM(bit) AS sig FROM votes GROUP BY doc_id
      ) s USING (doc_id)
    ),
    bv AS (
      SELECT doc_id, sig, band_idx,
             (sig >> CAST(band_idx * 15 AS INT)) & 32767 AS band_val
      FROM (SELECT doc_id, sig, unnest(range(4)) AS band_idx FROM sig)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM bv a JOIN bv b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE (a.doc_id % 2) <> (b.doc_id % 2)
    """,
)
def dedup_simhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 STORED-index lifecycle for the SIMHASH family — the fourth
    and last banded family gets the persisted form the other three
    have (MinHash bands, IVF cells, SRP bands): the historical (even)
    half's (doc, band, signature) rows are WRITTEN through
    indexlife.write_stored_index, partitioned by (band_idx,
    band_bucket) with the one-file-per-dir discipline; a probing batch
    (the odd half) bands itself in memory, collects its ≤ n_buckets
    bucket IN-set into a partition-pruning filter (PartitionFilters
    on the stored scan — history is a point
    lookup, never a re-hash or a full scan), equi-joins on
    (band_idx, band_bucket, band_val), and computes Hamming distances
    from the STORED signatures — documents are never re-read for
    history. The oracle replays the full md5 vote chain over the whole
    corpus restricted to cross-population pairs, so the storage layout
    is proven semantics-free."""
    kw = dict(band_bits=15, base_hash="md5", n_buckets=16)
    d = t(spark, sf_dir, "documents")
    path = os.path.join(_SCRATCH, "simhash_band_index")
    shutil.rmtree(path, ignore_errors=True)
    write_stored_index(
        simhash_band_index(
            d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", **kw
        ),
        path, _BAND_COLS, "doc_id", n_write_tasks=64,
    )

    probe = simhash_band_index(
        d.filter(F.col("doc_id") % 2 == 1), "doc_id", "text", **kw
    ).select(
        F.col("doc_id").alias("probe_id"),
        F.col("sim").alias("probe_sim"),
        "band_idx",
        "band_val",
        "band_bucket",
    ).localCheckpoint(eager=False)  # band the probe once: IN-set + join
    buckets = sorted(  # bounded: bucket domain ≤ n_buckets=16
        r["band_bucket"]
        for r in probe.select("band_bucket").distinct().collect()
    )
    stored = live_index_rows(spark, path).filter(
        F.col("band_bucket").isin(buckets)
    )
    pairs = (
        stored.join(probe, ["band_idx", "band_bucket", "band_val"])
        .select(
            F.least("doc_id", "probe_id").alias("id_a"),
            F.greatest("doc_id", "probe_id").alias("id_b"),
            F.bit_count(
                F.col("sim").bitwiseXOR(F.col("probe_sim"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs


#: Connected components of the sampled Jaccard near-dup graph, as the
#: minimum label a recursive walk reaches along the edges. Shared by
#: the two registrations of :func:`_jaccard_components`.
_JACCARD_CC_ORACLE = f"""
    WITH RECURSIVE tk AS (
      SELECT doc_id, lang, source, list_distinct({_O_TOKS}) AS toks
      FROM documents WHERE doc_id % 5 = 0
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
      SELECT doc_id, doc_id FROM tk
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    """


def _jaccard_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (Jaccard >= 0.2 within (lang, source) blocks of
    every fifth doc) → (doc_id, component = min doc_id of its
    cluster)."""
    from process_spark.operators.dedup import connected_components

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    blocked = d.withColumn("__blk", F.concat_ws("|", "lang", "source"))
    edges = jaccard_pairs(
        blocked, "doc_id", "text", block_col="__blk", min_jaccard=0.2
    )
    return connected_components(
        edges,
        src="id_a",
        dst="id_b",
        vertices=d,
        id_col="doc_id",
    ).select(F.col("id").alias("doc_id"), "component")


@register("dedup_connected_components", oracle=_JACCARD_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 cluster formation: near-dup pairs → connected components via
    distributed star contraction (operators.dedup). Each sampled doc
    gets the min doc_id of its similarity cluster — the id a
    keeper-selection pass would group on. The oracle computes the same
    components with a recursive CTE (min label reachable along
    edges)."""
    return _jaccard_components(spark, sf_dir)


@register("dedup_components_star", oracle=_JACCARD_CC_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 cluster formation under the name of the alternating-star
    contraction (Kiveris et al., SoCC 2014), which
    ``connected_components`` is: the same query and oracle as
    dedup_connected_components. Its rounds are O(log n) whatever the
    component diameter, so a pathological near-dup CHAIN (A~B~C~...
    from sliding boilerplate) costs a few rounds, not one per hop
    (chain cases pinned in tests/test_properties.py)."""
    return _jaccard_components(spark, sf_dir)


def _minhash_md5_ctes(
    where: str = "doc_id % 2 = 0", docs_src: str = "documents"
) -> str:
    """Shared CTE chain of the md5 MinHash oracles: shingle →
    md5-derived 32-bit base hash → 64 universal-hash mins → 16 concat
    band keys, ending with the ``banded`` (doc_id, band_idx, band_key)
    relation. Same (a_i, b_i) constants as the engine (fixed-seed
    PRNG). ``where`` picks the document population (default: the even
    half used by the pair/component oracles); ``docs_src`` swaps the
    corpus relation (must expose doc_id, text — the update-lifecycle
    oracle passes a UNION of surviving and re-crawled docs, the
    _o_bm25 precedent)."""
    from process_spark.operators.dedup import (
        _MINHASH_PRIME as P,
        _minhash_coefficients,
    )

    a, b = _minhash_coefficients(64)

    def hexbyte(i: int) -> str:
        h1 = f"(strpos('0123456789abcdef', substr(hx, {2 * i + 1}, 1)) - 1)"
        h2 = f"(strpos('0123456789abcdef', substr(hx, {2 * i + 2}, 1)) - 1)"
        return f"({h1} * 16 + {h2})"

    base = " + ".join(
        f"{hexbyte(i)} * {256 ** (3 - i)}" for i in range(4)
    )
    mins = ",\n             ".join(
        f"MIN((h * {a[i]} + {b[i]}) % {P}) AS m{i}" for i in range(64)
    )
    band_keys = ", ".join(
        "(" + " || ',' || ".join(
            f"CAST(m{bd * 4 + j} AS VARCHAR)" for j in range(4)
        ) + ")"
        for bd in range(16)
    )
    band_idxs = ", ".join(str(i) for i in range(16))
    return f"""sh AS (
      SELECT doc_id, unnest(list_distinct({_O_SHINGLES})) AS s
      FROM {docs_src} WHERE {where}
    ),
    hashed AS (
      SELECT doc_id, (({base}) % {P}) AS h
      FROM (SELECT doc_id, md5(s) AS hx FROM sh)
    ),
    mins AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
             unnest([{band_idxs}]) AS band_idx,
             unnest([{band_keys}]) AS band_key
      FROM mins
    )"""


def _minhash_md5_oracle(max_bucket_size: int | None = None) -> str:
    """Generate the DuckDB twin of minhash_lsh_pairs(base_hash='md5',
    band_key='concat') over the shared :func:`_minhash_md5_ctes`
    chain. With ``max_bucket_size``, adds the hot-bucket guard:
    buckets over the cap are excluded from the pair join and the
    skipped-bucket count rides every output row."""
    prefix = "WITH " + _minhash_md5_ctes()
    if max_bucket_size is None:
        return f"""{prefix}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """
    return f"""{prefix},
    sized AS (
      SELECT doc_id, band_idx, band_key,
             COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bn
      FROM banded
    ),
    kept AS (
      SELECT doc_id, band_idx, band_key FROM sized
      WHERE bn <= {max_bucket_size}
    ),
    skip AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_skipped_buckets
      FROM (SELECT DISTINCT band_idx, band_key FROM sized
            WHERE bn > {max_bucket_size})
    ),
    pair_agg AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.n_shared_bands, s.n_skipped_buckets
    FROM pair_agg p CROSS JOIN skip s
    UNION ALL
    -- all-skipped sentinel: the skipped count must stay observable in
    -- the OUTPUT even when the guard removed every pair (engine twin:
    -- minhash_lsh_pairs' left-anti sentinel row)
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), s.n_skipped_buckets
    FROM skip s
    WHERE s.n_skipped_buckets > 0
      AND NOT EXISTS (SELECT 1 FROM pair_agg)
    """


@register("text_minhash_lsh_md5_pairs", oracle=_minhash_md5_oracle())
def text_minhash_lsh_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 (oracle-backed): the SAME banded MinHash LSH pipeline as
    text_minhash_lsh_pairs, but with an md5-derived base hash and raw
    concat band keys — both of which DuckDB reproduces byte-for-byte,
    so the whole shingle → signature → band → candidate-pair chain is
    hash-checked end to end. The xxhash64 flagship stays the scale
    default (cheaper hash, 8-byte band keys); this variant is its
    cross-engine correctness anchor."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        base_hash="md5",
        band_key="concat",
    )


def _minhash_cc_oracle() -> str:
    """DuckDB twin of the LSH → connected-components composite: the
    shared md5 chain produces candidate pairs, a recursive CTE
    propagates min labels along the (symmetrized) edges, singleton
    docs map to themselves."""
    return f"""
    WITH RECURSIVE {_minhash_md5_ctes()},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    verts AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM verts
      UNION
      SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    """


@register("pipeline_minhash_dedup_components", oracle=_minhash_cc_oracle())
def pipeline_minhash_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 end-to-end (oracle-backed): the production near-dup pipeline
    at its full depth — banded MinHash LSH candidate pairs (md5 chain)
    feeding distributed connected components (star contraction), one
    cluster id per document (the id a keeper-selection pass groups
    on). DuckDB replays BOTH stages: the signature/band algebra and
    the reachability fixpoint (recursive CTE) — so the whole
    shingle→signature→band→pair→cluster path that dedups a 100 TB
    corpus is hash-checked as one unit, not as isolated stages."""
    from process_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    edges = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        base_hash="md5",
        band_key="concat",
    )
    return connected_components(
        edges, src="id_a", dst="id_b", vertices=d, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), "component")


@register("text_lsh_hot_bucket_guard", oracle=_minhash_md5_oracle(max_bucket_size=3))
def text_lsh_hot_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 (oracle-backed): the hot-bucket-guarded LSH pair join — the
    100 TB safety valve. Band buckets holding more than 3 docs (a
    boilerplate signature shared corpus-wide would otherwise make one
    O(n²) reduce task) are excluded from pair generation; the count of
    skipped buckets rides every output row, so truncation is part of
    the RESULT the oracle hash-checks, never a silent drop. Same
    md5/concat chain as text_minhash_lsh_md5_pairs so DuckDB replays
    the guard end to end (windowed bucket census included)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        base_hash="md5",
        band_key="concat",
        max_bucket_size=3,
    )


#: The incremental-dedup lifecycle in SQL: bands for the WHOLE corpus
#: off the shared md5 chain, split into the historical half (what the
#: stored index holds) and the new batch (what probes it); candidates =
#: the plain band equi-join. The parquet round-trip, the partition
#: layout, and any appends and compactions that produced the stored
#: files are storage details the result must be invariant to — exactly
#: what this oracle checks (dedup_band_index_probe and _compact).
_O_BAND_PROBE = """
    WITH {ctes},
    hist AS (SELECT doc_id, band_idx, band_key FROM banded
             WHERE doc_id % 2 = 0),
    probe AS (SELECT doc_id AS probe_id, band_idx, band_key FROM banded
              WHERE doc_id % 2 = 1)
    SELECT p.probe_id, h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM probe p JOIN hist h
      ON h.band_idx = p.band_idx AND h.band_key = p.band_key
    GROUP BY 1, 2
    """.format(ctes=_minhash_md5_ctes(where="TRUE"))

#: Partition layout of the stored band indexes (MinHash and SimHash).
_BAND_COLS = ["band_idx", "band_bucket"]

#: Band-index update fixture: every 10th doc (a subset of the indexed
#: even half) is "re-crawled" with this suffix — its shingle set, and
#: therefore some of its 64 minhashes and band keys, genuinely move.
_BAND_UPD_FILTER = "doc_id % 10 = 0"
_BAND_UPDATE_SUFFIX = " spark merge fast update"


def _band_index(
    spark: SparkSession,
    sf_dir: str,
    index: str,
    hist: tuple[str, ...] = ("doc_id % 2 = 0",),
    batches: tuple[str, ...] = ("doc_id % 2 = 1",),
    compact: bool = False,
    update: bool = False,
) -> DataFrame:
    """The stored MinHash band index lifecycle under ``_SCRATCH/index``,
    every step through operators/indexlife.py (``data/`` partitioned by
    (band_idx, band_bucket), ``_ids``, ``_meta``; 64 write tasks, one
    file per dir per write), banded with ``_BAND_KW``:

    - write the ``hist`` document filters as ingest batches (the first
      overwrites, the rest append); ``compact`` then rewrites every dir
      to one file;
    - ``update``: tombstone every 10th doc (probes exclude it at once);
    - probe: the first of ``batches`` bands once, collects its
      ≤ n_buckets bucket IN-set (PartitionFilters on the live stored
      scan) and equi-joins → ``(probe_id, doc_id, n_shared_bands)``;
    - a second phase — two ``batches`` (the first is appended, then
      the second probes) or ``update`` (compaction purges the
      tombstoned docs, their re-crawled text re-ingests through the
      validated append, then the same batch probes again) — pins
      phase 1 before the index mutates and adds a ``phase`` 1|2
      column."""
    d = t(spark, sf_dir, "documents")
    recrawl = d.filter(F.expr(_BAND_UPD_FILTER))
    path = os.path.join(_SCRATCH, index)
    shutil.rmtree(path, ignore_errors=True)

    def bands(docs: DataFrame) -> DataFrame:
        return minhash_band_index(docs, "doc_id", "text", **_BAND_KW)

    def write(rows: DataFrame, mode: str) -> None:
        write_stored_index(
            rows, path, _BAND_COLS, "doc_id", mode=mode, n_write_tasks=64
        )

    def batch(where: str) -> tuple[DataFrame, list]:
        probe = bands(d.filter(F.expr(where))).withColumnRenamed(
            "doc_id", "probe_id"
        ).localCheckpoint(eager=False)  # bands once: bucket collect + join
        buckets = sorted(  # bounded: bucket domain ≤ n_buckets=16
            r["band_bucket"]
            for r in probe.select("band_bucket").distinct().collect()
        )
        return probe, buckets

    def candidates(probe: DataFrame, buckets: list) -> DataFrame:
        pruned = live_index_rows(spark, path).filter(
            F.col("band_bucket").isin(buckets)
        )
        return (
            pruned.join(probe, ["band_idx", "band_bucket", "band_hash"])
            .groupBy("probe_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )

    for i, where in enumerate(hist):
        write(bands(d.filter(F.expr(where))), "append" if i else "overwrite")
    if compact:
        compact_stored_index(spark, path, n_write_tasks=64)
    if update:
        tombstone_index_ids(spark, path, recrawl.select("doc_id"))
    probe, buckets = batch(batches[0])
    if len(batches) == 1 and not update:
        return candidates(probe, buckets)
    c1 = candidates(probe, buckets).withColumn("phase", F.lit(1))
    c1 = c1.localCheckpoint(eager=True)  # before the index mutates
    if update:
        compact_stored_index(spark, path, n_write_tasks=64)
        new_text = F.concat("text", F.lit(_BAND_UPDATE_SUFFIX)).alias("text")
        write(bands(recrawl.select("doc_id", new_text)), "append")
    else:
        write(probe.withColumnRenamed("probe_id", "doc_id"), "append")
        probe, buckets = batch(batches[1])
    c2 = candidates(probe, buckets).withColumn("phase", F.lit(2))
    return c1.unionByName(c2)


@register("dedup_band_index_probe", oracle=_O_BAND_PROBE)
def dedup_band_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 STORED-INDEX lifecycle (oracle-backed): write the historical
    corpus's MinHash band index partitioned by (band_idx, band_bucket)
    through indexlife.write_stored_index
    (operators.dedup.minhash_band_index — the layout that turns
    incremental dedup into a point lookup), compute a NEW batch's
    bands, and probe the stored index reading ONLY the batch's bucket
    partitions: the ``band_bucket IN (...)`` literal filter (the
    bucket domain is bounded at n_buckets by construction, so the
    driver-side distinct is a ≤n_buckets-row collect) reaches the scan
    as PartitionFilters — asserted in tests/test_plan_shapes.py — so a
    100 TB historical corpus is never re-joined, only the matching
    partitions are read. Candidates = (probe_id, historical doc_id,
    n_shared_bands) — invariant to the storage layout, which is what
    DuckDB verifies."""
    return _band_index(spark, sf_dir, "minhash_band_index")


@register(
    "dedup_band_index_append",
    # The FULL incremental lifecycle in SQL: bands for the whole corpus
    # off the shared md5 chain, split three ways — the historical third
    # (initial index), batch 1 (probes, then is APPENDED), batch 2
    # (probes the appended index, so its candidates must include
    # batch-1 docs). The parquet round-trips, the append, and the
    # partition layout are storage details the result is invariant to —
    # exactly what this oracle checks.
    oracle=f"""
    WITH {{ctes}},
    hist AS (SELECT doc_id, band_idx, band_key FROM banded
             WHERE doc_id % 3 = 0),
    b1 AS (SELECT doc_id, band_idx, band_key FROM banded
           WHERE doc_id % 3 = 1),
    b2 AS (SELECT doc_id, band_idx, band_key FROM banded
           WHERE doc_id % 3 = 2),
    c1 AS (
      SELECT p.doc_id AS probe_id, h.doc_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
             CAST(1 AS INTEGER) AS phase
      FROM b1 p JOIN hist h
        ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      GROUP BY 1, 2
    ),
    c2 AS (
      SELECT p.doc_id AS probe_id, h.doc_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
             CAST(2 AS INTEGER) AS phase
      FROM b2 p JOIN (SELECT * FROM hist UNION ALL SELECT * FROM b1) h
        ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      GROUP BY 1, 2
    )
    SELECT * FROM c1 UNION ALL SELECT * FROM c2
    """.format(ctes=_minhash_md5_ctes(where="TRUE")),
)
def dedup_band_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 STORED-INDEX lifecycle COMPLETED — write → probe → APPEND →
    re-probe. ``dedup_band_index_probe`` proved the point-lookup read;
    this registers the other half of "incremental": after batch 1
    probes the historical index, its own bands are appended through
    indexlife.write_stored_index (same partition layout, one new file
    per touched dir, asserted in tests/test_plan_shapes.py, and the
    append-only id check), and batch 2's probe — against the
    refreshed index, bucket IN-set pushed as PartitionFilters — finds
    candidates in BOTH the historical corpus and batch 1. That
    batch-2-sees-batch-1 edge is the property that makes continuous
    ingestion dedup-complete without ever re-banding history. Output:
    (probe_id, doc_id, n_shared_bands, phase 1|2)."""
    return _band_index(
        spark, sf_dir, "minhash_band_index_append", hist=("doc_id % 3 = 0",),
        batches=("doc_id % 3 = 1", "doc_id % 3 = 2"),
    )


@register("dedup_band_index_compact", oracle=_O_BAND_PROBE)
def dedup_band_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 STORED-INDEX lifecycle, MAINTENANCE phase — the op a
    continuous-ingest deployment runs weekly: the historical index
    accretes one file per partition dir per appended batch (three
    ingest batches here → 3 files/dir), then
    ``compact_stored_index`` (operators/indexlife.py) rewrites every
    (band_idx, band_bucket) dir to ONE file and swaps it in. Without
    it, a year of hourly micro-batches makes every pruned probe open
    ~8,760 files per partition — the small-files decay that kills
    stored-index latency at 100 TB. The probe AFTER compaction must
    return exactly the plain band equi-join (the oracle) — compaction
    moves bytes, never rows. File-count collapse (3 → 1 per dir) and
    probe invariance are asserted in tests/test_plan_shapes.py."""
    return _band_index(
        spark, sf_dir, "minhash_band_index_compact",
        hist=("doc_id % 6 = 0", "doc_id % 6 = 2", "doc_id % 6 = 4"),
        compact=True,
    )


#: The updated corpus relation the oracle bands: survivors keep their
#: text, re-crawled docs carry the new version (phase 1 never needs the
#: OLD bands of updated docs — they are deleted).
_O_BAND_UPDATED_CORPUS = f"""(
    SELECT doc_id, text FROM documents WHERE NOT ({_BAND_UPD_FILTER})
    UNION ALL
    SELECT doc_id, text || '{_BAND_UPDATE_SUFFIX}' AS text
    FROM documents WHERE {_BAND_UPD_FILTER}
)"""


@register(
    "dedup_band_index_updated",
    # Phase 1 = candidates against the index AFTER the tombstones land
    # (hist minus the re-crawled docs); phase 2 = after purge +
    # re-ingest of the updated bands (hist-survivors ∪ updated). The
    # banded CTE runs over the UPDATED corpus — survivors original,
    # re-crawled docs new text — so both phases read from one chain.
    oracle=f"""
    WITH {{ctes}},
    hist AS (SELECT doc_id, band_idx, band_key FROM banded
             WHERE doc_id % 2 = 0 AND NOT ({_BAND_UPD_FILTER})),
    upd AS (SELECT doc_id, band_idx, band_key FROM banded
            WHERE {_BAND_UPD_FILTER}),
    probe AS (SELECT doc_id AS probe_id, band_idx, band_key FROM banded
              WHERE doc_id % 2 = 1),
    c1 AS (
      SELECT p.probe_id, h.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
             CAST(1 AS INTEGER) AS phase
      FROM probe p JOIN hist h
        ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      GROUP BY 1, 2
    ),
    c2 AS (
      SELECT p.probe_id, h.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
             CAST(2 AS INTEGER) AS phase
      FROM probe p JOIN (SELECT * FROM hist UNION ALL SELECT * FROM upd) h
        ON h.band_idx = p.band_idx AND h.band_key = p.band_key
      GROUP BY 1, 2
    )
    SELECT * FROM c1 UNION ALL SELECT * FROM c2
    """.format(
        ctes=_minhash_md5_ctes(where="TRUE", docs_src=_O_BAND_UPDATED_CORPUS)
    ),
)
def dedup_band_index_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 — the stored MinHash band index's DELETE/UPDATE lifecycle
    (the r11 verdict's task 1, band-family leg: deleting a document
    updated the text index but its SIGNATURES kept matching — near-dup
    dedup resurrected deleted content). The id-generic toolkit
    (operators/indexlife.py) runs the whole rhythm on the
    (band_idx, band_bucket) layout: write the even half's bands under
    the lifecycle layout, tombstone every 10th doc (probes exclude
    them immediately via live_index_rows — phase 1 candidates must
    equal the band equi-join against the surviving history),
    compact_stored_index purges every band row and membership trace
    and frees the ids, and the re-crawled docs' NEW bands (suffix-
    shifted shingles → genuinely moved minhashes) re-ingest through
    the append-only-validated path. Phase 2 must equal the equi-join
    against survivors ∪ updated bands — the delete/update machinery is
    storage detail, hash-checked end to end under the md5 chain."""
    return _band_index(
        spark, sf_dir, "minhash_band_index_updated", update=True
    )


@register(
    "text_bpe_token_count",
    # Whitespace vs word vs BPE-ish pretokenizer counts, all three as
    # regex/list expressions DuckDB replays exactly (RE2 and Java regex
    # agree on the lookahead-free ordered alternation — see
    # functions/textfn.BPE_SPLIT_PATTERN).
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
           CAST(len({_O_TOKS}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
             AS BIGINT) AS n_bpe_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73+ — token COUNTING three ways (the budget signals a training
    pipeline sizes datasets with): whitespace split, word tokens (the
    repo tokenizer), and a BPE-ish pretokenizer count
    (functions/textfn.BPE_SPLIT_PATTERN — GPT-2-style ordered
    alternation without the RE2-incompatible lookahead; real BPE
    merges only WITHIN these pieces, so the piece count tracks the
    LLM token count's shape). All three are pure Column expressions —
    one codegen'd scan projection, no UDF, no shuffle."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("text"), r"\s+"), lambda x: F.length(x) > 0
            )
        ).cast("long").alias("n_ws_tokens"),
        F.size(tokens("text")).cast("long").alias("n_words"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


#: Sketch capacity for the heavy-hitters queries (batch + streaming
#: twin): 32 puts the total/32 bar inside the testdata frequency range.
_HH_CAPACITY = 32

#: The sketch+verify output is EXACT (the sketch only bounds memory,
#: the verify pass restores true counts), so the oracle is the direct
#: frequency filter at the same strictly-greater-than-total/capacity
#: threshold — no approximation appears in the result. Shared with the
#: streaming twin (queries/streaming.py): MG summaries are mergeable,
#: so the final exact output is batch-count-INVARIANT and this same
#: statement checks it.
_O_HEAVY_HITTERS = f"""
    WITH tk AS (SELECT unnest({_O_TOKS}) AS tok FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(tot.n // {_HH_CAPACITY} + 1 AS BIGINT) AS threshold
    FROM tk CROSS JOIN tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) >= tot.n // {_HH_CAPACITY} + 1
"""


@register("text_heavy_hitters", oracle=_O_HEAVY_HITTERS)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream (the '1/k most frequent
    items' primitive — stopword discovery, boilerplate token alarms,
    skew-key detection) via Misra-Gries sketch + exact verify
    (operators/sketch.py): per-partition bounded-memory summaries,
    a driver merge of capacity-sized tables, then a literal-IN exact
    second pass. Capacity 32 puts the total/32 bar INSIDE the testdata
    frequency range (29 of 31 tokens clear it — a real cut, not pass-
    everything); the eviction path, which the 31-token vocabulary
    cannot trigger, is pinned by a 500-distinct-token guarantee test
    (tests/test_edge_cases.py). At 100 TB with an unbounded
    vocabulary, no executor ever holds more than 32 counters and the
    output is still the true counts of every token above the bar."""
    from process_spark.operators.sketch import frequent_items

    d = t(spark, sf_dir, "documents")
    tk = d.select(F.explode(tokens("text")).alias("tok"))
    return frequent_items(tk, "tok", capacity=_HH_CAPACITY)


@register("text_bpe_train_merges", oracle=None)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73 — REAL BPE training (Sennrich et al. 2016, public method):
    the corpus word-frequency table (one distributed map-side-combined
    aggregate — the only corpus-sized work) feeds a bounded driver-side
    merge loop, the same bounded-training contract as pq_train's
    codebook sample. Output: the learned merge table (rank, left,
    right, merged), the artifact a deployment stores and ships to the
    apply path. Rows-only by nature — the merges are data-dependent
    learned content with no SQL twin; correctness is pinned by the
    canonical Sennrich 'low/lower/newest/widest' fixture and the
    determinism property (same table from any partitioning) in
    tests/test_properties.py."""
    from process_spark.operators.bpe import bpe_train

    d = t(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", n_merges=64)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


@register("text_bpe_token_budget", oracle=None)
def text_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73 — per-document token budget under REAL BPE merges (closing
    the round-7 gap where text_bpe_token_count counted pretokenizer
    pieces only): train the merge table on the corpus, encode the
    DISTINCT vocabulary once (the merge loop runs per distinct word,
    never per occurrence — Heaps' law makes the vocabulary the small
    join side at 100 TB), hash-join piece counts back onto the
    exploded corpus, aggregate per doc. Output: (doc_id, n_words,
    n_bpe_tokens). Rows-only (learned merges have no SQL twin); pinned
    by the roundtrip property (concat(pieces) == word over the FULL
    corpus vocabulary), the n_words ≥ n_bpe_tokens/word bounds, and
    the two-path self-twin in tests/test_properties.py."""
    from process_spark.operators.bpe import bpe_doc_token_counts, bpe_train

    d = t(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", n_merges=64)
    return bpe_doc_token_counts(d, merges)


@register("text_bpe_stored_budget", oracle=None)
def text_bpe_stored_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73 STORED-ARTIFACT lifecycle — train-once / apply-many, the
    missing piece that makes token budgets comparable ACROSS runs:
    train the merge table, PERSIST it as the engine's standard parquet
    artifact (rank, left, right — bpe_save_merges), reload it in a
    fresh pass (bpe_load_merges), and apply the PINNED merges to the
    corpus. Every other trained artifact in the engine (IVF cells,
    MinHash band indexes) already had store/append/compact; budgets
    computed from retrained merges are only comparable if training is
    deterministic AND the corpus is frozen — pinning the artifact
    removes both conditions. Output: (doc_id, n_words, n_bpe_tokens)
    from the RELOADED merges — byte-identical to the direct-apply
    path (round-trip + equality pinned in tests/test_properties.py).
    Rows-only (learned merges have no SQL twin), same basis as
    text_bpe_token_budget."""
    from process_spark.operators.bpe import (
        bpe_doc_token_counts,
        bpe_load_merges,
        bpe_save_merges,
        bpe_train,
    )

    d = t(spark, sf_dir, "documents")
    path = os.path.join(_SCRATCH, "bpe_merge_table")
    bpe_save_merges(spark, bpe_train(d, "text", n_merges=64), path)
    merges = bpe_load_merges(spark, path)  # the pinned artifact
    return bpe_doc_token_counts(d, merges)


@register(
    "text_heavy_hitters_by_lang",
    # Sketch + exact verify is EXACT per group, so the oracle is the
    # plain per-language frequency filter at each language's own
    # total//capacity + 1 bar — no approximation reaches the output.
    oracle=f"""
    WITH tk AS (SELECT lang, unnest({_O_TOKS}) AS tok FROM documents),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM tk
            GROUP BY lang)
    SELECT tk.lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(tot.n // 48 + 1 AS BIGINT) AS threshold
    FROM tk JOIN tot USING (lang)
    GROUP BY tk.lang, tok, tot.n
    HAVING COUNT(*) >= tot.n // 48 + 1
    """,
)
def text_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED heavy hitters (operators/sketch.frequent_items_by_group):
    each language's over-represented tokens at that language's OWN
    total/48 bar — per-stratum stopword discovery / boilerplate alarms,
    the grouped twin of text_heavy_hitters. Pass 1 holds ≤ capacity
    counters per (partition, language) — the bounded-group-domain
    contract (lang, never user_id) — via one vectorized
    groupby().value_counts() per Arrow batch; pass 2 broadcasts the
    ≤ capacity·|langs| candidate table back for exact counts, so the
    output is EXACT and the oracle is the direct per-language
    frequency filter. Eviction under a hostile per-group vocabulary is
    pinned in tests/test_edge_cases.py."""
    from process_spark.operators.sketch import frequent_items_by_group

    d = t(spark, sf_dir, "documents")
    tk = d.select("lang", F.explode(tokens("text")).alias("tok"))
    return frequent_items_by_group(tk, "lang", "tok", capacity=48)


@register(
    "text_repetition_filter",
    # Integer shingle counts; the fraction reaches the output only as
    # a half-up-scaled integer (the _util float policy) and the gate
    # compares the SAME scaled integer on both sides.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' '))
             WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
             ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
    ),
    c AS (
      SELECT doc_id,
             CAST(len(shingles) AS BIGINT) AS n_shingles,
             CAST(len(shingles) - len(list_distinct(shingles)) AS BIGINT)
               AS n_dup_shingles
      FROM sh
    )
    SELECT doc_id, n_shingles, n_dup_shingles,
           CASE WHEN n_shingles > 0 THEN
             CAST(FLOOR(CAST(n_dup_shingles AS DOUBLE) / n_shingles
                        * 1000000.0 + 0.5) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS dup_frac_e6,
           (CASE WHEN n_shingles > 0 THEN
              CAST(FLOOR(CAST(n_dup_shingles AS DOUBLE) / n_shingles
                         * 1000000.0 + 0.5) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END) <= 20000 AS keep
    FROM c
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gate (the Gopher/RefinedWeb
    'duplicate n-gram fraction' quality rule): per doc, the fraction of
    word 3-gram shingles that are repeats of an earlier shingle IN THE
    SAME DOC — templated/looping text scores high. The bar is a
    corpus-tuned knob: real web text runs 10-20%; this synthetic
    corpus tops out at 7.1% dup fraction, so the registered gate sits
    at 2% to stay DISCRIMINATING (4 docs cut at sf0.01 — a real cut,
    not pass-everything).
    Distinct from the cross-doc span coverage query
    (pipeline_span_dedup_coverage): this one needs no join at all —
    two array expressions per row, fused into the scan, which is the
    whole point of running it FIRST in a quality cascade at 100 TB
    (cheapest signal, no shuffle, prunes before the expensive dedup
    stages). The fraction lands as a half-up-scaled integer and the
    keep verdict compares that same integer on both engines."""
    d = t(spark, sf_dir, "documents")
    # Shingle array projected once, metrics reference the column: a
    # flat projection inlined tokenize+shingle into every metric
    # (measured 15 evaluations per row in the optimized plan — HOFs
    # get no common-subexpression elimination).
    c = d.select(
        "doc_id", tokens("text").alias("__toks")
    ).select(
        "doc_id", word_ngrams("__toks", 3).alias("__sh")
    ).select(
        "doc_id",
        F.size("__sh").cast("long").alias("n_shingles"),
        (F.size("__sh") - F.size(F.array_distinct("__sh")))
        .cast("long")
        .alias("n_dup_shingles"),
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.floor(
            F.col("n_dup_shingles").cast("double")
            / F.col("n_shingles")
            * 1000000.0
            + 0.5
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return c.select(
        "doc_id",
        "n_shingles",
        "n_dup_shingles",
        frac.alias("dup_frac_e6"),
        (frac <= 20000).alias("keep"),
    )


@register(
    "text_vocab_drift_report",
    # Pure integer-ratio arithmetic over the shared tokenizer chain:
    # counts are exact BIGINTs, the ppm rates are one double division
    # of identical integers + half-up floor — hash-exact.
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_O_TOKS}) AS tok FROM documents
    ),
    train AS (SELECT DISTINCT tok FROM tk WHERE doc_id % 2 = 0),
    cur AS (SELECT tok FROM tk WHERE doc_id % 2 = 1),
    occ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(CASE WHEN t.tok IS NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_oov
      FROM cur c LEFT JOIN train t USING (tok)
    ),
    types AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(COALESCE(SUM(CASE WHEN t.tok IS NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_new_types
      FROM (SELECT DISTINCT tok FROM cur) c LEFT JOIN train t USING (tok)
    )
    SELECT n_tokens, n_oov,
           CAST(FLOOR(n_oov * 1000000.0 / n_tokens + 0.5) AS BIGINT)
             AS oov_ppm,
           n_types, n_new_types,
           CAST(FLOOR(n_new_types * 1000000.0 / n_types + 0.5) AS BIGINT)
             AS new_type_ppm
    FROM occ, types
    """,
)
def text_vocab_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73/O76 — the STORED-TOKENIZER staleness monitor, completing the
    drift family across the text artifacts (IVF and PQ got theirs in
    r9/r10): every pinned text artifact — BPE merges, TF-IDF document
    frequencies, lexicons — was trained on a vocabulary snapshot, and
    the signal that it has gone stale is the INCOMING cohort's
    out-of-vocabulary mass. One row: the current (odd-doc) cohort's
    token occurrences and distinct types, how many of each are absent
    from the training (even-doc) vocabulary, and both as ppm rates. A
    deployment alerts on oov_ppm (occurrence mass the artifacts have
    never seen) and retrains on new_type_ppm growth (Heaps-law creep
    vs genuine distribution shift).

    Scale shape: one tokenize+explode scan per cohort; the joins key
    on the token, UNHINTED — the training vocabulary is
    vocabulary-sized (Heaps' law), which is small enough for AQE to
    broadcast at survey scale but NOT bounded by construction, so
    forcing the hint is exactly the text_tfidf vocabulary-broadcast
    bug the plan lint exists to prevent; at 100 TB the join shuffles
    on the token key. Everything downstream is map-side counting into
    a 1-row result. The synthetic testdata's 31
    shared token types have NO cross-cohort drift, so the all-zero
    rates the oracle hash-checks are the true answer there; the
    mechanism firing on a genuinely shifted corpus is pinned in
    tests/test_properties.py (BPE twin)."""
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    train = (
        tk.filter(F.col("doc_id") % 2 == 0)
        .select("tok")
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    cur = tk.filter(F.col("doc_id") % 2 == 1).select("tok")
    # ONE pass over the joined token stream: every token of a type
    # shares the same __known flag, so the per-type relation carries
    # (occurrence count, known) and BOTH the occurrence-level and the
    # type-level counts fold from it in one more (4-column, 1-row)
    # aggregate. The previous two-branch form (occ over the stream,
    # types over its distinct) re-ran each cohort's tokenize+explode
    # per branch — 4 corpus tokenizes and two joins for the same
    # integers.
    per_type = (
        cur.join(train, "tok", "left")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("__n_occ"),
            F.first("__known").alias("__known"),
        )
    )
    occ_types = per_type.agg(
        F.coalesce(F.sum("__n_occ"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(
                F.when(F.col("__known").isNull(), F.col("__n_occ")).otherwise(
                    0
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_oov"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_new_types"),
    )

    def ppm(num: str, den: str) -> "F.Column":
        return F.floor(
            F.col(num) * 1000000.0 / F.col(den) + 0.5
        ).cast("long")

    return occ_types.select(
        "n_tokens",
        "n_oov",
        ppm("n_oov", "n_tokens").alias("oov_ppm"),
        "n_types",
        "n_new_types",
        ppm("n_new_types", "n_types").alias("new_type_ppm"),
    )


@register("text_bpe_drift_report", oracle=None)
def text_bpe_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O73 — the BPE-merge twin of :func:`text_vocab_drift_report`,
    run against the REAL stored artifact: merges train on the even-doc
    cohort, persist and reload (bpe_save_merges / bpe_load_merges —
    the deployment always encodes with pinned merges, never a fresh
    train), then BOTH cohorts encode under those merges and report
    occurrence-weighted compression: (cohort, n_words, n_pieces,
    pieces_per_kword). Stale merges show as the incoming cohort's
    pieces_per_kword rising above the training cohort's — the
    distribution has shifted toward words the merge table fragments
    (exactly the drift-vs-training-error shape vec_pq_drift_report
    reports for codebooks; the rising-on-shift property is pinned in
    tests/test_properties.py). Learned merges are data-dependent, so
    the report is rows-only by nature (the module contract); its
    oracle-backed sibling is text_vocab_drift_report on the same
    cohort split. On the synthetic testdata both cohorts share the
    same 31-type vocabulary, so equal compression (zero drift) is the
    true answer there — the report's job is the comparison itself.

    Scale shape: merge training is one map-side-combined word count +
    a bounded driver merge loop; encoding runs once per DISTINCT word
    (Heaps-law bounded) and hash-joins back; the report is a 2-row
    aggregate. Integer outputs → deterministic across runs."""
    from process_spark.operators.bpe import (
        bpe_encode_words,
        bpe_load_merges,
        bpe_save_merges,
        bpe_train,
    )

    d = t(spark, sf_dir, "documents")
    merges = bpe_train(d.filter(F.col("doc_id") % 2 == 0))
    path = os.path.join(_SCRATCH, "bpe_drift_merges")
    bpe_save_merges(spark, merges, path)
    pinned = bpe_load_merges(spark, path)

    words = d.select(
        (F.col("doc_id") % 2).alias("cohort"),
        F.explode(tokens("text")).alias("word"),
    )
    encoded = bpe_encode_words(
        words.select("word").distinct(), pinned
    ).select("word", "n_pieces")
    return (
        words.join(encoded, "word")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .select(
            "cohort",
            "n_words",
            "n_pieces",
            F.floor(F.col("n_pieces") * 1000.0 / F.col("n_words") + 0.5)
            .cast("long")
            .alias("pieces_per_kword"),
        )
    )


@register(
    "dedup_lsh_skew_report",
    # One GROUP BY over the shared md5 band chain then a 16-row
    # census — every output cell an exact integer.
    oracle="""
    WITH {ctes},
    g AS (
      SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS sz
      FROM banded GROUP BY 1, 2
    )
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(MAX(sz) AS BIGINT) AS max_group_size,
           CAST(SUM(CASE WHEN sz > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap
    FROM g GROUP BY band_idx
    """.format(ctes=_minhash_md5_ctes(where="TRUE")),
)
def dedup_lsh_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O63 — the BUCKET-SKEW census that SIZES the hot-bucket guard:
    per band, how many (band, signature) join groups exist, the
    largest group, and how many exceed the guard cap (3 — the
    text_lsh_hot_bucket_guard setting). The banded join's per-task
    work is Σ(group²), so this 16-row report is exactly the
    information a deployment needs BEFORE choosing max_bucket_size —
    run it on a corpus sample, read max_group_size, and set the cap
    where the report says the boilerplate mass starts; re-run it on
    ingest waves to catch an emerging template flood before the join
    degrades (the monitoring twin of the guard itself, completing the
    monitor family: IVF/PQ/SQ8 drift, vocab/BPE OOV, and now LSH
    skew). One banding scan, one map-side-combinable GROUP BY to the
    group-size table, one census aggregation to n_bands rows."""
    d = t(spark, sf_dir, "documents")
    bidx = minhash_band_index(d, "doc_id", "text", **_BAND_KW)
    g = bidx.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return g.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.max("sz").cast("long").alias("max_group_size"),
        F.sum(F.when(F.col("sz") > 3, 1).otherwise(0))
        .cast("long")
        .alias("n_over_cap"),
    )
