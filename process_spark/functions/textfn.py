"""Text-analysis expressions (SURVEY.md §2.11, O71-O78; contract
extension "text analysis" per BASELINE.json).

All pure Column expressions — tokenization, n-grams, quality signals,
fingerprints — so they run JVM-side over 100 TB of documents.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Plain-identifier guard for the single-parse fast paths: only bare
#: column names take the F.expr route (anything qualified, quoted or
#: derived falls back to the Column-building form).
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


@lru_cache(maxsize=256)
def _tokens_expr(name: str) -> Column:
    return F.expr(
        f"filter(split(lower(`{name}`), '[^a-z0-9]+'), "
        "__t -> length(__t) > 0)"
    )


def tokens(text: Column | str) -> Column:
    """O73 — lowercase word tokens (splits on non-alphanumeric runs,
    drops empty strings).

    For a bare column NAME the expression is assembled as one SQL
    string parsed server-side (and memoized — Column objects are
    immutable plan fragments, safely shared across plans): the
    HOF-with-Python-lambda form costs ~10 py4j round trips of driver
    time per construction (~20 ms here, guide §7.3), and this is the
    engine's single most-constructed expression."""
    if isinstance(text, str) and _IDENT.match(text):
        return _tokens_expr(text)
    return F.filter(
        F.split(F.lower(_c(text)), r"[^a-z0-9]+"), lambda t: F.length(t) > 0
    )


def word_ngrams(toks: Column | str, n: int = 3) -> Column:
    """Word n-grams from a token array (O75). Shorter-than-window docs
    yield their whole text as the single shingle; EMPTY token lists
    yield an EMPTY shingle list (not ['']) — an empty document has no
    content to fingerprint, and the ['' ] form diverges cross-engine
    (DuckDB's array_to_string([]) is NULL while Spark's concat_ws is
    '')."""
    a = _c(toks)
    return (
        F.when(
            F.size(a) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(a) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(a, i, n)),
            ),
        )
        .when(F.size(a) > 0, F.array(F.concat_ws(" ", a)))
        .otherwise(F.array().cast("array<string>"))
    )


def quality_signals(
    text: Column | str, toks: Column | str | None = None
) -> dict[str, Column]:
    """Quality-scoring signals (contract: training-data pipeline).

    Returns named expressions; callers select the ones they need:
    length, token count, mean word length, punctuation ratio, digit
    ratio, uppercase ratio, stopword ratio (small English lexicon).

    ``toks``: optionally a PRE-PROJECTED token-array column. The token
    expression is embedded several times across the returned signals;
    selecting them in one flat projection re-runs the tokenize once
    per embedding (HOFs get no common-subexpression elimination), so a
    caller that projects ``tokens(text)`` first and passes the column
    name pays ONE tokenize per row."""
    t = _c(text)
    n = F.length(t).cast("double")
    toks = tokens(t) if toks is None else _c(toks)
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, w)))
    return {
        "n_chars": F.length(t),
        "n_tokens": F.size(toks),
        "mean_token_len": F.when(
            F.size(toks) > 0,
            F.aggregate(
                toks, F.lit(0), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / F.size(toks),
        ),
        "punct_ratio": F.when(
            n > 0,
            (n - F.length(F.regexp_replace(t, r"[^\w\s]", ""))) / n,
        ),
        "digit_ratio": F.when(
            n > 0, (n - F.length(F.regexp_replace(t, r"[0-9]", ""))) / n
        ),
        "upper_ratio": F.when(
            n > 0, (n - F.length(F.regexp_replace(t, r"[A-Z]", ""))) / n
        ),
        "stopword_ratio": F.when(
            F.size(toks) > 0, n_stop.cast("double") / F.size(toks)
        ),
    }


_STOPWORDS = (
    "the a an and or but if then of to in on at by for with is are was were "
    "be been it this that as from not no he she they we you i his her its "
    "their our your do does did have has had will would can could"
).split()

#: n-gram language profiles for the heuristic language-ID below.
#: Tiny hand-rolled lexicons per language the documents table carries
#: (en/zh/es/de/fr, SURVEY.md §1.2 [T]).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "that", "with", "for"),
    "es": ("el", "la", "los", "las", "de", "que", "es", "una", "para"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "de", "et", "est", "une", "pour", "que"),
}


def language_guess(
    text: Column | str, toks: Column | str | None = None
) -> Column:
    """Heuristic language-ID (contract op): CJK-codepoint test for zh,
    else argmax of marker-word hits across the Latin languages.
    Deliberately simple and deterministic; the engine treats it as a
    feature column, not ground truth.

    ``toks``: optionally a pre-projected token-array column — the
    marker scan embeds the token expression once per language, so
    passing a column makes that 4 array scans of one materialized
    array instead of 4 tokenizes (same contract as
    :func:`quality_signals`)."""
    t = _c(text)
    toks = tokens(t) if toks is None else _c(toks)
    has_cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", "")) > 0
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda w: F.array_contains(marker_arr, w)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(has_cjk, F.lit("zh")).otherwise(best.getField("lang"))


def simhash64(toks: Column | str, base_hash: str = "xxhash64") -> Column:
    """SimHash over per-token hashes — near-dup signature (O63 family).
    Majority vote per bit; unrolled over the bit positions (shift
    amounts must be static ints), OR-folded into one long.

    ``base_hash``: "xxhash64" (default, 64 bits — cheapest) or "md5"
    (first 15 hex chars of md5(token) as a 60-bit int — DuckDB
    reproduces it byte-for-byte, so the whole token→vote→signature→
    band chain carries a cross-engine oracle; same trade as
    minhash_lsh_pairs/ivf_build)."""
    a = _c(toks)
    if base_hash == "md5":
        n_bits = 60  # 15 hex chars < 2^60: fits signed-64, no sign bit
        hashes = F.transform(
            a, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
        )
    else:
        n_bits = 64
        hashes = F.transform(a, lambda w: F.xxhash64(w))
    n = F.size(a)
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        n_set = F.size(
            F.filter(hashes, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(
            n_set * 2 > n, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(bit)
    return sig


#: GPT-2-style pretokenizer regex, simplified to the subset with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB): ordered
#: alternation, no lookaheads (RE2 has none — the upstream pattern's
#: trailing-space lookahead is dropped), ASCII classes. Branches:
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, residual whitespace runs.
BPE_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
    r"|\s+"
)


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: the number of pretokenizer pieces under
    BPE_SPLIT_PATTERN — the 'how many LLM tokens will this roughly be'
    signal (an upper-ish bound: real BPE merges within pieces, never
    across them). Pure Column expression, stays in codegen."""
    return F.size(
        F.regexp_extract_all(_c(text), F.lit(BPE_SPLIT_PATTERN), F.lit(0))
    )
