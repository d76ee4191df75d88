"""Hypothesis property tests for the pure expression library
(SURVEY.md §5.2): engine Column expressions vs. independent Python
reference implementations. Batched — one Spark job per property, many
generated cases per job."""

from __future__ import annotations

import functools
import math
import operator

import pytest

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def _col_eval(spark, values, schema, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], schema)
    return [r.out for r in df.select(expr_fn(F.col("x")).alias("out")).collect()]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=0,
            max_size=40,
        ).map(lambda body: f"${body.replace('*', 'x').replace('$', 'y')}*00"),
        min_size=1,
        max_size=30,
    )
)
def test_checksum_matches_python(spark, sentences):
    from process_spark.functions.nmea import computed_checksum

    got = _col_eval(spark, sentences, "x string", computed_checksum)
    for s, g in zip(sentences, got):
        body = s[1:s.index("*")]
        expect = functools.reduce(operator.xor, (ord(c) for c in body), 0)
        assert g == expect, s


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        min_size=1,
        max_size=50,
    )
)
def test_norm360_and_angle_diff(spark, degs):
    from process_spark.functions.angles import angle_diff, norm_360

    got = _col_eval(spark, degs, "x double", norm_360)
    for d, g in zip(degs, got):
        assert 0.0 <= g < 360.0 or math.isclose(g, 0.0)
        assert math.isclose(math.cos(math.radians(g)),
                            math.cos(math.radians(d)), abs_tol=1e-6)
        assert math.isclose(math.sin(math.radians(g)),
                            math.sin(math.radians(d)), abs_tol=1e-6)

    diffs = _col_eval(
        spark, degs, "x double", lambda c: angle_diff(c, F.lit(0.0))
    )
    for d, g in zip(degs, diffs):
        assert -180.0 <= g < 180.0
        # smallest signed difference to 0 preserves direction cosine
        assert math.isclose(math.cos(math.radians(g)),
                            math.cos(math.radians(d)), abs_tol=1e-6)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=89),   # degrees
            st.floats(min_value=0, max_value=59.9999, allow_nan=False),  # minutes
            st.booleans(),                             # southern hemisphere?
        ),
        min_size=1,
        max_size=50,
    )
)
def test_nmea_coord_conversion(spark, coords):
    from process_spark.functions.geo import nmea_coord_to_deg

    rows = [(d * 100 + m, "S" if south else "N") for d, m, south in coords]
    df = spark.createDataFrame(rows, "x double, hemi string")
    got = [
        r.out
        for r in df.select(
            nmea_coord_to_deg(F.col("x"), F.col("hemi")).alias("out")
        ).collect()
    ]
    for (d, m, south), g in zip(coords, got):
        expect = (d + m / 60.0) * (-1 if south else 1)
        assert math.isclose(g, expect, rel_tol=1e-12, abs_tol=1e-12)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
            ),
            min_size=4,
            max_size=4,
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=2,
        max_size=12,
    )
)
@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_unit_dot_matches_cosine(spark, vectors):
    """The normalize-once-then-dot scoring (operators.similarity) must
    agree with the classic dot/(|a||b|) cosine to float64 tolerance —
    the op-order change is a performance layout, not a semantic one."""
    from process_spark.functions.vectorfn import cosine, dot, l2_norm, unit_with

    rows = [(i, v) for i, v in enumerate(vectors)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    normed = df.select(
        "id", l2_norm("v").alias("__n"), F.col("v")
    ).select("id", unit_with("v", "__n").alias("nv"))
    a, b = normed.alias("a"), normed.alias("b")
    via_unit = {
        (r["ida"], r["idb"]): r["s"]
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            dot(F.col("a.nv"), F.col("b.nv")).alias("s"),
        )
        .collect()
    }
    a2, b2 = df.alias("a"), df.alias("b")
    via_cosine = {
        (r["ida"], r["idb"]): r["s"]
        for r in a2.join(b2, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            cosine(F.col("a.v"), F.col("b.v")).alias("s"),
        )
        .collect()
    }
    assert via_unit.keys() == via_cosine.keys()
    for k, s in via_unit.items():
        c = via_cosine[k]
        if s is None or c is None:
            # Zero/underflow norm (e.g. [0.0, 1e-320]: squares underflow
            # to 0) — BOTH layouts must agree on the NULL semantics.
            assert s is None and c is None, (k, s, c)
        else:
            assert abs(s - c) < 1e-9, (k, s, c)


def test_knn_arrow_matmul_matches_hof(spark):
    """The Arrow/BLAS matmul scorer (brute_force_knn_arrow) must return
    the same per-query top-k ID SETS as the oracle-checked HOF
    expression path — the matmul is a physical layout, not a semantic
    change. Scores may differ in the last ULPs (numpy pairwise
    summation vs sequential fold), so ids, not scores, are compared."""
    from process_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_arrow,
    )
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    hof = {
        (r["q_id"], r["vec_id"]) for r in brute_force_knn(q, e, k=5).collect()
    }
    arrow = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_knn_arrow(q, e, k=5).collect()
    }
    assert hof == arrow


def test_ivf_arrow_matches_expression_path(spark):
    """ivf_search_arrow (broadcast probe dict + mapInPandas matmul)
    must return the same per-query top-k ID SETS as ivf_search (cell
    equi-join + HOF dot) for the same index — same probes, same
    candidates, different scoring layout."""
    from process_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        ivf_search_arrow,
    )
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    cells, assignments = ivf_build(e, n_cells=4)
    assignments = assignments.localCheckpoint()  # same index for both paths
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    expr = {
        (r["q_id"], r["vec_id"])
        for r in ivf_search(q, cells, assignments, k=5, n_probe=2).collect()
    }
    arrow = {
        (r["q_id"], r["vec_id"])
        for r in ivf_search_arrow(q, cells, assignments, k=5, n_probe=2).collect()
    }
    assert expr == arrow


def test_near_dup_arrow_matches_expression_path(spark):
    """near_dup_embeddings_arrow (per-block chunked matmul) must find
    the same pair ID SETS as the blocked self-join expression path at
    the same threshold."""
    from process_spark.operators.similarity import (
        near_dup_embeddings,
        near_dup_embeddings_arrow,
    )
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    expr = {
        (r["id_a"], r["id_b"])
        for r in near_dup_embeddings(e, threshold=0.2, block_col="label").collect()
    }
    arrow = {
        (r["id_a"], r["id_b"])
        for r in near_dup_embeddings_arrow(
            e, threshold=0.2, block_col="label", chunk=64
        ).collect()
    }
    assert expr == arrow
    assert len(expr) > 0  # discriminating: the threshold must bite


def test_twins_agree_on_degenerate_vectors(spark):
    """Expression and Arrow twins must agree on every degenerate-input
    class a hostile corpus can ship: NaN-element vectors (Spark orders
    NaN above all reals and evaluates NaN >= t as TRUE — both paths
    must EXCLUDE them), NULL vectors, NULL block labels, and duplicate
    ids within a block (no id_a == id_b pairs)."""
    from process_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_arrow,
        near_dup_embeddings,
        near_dup_embeddings_arrow,
    )

    rows = []
    # 6 well-formed near-parallel vectors per block, 2 blocks
    for i in range(6):
        rows.append((i, [1.0, 0.001 * i, 0.5], 0))
        rows.append((10 + i, [0.2, 1.0, 0.01 * i], 1))
    rows += [
        (100, [float("nan"), 1.0, 0.0], 0),  # NaN element
        (101, None, 0),                       # NULL vector
        (102, [0.0, 0.0, 0.0], 0),            # zero norm
        (103, [1.0, 0.0011, 0.5], None),      # NULL block
        (3, [1.0, 0.003, 0.5], 0),            # duplicate id within block
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    expr = {
        (r["id_a"], r["id_b"])
        for r in near_dup_embeddings(
            e, threshold=0.9, block_col="label"
        ).collect()
    }
    arrow = {
        (r["id_a"], r["id_b"])
        for r in near_dup_embeddings_arrow(
            e, threshold=0.9, block_col="label", chunk=4
        ).collect()
    }
    assert expr == arrow
    assert len(expr) > 0
    assert all(a != b for a, b in expr)
    assert not any(100 in p or 101 in p or 102 in p or 103 in p for p in expr)

    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.5]), (1, [float("nan"), 1.0, 0.0]), (2, None)],
        "q_id long, q_emb array<float>",
    )
    hof = {
        (r["q_id"], r["vec_id"]) for r in brute_force_knn(q, e, k=3).collect()
    }
    arw = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_knn_arrow(q, e, k=3).collect()
    }
    assert hof == arw
    assert {p[0] for p in hof} == {0}  # NaN/NULL queries yield nothing
    assert not any(v in (100, 101, 102) for _, v in hof)


def test_kmeans_arrow_assignment_matches_expression_path(spark):
    """kmeans(scorer="arrow") must produce the same cluster MEMBERSHIP
    as the expression path — same seeded init, same tie rule (lowest
    cell_id on equal scores), different scoring layout."""
    from process_spark.operators.similarity import kmeans
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    expr_cents, expr_assign = kmeans(e, k=4, n_iter=2)
    arw_cents, arw_assign = kmeans(e, k=4, n_iter=2, scorer="arrow")
    ex = {(r["vec_id"], r["cell_id"]) for r in expr_assign.collect()}
    ar = {(r["vec_id"], r["cell_id"]) for r in arw_assign.collect()}
    assert ex == ar


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_iterative_ops_with_reliable_checkpoint_dir(spark, tmp_path):
    """connected_components / kmeans with checkpoint_dir must write
    RELIABLE checkpoints (the kind that survives executor loss on a
    cluster) and produce exactly the same result as the
    localCheckpoint default."""
    import os

    from process_spark.operators.dedup import connected_components
    from process_spark.operators.similarity import kmeans
    from process_spark.sources.io import load

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    ckpt = str(tmp_path / "ckpt")
    base = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    reliable = {
        (r["id"], r["component"])
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert base == reliable
    assert {c for _, c in reliable} == {1, 10, 20}
    # the reliable checkpoint actually hit the directory
    assert any(os.scandir(ckpt)), "checkpoint_dir was never written"

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    _, a1 = kmeans(e, k=3, n_iter=2)
    _, a2 = kmeans(e, k=3, n_iter=2, checkpoint_dir=str(tmp_path / "ck2"))
    assert {(r["vec_id"], r["cell_id"]) for r in a1.collect()} == {
        (r["vec_id"], r["cell_id"]) for r in a2.collect()
    }


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            # printable ASCII incl. space + the contraction apostrophe;
            # exercises every alternation branch of BPE_SPLIT_PATTERN
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_bpe_token_count_matches_python(spark, texts):
    """Three-way agreement on the BPE-ish pretokenizer: the Spark
    Column expression (Java regex) must match Python's `re` on the
    same pattern (the DuckDB/RE2 side is pinned by the
    text_bpe_token_count oracle) — ordered alternation without
    lookaheads is the portable subset all three engines share."""
    import re

    from process_spark.functions.textfn import (
        BPE_SPLIT_PATTERN,
        bpe_token_count,
    )

    got = _col_eval(spark, texts, "x string", bpe_token_count)
    pat = re.compile(BPE_SPLIT_PATTERN)
    for s, g in zip(texts, got):
        assert g == len(pat.findall(s)), repr(s)


def test_sq8_arrow_matmul_matches_hof_exactly(spark):
    """sq8_search_arrow must match sq8_search ROW-FOR-ROW — ids,
    integer scores, and ranks. Unlike the float twins (last-ULP
    summation slack → id-set comparison), the SQ8 grid codes are
    bit-identical by construction (sequential f64 accumulation of f32
    squares mirrors the HOF fold) and every matmul intermediate is an
    exactly-representable integer, so the twins agree exactly, ties
    included."""
    from process_spark.operators.similarity import (
        sq8_search,
        sq8_search_arrow,
    )
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    hof = {
        (r["q_id"], r["vec_id"], r["adc_score"], r["rn"])
        for r in sq8_search(q, e, k=5).collect()
    }
    arrow = {
        (r["q_id"], r["vec_id"], r["adc_score"], r["rn"])
        for r in sq8_search_arrow(q, e, k=5).collect()
    }
    assert hof == arrow


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_sq8_arrow_negative_topk_even_batch(spark):
    """Adversarial fixture for the self-pair sentinel: an EVEN-sized
    Arrow batch whose every non-self candidate scores NEGATIVE
    (antipodal corpus). A sentinel pre-multiplied into the composite
    key wraps int64 (min·n ≡ 0 mod 2^64 for even n) and re-enters the
    top-m as a fake score-0 row, displacing a legitimate negative-score
    candidate that the ok-filter can never restore — the arrow twin
    would emit k-1 rows where the HOF path emits k. Asserts exact
    row identity (ids, scores, ranks) on the hostile corpus."""
    from process_spark.operators.similarity import (
        sq8_search,
        sq8_search_arrow,
    )

    d = 64
    rows = []
    for i in range(6):  # even n — the wrap case
        v = [0.0] * d
        if i == 0:
            v[0] = 1.0
        else:
            v[0] = -1.0
            v[i] = 0.01  # keep vectors distinct, scores still < 0 vs v0
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    hof = {
        (r["q_id"], r["vec_id"], r["adc_score"], r["rn"])
        for r in sq8_search(q, e, k=5).collect()
    }
    arrow = {
        (r["q_id"], r["vec_id"], r["adc_score"], r["rn"])
        for r in sq8_search_arrow(q.coalesce(1), e.coalesce(1), k=5).collect()
    }
    assert hof == arrow
    # the boundary really is sub-zero: every neighbor of q0 antipodal
    q0_scores = [s for (qi, _, s, _) in hof if qi == 0]
    assert len(q0_scores) == 5 and all(s < 0 for s in q0_scores)


def test_bpe_train_matches_sennrich_fixture(spark):
    """Canonical BPE fixture (Sennrich et al. 2016, §3.2 shape): on a
    word-frequency table dominated by a repeated suffix, the first
    merges must assemble that suffix, and encoding then compresses
    exactly the words containing it. Hand-checkable end to end."""
    from process_spark.operators.bpe import _encode_word, _train_merges

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = _train_merges(freqs, 4)
    # 'es' (9), 'est' (9), then 'lo' (7), 'low' (7) — counts weighted
    # by word frequency, ties broken lexicographically
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
    rank = {p: i for i, p in enumerate(merges)}
    assert _encode_word("newest", rank) == ["n", "e", "w", "est"]
    assert _encode_word("lowest", rank) == ["low", "est"]
    assert _encode_word("low", rank) == ["low"]
    assert _encode_word("xyz", rank) == ["x", "y", "z"]  # no merges apply


def test_bpe_roundtrip_and_determinism(spark):
    """Over the FULL corpus vocabulary: (a) concatenating a word's
    pieces reconstructs the word exactly (no piece lost or invented);
    (b) the learned merge table is identical from any partitioning;
    (c) more merges never increase a word's piece count."""
    from process_spark.functions.textfn import tokens as _tokens
    from process_spark.operators.bpe import bpe_encode_words, bpe_train
    from process_spark.sources.io import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    merges = bpe_train(d, "text", n_merges=32)
    assert merges == bpe_train(d.repartition(17), "text", n_merges=32)

    vocab = d.select(
        F.explode(_tokens(F.col("text"))).alias("word")
    ).distinct()
    enc = bpe_encode_words(vocab, merges).collect()
    assert enc
    for r in enc:
        assert "".join(r["pieces"]) == r["word"]
        assert r["n_pieces"] == len(r["pieces"]) >= 1

    fewer = {
        r["word"]: r["n_pieces"]
        for r in bpe_encode_words(vocab, merges[:8]).collect()
    }
    for r in enc:
        assert r["n_pieces"] <= fewer[r["word"]]


def test_bpe_doc_counts_two_path_self_twin(spark):
    """The distinct-vocab+join path (bpe_doc_token_counts) must equal
    a direct per-occurrence encode — the join is a physical
    memoization, not a semantic change — and n_bpe_tokens must sit in
    [n_words, n_chars_of_words]. Zero-word documents (empty /
    whitespace-only text) are IN the comparison set: they explode to
    no rows, so an aggregate-only path silently drops them — the
    budget contract is a (0, 0) row for every such doc (the direct
    baseline here prefills every doc id, so a drop FAILS the twin
    instead of hiding in it)."""
    from process_spark.functions.textfn import tokens as _tokens
    from process_spark.operators.bpe import (
        _encode_word,
        bpe_doc_token_counts,
        bpe_train,
    )
    from process_spark.sources.io import load

    d = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [(900001, ""), (900002, "   \t\n  ")],
            "doc_id long, text string",
        )
    )
    merges = bpe_train(d, "text", n_merges=32)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_doc_token_counts(d, merges).collect()
    }
    rank = {p: i for i, p in enumerate(merges)}
    direct: dict = {
        r["doc_id"]: (0, 0) for r in d.select("doc_id").collect()
    }
    for r in d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("w")
    ).collect():
        n_w, n_p = direct[r["doc_id"]]
        direct[r["doc_id"]] = (
            n_w + 1, n_p + len(_encode_word(r["w"], rank))
        )
    assert got == direct
    assert got[900001] == (0, 0) and got[900002] == (0, 0)
    for n_words, n_bpe in got.values():
        assert n_words <= n_bpe  # every word is >= 1 piece


def test_bpe_merge_table_store_lifecycle(spark, tmp_path):
    """Train-once / apply-many: the persisted merge table (parquet
    rank/left/right) round-trips byte-identically, and budgets computed
    from the RELOADED artifact equal the direct-apply budgets exactly —
    the pinning that makes token budgets comparable across runs."""
    from process_spark.operators.bpe import (
        bpe_doc_token_counts,
        bpe_load_merges,
        bpe_save_merges,
        bpe_train,
    )
    from process_spark.sources.io import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    merges = bpe_train(d, "text", n_merges=32)
    path = str(tmp_path / "merges")
    bpe_save_merges(spark, merges, path)
    loaded = bpe_load_merges(spark, path)
    assert loaded == [tuple(p) for p in merges]  # byte-identical artifact

    direct = {
        (r["doc_id"], r["n_words"], r["n_bpe_tokens"])
        for r in bpe_doc_token_counts(d, merges).collect()
    }
    stored = {
        (r["doc_id"], r["n_words"], r["n_bpe_tokens"])
        for r in bpe_doc_token_counts(d, loaded).collect()
    }
    assert direct == stored  # apply-twice from the pinned artifact


def test_pq_codebook_store_lifecycle(spark, tmp_path):
    """Train-once / encode-many for PQ: the persisted codebooks
    (parquet subspace/centroid/vec — doubles round-trip parquet
    exactly) reload bit-identically, and both the codes and the
    search results from the RELOADED artifact equal the direct-apply
    ones byte-for-byte — stored PQ codes are only decodable against
    the exact codebooks that produced them, so the artifact pin is
    what keeps a persisted code index readable across retrains."""
    from process_spark.operators.similarity import (
        pq_encode,
        pq_load_codebooks,
        pq_save_codebooks,
        pq_search,
        pq_train,
    )
    from process_spark.sources.io import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_train(e, m=8, k=16, n_iter=3)
    path = str(tmp_path / "codebooks")
    pq_save_codebooks(spark, books, path)
    loaded = pq_load_codebooks(spark, path)
    assert loaded == books  # bit-identical artifact

    direct_codes = {
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(e, books).collect()
    }
    stored_codes = {
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(e, loaded).collect()
    }
    assert direct_codes == stored_codes

    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    codes = pq_encode(e, books)
    direct = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in pq_search(q, codes, e, books, k=5, rerank=50).collect()
    }
    stored = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in pq_search(q, codes, e, loaded, k=5, rerank=50).collect()
    }
    assert direct == stored


def _chain(spark, n, seed=None):
    """An ``n``-link path; with ``seed``, its n + 1 ids are shuffled, so
    id order says nothing about the path."""
    import random

    ids = list(range(n + 1))
    if seed is not None:
        random.Random(seed).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    return edges, spark.createDataFrame(edges, "src long, dst long")


def _union_find_components(n, edges):
    """{vertex: min vertex of its component} over vertices 0..n-1."""
    parent = list(range(n))

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: root(v) for v in range(n)}


def test_components_shuffled_chain_default_budget(spark):
    """A 40-link chain with shuffled ids is one component at the
    default max_iter. Vertex 0 sits 33 links from one end, so a
    one-hop-per-round labelling stopped at 20 rounds would leave the
    far end on another label."""
    from process_spark.operators.dedup import connected_components

    _, chain = _chain(spark, 40, seed=3)
    got = {(r["id"], r["component"]) for r in connected_components(chain).collect()}
    assert got == {(i, 0) for i in range(41)}


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_star_components_long_chain(spark):
    """Long chains, the shape star contraction exists for, and a
    branchy random graph with isolated vertices: the labelling equals
    a plain-Python union-find's."""
    import random

    from process_spark.operators.dedup import connected_components

    rnd = random.Random(9973)
    branchy = [(rnd.randrange(120), rnd.randrange(120)) for _ in range(90)]
    cases = [
        (201, _chain(spark, 200)),
        (1001, _chain(spark, 1000, seed=11)),
        (120, (branchy, spark.createDataFrame(branchy, "src long, dst long"))),
    ]
    for n, (edges, g) in cases:
        verts = spark.range(n).withColumnRenamed("id", "vid")
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                g, "src", "dst", vertices=verts, id_col="vid"
            ).collect()
        }
        assert got == _union_find_components(n, edges), n


def test_star_components_nonconvergence_raises(spark):
    """An exhausted max_iter must FAIL LOUDLY, not return a labeling:
    short of the star-forest fixpoint a node can still carry edges to
    different centers. A 40-link chain cannot reach it in one round;
    an edgeless graph reaches it in its first round and must still
    label every vertex a singleton."""
    import pytest as _pytest

    from process_spark.operators.dedup import connected_components

    _, chain = _chain(spark, 40, seed=3)
    with _pytest.raises(RuntimeError, match="max_iter"):
        connected_components(chain, "src", "dst", max_iter=1)

    verts = spark.range(5).withColumnRenamed("id", "vid")
    empty = spark.createDataFrame([], "src long, dst long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(
            empty, "src", "dst", vertices=verts, id_col="vid", max_iter=1
        ).collect()
    }
    assert got == {(i, i) for i in range(5)}


def test_connected_components_job_budget(spark, spark_jobs):
    # A dedup-shaped graph, shallow and dense: disjoint pairs and
    # triangles plus isolated vertices, a star forest after one round.
    # That round and the labelling's collect run 9 jobs; a second
    # action per round, or a join per star step, breaks the budget.
    from process_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 4)]
    edges += [
        e for i in range(100, 160, 6) for e in [(i, i + 1), (i + 1, i + 2), (i, i + 2)]
    ]
    g = spark.createDataFrame(edges, "src long, dst long")
    verts = spark.range(200).withColumnRenamed("id", "vid")
    with spark_jobs() as jobs:
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                g, vertices=verts, id_col="vid"
            ).collect()
        }
    assert got == _union_find_components(200, edges)
    assert 0 < len(jobs) <= 9, jobs


def test_pq_quantization_error_monitors_drift(spark):
    """pq_quantization_error against REAL pq_train codebooks: (a) more
    centroids -> lower per-subspace error (k-means sanity), (b) a
    corpus drawn from a SHIFTED distribution scores higher error under
    the stale codebooks than the training corpus did — the retrain
    signal vec_pq_drift_report is built on."""
    import random

    from process_spark.operators.similarity import (
        pq_quantization_error,
        pq_train,
    )

    rnd = random.Random(9973)
    # training corpus: directions in the cap around +e1 (PQ quantizes
    # DIRECTION — unit-normalized — so drift must be angular)
    train = spark.createDataFrame(
        [
            (i, [5.0 + rnd.gauss(0, 0.5)] + [rnd.gauss(0, 0.5) for _ in range(7)])
            for i in range(300)
        ],
        "vec_id long, embedding array<double>",
    )
    books_k4 = pq_train(train, m=2, k=4, n_iter=5)
    books_k16 = pq_train(train, m=2, k=16, n_iter=5)
    err4 = {
        r["subspace"]: r["mse"]
        for r in pq_quantization_error(train, books_k4).collect()
    }
    err16 = {
        r["subspace"]: r["mse"]
        for r in pq_quantization_error(train, books_k16).collect()
    }
    assert set(err4) == {0, 1}
    for s in err4:
        assert err16[s] < err4[s]

    # drifted corpus: directions rotated into the cap around +e2 —
    # angularly far from everything the codebooks saw
    shifted = spark.createDataFrame(
        [
            (i, [rnd.gauss(0, 0.5), 5.0 + rnd.gauss(0, 0.5)]
             + [rnd.gauss(0, 0.5) for _ in range(6)])
            for i in range(300)
        ],
        "vec_id long, embedding array<double>",
    )
    err_shift = {
        r["subspace"]: r["mse"]
        for r in pq_quantization_error(shifted, books_k4).collect()
    }
    for s in err4:
        assert err_shift[s] > err4[s]


def test_funnel_stages_gap_and_order_semantics(spark):
    """funnel_stages pins the two rules that make a funnel a funnel:
    stage order is on event TIME (a click before the first view never
    converts), and each transition's max gap is inclusive at exactly
    the bound and exclusive one second past it. Also: an N-stage
    funnel works (4 stages) and bad parameter shapes raise."""
    import pytest as _pytest

    from process_spark.operators.series import funnel_stages

    rows = [
        # u1: clean conversion inside every gap
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 00:00:30"),
        (1, "purchase", "2024-01-01 00:01:00"),
        # u2: click exactly AT the 60 s bound (inclusive -> converts),
        # purchase 61 s after the click (exclusive -> drops)
        (2, "view", "2024-01-01 00:00:00"),
        (2, "click", "2024-01-01 00:01:00"),
        (2, "purchase", "2024-01-01 00:02:01"),
        # u3: click BEFORE the first view -> never converts
        (3, "click", "2024-01-01 00:00:00"),
        (3, "view", "2024-01-01 00:00:10"),
        # u4: no view at all -> not in the funnel
        (4, "click", "2024-01-01 00:00:00"),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))

    out = {
        r["user_id"]: (r["t_1"], r["t_2"], r["t_3"])
        for r in funnel_stages(
            e, ["view", "click", "purchase"], max_gaps=[60, 60]
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert all(v is not None for v in out[1])
    assert out[2][1] is not None and out[2][2] is None
    assert out[3] == (out[3][0], None, None) and out[3][0] is not None

    # 4-stage funnel with an unbounded middle transition
    rows4 = [
        (9, "a", "2024-01-01 00:00:00"),
        (9, "b", "2024-01-01 00:00:10"),
        (9, "c", "2024-01-02 00:00:00"),  # 1 day later, gap None -> ok
        (9, "d", "2024-01-02 00:00:05"),
    ]
    e4 = spark.createDataFrame(
        rows4, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = funnel_stages(
        e4, ["a", "b", "c", "d"], max_gaps=[60, None, 60]
    ).collect()[0]
    assert all(r[f"t_{i}"] is not None for i in (1, 2, 3, 4))

    with _pytest.raises(ValueError, match="at least 2"):
        funnel_stages(e, ["view"])
    with _pytest.raises(ValueError, match="transition"):
        funnel_stages(e, ["view", "click"], max_gaps=[1, 2])


def test_bpe_drift_rises_on_distribution_shift(spark):
    """The premise of text_bpe_drift_report: under PINNED merges
    trained on cohort A, a shifted cohort B (words the merge table
    never saw) encodes to MORE pieces per word than A does — the
    retrain signal. Also pins the save/load path used by the report."""
    from process_spark.operators.bpe import (
        bpe_encode_words,
        bpe_load_merges,
        bpe_save_merges,
        bpe_train,
    )

    train_words = ["lowering", "lowered", "lower", "newest", "wider",
                   "widest", "newer", "lowest"] * 20
    train = spark.createDataFrame(
        [(" ".join(train_words),)], "text string"
    )
    merges = bpe_train(train, n_merges=60)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        bpe_save_merges(spark, merges, td + "/m")
        pinned = bpe_load_merges(spark, td + "/m")
    assert [tuple(p) for p in pinned] == [tuple(p) for p in merges]

    def ppw(words: list) -> float:
        df = spark.createDataFrame([(w,) for w in words], "word string")
        rows = bpe_encode_words(df.distinct(), pinned).collect()
        per = {r["word"]: r["n_pieces"] for r in rows}
        return sum(per[w] for w in words) / len(words)

    in_dist = ["lowering", "newest", "wider", "lowest"] * 10
    shifted = ["zyxqvjkp", "qqqjjjzz", "xkcdxkcd", "vvqqppzz"] * 10
    assert ppw(shifted) > ppw(in_dist) * 1.5, (
        ppw(in_dist), ppw(shifted)
    )
