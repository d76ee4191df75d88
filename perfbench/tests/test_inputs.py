"""Seed determinism of generated inputs and the NMEA expectation math."""

from __future__ import annotations

import pytest

from perfbench import inputs
from perfbench.compare import compare, verdict
from perfbench.suite import tree_order


def test_golden_day_expectations():
    # tests/test_nmea.py pins the fixture's defaults: two races of
    # 3600 s and 2700 s with 5 + 4 tacks.
    assert inputs.expected_day(inputs.GOLDEN_DAY) == {
        "races": 2, "points": [3600, 2700], "tacks": [5, 4],
    }


def test_short_gap_keeps_one_race():
    p = inputs.DayParams("2024-01-01", 3000, 1000, 200, 600, 97)
    assert inputs.expected_day(p) == {"races": 1, "points": [2800], "tacks": [4]}


def test_day_log_lines_match_the_fixture():
    # Starts a local Spark session: the plain-Python generator must
    # write exactly the fixture's lines, corrupted checksums and the
    # turns at each tack included.
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from process_spark.sources import nmea_fixture

    p = inputs.DayParams("2024-03-09", 1500, 400, 350, 480, 83)
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    saved = nmea_fixture.START_TS
    try:
        nmea_fixture.START_TS = f"{p.date} 10:00:00"
        log = nmea_fixture.sail_log(spark, **p.fixture_kwargs())
        want = sorted(r["raw"] for r in log.collect())
    finally:
        nmea_fixture.START_TS = saved
        spark.stop()
    got = inputs.day_log_lines(p)
    assert len(got) == 4 * (p.n_seconds - p.gap_len)
    assert got == want


def test_day_params_are_seed_deterministic():
    assert inputs.day_params(7) == inputs.day_params(7)
    assert inputs.day_params(7) != inputs.day_params(8)


@pytest.mark.parametrize("seed", range(20))
def test_day_params_keep_work_constant_and_edges_clear(seed):
    params = inputs.day_params(seed)
    assert len({p.date for p in params}) == len(params)
    for p in params:
        assert p.n_seconds - p.gap_len == inputs.ACTIVE_S
        for edge in (p.gap_start, p.gap_start + p.gap_len, p.n_seconds):
            off = edge % p.tack_period
            assert p.tack_period // 4 <= off <= p.tack_period - p.tack_period // 4
        exp = inputs.expected_day(p)
        assert exp["races"] == 2 and sum(exp["points"]) == inputs.ACTIVE_S
        assert sum(exp["tacks"]) >= 2
    exp = inputs.expected_nmea(params)
    assert exp["sentences"] == 4 * inputs.DAYS * inputs.ACTIVE_S


def test_corpus_is_seed_deterministic():
    d1, e1 = inputs.corpus(3, n_docs=60, n_vecs=40)
    d2, e2 = inputs.corpus(3, n_docs=60, n_vecs=40)
    d3, _ = inputs.corpus(4, n_docs=60, n_vecs=40)
    assert d1.equals(d2)
    assert all((a == b).all() for a, b in zip(e1.embedding, e2.embedding))
    assert not d1.equals(d3)
    assert sorted(d1.doc_id) == list(range(60))
    assert (d1.n_chars == d1.text.str.len()).all()


def test_compare_verdicts():
    base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
    faster = [v * 0.8 for v in base]
    slower = [v * 1.3 for v in base]
    pairs = lambda a, b: list(zip(a, b))  # noqa: E731
    assert verdict(base, faster, pairs(base, faster), "lower", 0.1)[0] == "improved"
    assert verdict(base, slower, pairs(base, slower), "lower", 0.1)[0] == "worse"
    assert verdict(base, list(base), pairs(base, base), "lower", 0.1) == ("unchanged", 0.0)
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(base, noisy, pairs(base, noisy), "lower", 0.1)[0] == "unresolved"


def test_trees_alternate_per_seed():
    assert [tree_order(s, 2) for s in (1, 2, 3, 4)] == [[0, 1], [1, 0], [0, 1], [1, 0]]
    assert tree_order(2, 1) == [0]


def test_compare_pairs_the_two_trees_by_seed():
    spec = {"workloads": [{"name": "w"}],
            "end_to_end": [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1}]}

    def rec(tree, seed, v):
        return {"tree": tree, "workload": "w", "seed": seed,
                "result": {"metrics": {"wall_s": {"value": v, "unit": "s"}}}}

    runs = [rec(t, s, 10.0 + s * 0.01 - 2.0 * t) for s in range(1, 11) for t in (0, 1)]
    (row,) = compare(spec, runs)
    assert (row["pairs"], row["win_share"], row["verdict"]) == (10, 1.0, "improved")


def test_materialized_ctes_keeps_rows():
    import duckdb

    from perfbench.workloads import materialized_ctes

    sql = """
    WITH a AS (SELECT range AS x FROM range(5)),
    b AS (SELECT x * 2 AS y FROM a)
    SELECT y FROM b WHERE y IN (SELECT x FROM a) ORDER BY y
    """
    con = duckdb.connect()
    try:
        assert materialized_ctes(sql).count("AS MATERIALIZED (") == 2
        assert con.execute(materialized_ctes(sql)).fetchall() == con.execute(sql).fetchall()
    finally:
        con.close()
