"""Reference-domain pipeline tests (SURVEY.md §5.2): the generated day
log has a scripted shape, so session/maneuver/validity counts are
exact, not fuzzy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

# Fixture script (sources/nmea_fixture.py defaults): 7200 s day,
# gap at [3600, 4500), tack every 600 s (11 transitions at s=600..6600,
# of which s=3600 and s=4200 fall inside the gap → 9 detectable tacks),
# MWV corrupted when s % 97 == 0.
ACTIVE = [s for s in range(7200) if not (3600 <= s < 4500)]
N_CORRUPT = sum(1 for s in ACTIVE if s % 97 == 0)


@pytest.mark.slow  # measured >8s (r14 durations); full profile via --runslow
def test_sail_summary_pinned(spark):
    from process_spark.queries.registry import REGISTRY

    rows = (
        REGISTRY["nmea_pipeline_sail_summary"].fn(spark, SF)
        .orderBy("session_id")
        .collect()
    )
    assert [r.session_id for r in rows] == [1, 2]
    assert [r.n_seconds for r in rows] == [3600, 2700]
    assert [r.n_maneuvers for r in rows] == [5, 4]
    # speed script is 6.0..6.9 uniform → mean 6.45 in both sessions
    assert [r.avg_speed for r in rows] == [6.45, 6.45]


def test_parse_checksum_validity(spark):
    from process_spark.functions.nmea import parse_long, split_capture_prefix
    from process_spark.sources.nmea_fixture import sail_log

    long = parse_long(split_capture_prefix(sail_log(spark)), keep=("capture_ts",))
    counts = dict(
        long.groupBy("valid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert counts[False] == N_CORRUPT
    assert counts[True] == 4 * len(ACTIVE) - N_CORRUPT


def test_parse_dispatch_counts(spark):
    from process_spark.functions.nmea import parse_long, split_capture_prefix
    from process_spark.sources.nmea_fixture import sail_log

    long = parse_long(split_capture_prefix(sail_log(spark)), keep=())
    per_sentence = dict(
        long.groupBy("sentence").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert per_sentence == {
        "RMC": len(ACTIVE), "VHW": len(ACTIVE),
        "MWV": len(ACTIVE), "HDG": len(ACTIVE),
    }


def test_rmc_extraction_values(spark):
    from process_spark.functions.nmea import (
        extract_rmc,
        parse_long,
        split_capture_prefix,
    )
    from process_spark.sources.nmea_fixture import sail_log

    rmc = extract_rmc(
        parse_long(split_capture_prefix(sail_log(spark)))
    ).filter(F.col("valid"))
    row = rmc.orderBy("ts").first()
    # First second: s=0 → ts 10:00:00, lat 4738.0000 N, lon 12221.0000 W
    assert str(row.ts) == "2024-06-01 10:00:00"
    assert abs(row.lat - (47 + 38.0 / 60)) < 1e-9
    assert abs(row.lon - (-(122 + 21.0 / 60))) < 1e-9
    assert row.sog == 6.0


def test_export_docs_roundtrip(spark):
    from process_spark.queries.registry import REGISTRY

    docs = REGISTRY["nmea_export_json_docs"].fn(spark, SF).collect()
    assert len(docs) == 2
    assert all("track_head" in d.doc for d in docs)


def test_maneuver_metrics(spark):
    from process_spark.queries.registry import REGISTRY

    rows = REGISTRY["nmea_maneuver_metrics"].fn(spark, SF).collect()
    assert len(rows) == 9  # 11 scripted transitions minus 2 in the gap
    # peak turn is the full scripted ±90°, entry speed the 6.0-6.9 band
    for r in rows:
        assert abs(abs(r.turn_deg) - 90.0) <= 1e-9
        assert 5.9 <= r.entry_speed <= 7.0
        assert 5.9 <= r.exit_speed <= 7.0


@pytest.fixture(scope="module")
def fixture_series(spark):
    """The golden day's sessionized series, pinned once for the module."""
    from process_spark.queries.nmea import _pipeline_wide

    return _pipeline_wide(spark)


def _assert_one_row_per_instant(sess):
    dups = sess.groupBy("day", "capture_ts").count().filter(F.col("count") > 1)
    assert sess.count() > 0
    assert dups.count() == 0


def test_series_one_row_per_instant_fixture(fixture_series):
    # maneuver_metrics_from's entry/exit frames are ranges in seconds:
    # they count rows only if no (day, capture_ts) repeats.
    _assert_one_row_per_instant(fixture_series)


def test_series_one_row_per_instant_seeded_log(spark, tmp_path):
    from perfbench import inputs
    from process_spark.functions.nmea import split_capture_prefix
    from process_spark.queries.nmea import pipeline_from_log

    inputs.write_day_logs(inputs.day_params(1), str(tmp_path))
    raw = spark.read.text(str(tmp_path)).select(F.col("value").alias("raw"))
    _assert_one_row_per_instant(pipeline_from_log(split_capture_prefix(raw)))


def _tack_at_first_flag_row(spark):
    """A 200 s race whose first tack starts on sample 15, the first row
    the 15-sample lookback can flag, and whose second starts on 100."""
    import datetime as dt

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)
    rows = [
        (
            dt.datetime(2024, 6, 1), 1, t0 + dt.timedelta(seconds=s),
            135.0 if 15 <= s < 100 else 45.0,
            6.0 + (s % 10) / 10, 2.5, 10.0,
        )
        for s in range(200)
    ]
    return spark.createDataFrame(
        rows,
        "day timestamp, session_id bigint, capture_ts timestamp, "
        "hdg double, speed double, vmg double, tws double",
    )


def test_tack_on_first_flag_row_is_one_maneuver(spark):
    from process_spark.queries.nmea import maneuver_metrics_from, sail_summary_from

    sess = _tack_at_first_flag_row(spark)
    man = maneuver_metrics_from(sess).collect()
    assert [r.maneuver_id for r in man] == [1, 2]
    assert [str(r.maneuver_ts)[11:] for r in man] == ["10:00:15", "10:01:40"]
    for r in man:
        for c in ("entry_speed", "entry_vmg", "exit_speed", "exit_vmg"):
            assert r[c] is not None, (r.maneuver_id, c)
    assert [r.n_maneuvers for r in sail_summary_from(sess).collect()] == [2]


def test_output_chains_job_budget(spark_jobs, fixture_series, tmp_path):
    # Each chain is one hash exchange on day plus a one-partition sort
    # tail (3 and 5 jobs); a join or a second exchange per chain, as in
    # an equi-join for the entry/exit averages, breaks the budget.
    from process_spark.queries.nmea import maneuver_metrics_from, sail_summary_from
    from process_spark.sources.io import write_json_docs

    with spark_jobs() as man_jobs:
        write_json_docs(
            maneuver_metrics_from(fixture_series), str(tmp_path / "maneuvers")
        )
    with spark_jobs() as summary_jobs:
        summary = sail_summary_from(fixture_series).localCheckpoint(eager=True)
        write_json_docs(summary, str(tmp_path / "summary"))
        rows = summary.collect()
    assert [r.n_maneuvers for r in rows] == [5, 4]
    assert 0 < len(man_jobs) <= 4, man_jobs
    assert 0 < len(summary_jobs) <= 6, summary_jobs
