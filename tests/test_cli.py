"""End-to-end test of the ``python -m process_spark`` tool surface
(SURVEY.md §3.1 entry point 1): fixture day log → process → the
reference's outputs, with the same race/maneuver structure
tests/test_nmea.py pins for the in-engine pipeline."""

from __future__ import annotations

import json
import os
import shutil

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")

#: The process command's stdout on the default fixture day, before the
#: ``wrote ...`` line that names the output directory.
FIXTURE_STDOUT = [
    "25200 sentences -> 6300 points, 2 races, 9 maneuvers",
    "  race 1: 3600s, avg speed 6.45, avg vmg 2.656, maneuvers 5",
    "  race 2: 2700s, avg speed 6.45, avg vmg 2.656, maneuvers 4",
]


def _golden(name: str):
    """The golden rows of a registered NMEA query's oracle."""
    import duckdb

    from process_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        return con.execute(REGISTRY[name].oracle).df()
    finally:
        con.close()


def _read_as(spark, path: str, golden):
    """The JSON docs under ``path``, read with the golden frame's column
    types (JSON carries timestamps as strings)."""
    import pandas as pd

    def ddl(dtype) -> str:
        if pd.api.types.is_datetime64_any_dtype(dtype):
            return "timestamp"
        if pd.api.types.is_integer_dtype(dtype):
            return "bigint"
        return "double"

    schema = ", ".join(f"`{c}` {ddl(t)}" for c, t in golden.dtypes.items())
    return spark.read.schema(schema).json(path).toPandas()


def test_cli_fixture_then_process(spark, capsys):
    from process_spark.cli import main
    from process_spark.oracle import _canon_frame

    log_path = os.path.join(SCRATCH, "cli_test_daylog.txt")
    out_dir = os.path.join(SCRATCH, "cli_test_out")
    shutil.rmtree(out_dir, ignore_errors=True)

    # full default day: 2 h at 1 Hz with the 15-min shore break -> the
    # pipeline must find exactly TWO races (FIXTURES.md §B1)
    assert main(["fixture", "--out", log_path]) == 0
    with open(log_path) as f:
        first = f.readline()
    assert first.startswith("2024-06-01T") and "$" in first and "*" in first

    capsys.readouterr()
    assert main(["process", log_path, "--out", out_dir]) == 0
    assert capsys.readouterr().out.splitlines() == FIXTURE_STDOUT + [
        "wrote series.parquet, summary.json, races.json, maneuvers.json "
        f"under {out_dir}"
    ]

    series = spark.read.parquet(os.path.join(out_dir, "series.parquet"))
    assert series.count() > 6000  # ~6300 1 Hz points survive the gap
    assert {"hdg", "speed", "tws", "vmg", "session_id"} <= set(series.columns)

    def docs(name):
        d = os.path.join(out_dir, name)
        rows = []
        for part in os.listdir(d):
            if part.startswith("part-") and part.endswith(".json"):
                with open(os.path.join(d, part)) as f:
                    rows += [json.loads(line) for line in f if line.strip()]
        return rows

    summary = docs("summary.json")
    assert len(summary) == 2, summary  # two races
    assert all(r["n_maneuvers"] >= 1 for r in summary)

    races = docs("races.json")
    assert len(races) == 2
    assert all(len(r["track_head"]) == 10 for r in races)

    maneuvers = docs("maneuvers.json")
    assert len(maneuvers) == sum(r["n_maneuvers"] for r in summary)
    assert all("speed_loss" in m for m in maneuvers)

    for doc, query in (
        ("summary.json", "nmea_pipeline_sail_summary"),
        ("maneuvers.json", "nmea_maneuver_metrics"),
    ):
        golden = _golden(query)
        assert {k for r in docs(doc) for k in r} == set(golden.columns), doc
        got = _read_as(spark, os.path.join(out_dir, doc), golden)
        assert _canon_frame(got) == _canon_frame(golden), doc


def test_cli_process_empty_input_fails_cleanly(tmp_path):
    from process_spark.cli import main

    empty = tmp_path / "empty.txt"
    empty.write_text("")
    assert main(["process", str(empty), "--out", str(tmp_path / "o")]) == 2


def test_cli_plan_prints_physical_plan(spark, capsys):
    from process_spark.cli import main

    rc = main(
        ["plan", "q6_forecast_revenue", "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "PushedFilters" in out  # formatted mode shows scan pushdown


def test_cli_plan_unknown_query_exits_2(capsys):
    from process_spark.cli import main

    assert main(["plan", "definitely_not_a_query"]) == 2
    assert "unknown query" in capsys.readouterr().err
