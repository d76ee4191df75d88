"""The benchmark's workloads: inputs, one timed pass, and the output check.

A workload object is built once per process. ``prepare`` writes the
seeded inputs and computes what the outputs must be, without running a
Spark job, so that the first pass finds the JVM as cold as a one-shot
CLI run does; ``run_pass`` is the timed part (one closed-loop pass);
``check`` compares one pass's outputs with the expectations, outside the
timed region.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import re

from perfbench import inputs
from perfbench.spans import span_name


def _call_query(tracer, name: str, spark, table_dir: str):
    from process_spark.queries import REGISTRY

    fn = REGISTRY[name].fn
    if tracer is None:
        return fn(spark, table_dir)
    with tracer.span(span_name(fn.__module__, fn.__name__)):
        return fn(spark, table_dir)


_CTE_HEAD = re.compile(r"\b(\w+)\s+AS\s+\(")


def materialized_ctes(sql: str) -> str:
    """The oracle with every named CTE marked ``MATERIALIZED``. DuckDB
    otherwise inlines a CTE at each reference, and the MMR oracles
    reference their CTE chains so often that they run for minutes; the
    rows are the same either way."""
    return _CTE_HEAD.sub(r"\1 AS MATERIALIZED (", sql)


def bytes_since(roots: list[str], t0: float) -> int:
    """Bytes of the regular files under ``roots`` written at or after
    ``t0``: a pass's outputs and the stored indexes it rebuilt."""
    total = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                if st.st_mtime >= t0:
                    total += st.st_size
    return total


class NmeaEtl:
    """``python -m process_spark process <logs> --out <dir>``, in-process,
    over seeded day logs."""

    name = "nmea_etl"

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.params = inputs.day_params(seed)
        self.logs = os.path.join(work_dir, "logs")
        self.out = os.path.join(work_dir, "nmea-out")
        self.expected = inputs.expected_nmea(self.params)

    def prepare(self) -> dict:
        lines = inputs.write_day_logs(self.params, self.logs)
        if lines != self.expected["sentences"]:
            raise RuntimeError(f"generator wrote {lines} lines, expected "
                               f"{self.expected['sentences']}")
        return {"days": len(self.params), "sentences": lines}

    def output_roots(self) -> list[str]:
        return [self.out]

    def run_pass(self, tracer):
        from process_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["process", self.logs, "--out", self.out])
        return {"rc": rc, "stdout": buf.getvalue()}

    def check(self, result) -> list[str]:
        problems = []
        if result["rc"] != 0:
            problems.append(f"exit code {result['rc']}")
        head = result["stdout"].split(" ", 1)[0]
        if head != str(self.expected["sentences"]):
            problems.append(f"sentences {head} != {self.expected['sentences']}")
        got: dict = {}
        for row in _json_rows(os.path.join(self.out, "summary.json")):
            got.setdefault(row["day"][:10], []).append(row)
        for date, exp in self.expected["days"].items():
            rows = sorted(got.pop(date, []), key=lambda r: r["session_id"])
            seen = {
                "races": len(rows),
                "points": [r["n_seconds"] for r in rows],
                "tacks": [r.get("n_maneuvers") or 0 for r in rows],
            }
            if seen != exp:
                problems.append(f"{date}: {seen} != {exp}")
        if got:
            problems.append(f"unexpected days {sorted(got)}")
        n_races = sum(d["races"] for d in self.expected["days"].values())
        n_tacks = sum(sum(d["tacks"]) for d in self.expected["days"].values())
        races = _json_rows(os.path.join(self.out, "races.json"))
        if len(races) != n_races:
            problems.append(f"races.json has {len(races)} docs, expected {n_races}")
        mans = _json_rows(os.path.join(self.out, "maneuvers.json"))
        if len(mans) != n_tacks:
            problems.append(f"maneuvers.json has {len(mans)} rows, expected {n_tacks}")
        return problems


def _json_rows(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


class RetrievalDedup:
    """The stored-index retrieval composite and the MinHash dedup
    components over one seeded corpus, each compared with its DuckDB
    oracle over the same files. The composite writes postings and IVF
    indexes and then probes them, with its lexical and vector channels on
    two threads; the dedup query runs banded LSH and then connected
    components. The client collects every result."""

    name = "retrieval_dedup"
    queries = ("retrieval_e2e_stored", "pipeline_minhash_dedup_components")

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.tables = os.path.join(work_dir, "tables")
        self.expected: dict = {}

    def prepare(self) -> dict:
        import duckdb

        from process_spark.oracle import _canon_frame
        from process_spark.queries import REGISTRY

        sizes = inputs.write_corpus(self.seed, self.tables)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                df = con.execute(materialized_ctes(REGISTRY[q].oracle)).df()
                self.expected[q] = (sorted(df.columns), _canon_frame(df))
        finally:
            con.close()
        return sizes

    def check(self, result) -> list[str]:
        from process_spark.oracle import _canon_frame

        problems = []
        for q in self.queries:
            df = result[q]
            cols, rows = self.expected[q]
            if sorted(df.columns) != cols:
                problems.append(f"{q}: columns {sorted(df.columns)} != {cols}")
            elif _canon_frame(df) != rows:
                problems.append(f"{q}: {len(df)} rows differ from the oracle's {len(rows)}")
        return problems

    def output_roots(self) -> list[str]:
        from process_spark.queries.io_udf import _SCRATCH

        return [_SCRATCH]

    def run_pass(self, tracer):
        return {
            q: _call_query(tracer, q, self.spark, self.tables).toPandas()
            for q in self.queries
        }


WORKLOADS = {w.name: w for w in (NmeaEtl, RetrievalDedup)}
