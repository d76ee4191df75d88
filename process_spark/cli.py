"""User-facing CLI — the reference's tool surface (SURVEY.md §3.1
entry point 1: ``node process.js <logfile/day>``), re-expressed as a
Spark job so the same command line scales from one day log to a
100 TB directory of them.

    python -m process_spark process <log.txt | dir | glob> --out DIR
        raw logger-prefixed NMEA text -> parse -> 1 Hz wide series ->
        LOCF -> true wind/VMG -> gap sessionization -> per-race
        summaries + nested JSON race docs + maneuver metrics.
        Outputs under DIR, written concurrently from one eager pin of
        the series:
          series.parquet/    1 Hz wide series, partitioned by day
          races.json/        one nested JSON doc per race (D6)
          summary.json/      per-race stats (D4)
          maneuvers.json/    per-tack entry/exit dynamics (D5)

    python -m process_spark fixture --out FILE [--seconds N]
        write the deterministic synthetic day log (FIXTURES.md §B1) as
        a single text file, for trying the pipeline end to end.

Input lines carry the logger's capture prefix the reference used:
``2024-06-01T10:00:00Z $IIVHW,...`` (SURVEY.md D1).
"""

from __future__ import annotations

import argparse
import sys


def _cmd_process(args) -> int:
    from pyspark.sql import functions as F

    from process_spark.functions.nmea import split_capture_prefix
    from process_spark.operators.execution import overlap
    from process_spark.queries.nmea import (
        maneuver_metrics_from,
        pipeline_from_log,
        race_docs_from,
        sail_summary_from,
    )
    from process_spark.session import get_spark
    from process_spark.sources.io import write_json_docs

    spark = get_spark("process-spark-cli")
    raw = spark.read.text(args.input).select(F.col("value").alias("raw"))
    n_lines = raw.count()
    if n_lines == 0:
        print(f"error: no input lines under {args.input}", file=sys.stderr)
        return 2
    sess = pipeline_from_log(split_capture_prefix(raw), gap=args.gap)

    # The four output chains share only the eager series pin, so they
    # run concurrently; most of their jobs have one task each.
    def _series() -> None:
        (
            sess.write.mode("overwrite")
            .partitionBy("day")
            .parquet(f"{args.out}/series.parquet")
        )

    def _summary() -> list:
        # The summary plan runs once: the JSON write and the printed
        # rows both read the pinned result, whose single partition
        # sail_summary_from already sorted.
        summary = sail_summary_from(sess).localCheckpoint(eager=True)
        write_json_docs(summary, f"{args.out}/summary.json")
        return summary.collect()

    def _races() -> None:
        write_json_docs(race_docs_from(sess), f"{args.out}/races.json")

    def _maneuvers() -> None:
        write_json_docs(maneuver_metrics_from(sess), f"{args.out}/maneuvers.json")

    _, rows, _, _ = overlap(_series, _summary, _races, _maneuvers)
    n_man = sum(r["n_maneuvers"] or 0 for r in rows)
    # session_stats counts each point into exactly one race.
    n_points = sum(r["n_seconds"] for r in rows)
    print(f"{n_lines} sentences -> {n_points} points, "
          f"{len(rows)} races, {n_man} maneuvers")
    for r in rows:
        print(f"  race {r['session_id']}: {r['n_seconds']}s, "
              f"avg speed {r['avg_speed']}, avg vmg {r['avg_vmg']}, "
              f"maneuvers {r['n_maneuvers']}")
    print(f"wrote series.parquet, summary.json, races.json, "
          f"maneuvers.json under {args.out}")
    return 0


def _cmd_fixture(args) -> int:
    from process_spark.session import get_spark
    from process_spark.sources.nmea_fixture import sail_log

    spark = get_spark("process-spark-cli")
    log = sail_log(spark, n_seconds=args.seconds)
    # Single ordered text file: the fixture is minutes of data at most;
    # a real deployment keeps the directory-of-files layout instead.
    lines = [r["raw"] for r in log.orderBy("raw").collect()]
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} sentences to {args.out}")
    return 0


def _cmd_plan(args) -> int:
    from process_spark.queries import REGISTRY
    from process_spark.session import get_spark

    if args.query not in REGISTRY:
        print(
            f"error: unknown query {args.query!r}; "
            f"known: {', '.join(sorted(REGISTRY))}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("process-spark-cli")
    df = REGISTRY[args.query].fn(spark, args.sf_dir)
    if args.run:
        # Materialize DF ITSELF (collect, not count: count executes a
        # derived aggregate plan and leaves df's own QueryExecution
        # un-run, so explain would still print isFinalPlan=false) —
        # after this, AQE's runtime re-plan (broadcast conversions,
        # coalesced partitions, skew splits) is what gets printed: the
        # plan that actually executed. Driver-side rows are fine here:
        # this is a local inspection subcommand at test SFs.
        df.collect()
    df.explain(mode=args.mode)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m process_spark",
        description="NMEA day-log processing on Spark "
        "(reference-parity tool surface)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("process", help="run the day-log pipeline")
    pp.add_argument("input", help="text file, directory, or glob of raw logs")
    pp.add_argument("--out", required=True, help="output directory")
    pp.add_argument(
        "--gap", default="5 minutes",
        help="session gap (default: '5 minutes')",
    )
    pp.set_defaults(fn=_cmd_process)

    pf = sub.add_parser("fixture", help="write the synthetic day log")
    pf.add_argument("--out", required=True, help="output text file")
    pf.add_argument(
        "--seconds", type=int, default=7200,
        help="simulated duration (default 7200)",
    )
    pf.set_defaults(fn=_cmd_fixture)

    pl = sub.add_parser(
        "plan",
        help="print a registered query's physical plan "
        "(the operator's scale-debugging surface)",
    )
    pl.add_argument("query", help="registry name, e.g. q1_pricing_summary")
    pl.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01",
        help="table directory (default sf0.01)",
    )
    pl.add_argument(
        "--mode", default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
        help="explain mode (default: formatted)",
    )
    pl.add_argument(
        "--run", action="store_true",
        help="materialize first so the printed plan is the AQE-final one",
    )
    pl.set_defaults(fn=_cmd_plan)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
