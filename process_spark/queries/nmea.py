"""NMEA-domain queries (SURVEY.md §2.2-§2.3 O9-O11, O21; §3.1 — the
reference's parse → merge → segment → maneuver → export pipeline).

Oracle strategy (SURVEY.md §5.2): DuckDB can't parse NMEA, but both
engines can *construct* identical sentences from the grading tables
with integer-only math, then the engine parses with its real parser
while the oracle re-derives the fields with SQL string functions. The
full-pipeline and export queries run on the deterministic generated
day log (sources/nmea_fixture.py) and take rows-only checks, with
pytest pinning exact session/maneuver counts (tests/test_nmea.py).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from process_spark.functions import angles
from process_spark.functions.nmea import (
    checksum_valid,
    dfield,
    fields_array,
    nmea_timestamp,
    parse_long,
    sentence_id,
    split_capture_prefix,
    talker_id,
)
from process_spark.operators.series import (
    detect_maneuvers,
    forward_fill,
    pivot_signals,
    session_stats,
    sessionize,
    tack_runs,
)
from process_spark.queries._util import t
from process_spark.queries.registry import register
from process_spark.sources.io import read_json, write_json_docs
from process_spark.sources.nmea_fixture import sail_log

#: DuckDB XOR-fold over the chars of a string expression (O10 twin).
def _o_xor_fold(body: str) -> str:
    return (
        f"list_reduce(list_prepend(0, list_transform("
        f"range(1, length({body}) + 1),"
        f" i -> ascii(substr({body}, CAST(i AS INT), 1)))), (a, b) -> xor(a, b))"
    )


@register(
    "nmea_parse_constructed",
    oracle=f"""
    WITH built AS (
      SELECT event_id,
             CAST(event_id % 360 AS VARCHAR) AS hdg_str,
             CAST((event_id % 200) // 10 AS VARCHAR) || '.' ||
               CAST((event_id % 200) % 10 AS VARCHAR) AS spd_str
      FROM events
    ),
    sent AS (
      SELECT event_id, hdg_str, spd_str,
             'IIVHW,' || hdg_str || ',T,,M,' || spd_str || ',N,,K' AS body
      FROM built
    ),
    chk AS (
      SELECT *,
             CASE WHEN event_id % 10 = 0
                  THEN xor({_o_xor_fold('body')}, 1)
                  ELSE {_o_xor_fold('body')} END AS stated
      FROM sent
    )
    SELECT event_id,
           'II' AS talker, 'VHW' AS sentence,
           CAST(hdg_str AS DOUBLE) AS hdg,
           CAST(spd_str AS DOUBLE) AS speed,
           (event_id % 10 <> 0) AS valid
    FROM chk
    """,
)
def nmea_parse_constructed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9-O11 + O10: build VHW sentences from events rows (integer math
    → byte-identical on both engines), corrupt every 10th checksum,
    then parse with the engine's real parser. The oracle *re-derives*
    what a correct parser must produce."""
    e = t(spark, sf_dir, "events")
    hdg_str = (F.col("event_id") % 360).cast("string")
    spd10 = F.col("event_id") % 200
    spd_str = F.concat(
        (spd10 / 10).cast("long").cast("string"),
        F.lit("."),
        (spd10 % 10).cast("string"),
    )
    body = F.concat(
        F.lit("IIVHW,"), hdg_str, F.lit(",T,,M,"), spd_str, F.lit(",N,,K")
    )
    # Engine-side construction reuses the engine's own checksum fold.
    from process_spark.functions.nmea import computed_checksum

    chk = computed_checksum(F.concat(F.lit("$"), body))
    chk = F.when(F.col("event_id") % 10 == 0, chk.bitwiseXOR(F.lit(1))).otherwise(chk)
    raw = F.concat(
        F.lit("$"), body, F.lit("*"), F.lpad(F.upper(F.hex(chk)), 2, "0")
    )
    built = e.select("event_id", raw.alias("raw"))
    f = fields_array("raw")
    return built.select(
        "event_id",
        talker_id("raw").alias("talker"),
        sentence_id("raw").alias("sentence"),
        dfield(f, 1).alias("hdg"),
        dfield(f, 5).alias("speed"),
        checksum_valid("raw").alias("valid"),
    )


@register(
    "nmea_time_assembly",
    oracle="""
    SELECT event_id,
           strptime(strftime(ts, '%d%m%y') || ' ' || strftime(ts, '%H%M%S'),
                    '%d%m%y %H%M%S') AS fix_ts
    FROM events
    """,
)
def nmea_time_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21: hhmmss + ddmmyy → timestamp, driven from events.ts (both
    engines reassemble the same second-truncated instant)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        nmea_timestamp(
            F.date_format("ts", "HHmmss"), F.date_format("ts", "ddMMyy")
        ).alias("fix_ts"),
    )


def _pipeline_wide(spark: SparkSession) -> DataFrame:
    """Generated log → parsed → 1 Hz wide series with derived wind
    columns + session ids. Shared by the summary/export queries."""
    return pipeline_from_log(split_capture_prefix(sail_log(spark)))


def pipeline_from_log(log: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """The reference's merge stage over ANY raw day log (SURVEY.md
    §3.1 entry point 1): logger-prefixed sentences → parse → 1 Hz wide
    series → LOCF → true wind/VMG → gap sessionization. ``log`` has
    (capture_ts, raw) — see split_capture_prefix. Also the engine
    behind the ``python -m process_spark process`` CLI."""
    long = parse_long(log, keep=("capture_ts",))
    # One scan: each sentence yields both of its (sig, val) pairs, so
    # the parse runs once and needs no pin before the pivot.
    def pair(sig: str, i: int) -> Column:
        return F.struct(F.lit(sig).alias("sig"), dfield("fields", i).alias("val"))

    sig = long.filter(
        F.col("valid") & F.col("sentence").isin("VHW", "MWV")
    ).select(
        "capture_ts",
        F.inline(
            F.when(
                F.col("sentence") == "VHW",
                F.array(pair("hdg", 1), pair("speed", 5)),
            ).otherwise(F.array(pair("awa", 1), pair("aws", 3)))
        ),
    )
    wide = pivot_signals(
        sig, ts_col="capture_ts", signal_col="sig", value_col="val",
        signals=["hdg", "speed", "awa", "aws"],
    ).withColumn("day", F.date_trunc("day", "capture_ts"))
    filled = forward_fill(
        wide, cols=["hdg", "speed", "awa", "aws"],
        ts_col="capture_ts", partition_by=["day"],
    )
    tws = angles.true_wind_speed("aws", "awa", "speed")
    twa = angles.true_wind_angle("aws", "awa", "speed")
    derived = (
        filled.withColumn("tws", tws)
        .withColumn("twa", twa)
        .withColumn("twd", angles.true_wind_direction("twa", "hdg"))
        .withColumn("vmg", angles.vmg("speed", "twa"))
    )
    # Pin: the CLI fans the wide series into four output chains
    # (series parquet, race docs, summary, maneuver metrics), each of
    # which would re-run parse→pivot→LOCF→wind math without it. One
    # row per logged second — a quarter of the log's sentence count.
    # Eager because those chains read it concurrently: Spark has no
    # compute lock for a block not stored yet, so a lazy pin would let
    # their tasks race to compute the same partitions
    # (write_postings_index pins before its concurrent writes likewise).
    return sessionize(
        derived, ts_col="capture_ts", gap=gap, partition_by=["day"]
    ).localCheckpoint(eager=True)


def _sorted_tail(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for a bounded result (one row per race or tack): one
    single-partition shuffle plus a local sort, where a global orderBy
    would add a range-partition sample job. Not coalesce(1), which
    would pull the window stage above it into one task."""
    return df.repartition(1).sortWithinPartitions(*cols)


def sail_summary_from(sess: DataFrame) -> DataFrame:
    """Per-race summary (D4/D6) over a sessionized wide series. The
    tack count is the highest flagged run id of :func:`tack_runs`, so it
    comes out of the same ``(day, session_id)`` aggregate as the session
    stats, behind one exchange; a race without a tack reads NULL."""
    runs = tack_runs(
        sess, hdg_col="hdg", ts_col="capture_ts",
        partition_by=["day", "session_id"], lookback=15, threshold_deg=45.0,
    )
    summary = session_stats(
        runs, ts_col="capture_ts", partition_by=["day"],
        aggs=(
            F.round(F.avg("speed"), 3).alias("avg_speed"),
            F.round(F.avg("vmg"), 3).alias("avg_vmg"),
            F.round(F.max("tws"), 3).alias("max_tws"),
            F.max(F.when(F.col("__flag") == 1, F.col("__run"))).alias(
                "n_maneuvers"
            ),
        ),
    ).withColumnRenamed("n_rows", "n_seconds")
    return _sorted_tail(summary, "day", "session_id")


@register(
    "nmea_pipeline_sail_summary",
    # GOLDEN oracle: the day log is generated with integer-only
    # expression math from fixed constants (sources/nmea_fixture.py —
    # no RNG, no wall clock), so the end-to-end pipeline output is a
    # deterministic constant; pin it literally. Unlike a derived SQL
    # twin this does not independently re-derive the math (DuckDB
    # cannot parse NMEA), but it hash-checks the WHOLE pipeline —
    # parse → pivot → LOCF → wind → sessionize → maneuvers — against
    # drift with the same strictness as any other oracle row.
    oracle="""
    SELECT day, session_id, session_start, session_end, n_seconds,
           CAST(avg_speed AS DOUBLE) AS avg_speed,
           CAST(avg_vmg AS DOUBLE) AS avg_vmg,
           CAST(max_tws AS DOUBLE) AS max_tws,
           n_maneuvers
    FROM (VALUES
      (TIMESTAMP '2024-06-01 00:00:00', 1, TIMESTAMP '2024-06-01 10:00:00',
       TIMESTAMP '2024-06-01 10:59:59', 3600, 6.45, 2.656, 8.624, 5),
      (TIMESTAMP '2024-06-01 00:00:00', 2, TIMESTAMP '2024-06-01 11:15:00',
       TIMESTAMP '2024-06-01 11:59:59', 2700, 6.45, 2.656, 8.79, 4)
    ) AS t(day, session_id, session_start, session_end, n_seconds,
           avg_speed, avg_vmg, max_tws, n_maneuvers)
    """,
)
def nmea_pipeline_sail_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §3.1 end-to-end: generated day log → parse (O9-O11) →
    1 Hz pivot (O23) → LOCF (O25) → true wind + VMG (O18/O19) → gap
    sessionization (O53) → maneuver detection (O54) → per-race summary
    (D4/D6). Two sessions and the scripted tack count come out;
    golden-pinned by the oracle above and tests/test_nmea.py."""
    return sail_summary_from(_pipeline_wide(spark))


def race_docs_from(sess: DataFrame, track_head: int = 10) -> DataFrame:
    """One nested doc per race — metadata + leading track points (the
    reference's primary output shape, SURVEY.md D6). Timestamps are
    rendered as zone-free wall-clock strings: the capture prefix was
    parsed without a zone, so formatting with the same session TZ
    round-trips identically on any host — which keeps exported docs
    (and their golden oracle) byte-stable."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        sess.groupBy("day", "session_id")
        .agg(
            F.date_format(F.min("capture_ts"), fmt).alias("start"),
            F.date_format(F.max("capture_ts"), fmt).alias("end"),
            F.count(F.lit(1)).alias("n_points"),
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.date_format("capture_ts", fmt).alias("t"),
                            "hdg",
                            "speed",
                            "vmg",
                        )
                    )
                ),
                1,
                track_head,
            ).alias("track_head"),
        )
        .select("day", "session_id", "start", "end", "n_points", "track_head")
    )


@register(
    "nmea_export_json_docs",
    # GOLDEN oracle (same rationale as nmea_pipeline_sail_summary):
    # the round-tripped docs are a deterministic constant; timestamps
    # inside the docs are zone-free wall-clock strings so the literal
    # is byte-stable on any host timezone.
    oracle="""
    SELECT * FROM (VALUES
      ('{"end":"2024-06-01 10:59:59","n_points":3600,"session_id":1,"start":"2024-06-01 10:00:00","track_head":[{"hdg":45.0,"speed":6.0,"t":"2024-06-01 10:00:00"},{"hdg":45.0,"speed":6.1,"t":"2024-06-01 10:00:01","vmg":2.808713163167057},{"hdg":45.0,"speed":6.2,"t":"2024-06-01 10:00:02","vmg":2.6947474004120697},{"hdg":45.0,"speed":6.3,"t":"2024-06-01 10:00:03","vmg":2.5757259568184367},{"hdg":45.0,"speed":6.4,"t":"2024-06-01 10:00:04","vmg":2.4519310227511797},{"hdg":45.0,"speed":6.5,"t":"2024-06-01 10:00:05","vmg":3.0058479334376953},{"hdg":45.0,"speed":6.6,"t":"2024-06-01 10:00:06","vmg":2.8812100453041776},{"hdg":45.0,"speed":6.7,"t":"2024-06-01 10:00:07","vmg":2.4845393985815347},{"hdg":45.0,"speed":6.8,"t":"2024-06-01 10:00:08","vmg":2.343533843602487},{"hdg":45.0,"speed":6.9,"t":"2024-06-01 10:00:09","vmg":2.1987885122289743}]}'),
      ('{"end":"2024-06-01 11:59:59","n_points":2700,"session_id":2,"start":"2024-06-01 11:15:00","track_head":[{"hdg":135.0,"speed":6.0,"t":"2024-06-01 11:15:00","vmg":3.0791527770781277},{"hdg":135.0,"speed":6.1,"t":"2024-06-01 11:15:01","vmg":2.7780825755600005},{"hdg":135.0,"speed":6.2,"t":"2024-06-01 11:15:02","vmg":2.6630112003385786},{"hdg":135.0,"speed":6.3,"t":"2024-06-01 11:15:03","vmg":2.542948616467241},{"hdg":135.0,"speed":6.4,"t":"2024-06-01 11:15:04","vmg":2.418179936104158},{"hdg":135.0,"speed":6.5,"t":"2024-06-01 11:15:05","vmg":2.9725734205335526},{"hdg":135.0,"speed":6.6,"t":"2024-06-01 11:15:06","vmg":2.8468008339243225},{"hdg":135.0,"speed":6.7,"t":"2024-06-01 11:15:07","vmg":2.716164898784163},{"hdg":135.0,"speed":6.8,"t":"2024-06-01 11:15:08","vmg":2.3005866096319147},{"hdg":135.0,"speed":6.9,"t":"2024-06-01 11:15:09","vmg":2.154998243563813}]}')
    ) AS t(doc)
    """,
)
def nmea_export_json_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 + O80 + O4 (rows-only): shape one nested JSON doc per race —
    metadata + first track points — write with the JSON sink, read it
    back (schema-on-read), and return the round-tripped docs. This is
    the reference's output stage (SURVEY.md D6)."""
    docs = race_docs_from(_pipeline_wide(spark)).drop("day")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "nmea_json")
    write_json_docs(docs, out_dir)
    back = read_json(spark, out_dir)
    return back.select(F.to_json(F.struct(*back.columns)).alias("doc"))


def maneuver_metrics_from(sess: DataFrame) -> DataFrame:
    """O55: per-tack entry/exit dynamics — mean speed/VMG over
    [t−20 s, t−5 s] (entry) and [t+15 s, t+30 s] (exit) around each
    detected maneuver, and the speed lost across it. Each mean is a
    range frame over the day's 1 Hz series ordered by epoch second,
    computed on every row; :func:`detect_maneuvers` carries the values
    of the run's first row (``maneuver_ts``). Frames span the whole
    day, are inclusive at both ends and read NULL when empty. The day
    partitioning also clusters the ``(day, session_id)`` windows and the
    run groupBy, so the chain has one exchange.

    Precondition: one series row per ``(day, capture_ts)``
    (pipeline_from_log pivots to the truncated second), so a frame in
    seconds is a frame in rows of distinct instants."""
    day = Window.partitionBy("day").orderBy(F.unix_seconds("capture_ts"))

    def frame_avg(col: str, lo: int, hi: int) -> Column:
        return F.round(F.avg(col).over(day.rangeBetween(lo, hi)), 3)

    framed = sess.select(
        "day", "session_id", "capture_ts", "hdg",
        frame_avg("speed", -20, -5).alias("entry_speed"),
        frame_avg("vmg", -20, -5).alias("entry_vmg"),
        frame_avg("speed", 15, 30).alias("exit_speed"),
        frame_avg("vmg", 15, 30).alias("exit_vmg"),
    )
    man = detect_maneuvers(
        framed, hdg_col="hdg", ts_col="capture_ts",
        partition_by=["day", "session_id"], lookback=15, threshold_deg=45.0,
        carry=["entry_speed", "entry_vmg", "exit_speed", "exit_vmg"],
    ).select(
        "day", "session_id", "maneuver_id", "maneuver_ts", "turn_deg",
        "entry_speed", "entry_vmg", "exit_speed", "exit_vmg",
    ).withColumn(
        "speed_loss", F.round(F.col("entry_speed") - F.col("exit_speed"), 3)
    )
    return _sorted_tail(man, "day", "session_id", "maneuver_id")


@register(
    "nmea_maneuver_metrics",
    # GOLDEN oracle — same rationale as nmea_pipeline_sail_summary:
    # the fixture is a deterministic constant, so the 9 scripted tacks
    # and their entry/exit dynamics are pinned literally.
    oracle="""
    SELECT day, session_id, maneuver_id, maneuver_ts,
           CAST(turn_deg AS DOUBLE) AS turn_deg,
           CAST(entry_speed AS DOUBLE) AS entry_speed,
           CAST(entry_vmg AS DOUBLE) AS entry_vmg,
           CAST(exit_speed AS DOUBLE) AS exit_speed,
           CAST(exit_vmg AS DOUBLE) AS exit_vmg,
           CAST(speed_loss AS DOUBLE) AS speed_loss
    FROM (VALUES
      (TIMESTAMP '2024-06-01 00:00:00', 1, 1, TIMESTAMP '2024-06-01 10:10:08',  90.0, 6.425, 2.635, 6.488, 2.636, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 1, 2, TIMESTAMP '2024-06-01 10:20:08', -90.0, 6.425, 2.662, 6.488, 2.654, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 1, 3, TIMESTAMP '2024-06-01 10:30:08',  90.0, 6.425, 2.652, 6.488, 2.643, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 1, 4, TIMESTAMP '2024-06-01 10:40:08', -90.0, 6.425, 2.642, 6.488, 2.6,   -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 1, 5, TIMESTAMP '2024-06-01 10:50:08',  90.0, 6.425, 2.647, 6.488, 2.644, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 2, 1, TIMESTAMP '2024-06-01 11:20:08', -90.0, 6.425, 2.635, 6.488, 2.636, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 2, 2, TIMESTAMP '2024-06-01 11:30:08',  90.0, 6.425, 2.662, 6.488, 2.674, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 2, 3, TIMESTAMP '2024-06-01 11:40:08', -90.0, 6.425, 2.652, 6.488, 2.643, -0.063),
      (TIMESTAMP '2024-06-01 00:00:00', 2, 4, TIMESTAMP '2024-06-01 11:50:08',  90.0, 6.425, 2.648, 6.488, 2.637, -0.063)
    ) AS t(day, session_id, maneuver_id, maneuver_ts, turn_deg,
           entry_speed, entry_vmg, exit_speed, exit_vmg, speed_loss)
    """,
)
def nmea_maneuver_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O55: per-tack entry/exit dynamics over the generated day log —
    see maneuver_metrics_from for the range-frame shape; golden-pinned."""
    return maneuver_metrics_from(_pipeline_wide(spark))
