"""Multi-operator suite queries for the driver's graded window.

The driver grades the first 50 registry entries (one CORRECTNESS row
per query). Single-operator demo queries would cap driver evidence at
50 of SURVEY.md §2's ~80 oracle-checkable operators, so operators that
share a table and grain are ALSO exercised together in one suite query
(exactly as q1 covers scan+filter+agg+sort at once). Each suite
composes the same engine primitives (functions/, operators/) as the
per-operator queries, which stay registered below the window for
focused debugging.

Hash-stability rules are inherited from the per-operator queries they
compose (see queries/_util.py): exact-decimal sums, 6-dp rounding of
transcendentals, explicit tie-breaks on every ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from process_spark.functions import angles, geo
from process_spark.operators.series import (
    forward_fill,
    linear_interpolate,
    sessionize,
)
from process_spark.queries._util import (
    dsum,
    fscaled,
    o_dsum,
    o_davg,
    o_fscaled,
    o_pmod,
    t,
)
from process_spark.queries.registry import register


# --- NMEA scalar math: O15 O16 O17 O18 O19 O20 -----------------------------

@register(
    "nmea_scalar_suite",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value FROM events WHERE value IS NOT NULL
    ), obs AS (
      SELECT event_id, value,
             value AS bs,
             FMOD({o_pmod('value * 13', '360')}, 180) AS awa,
             value * CAST(1.5 AS DOUBLE) + CAST(4 AS DOUBLE) AS aws,
             37.0 + value / 100 AS lat1, -122.0 - value / 200 AS lon1,
             37.0 + value / 90  AS lat2, -122.0 - value / 210 AS lon2
      FROM base
    ), tw AS (
      SELECT *,
             SQRT(aws*aws + bs*bs - 2*aws*bs*COS(RADIANS(awa))) AS tws_raw,
             DEGREES(ATAN2(aws * SIN(RADIANS(awa)),
                           aws * COS(RADIANS(awa)) - bs)) AS twa_raw
      FROM obs
    )
    SELECT event_id,
           value / (3600.0 / 1852.0) AS speed_mps,
           value * 1852.0 AS dist_m,
           RADIANS(value) AS val_rad,
           DEGREES(value / 10) AS val_deg,
           {o_pmod('value + 16.0', '360.0')} AS hdg_true,
           {o_pmod('value - 16.0', '360.0')} AS hdg_mag,
           {o_pmod('value * 7', '360')} AS norm360,
           {o_pmod('(value * 7 + 180)', '360')} - 180 AS norm180,
           {o_pmod('((value * 7 - value * 3) + 180)', '360')} - 180 AS delta,
           CASE WHEN value > 0
                THEN CAST(FLOOR(tws_raw * 10000.0 + 0.5) AS BIGINT) END AS tws_e4,
           CASE WHEN value > 0
                THEN CAST(FLOOR(twa_raw * 10000.0 + 0.5) AS BIGINT) END AS twa_e4,
           CASE WHEN value > 0
                THEN CAST(FLOOR(bs * COS(RADIANS(twa_raw)) * 10000.0 + 0.5) AS BIGINT)
                END AS vmg_e4,
           CAST(FLOOR(2 * 6371000.0 * ASIN(SQRT(
             POW(SIN((RADIANS(lat2) - RADIANS(lat1)) / 2), 2)
             + COS(RADIANS(lat1)) * COS(RADIANS(lat2))
               * POW(SIN((RADIANS(lon2) - RADIANS(lon1)) / 2), 2)
           )) + 0.5) AS BIGINT) AS hav_m_floor
    FROM tw
    """,
)
def nmea_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15+O16+O17+O18+O19+O20 in one pass over events.value: unit
    conversions, magnetic/true heading, angle wrap/delta, true wind,
    VMG, and haversine — the reference's full per-sample scalar math
    (functions.angles / functions.geo), every column a codegen'd
    expression. Wind columns are NULL for non-positive speeds; trig
    outputs hashed as half-up-scaled integers (4 dp; haversine whole
    meters — its ~1e7 m magnitude needs coarser granularity over the
    same abs libm noise), never ROUND-ed doubles (`_util` docstring)."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    bs = v
    awa = angles.norm_360(bs * 13) % 180
    aws = bs * 1.5 + 4
    twa_raw = angles.true_wind_angle(aws, awa, bs)
    wind_ok = v > 0
    return e.select(
        "event_id",
        angles.knots_to_mps("value").alias("speed_mps"),
        angles.nm_to_meters("value").alias("dist_m"),
        F.radians("value").alias("val_rad"),
        F.degrees(v / 10).alias("val_deg"),
        angles.mag_to_true(v, F.lit(16.0)).alias("hdg_true"),
        angles.norm_360(v - F.lit(16.0)).alias("hdg_mag"),
        angles.norm_360(v * 7).alias("norm360"),
        angles.norm_180(v * 7).alias("norm180"),
        angles.angle_diff(v * 7, v * 3).alias("delta"),
        F.when(
            wind_ok,
            F.floor(angles.true_wind_speed(aws, awa, bs) * 10000.0 + 0.5).cast("long"),
        ).alias("tws_e4"),
        F.when(wind_ok, F.floor(twa_raw * 10000.0 + 0.5).cast("long")).alias("twa_e4"),
        F.when(
            wind_ok, F.floor(angles.vmg(bs, twa_raw) * 10000.0 + 0.5).cast("long")
        ).alias("vmg_e4"),
        fscaled(
            geo.haversine_m(
                F.lit(37.0) + v / 100,
                F.lit(-122.0) - v / 200,
                F.lit(37.0) + v / 90,
                F.lit(-122.0) - v / 210,
            ),
            "hav_m_floor",
            1,
        ),
    )


# --- Aggregates: O43 + O45 -------------------------------------------------

@register(
    "agg_argmax_conditional",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, value, event_type
      FROM events WHERE value IS NOT NULL
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id DESC) AS rmax,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value ASC, event_id ASC) AS rmin
      FROM base
    )
    SELECT user_id,
           MAX(CASE WHEN rmax = 1 THEN event_id END) AS max_value_event,
           MAX(CASE WHEN rmin = 1 THEN event_id END) AS min_value_event,
           MAX(value) AS max_value,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(DISTINCT event_type) AS n_types,
           {o_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END",
                   'purchase_value')}
    FROM ranked GROUP BY user_id
    """,
)
def agg_argmax_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O39+O43+O45 per user in one hash aggregate: argmax/argmin via
    max_by/min_by (tie-broken on (value, event_id)), exact count
    distinct of event types, plus count_if / sum(when(...))
    conditional aggregation."""
    ord_key = F.struct(F.col("value"), F.col("event_id"))
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max_by("event_id", ord_key).alias("max_value_event"),
            F.min_by("event_id", ord_key).alias("min_value_event"),
            F.max("value").alias("max_value"),
            F.count_if(F.col("event_type") == "click").alias("n_clicks"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
            F.countDistinct("event_type").alias("n_types"),
            dsum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0),
                "purchase_value",
            ),
        )
    )


# --- Aggregates: O46 + O47 -------------------------------------------------

@register(
    "agg_histogram_having",
    oracle=f"""
    SELECT CAST(FLOOR(value / 10) * 10 AS DOUBLE) AS value_bin,
           event_type,
           COUNT(*) AS n,
           {o_davg('value', 'avg_in_bin')}
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    """,
)
def agg_histogram_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O46+O47: 2-D histogram binning with a post-aggregation HAVING
    filter on the bin population."""
    from process_spark.queries._util import davg

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vbin = (F.floor(F.col("value") / 10) * 10).cast("double")
    return (
        e.groupBy(vbin.alias("value_bin"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_in_bin"))
        .filter(F.col("n") >= 5)
    )


# --- Windows over orders: O48 + O50 ----------------------------------------

@register(
    "win_orders_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER wp AS rn,
           RANK() OVER wp AS rnk,
           DENSE_RANK() OVER wp AS drnk,
           NTILE(4) OVER wp AS quartile,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER wd AS DOUBLE)
             AS running_spend,
           COUNT(*) OVER wd AS running_orders
    FROM orders
    WINDOW wp AS (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey),
           wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_orders_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O48+O50 per order row: the ranking family over a price window
    plus cumulative frames over a date window (running spend through
    exact decimals — frame order differs engine-to-engine)."""
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wd = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(wp).alias("rn"),
        F.rank().over(wp).alias("rnk"),
        F.dense_rank().over(wp).alias("drnk"),
        F.ntile(4).over(wp).alias("quartile"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(wd)
        .cast("double")
        .alias("running_spend"),
        F.count(F.lit(1)).over(wd).alias("running_orders"),
    )


# --- Windows over events: O37 O49 O51 O52 O53 ------------------------------

@register(
    "win_events_suite",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             floor(epoch(ts)) AS tsec,
             CASE WHEN LAG(ts) OVER wo IS NULL
                   OR ts > LAG(ts) OVER wo + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, ts,
           LAG(event_id) OVER wo AS prev_event,
           LEAD(event_id) OVER wo AS next_event,
           EPOCH(ts) - EPOCH(LAG(ts) OVER wo) AS secs_since_prev,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wr AS DOUBLE)
             AS sum_last_hour,
           COUNT(value) OVER wr AS n_last_hour,
           FIRST_VALUE(event_id) OVER wo AS first_event,
           LAST_VALUE(event_id) OVER wf AS last_event,
           NTH_VALUE(event_id, 2) OVER wf AS second_event,
           CAST(FLOOR(PERCENT_RANK() OVER wv * 1000000000.0 + 0.5) AS BIGINT) AS pr_e9,
           CAST(FLOOR(CUME_DIST() OVER wv * 1000000000.0 + 0.5) AS BIGINT) AS cd_e9,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM flagged
    WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           wv AS (PARTITION BY user_id ORDER BY value NULLS LAST, event_id),
           wr AS (PARTITION BY user_id ORDER BY floor(epoch(ts))
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def win_events_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O37+O49+O51+O52+O53 per event row, all windows partitioned by
    user: lag/lead (the self-compare primitive under maneuver
    detection), trailing 1 h range frame, analytic values
    (first/last/nth, percent_rank/cume_dist with explicit NULLS LAST so
    both engines order identically), and gap-based sessionization
    (operators.series.sessionize)."""
    base = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    s = sessionize(
        base, ts_col="ts", gap="30 minutes", partition_by=["user_id"],
        tie_break=["event_id"],
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wv = Window.partitionBy("user_id").orderBy(
        F.col("value").asc_nulls_last(), F.col("event_id")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    prev_ts = F.lag("ts").over(wo)
    return s.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(wo).alias("prev_event"),
        F.lead("event_id").over(wo).alias("next_event"),
        (F.col("ts").cast("double") - prev_ts.cast("double")).alias(
            "secs_since_prev"
        ),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(wr)
        .cast("double")
        .alias("sum_last_hour"),
        F.count("value").over(wr).alias("n_last_hour"),
        F.first("event_id").over(wo).alias("first_event"),
        F.last("event_id").over(wf).alias("last_event"),
        F.nth_value("event_id", 2).over(wf).alias("second_event"),
        # (rank-1)/(n-1) and rank/n are single IEEE divisions of exact
        # ints — identical bits both engines — so the 1e-9 floor scale
        # is boundary-risk-free (vs ROUND(x,9): a cross-build format
        # gamble, `_util` docstring).
        F.floor(F.percent_rank().over(wv) * 1000000000.0 + 0.5).cast("long").alias(
            "pr_e9"
        ),
        F.floor(F.cume_dist().over(wv) * 1000000000.0 + 0.5).cast("long").alias("cd_e9"),
        "session_id",
    )


# --- Set operations: O59 + O60 + O61 ---------------------------------------

@register(
    "setop_suite",
    oracle="""
    SELECT 'union_all' AS op, CAST(key AS BIGINT) AS key, kind AS tag FROM (
      SELECT c_custkey AS key, 'customer' AS kind FROM customer
      UNION ALL
      SELECT s_suppkey AS key, 'supplier' AS kind FROM supplier
    )
    UNION ALL
    SELECT 'intersect', CAST(nationkey AS BIGINT), NULL FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except_all', CAST(custkey AS BIGINT), NULL FROM (
      SELECT o_custkey AS custkey FROM orders
      EXCEPT ALL
      SELECT c_custkey FROM customer
    )
    """,
)
def setop_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O59+O60+O61 as one tagged union: unionByName (bag), intersect
    (set), exceptAll (bag difference) — each branch the same plan as
    its per-operator query, tagged and conformed to (op, key, tag)."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")

    union_all = (
        c.select(F.col("c_custkey").alias("key"), F.lit("customer").alias("kind"))
        .unionByName(
            s.select(
                F.col("s_suppkey").alias("key"), F.lit("supplier").alias("kind")
            )
        )
        .select(
            F.lit("union_all").alias("op"),
            F.col("key").cast("bigint").alias("key"),
            F.col("kind").alias("tag"),
        )
    )
    intersected = (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(s.select(F.col("s_nationkey").alias("nationkey")))
        .select(
            F.lit("intersect").alias("op"),
            F.col("nationkey").cast("bigint").alias("key"),
            F.lit(None).cast("string").alias("tag"),
        )
    )
    excepted = (
        o.select(F.col("o_custkey").alias("custkey"))
        .exceptAll(c.select(F.col("c_custkey").alias("custkey")))
        .select(
            F.lit("except_all").alias("op"),
            F.col("custkey").cast("bigint").alias("key"),
            F.lit(None).cast("string").alias("tag"),
        )
    )
    return union_all.unionByName(intersected).unionByName(excepted)


# --- JSON / map / hash scalars: O79 + O81 + O86 ----------------------------

@register(
    "json_map_suite",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           LEN(json_keys(props)) AS n_keys,
           md5(props) AS props_md5,
           sha256(props) AS props_sha256,
           to_json({'event_id': event_id,
                    'k': json_extract_string(props, '$.k')}) AS doc
    FROM events
    """,
)
def json_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O79+O80+O81+O86 per event row: JSON path extraction, the map
    surface (from_json → element_at / map_keys), cryptographic content
    hashes (same public algorithms both engines → same hex), and JSON
    document shaping back out (to_json with explicit null retention —
    DuckDB always renders null fields)."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
        F.element_at(m, "k").cast("bigint").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.md5("props").alias("props_md5"),
        F.sha2("props", 256).alias("props_sha256"),
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.get_json_object("props", "$.k").alias("k"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("doc"),
    )


# --- Time-series alignment: O25 + O26 + O27 --------------------------------

@register(
    "ts_locf_suite",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts, value,
             floor(epoch(ts)) AS tsec,
             CASE WHEN event_type = 'purchase' THEN value END AS v
      FROM events
    ),
    w AS (
      SELECT *,
             last_value(v IGNORE NULLS) OVER fwd AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN tsec END IGNORE NULLS)
               OVER fwd AS pt,
             first_value(v IGNORE NULLS) OVER bwd AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN tsec END IGNORE NULLS)
               OVER bwd AS nt
      FROM m
      WINDOW fwd AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             bwd AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           pv AS last_purchase_value,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) *
                     (CASE WHEN nt <> pt THEN (tsec - pt) / (nt - pt)
                           ELSE 0.0 END)
           END AS interp_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER rng AS DOUBLE)
             / COUNT(value) OVER rng AS ma_1h
    FROM w
    WINDOW rng AS (PARTITION BY user_id ORDER BY tsec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ts_locf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25+O26+O27 in one pass over events per user: LOCF of the last
    purchase value (operators.series.forward_fill), time-weighted
    linear interpolation across purchase gaps
    (operators.series.linear_interpolate), and a trailing 1 h
    time-range moving average — the reference's align/fill/smooth
    stage on the grading stream."""
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    base = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        purchase_val.alias("last_purchase_value"),
        purchase_val.alias("interp_value"),
    )
    ff = forward_fill(
        base, cols=["last_purchase_value"], ts_col="ts", partition_by=["user_id"]
    )
    li = linear_interpolate(
        ff, cols=["interp_value"], ts_col="ts", partition_by=["user_id"]
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    ma = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(wr).cast("double")
        / F.count("value").over(wr)
    )
    return li.select(
        "event_id",
        "user_id",
        "ts",
        "last_purchase_value",
        "interp_value",
        ma.alias("ma_1h"),
    )


# --- IO roundtrips: O3 + O4 + O5 + O6 ---------------------------------------

@register(
    "io_roundtrip_suite",
    oracle="""
    SELECT 'csv' AS fmt, COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(LENGTH(c_name)) AS BIGINT) AS aux_sum
    FROM customer
    UNION ALL
    SELECT 'json', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM(CAST(EPOCH(o_orderdate) AS BIGINT)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'parquet', COUNT(*), CAST(SUM(event_id) AS BIGINT),
           CAST(SUM(user_id) AS BIGINT)
    FROM events WHERE event_type = 'click'
    """,
)
def io_roundtrip_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3+O4+O5+O6 as one tagged union of lossless roundtrips: customer
    through the CSV sink/scan, orders through the JSON sink/scan
    (timestamps survive via ISO-8601 + UTC session timezone), events
    through a *partitioned* parquet sink read back with a partition
    filter (the read prunes to the ``event_type=click`` directory —
    the 100 TB layout). The oracle aggregates the ORIGINAL tables, so
    any value lost or mangled in a sink/scan changes a sum."""
    import os

    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.schemas import TABLES
    from process_spark.sources.io import (
        read_csv,
        read_json,
        write_json_docs,
        write_parquet,
    )

    c = t(spark, sf_dir, "customer")
    csv_path = os.path.join(_SCRATCH, "suite_customer_csv")
    c.write.mode("overwrite").option("header", True).csv(csv_path)
    csv_back = read_csv(spark, csv_path, schema=TABLES["customer"])
    csv_sig = csv_back.agg(
        F.lit("csv").alias("fmt"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("key_sum"),
        F.sum(F.length("c_name")).alias("aux_sum"),
    )

    o = t(spark, sf_dir, "orders")
    json_path = os.path.join(_SCRATCH, "suite_orders_json")
    write_json_docs(o, json_path)
    json_back = read_json(spark, json_path, schema=TABLES["orders"])
    json_sig = json_back.agg(
        F.lit("json").alias("fmt"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.unix_timestamp("o_orderdate")).alias("aux_sum"),
    )

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    pq_path = os.path.join(_SCRATCH, "suite_events_parquet")
    write_parquet(e, pq_path, partition_by=["event_type"])
    pq_back = spark.read.parquet(pq_path).filter(F.col("event_type") == "click")
    pq_sig = pq_back.agg(
        F.lit("parquet").alias("fmt"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("key_sum"),
        F.sum("user_id").alias("aux_sum"),
    )
    return csv_sig.unionByName(json_sig).unionByName(pq_sig)


# --- NMEA time assembly + coord conversion: O14 + O21 -----------------------

@register(
    "nmea_time_coord_suite",
    oracle=f"""
    SELECT event_id,
           strptime(strftime(ts, '%d%m%y') || ' ' || strftime(ts, '%H%M%S'),
                    '%d%m%y %H%M%S') AS fix_ts,
           (FLOOR(value / 100) + {o_pmod('value', '100')} / 60)
             * (CASE WHEN event_id % 2 = 0 THEN -1 ELSE 1 END) AS coord_deg
    FROM events
    """,
)
def nmea_time_coord_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21+O14 per event row: hhmmss+ddmmyy reassembly into the fix
    timestamp (functions.nmea.nmea_timestamp) and ddmm.mmmm → signed
    decimal degrees (functions.geo.nmea_coord_to_deg) with a synthetic
    hemisphere off event_id parity — the same IEEE ops both engines."""
    from process_spark.functions.nmea import nmea_timestamp

    e = t(spark, sf_dir, "events")
    hemi = F.when(F.col("event_id") % 2 == 0, F.lit("S")).otherwise(F.lit("N"))
    return e.select(
        "event_id",
        nmea_timestamp(
            F.date_format("ts", "HHmmss"), F.date_format("ts", "ddMMyy")
        ).alias("fix_ts"),
        geo.nmea_coord_to_deg(F.col("value"), hemi).alias("coord_deg"),
    )


# --- Strings + regex: O71 + O72 ---------------------------------------------

@register(
    "string_regex_suite",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_type) AS type_lower,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_name, 1, 10) AS name_prefix,
           CONCAT(p_name, '#', p_brand) AS name_tagged,
           TRIM(LPAD(CAST(p_partkey AS VARCHAR), 10, '0')) AS key_padded,
           REPLACE(p_name, 'ol', '0L') AS name_replaced,
           INSTR(p_name, 'an') AS an_pos,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           (p_type LIKE 'PROMO%') AS is_promo,
           regexp_matches(p_name, '[0-9]') AS has_digit,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    """,
)
def string_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O71+O72 per part row: the core string battery (case, length,
    substring, concat, pad/trim, literal replace, find) plus the regex
    family (extract, LIKE, RLIKE, class replace) on the same grain."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.concat(F.col("p_name"), F.lit("#"), F.col("p_brand")).alias(
            "name_tagged"
        ),
        F.trim(F.lpad(F.col("p_partkey").cast("string"), 10, "0")).alias(
            "key_padded"
        ),
        F.regexp_replace("p_name", "ol", "0L").alias("name_replaced"),
        F.instr(F.col("p_name"), "an").alias("an_pos"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.col("p_type").like("PROMO%").alias("is_promo"),
        F.col("p_name").rlike("[0-9]").alias("has_digit"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


# --- Semi + anti joins: O32 + O33 -------------------------------------------

@register(
    "join_semi_anti_suite",
    oracle="""
    SELECT 'semi' AS op, c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    UNION ALL
    SELECT 'anti', c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_semi_anti_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O32+O33 tagged union: EXISTS → left semi, NOT EXISTS → left
    anti, both against price-filtered orders so each branch is
    discriminating (an unfiltered anti join is vacuously empty)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    semi = (
        c.join(
            o.filter(F.col("o_totalprice") > 100000),
            c.c_custkey == o.o_custkey,
            "left_semi",
        )
        .select(F.lit("semi").alias("op"), "c_custkey", "c_name")
    )
    anti = (
        c.join(
            o.filter(F.col("o_totalprice") > 300000),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .select(F.lit("anti").alias("op"), "c_custkey", "c_name")
    )
    return semi.unionByName(anti)


# --- Outer joins: O31 (left + right + full) ---------------------------------

@register(
    "join_outer_suite",
    oracle="""
    SELECT 'left' AS op, c_custkey AS key, COUNT(o_orderkey) AS n,
           CAST(NULL AS DOUBLE) AS val, CAST(NULL AS VARCHAR) AS name
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    UNION ALL
    SELECT 'full', COALESCE(s_nationkey, c_nationkey),
           COALESCE(n_sup, 0), CAST(COALESCE(n_cust, 0) AS DOUBLE), NULL
    FROM (SELECT s_nationkey, COUNT(*) AS n_sup FROM supplier GROUP BY 1) su
    FULL OUTER JOIN
         (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) cu
      ON s_nationkey = c_nationkey
    UNION ALL
    SELECT 'right', o_orderkey, NULL, o_totalprice, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal < -900
    """,
)
def join_outer_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31 complete — left, full, and right outer joins as one tagged
    union conformed to (op, key, n, val, name): customers with zero
    orders survive the left join, nations on either side survive the
    full join of two grouped sides, and deeply-negative-balance
    customers with no orders surface null order columns through the
    right join."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    s = t(spark, sf_dir, "supplier")

    left = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n"))
        .select(
            F.lit("left").alias("op"),
            F.col("c_custkey").alias("key"),
            "n",
            F.lit(None).cast("double").alias("val"),
            F.lit(None).cast("string").alias("name"),
        )
    )
    su = s.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_sup"))
    cu = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    full = (
        su.join(cu, su.s_nationkey == cu.c_nationkey, "outer")
        .select(
            F.lit("full").alias("op"),
            F.coalesce("s_nationkey", "c_nationkey").alias("key"),
            F.coalesce("n_sup", F.lit(0)).alias("n"),
            F.coalesce("n_cust", F.lit(0)).cast("double").alias("val"),
            F.lit(None).cast("string").alias("name"),
        )
    )
    right = (
        o.join(
            c.filter(F.col("c_acctbal") < -900),
            o.o_custkey == c.c_custkey,
            "right",
        )
        .select(
            F.lit("right").alias("op"),
            F.col("o_orderkey").alias("key"),
            F.lit(None).cast("bigint").alias("n"),
            F.col("o_totalprice").alias("val"),
            F.col("c_name").alias("name"),
        )
    )
    return left.unionByName(full).unionByName(right)


# --- Vector norms + semantic near-dup: O64 + O65 ----------------------------

@register(
    "vec_norm_dup_suite",
    oracle="""
    WITH n AS (SELECT vec_id, label, embedding, {norm} AS nn
               FROM embeddings WHERE vec_id % 4 = 0),
    u AS (SELECT vec_id, label, list_transform(embedding, x -> x / nn) AS nemb
          FROM n WHERE nn > 0)
    SELECT 'norm' AS op, vec_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
           {norm} AS l2,
           CAST(list_min(embedding) AS DOUBLE) AS min_elem,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem,
           (CASE WHEN {norm} > 0
                 THEN CAST(embedding[1] AS DOUBLE) / {norm} END) AS unit_first,
           CAST(NULL AS DOUBLE) AS cosine_sim
    FROM embeddings
    UNION ALL
    SELECT 'near_dup', a.vec_id, b.vec_id, NULL, NULL, NULL, NULL,
           {dot}
    FROM u a JOIN u b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {dot} >= 0.2
    """.format(
        norm="sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        " list_transform(embedding, x -> x * x)), (a, x) -> a + x))",
        dot="list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        " list_transform(range(1, len(a.nemb) + 1),"
        " i -> a.nemb[CAST(i AS INT)] * b.nemb[CAST(i AS INT)])),"
        " (a2, x) -> a2 + x)",
    ),
)
def vec_norm_dup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O65+O64 tagged union over embeddings: per-vector norm battery
    (L2, min/max element, first unit component) and label-blocked
    semantic near-dup pairs at cosine ≥ 0.2, scored as
    dot-of-unit-vectors (normalized once pre-join; the oracle mirrors
    the exact op order) — thresholding on bit-identical scores keeps
    the row set hash-stable (see module docstring of
    queries/vectors.py)."""
    from process_spark.functions.vectorfn import l2_norm, l2_normalize
    from process_spark.operators.similarity import near_dup_embeddings

    e = t(spark, sf_dir, "embeddings")
    norms = e.select(
        F.lit("norm").alias("op"),
        F.col("vec_id").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"),
        l2_norm("embedding").alias("l2"),
        F.array_min("embedding").cast("double").alias("min_elem"),
        F.array_max("embedding").cast("double").alias("max_elem"),
        F.element_at(l2_normalize("embedding"), 1)
        .cast("double")
        .alias("unit_first"),
        F.lit(None).cast("double").alias("cosine_sim"),
    )
    pairs = near_dup_embeddings(
        e.filter(F.col("vec_id") % 4 == 0), threshold=0.2, block_col="label"
    ).select(
        F.lit("near_dup").alias("op"),
        F.col("id_a"),
        F.col("id_b"),
        F.lit(None).cast("double").alias("l2"),
        F.lit(None).cast("double").alias("min_elem"),
        F.lit(None).cast("double").alias("max_elem"),
        F.lit(None).cast("double").alias("unit_first"),
        F.col("cosine_sim"),
    )
    return norms.unionByName(pairs)


# --- Maneuver detection + per-maneuver metrics: O54 + O55 -------------------

@register(
    "maneuver_detect_metrics",
    oracle=f"""
    WITH h AS (
      SELECT user_id, event_id, ts, value,
             {o_pmod('value * 7', '360.0')} AS hdg
      FROM events
    ),
    lagd AS (
      SELECT *, lag(hdg, 3) OVER (PARTITION BY user_id ORDER BY ts) AS prev_hdg
      FROM h
    ),
    d AS (
      SELECT *, {o_pmod('(hdg - prev_hdg + 540.0)', '360.0')} - 180.0 AS delta
      FROM lagd
    ),
    f AS (
      SELECT *, CAST(ABS(delta) >= 150.0 AS INT) AS flag FROM d
    ),
    p AS (
      SELECT *, coalesce(lag(flag, 1) OVER (PARTITION BY user_id ORDER BY ts),
                         0) AS prev_flag
      FROM f
    ),
    r AS (
      SELECT *, CAST((flag = 1 AND prev_flag = 0) AS BIGINT) AS run_start
      FROM p
    ),
    runs AS (
      SELECT *, SUM(run_start) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM r
    ),
    flagged AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run
                 ORDER BY ABS(delta) DESC, ts DESC) AS rk
      FROM runs WHERE flag = 1
    ),
    man AS (
      SELECT user_id, CAST(run AS BIGINT) AS maneuver_id,
             MIN(ts) AS maneuver_ts,
             MAX(CASE WHEN rk = 1 THEN delta END) AS turn_deg,
             COUNT(*) AS n_samples
      FROM flagged GROUP BY user_id, run
    ),
    entry AS (
      SELECT m.user_id, m.maneuver_id,
             {o_davg('e.value', 'entry_avg')}
      FROM man m JOIN events e ON e.user_id = m.user_id
       AND e.ts >= m.maneuver_ts - INTERVAL 24 HOURS AND e.ts < m.maneuver_ts
      GROUP BY m.user_id, m.maneuver_id
    ),
    ex AS (
      SELECT m.user_id, m.maneuver_id,
             {o_davg('e.value', 'exit_avg')}
      FROM man m JOIN events e ON e.user_id = m.user_id
       AND e.ts > m.maneuver_ts AND e.ts <= m.maneuver_ts + INTERVAL 24 HOURS
      GROUP BY m.user_id, m.maneuver_id
    )
    SELECT m.user_id, m.maneuver_id, m.maneuver_ts, m.turn_deg, m.n_samples,
           en.entry_avg, ex.exit_avg
    FROM man m
    LEFT JOIN entry en ON en.user_id = m.user_id
                      AND en.maneuver_id = m.maneuver_id
    LEFT JOIN ex ON ex.user_id = m.user_id AND ex.maneuver_id = m.maneuver_id
    """,
)
def maneuver_detect_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O54+O55 on the grading stream: synthesize a per-user heading
    track (pmod(value*7, 360) ordered by ts — unique per user), detect
    sustained >=150° swings over a 3-sample lookback with
    operators.series.detect_maneuvers (flag-run dedup, peak-turn
    argmax), then join each maneuver back to the user's surrounding
    events for entry/exit averages over ±24 h — the reference's
    tack-analysis shape (SURVEY.md §3.1 steps 5-6). The oracle
    re-derives the full flag/run pipeline in SQL, three-valued logic
    and all. Joins are per-user equi-joins with residual time
    predicates — no nested loop at scale."""
    from process_spark.operators.series import detect_maneuvers
    from process_spark.queries._util import davg

    base = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value",
        F.pmod(F.col("value") * 7, F.lit(360.0)).alias("hdg"),
    )
    man = detect_maneuvers(
        base, hdg_col="hdg", ts_col="ts", partition_by=["user_id"],
        lookback=3, threshold_deg=150.0,
    )
    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"), "value"
    )

    def _window_avg(alias: str, before: bool) -> DataFrame:
        j = man.join(ev, man.user_id == ev.e_user)
        day = F.expr("INTERVAL 24 HOURS")
        if before:
            j = j.filter(
                (F.col("e_ts") >= F.col("maneuver_ts") - day)
                & (F.col("e_ts") < F.col("maneuver_ts"))
            )
        else:
            j = j.filter(
                (F.col("e_ts") > F.col("maneuver_ts"))
                & (F.col("e_ts") <= F.col("maneuver_ts") + day)
            )
        return j.groupBy("user_id", "maneuver_id").agg(davg("value", alias))

    entry = _window_avg("entry_avg", before=True)
    exit_ = _window_avg("exit_avg", before=False)
    return (
        man.select("user_id", "maneuver_id", "maneuver_ts", "turn_deg", "n_samples")
        .join(entry, ["user_id", "maneuver_id"], "left")
        .join(exit_, ["user_id", "maneuver_id"], "left")
    )


# --- pandas_udf scalar + grouped aggregate: O97 + O98 -----------------------

@register(
    "udf_pandas_suite",
    oracle="""
    WITH b AS (
      SELECT user_id, value,
             -- FLOOR(x/7), not integer //: numpy's float floor-divide
             -- floors toward -inf while DuckDB's BIGINT // truncates
             -- toward zero — they differ on negative values
             CAST(FLOOR(trunc(value * 100) / 7) AS BIGINT) AS bucket
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT user_id, value, bucket,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM b
    )
    SELECT user_id,
           CAST(SUM(bucket) AS BIGINT) AS bucket_sum,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_lo,
           COUNT(*) AS n_events
    FROM r GROUP BY user_id
    """,
)
def udf_pandas_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O97+O98: Arrow-vectorized scalar pandas_udf (integer bucketing —
    exact math, so the oracle mirrors it bit-for-bit) feeding a grouped
    aggregate pandas_udf (sum of int64 buckets — exact; median as the
    LOWER-MIDDLE ELEMENT — pure selection from the sorted multiset, so
    the hashed value is a raw parquet float64 with identical bits on
    both sides; interpolated+rounded medians hash-differ across DuckDB
    builds (`_util` docstring). Spark disallows mixing grouped-agg
    pandas UDFs with built-in aggregates, so the count is a pandas UDF
    too)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def _bucket(v):
        return pd.Series((np.trunc(v.to_numpy() * 100) // 7).astype("int64"))

    _bucket.__annotations__ = {"v": pd.Series, "return": pd.Series}
    bucket7 = pandas_udf(_bucket, "long")

    def _bsum(b):
        return int(b.sum())

    _bsum.__annotations__ = {"b": pd.Series, "return": int}
    bucket_sum = pandas_udf(_bsum, "long")

    def _vmed(v):
        # Lower-middle element, 0-based index (n-1)//2 of the ascending
        # sort — matches the oracle's rn = (n+1)//2 (1-based) exactly.
        arr = np.sort(v.to_numpy())
        return float(arr[(len(arr) - 1) // 2])

    _vmed.__annotations__ = {"v": pd.Series, "return": float}
    med = pandas_udf(_vmed, "double")

    def _n(v):
        return len(v)

    _n.__annotations__ = {"v": pd.Series, "return": int}
    n_events = pandas_udf(_n, "long")

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        e.withColumn("bucket", bucket7("value"))
        .groupBy("user_id")
        .agg(
            bucket_sum(F.col("bucket")).alias("bucket_sum"),
            med(F.col("value")).alias("median_lo"),
            n_events(F.col("value")).alias("n_events"),
        )
    )


# --- applyInPandas + mapInPandas: O99 + O100 --------------------------------

@register(
    "udf_arrow_suite",
    oracle="""
    SELECT user_id, event_id,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS gap_s,
           ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000) // 60
             AS gap_bucket
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def udf_arrow_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O99+O100 chained: applyInPandas per user computes inter-event
    gaps in whole seconds via *integer* nanosecond arithmetic (int64
    numpy diff — never float, so no precision cliff at epoch
    magnitude), then a mapInPandas pass derives the minute bucket on
    each Arrow batch. All integers → exact oracle twin via lag()."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def _gaps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # Pure-numpy body: this function runs once per GROUP, so pandas
        # conveniences (sort_values, elementwise nullable assignment)
        # would pay their overhead thousands of times per partition.
        eid = pdf["event_id"].to_numpy()
        ns = pdf["ts"].to_numpy("datetime64[ns]").view("int64")
        order = np.lexsort((eid, ns))
        ns = ns[order]
        vals = np.zeros(len(ns), dtype="int64")
        if len(ns) > 1:
            vals[1:] = np.diff(ns) // 1_000_000_000
        mask = np.zeros(len(ns), dtype=bool)
        if len(ns):
            mask[0] = True  # no predecessor -> NULL gap
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy()[order],
                "event_id": eid[order],
                "gap_s": pd.arrays.IntegerArray(vals, mask),
            }
        )

    def _buckets(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["gap_bucket"] = pdf["gap_s"] // 60
            yield pdf

    e = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    g = e.groupBy("user_id").applyInPandas(
        _gaps, "user_id long, event_id long, gap_s long"
    )
    return g.mapInPandas(
        _buckets, "user_id long, event_id long, gap_s long, gap_bucket long"
    )


# --- Percentiles + moments: O41 + O42 ---------------------------------------

@register(
    "agg_stats_suite",
    oracle=f"""
    SELECT event_type,
           {o_fscaled('MEDIAN(value)', 'median_micro')},
           {o_fscaled('QUANTILE_CONT(value, 0.9)', 'p90_micro')},
           {o_fscaled('STDDEV_SAMP(value)', 'sd_e4', 10000)},
           {o_fscaled('VAR_SAMP(value)', 'var_e4', 10000)},
           {o_fscaled('CORR(value, CAST(user_id AS DOUBLE))', 'corr_e6')}
    FROM events GROUP BY event_type
    """,
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O41+O42 on one grain: median / interpolated p90 plus stddev/var/
    corr per event type. Moments are order-dependent (distributed vs
    serial summation) and the percentile interpolation formula is an
    engine seam — all hashed as half-up-scaled integers (`_util` module
    docstring) with granularity ≫ the cross-engine noise, never as
    ROUND-ed doubles. One hash-aggregate pass, shuffle on the (tiny)
    group key only."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            fscaled(F.median("value"), "median_micro"),
            fscaled(F.percentile("value", 0.9), "p90_micro"),
            fscaled(F.stddev_samp("value"), "sd_e4", 10000),
            fscaled(F.var_samp("value"), "var_e4", 10000),
            fscaled(
                F.corr(F.col("value"), F.col("user_id").cast("double")), "corr_e6"
            ),
        )
    )


# --- sortWithinPartitions + top-k per group: O57 + O58 ----------------------

@register(
    "sort_topk_suite",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber)
               AS rn
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM ranked WHERE rn <= 3
    """,
)
def sort_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O57+O58 on one grain: repartition lineitem by order key and
    sortWithinPartitions (write-time clustering — the layout that feeds
    min/max-indexed parquet at 100 TB without a global sort), then
    top-3 lines per order by price over the SAME partitioning — the
    window reuses the repartition's hash exchange, so the whole suite
    is one shuffle. Row SET is partition-independent; the oracle
    checks exactly that."""
    from process_spark.operators.relational import topk_per_group

    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .repartition(F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
    )
    return topk_per_group(
        li,
        partition_by=["l_orderkey"],
        order_by=[F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        k=3,
    )


# --- Python scalar UDF + UDTF: O96 + O101 -----------------------------------

@register(
    "udf_python_udtf_suite",
    oracle="""
    WITH parts AS (
      -- trim with an EXPLICIT whitespace set (space, tab, LF, CR, VT, FF):
      -- DuckDB's bare trim() strips spaces only while Python's strip()
      -- strips all whitespace — a whitespace-only sentence would
      -- survive on one side and not the other.
      SELECT doc_id,
             list_filter(list_transform(string_split(text, '.'),
                                        s -> trim(s, ' ' || chr(9) || chr(10)
                                                  || chr(13) || chr(11)
                                                  || chr(12))),
                         s -> len(s) > 0) AS ps
      FROM documents
    ), sentences AS (
      SELECT doc_id,
             CAST(unnest(range(len(ps))) AS INT) AS sent_idx,
             unnest(ps) AS sentence
      FROM parts
    )
    SELECT doc_id, sent_idx, sentence,
           CAST(len(sentence) AS BIGINT) // 10 AS len_bucket
    FROM sentences
    """,
)
def udf_python_udtf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O96+O101 chained: a Python UDTF fans each document out to
    (index, sentence) rows, then a row-at-a-time Python scalar UDF
    buckets each sentence by length — the two row-level Python escape
    hatches composed through the SQL surface (LATERAL + function call).
    Deliberately integer math so the oracle mirrors it exactly; the
    functions/* docstrings explain why 100 TB hot paths use expressions
    or Arrow UDFs instead."""
    from pyspark.sql.functions import udf, udtf  # noqa: PLC0415
    from pyspark.sql.types import LongType  # noqa: PLC0415

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for part in text.split("."):
                # Explicit ASCII whitespace set — bare str.strip() also
                # strips UNICODE whitespace, which the SQL twin cannot
                # mirror portably.
                part = part.strip(" \t\n\r\x0b\x0c")
                if part:
                    yield idx, part
                    idx += 1

    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_for_udtf_suite")
    spark.udtf.register("split_sentences_suite", SplitSentences)
    spark.udf.register(
        "len_bucket_suite",
        udf(lambda s: len(s) // 10 if s is not None else None, LongType()),
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence,
               len_bucket_suite(s.sentence) AS len_bucket
        FROM __docs_for_udtf_suite d,
             LATERAL split_sentences_suite(d.text) s
        """
    )
