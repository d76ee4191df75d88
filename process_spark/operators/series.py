"""Time-series operators (SURVEY.md §2.4, §2.7: O23-O28, O53-O55).

These re-express the reference's imperative merge/segment/maneuver
passes (SURVEY.md §3.1, [PK-high]) as window/groupBy plans. Every
ordered window takes a partition key — an unpartitioned orderBy window
is a single-task bottleneck at 100 TB (SURVEY.md §7.3).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _w(partition_by: Sequence[str], order_by: str) -> Window:
    return Window.partitionBy(*partition_by).orderBy(order_by)


def resample_grid(
    df: DataFrame,
    ts_col: str,
    step: str = "1 second",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """O24 — regular grid: one row per ``step`` over [min(ts), max(ts)]
    per partition key, left-joined to the observations.

    sequence+explode happens per group after a groupBy — distributed,
    no driver-side loop. Joining back is a co-partitioned equi-join.
    """
    keys = list(partition_by)
    bounds = df.groupBy(*keys).agg(
        F.min(ts_col).alias("__min_ts"), F.max(ts_col).alias("__max_ts")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence("__min_ts", "__max_ts", F.expr(f"INTERVAL {step}"))
        ).alias(ts_col),
    )
    return grid.join(df, on=[*keys, ts_col], how="left")


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """O25 — LOCF: carry the last non-null observation forward."""
    w = _w(partition_by, ts_col).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def linear_interpolate(
    df: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """O26 — time-weighted linear interpolation across null gaps
    (position between GPS fixes). Window-expression only."""
    fwd = _w(partition_by, ts_col).rowsBetween(Window.unboundedPreceding, 0)
    bwd = _w(partition_by, ts_col).rowsBetween(0, Window.unboundedFollowing)
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("double")
    out = df
    for c in cols:
        v = F.col(c)
        prev_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(fwd)
        prev_t = F.last(F.when(v.isNotNull(), ts_s), ignorenulls=True).over(fwd)
        next_v = F.first(F.when(v.isNotNull(), v), ignorenulls=True).over(bwd)
        next_t = F.first(F.when(v.isNotNull(), ts_s), ignorenulls=True).over(bwd)
        frac = F.when(
            next_t != prev_t, (ts_s - prev_t) / (next_t - prev_t)
        ).otherwise(F.lit(0.0))
        interp = prev_v + (next_v - prev_v) * frac
        out = out.withColumn(
            c,
            F.when(v.isNotNull(), v)
            .when(prev_v.isNull(), next_v)
            .when(next_v.isNull(), prev_v)
            .otherwise(interp),
        )
    return out


def ewma(
    df: DataFrame,
    col: str,
    alias: str,
    alpha: float,
    ts_col: str = "ts",
    partition_by: Sequence[str] = ("__single",),
) -> DataFrame:
    """O28 — exponential smoothing. Not frame-expressible (SURVEY.md
    §2.4) → applyInPandas per partition key (Arrow-batched, one pass,
    state bounded by group size; partition by day/session at scale)."""
    keys = [k for k in partition_by if k in df.columns]
    added = False
    if not keys:
        df = df.withColumn("__g", F.lit(1))
        keys, added = ["__g"], True

    # Copy — StructType.add mutates in place, which would corrupt the
    # input DataFrame's cached schema object.
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema_out = StructType(
        list(df.schema.fields) + [StructField(alias, DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        pdf[alias] = pdf[col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    out = df.groupBy(*keys).applyInPandas(fn, schema=schema_out)
    return out.drop("__g") if added else out


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    partition_by: Sequence[str] = (),
    session_col: str = "session_id",
    tie_break: Sequence[str] = (),
) -> DataFrame:
    """O53 — gap-based sessionization (the reference's race
    segmentation, SURVEY.md §3.1 step 1): two stacked windows —
    lag → new-session flag → cumulative sum.

    Pass ``tie_break`` (a unique column) whenever ``ts_col`` is not
    unique per partition: with duplicate timestamps at a session
    boundary, the cumulative sum's row order decides which of the tied
    rows land in the new session, so an un-tie-broken ordering is
    engine/partition-order-dependent."""
    order = [F.col(ts_col), *[F.col(c) for c in tie_break]]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    gap_s = F.expr(f"INTERVAL {gap}")
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = (prev.isNull() | (F.col(ts_col) > prev + gap_s)).cast("bigint")
    cum = Window.partitionBy(*partition_by).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(session_col, F.sum(is_new).over(cum))


def session_stats(
    df: DataFrame,
    ts_col: str = "ts",
    partition_by: Sequence[str] = (),
    session_col: str = "session_id",
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """O53/D4 — per-session summary (start/end/duration + caller aggs)."""
    return df.groupBy(*partition_by, session_col).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_rows"),
        *aggs,
    )


def tack_runs(
    df: DataFrame,
    hdg_col: str = "hdg",
    ts_col: str = "ts",
    partition_by: Sequence[str] = (),
    lookback: int = 5,
    threshold_deg: float = 60.0,
) -> DataFrame:
    """O54's window chain, without the groupBy: every row gains
    ``__delta`` (signed heading change over ``lookback`` samples),
    ``__flag`` (1 when ``|__delta|`` reaches ``threshold_deg``, else 0)
    and ``__run`` (how many flag runs have started up to this row, the
    sessionize pattern); both are NULL inside the lookback prefix. A
    flagged row's ``__run`` is its run's id, 1..k in ts order, so
    ``max`` over the flagged rows is the run count."""
    w = _w(partition_by, ts_col)
    prev_hdg = F.lag(F.col(hdg_col), lookback).over(w)
    # smallest signed angular difference (SURVEY.md O17)
    delta = F.pmod(F.col(hdg_col) - prev_hdg + F.lit(540.0), F.lit(360.0)) - F.lit(180.0)
    flagged = df.withColumn("__delta", delta).withColumn(
        "__flag", (F.abs(F.col("__delta")) >= threshold_deg).cast("int")
    )
    # run-id: new run when flag turns on. lag's default covers only the
    # partition's first row; the lookback prefix's NULL flags must read
    # as "off" too, or a run starting on the first flagged row gets a
    # NULL start and splits in two.
    prev_flag = F.coalesce(F.lag("__flag", 1).over(w), F.lit(0))
    run_start = ((F.col("__flag") == 1) & (prev_flag == 0)).cast("bigint")
    cum = Window.partitionBy(*partition_by).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return flagged.withColumn("__run", F.sum(run_start).over(cum))


def detect_maneuvers(
    df: DataFrame,
    hdg_col: str = "hdg",
    ts_col: str = "ts",
    partition_by: Sequence[str] = (),
    lookback: int = 5,
    threshold_deg: float = 60.0,
    carry: Sequence[str] = (),
) -> DataFrame:
    """O54 — tack/gybe detection: sustained heading change beyond
    ``threshold_deg`` within ``lookback`` samples, deduped to one event
    per flag run (:func:`tack_runs`).

    Emits one row per maneuver with entry ts/hdg and the turn size,
    plus each ``carry`` column's value at the run's first row (the row
    at ``maneuver_ts``).
    """
    runs = tack_runs(
        df, hdg_col, ts_col, partition_by, lookback, threshold_deg
    ).filter(F.col("__flag") == 1)
    return runs.groupBy(*partition_by, "__run").agg(
        F.min(ts_col).alias("maneuver_ts"),
        # Peak signed turn in the run — deterministic argmax on
        # (|delta|, ts), unlike first() which is partition-order luck.
        F.max_by(
            "__delta", F.struct(F.abs(F.col("__delta")), F.col(ts_col))
        ).alias("turn_deg"),
        F.count(F.lit(1)).alias("n_samples"),
        *[F.min_by(c, ts_col).alias(c) for c in carry],
    ).withColumnRenamed("__run", "maneuver_id")


def pivot_signals(
    long_df: DataFrame,
    ts_col: str,
    signal_col: str,
    value_col: str,
    signals: Sequence[str],
    partition_by: Sequence[str] = (),
    grain: str = "second",
) -> DataFrame:
    """O23 — long→wide: one row per time grain, one column per signal.

    Static column list (no .pivot() schema inference scan): a single
    hash aggregate with max(when(...)) per signal — one shuffle.
    """
    key = F.date_trunc(grain, F.col(ts_col)).alias(ts_col)
    return long_df.groupBy(*partition_by, key).agg(
        *[
            F.max(F.when(F.col(signal_col) == s, F.col(value_col))).alias(s)
            for s in signals
        ]
    )


def funnel_stages(
    events: DataFrame,
    stages: Sequence[str],
    max_gaps: Sequence[int | None] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Parameterized ordered funnel — the generalization of the
    hardcoded 3-stage report (agg_funnel_conversion): ``stages`` is
    any ordered event-type sequence, and ``max_gaps[i]`` bounds the
    i-th TRANSITION in whole seconds (None = unbounded — real funnel
    definitions bound each step: "click within 24h of the view").
    Per user: t_1 = first ``stages[0]`` event; t_{i+1} = first
    ``stages[i+1]`` event STRICTLY after t_i and within its gap.
    Later stages left-join, so drop-off shows as NULLs and per-stage
    conversion is one aggregation away.

    Gap semantics: integral-second comparison on floored epoch seconds
    (``ts.cast(long)``) — deterministic and engine-portable (DuckDB
    twin: ``FLOOR(epoch(ts))``). Scale shape: one filtered map-side
    min-aggregation per stage chained by user-keyed equi-joins — no
    window over the raw event log, no self-join on the full table;
    every intermediate is bounded by |users|."""
    if len(stages) < 2:
        raise ValueError("funnel_stages needs at least 2 stages")
    gaps = list(max_gaps) if max_gaps is not None else [None] * (
        len(stages) - 1
    )
    if len(gaps) != len(stages) - 1:
        raise ValueError(
            f"max_gaps must have {len(stages) - 1} entries "
            f"(one per transition), got {len(gaps)}"
        )
    prev = (
        events.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    out = prev
    for i, stage in enumerate(stages[1:], start=2):
        gap = gaps[i - 2]
        cond = F.col(ts_col) > F.col(f"t_{i - 1}")
        if gap is not None:
            cond = cond & (
                F.col(ts_col).cast("long")
                - F.col(f"t_{i - 1}").cast("long")
                <= gap
            )
        prev = (
            events.filter(F.col(type_col) == stage)
            .join(prev, user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{i}"))
        )
        out = out.join(prev, user_col, "left")
    return out
