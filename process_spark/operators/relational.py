"""Relational operators Spark lacks natively (SURVEY.md O34, O35, O57).

Scale design notes per operator are in the docstrings — these are the
"hand-built physical pieces" of SURVEY.md §4.2; everything else in the
relational surface is plain DataFrame API left to Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """O57 — top-k rows per group via row_number (shuffles once on the
    group key; no global sort)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def cap_blocks(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Hot-block guard: keep only the rows of blocks (rows sharing
    ``keys``) with at most ``cap`` rows.

    A blocked self-join is O(|block|²) per block, so one boilerplate-
    heavy block (templated pages in one LSH bucket, near-identical
    vectors in one IVF cell) is a single quadratic task at scale. The
    block size is a count over a window partitioned on the same keys
    the self-join shuffles on, and over-cap blocks are cut before the
    join, so every join task is bounded at ``cap²`` rows."""
    wb = Window.partitionBy(*keys)
    return (
        df.withColumn("__bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bn") <= cap)
        .drop("__bn")
    )


def cap_blocks_with_census(
    df: DataFrame, keys: list[str], cap: int, census_col: str
) -> tuple[DataFrame, DataFrame]:
    """:func:`cap_blocks` plus its census: ``(kept, census)`` where
    ``census`` is exactly one row, ``census_col`` bigint, counting the
    blocks that were cut (0 when none were).

    The sized relation is pinned: the kept rows and the census both
    read it (the kept rows often twice, as the two sides of a
    self-join), and Catalyst does not reuse the window's exchange
    across them. The census counts distinct key tuples, so a block
    whose key is NULL counts too."""
    wb = Window.partitionBy(*keys)
    sized = df.withColumn("__bn", F.count(F.lit(1)).over(wb)).localCheckpoint(
        eager=False
    )
    kept = sized.filter(F.col("__bn") <= cap).drop("__bn")
    census = (
        sized.filter(F.col("__bn") > cap)
        .select(*keys)
        .distinct()
        .agg(F.count(F.lit(1)).alias(census_col))
    )
    return kept, census


def attach_census(pairs: DataFrame, census: DataFrame) -> DataFrame:
    """Carry a 1-row ``census`` (from :func:`cap_blocks_with_census`)
    on every row of ``pairs``, so truncation is part of the result, not
    a log line.

    When every block was cut, ``pairs`` is empty and a cross join alone
    would erase the census in exactly the most-truncated case. One
    sentinel row is added then: NULL in every ``pairs`` column, plus the
    census. It is emitted iff the census is positive and no pair
    survived: a left-anti join against the ≤1-row head of ``pairs``
    keeps that probe in-plan. ``pairs`` is pinned because both
    branches read it."""
    pairs = pairs.localCheckpoint(eager=False)
    (census_col,) = census.columns
    out = pairs.join(F.broadcast(census))
    sentinel = (
        census.filter(F.col(census_col) > 0)
        .join(
            F.broadcast(pairs.select(pairs.columns[0]).limit(1)),
            F.lit(True),
            "left_anti",
        )
        .select(
            *[F.lit(None).cast(t).alias(c) for c, t in pairs.dtypes],
            F.col(census_col),
        )
    )
    return out.unionByName(sentinel)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_seconds: int = 86400,
    how: str = "inner",
) -> DataFrame:
    """O34 — point-in-interval join that avoids BroadcastNestedLoop.

    Naive ``points.join(intervals, (ts >= start) & (ts < end))`` has no
    equi-key → BNLJ, which is quadratic at scale. This rewrite buckets
    epoch time on both sides: each interval is exploded to every bucket
    it overlaps, the join becomes an equi-join on the bucket id, and
    the residual range predicate filters within the bucket. With
    intervals much shorter than their spread (races in a day;
    SURVEY.md O34) the per-interval fan-out is 1-2 buckets and the join
    shuffles hash-partitioned — exactly what a 1000-executor cluster
    wants. Choose ``bucket_seconds`` ≳ the typical interval length.
    """

    def bucket_of(c: Column) -> Column:
        return F.floor(F.unix_timestamp(c) / F.lit(bucket_seconds)).cast("long")

    p = points.select("*", bucket_of(F.col(point_ts)).alias("__bucket"))

    iv = intervals.select(
        "*",
        F.explode(
            F.sequence(
                bucket_of(F.col(start_ts)), bucket_of(F.col(end_ts)), F.lit(1)
            )
        ).alias("__bucket"),
    )
    cond = (
        (p["__bucket"] == iv["__bucket"])
        & (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) < F.col(end_ts))
    )
    return p.join(iv, cond, how).drop("__bucket")


def bucketed_join(
    spark,
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_buckets: int = 8,
    tag: str = "t",
    how: str = "inner",
    base_dir: str = "/tmp/process_spark_bucketed",
) -> DataFrame:
    """O29 at scale — shuffle-free equi-join via bucketed tables.

    Both sides are materialized once as Parquet tables bucketed (and
    sorted) by their join key with the same bucket count, then joined
    through the catalog: Spark's sort-merge join reads matching buckets
    pairwise with no Exchange on either side. On a real cluster this is
    the standard trick for fact⋈fact joins repeated across jobs — pay
    one write-side shuffle at ingest, then every subsequent join is
    co-located. ``tag`` namespaces the materialization (callers derive
    it from the input path so different SFs don't collide).
    """
    lname = f"bkt_{tag}_l"
    rname = f"bkt_{tag}_r"
    for name, df, key in ((lname, left, left_key), (rname, right, right_key)):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", f"{base_dir}/{name}")
            .saveAsTable(name)
        )
    # The merge hint keeps the planner on sort-merge join even when one
    # side is small enough to broadcast (as in local tests) — the point
    # of the bucketed materialization is the exchange-free SMJ the plan
    # would use at fact⋈fact scale.
    lt = spark.table(lname).hint("merge")
    rt = spark.table(rname)
    return lt.join(rt, lt[left_key] == rt[right_key], how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_ts: str,
    right_ts: str | None = None,
    by: list[str] | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """O35 — as-of join: for each left row, the nearest prior (or next)
    right row per key. No native Spark op (SURVEY.md §4.2).

    Implementation: union both sides tagged with a side marker, then a
    single window pass per key ordered by (ts, side) carrying the last
    non-null right values forward (LOCF trick). One shuffle on
    (by, ts) — same cost as a sort-merge join, no range explosion, and
    it scales with the union size rather than pair count.

    ``value_cols`` default: every right column except ts/keys.
    """
    right_ts = right_ts or on_ts
    by = by or []
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in {right_ts, *by}]

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    left_cols = left.columns
    l_tag = left.select(
        *[F.col(c) for c in left_cols],
        F.lit(1).alias("__is_left"),
        F.col(on_ts).alias("__ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in by],
        *[F.col(c) for c in by],
        F.lit(0).alias("__is_left"),
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    ).select(*[c for c in l_tag.columns])  # align column order

    unioned = l_tag.unionByName(r_tag)

    if direction == "backward":
        # right rows sort before left rows at equal ts → ties match.
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned.select(
            "*",
            *[
                F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}")
                for c in value_cols
            ],
        )
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        filled = unioned.select(
            "*",
            *[
                F.first(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}")
                for c in value_cols
            ],
        )

    return (
        filled.filter(F.col("__is_left") == 1)
        .select(
            *[F.col(c) for c in left_cols],
            *[F.col(f"__f_{c}").alias(c) for c in value_cols],
        )
    )
