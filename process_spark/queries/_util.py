"""Shared helpers for oracle-checked queries.

The driver hash-compares values between Spark and DuckDB
(SURVEY.md §5.2). Floating-point sums are order-dependent, and Spark
and DuckDB will sum partitions in different orders — so any query that
exposes a raw ``SUM(double)`` is a latent hash mismatch.

Policy (applied identically on BOTH sides):
- **Exact-decimal aggregation**: ``SUM(CAST(x AS DECIMAL(18,6)))`` is
  exact integer arithmetic — order-independent and engine-independent —
  then ``CAST(... AS DOUBLE)`` lands both engines on the identical
  float64. Averages = exact decimal sum (as double) / count: one IEEE
  division of identical operands → identical bits.
- **Statistical aggregates** (stddev/corr/...) and transcendentals
  (ln/exp/trig) have no exact form. Hashing a ``ROUND(x, n)`` double is
  a cross-BUILD gamble: double-ROUND is itself an approximation whose
  algorithm differs between engines and even between DuckDB builds
  (scaled-multiply vs exact-decimal), so two engines can agree to 1e-12
  yet stringify differently. Policy: **half-up-scaled integers** —
  ``CAST(FLOOR(x * 10^s + 0.5) AS BIGINT)`` computed identically on
  both sides (:func:`fscaled` / :func:`o_fscaled`). The output is an
  exact integer (identical stringification by construction); the only
  risk is a boundary flip, probability ≈ cross-engine noise /
  granularity — pick the scale so that ratio is ≤ ~1e-8 per cell.
  Half-up (not plain FLOOR): medians/percentiles/averages of
  decimal-ish data land exactly ON integer multiples of the grid —
  plain FLOOR puts its boundary right there and a ULP seam flips it
  (measured: interpolated p90 of 2-dp values), while the +0.5 boundary
  sits at half-grid points decimal-derived values never reach.
- Raw column values passing through unaggregated are already identical
  bits (both engines read the same parquet) — no rounding needed.
  Likewise single IEEE ops (+ - * / sqrt abs least/greatest) over
  identical bits are correctly rounded, hence bit-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.sources.io import load

__all__ = ["load", "dsum", "davg", "o_dsum", "o_davg", "fscaled", "o_fscaled", "t"]

# Decimal(18, 6) holds ±1e12 at micro precision — covers every measure
# in the testdata (prices ~1e5, quantities ~1e2) with room for 100 TB
# row counts in the summed magnitude via the wider sum type.
_PREC, _SCALE = 18, 6

#: Root of the scratch tree the stored-index and IO queries write
#: under (``<repo>/.scratch``). It lives here, in a module that
#: registers no queries, so any query module can import it at module
#: level without changing ``REGISTRY`` order.
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".scratch")

#: The MinHash banding of the stored text indexes (the
#: dedup_band_index_probe relation, batch and streaming): 64 md5
#: hashes in 16 concat-keyed bands over 16 buckets.
_BAND_KW = dict(
    num_hashes=64, bands=16, base_hash="md5", band_key="concat", n_buckets=16
)


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent, engine-exact sum of a double column → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({_PREC},{_SCALE})")).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Engine-exact average: exact decimal sum (as double) / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal({_PREC},{_SCALE})")).cast("double")
        / F.count(c)
    ).alias(alias)


def o_dsum(expr: str, alias: str) -> str:
    """DuckDB oracle twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL({_PREC},{_SCALE}))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    """DuckDB oracle twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL({_PREC},{_SCALE}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def fscaled(col: Column, alias: str, scale: int = 1_000_000) -> Column:
    """Half-up-scaled integer projection of a noisy double —
    representation-independent hashing (see module docstring).

    ``scale`` sets the retained granularity (10^-k); choose it so
    (cross-engine noise) / (1/scale) ≪ 1 — e.g. libm trig on values
    ~1e2 has ~1e-14 abs noise → scale 1e4 leaves ~1e-10 flip risk.

    NaN guard: Spark's FLOOR(NaN) casts to 0 while DuckDB's stays NULL
    — e.g. CORR over a zero-variance group is NaN in Spark, NULL in
    DuckDB. Mapping NaN → NULL makes both engines hash the same cell
    (NULL input already yields NULL through the when's missing
    otherwise)."""
    return (
        F.when(
            ~F.isnan(col),
            F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
        ).alias(alias)
    )


def o_fscaled(expr: str, alias: str, scale: int = 1_000_000) -> str:
    """DuckDB oracle twin of :func:`fscaled`."""
    return f"CAST(FLOOR(({expr}) * {float(scale)!r} + 0.5) AS BIGINT) AS {alias}"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader used throughout the query modules."""
    return load(spark, sf_dir, name)


def o_pmod(expr: str, m: str) -> str:
    """DuckDB twin of Spark's float pmod: ``fmod(x, m)`` plus one
    conditional ``+ m`` when negative. The naive
    ``FMOD(FMOD(x,m)+m, m)`` idiom re-rounds through ``x+m`` and drifts
    a ULP — measured, not hypothetical."""
    f = f"FMOD({expr}, {m})"
    return f"(CASE WHEN {f} < 0 THEN {f} + {m} ELSE {f} END)"
