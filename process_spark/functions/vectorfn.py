"""Vector expressions over array<float> embeddings (SURVEY.md §2.10,
O65-O66; contract extension "similarity search").

Two tiers:
- Column-expression forms (array HOFs: aggregate/zip_with) — exact,
  codegen'd, oracle-checkable against DuckDB list lambdas.
- Arrow-vectorized pandas_udf forms (numpy) — the throughput path for
  brute-force k-NN at scale (SURVEY.md O97).
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: Bare-identifier guard for the single-parse fast paths (anything
#: qualified/derived falls back to the Column-building HOF form).
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _ident(x: Column | str) -> str | None:
    return x if isinstance(x, str) and _IDENT.match(x) else None


# The SQL fast paths below parse the IDENTICAL expression tree in one
# py4j round trip instead of ~12-15 (one per Column op / lambda —
# ~30 ms of driver time per construction here, paid before any task
# starts and unchanged on a real cluster; guide §7.3 "generating
# gigantic expression trees in loops"). Float literals carry the D
# suffix: a bare `0.0` parses as DECIMAL in Spark SQL and would change
# the fold's operand types.


@lru_cache(maxsize=512)
def _dot_expr(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with(`{a}`, `{b}`, (__x, __y) -> __x * __y), "
        "0.0D, (__acc, __x) -> __acc + __x)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """O66 — dot product via zip_with + aggregate (exact expression)."""
    an, bn = _ident(a), _ident(b)
    if an and bn:
        return _dot_expr(an, bn)
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@lru_cache(maxsize=512)
def _l2_norm_expr(a: str) -> Column:
    return F.expr(
        f"sqrt(aggregate(transform(`{a}`, __x -> __x * __x), "
        "0.0D, (__acc, __x) -> __acc + __x))"
    )


def l2_norm(a: Column | str) -> Column:
    """O65 — Euclidean norm."""
    an = _ident(a)
    if an:
        return _l2_norm_expr(an)
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-length vector (null-safe on zero vectors)."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(_c(a), lambda x: x / n))


@lru_cache(maxsize=512)
def _unit_with_expr(a: str, norm: str) -> Column:
    return F.expr(
        f"CASE WHEN (`{norm}` > 0) THEN "
        f"transform(`{a}`, __x -> __x / `{norm}`) END"
    )


def unit_with(a: Column | str, norm: Column | str) -> Column:
    """``a / norm`` elementwise, with the norm taken from a separately
    projected column — so the O(d) norm fold runs once per VECTOR (in
    the pre-join projection), not once per element or once per joined
    pair. The normalize-once-score-many layout is the 100 TB shape for
    cosine workloads: score = plain dot over unit vectors.

    Zero/underflow norms (e.g. ``[0.0, 1e-320]`` — squares underflow to
    0) yield a NULL unit vector, same semantics as :func:`l2_normalize`.
    A plain ``/`` would raise DIVIDE_BY_ZERO under Spark 4's default
    ANSI mode — one degenerate embedding in a 100 TB corpus must not
    abort the job. Callers exclude NULL unit vectors from scoring."""
    an, nn = _ident(a), _ident(norm)
    if an and nn:
        return _unit_with_expr(an, nn)
    return F.when(_c(norm) > 0, F.transform(_c(a), lambda x: x / _c(norm)))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity as a pure expression. NULL when either vector
    has zero/underflow norm (ANSI-safe; matches :func:`unit_with`'s
    NULL-unit-vector semantics, so the two scoring layouts agree on
    degenerate inputs)."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, dot(a, b) / den)


# --- Arrow-vectorized throughput path (SURVEY.md O97) ---------------------

def cosine_to_query_udf():
    """Vectorized cosine(embedding, query) — numpy over Arrow batches.

    ~10-100× the row-at-a-time UDF; used by the brute-force k-NN
    operator when the expression form becomes the bottleneck. Factory
    (not module-level) because pandas_udf needs an active session.
    """

    @pandas_udf("double")
    def _cos(emb: pd.Series, query: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())
        q = np.stack(query.to_numpy())
        num = (mat * q).sum(axis=1)
        den = np.linalg.norm(mat, axis=1) * np.linalg.norm(q, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, np.nan)
        # NaN → NULL (nullable Float64) so zero-norm vectors score NULL
        # here exactly as in the expression-form cosine()/unit_with().
        return pd.Series(pd.array(out, dtype="Float64"))

    return _cos


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic signed-random-projection planes for SimHash-style
    embedding LSH (O68). Driver-side constant, broadcast by closure."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def srp_band_pool(
    dim: int, n_pool: int, m: int, n_bands: int, seed: int = 42
) -> tuple[list[list[float]], list[tuple[int, ...]]]:
    """Multi-band SRP from a shared plane POOL: ``n_pool`` Rademacher
    (±1) hyperplanes plus ``n_bands`` distinct ``m``-subsets of their
    indices. Each vector computes its n_pool sign bits ONCE (one
    ≤63-bit signature via :func:`srp_signature`); every band's bucket
    is then a pure bit-selection of that signature — so b-band
    OR-amplification costs b bit-extractions per vector, not b×m dot
    products. ±1 entries keep the inlined oracle constants compact and
    the projection fold exact (each product is a sign flip of a float32
    value — no rounding), and band buckets derive from the signature by
    integer arithmetic both engines share. Pool reuse correlates the
    bands slightly vs independent planes (measured ~0.01-0.02 recall
    at matched candidate volume on the isotropic testdata — SCALE.md)
    in exchange for the n_bands× cheaper signature stage.
    Fixed-seed PRNG → byte-identical constants everywhere."""
    import random as _random

    rng = _random.Random(seed)
    planes = [
        [1.0 if rng.getrandbits(1) else -1.0 for _ in range(dim)]
        for _ in range(n_pool)
    ]
    bands: list[tuple[int, ...]] = []
    seen: set[tuple[int, ...]] = set()
    while len(bands) < n_bands:
        sel = tuple(sorted(rng.sample(range(n_pool), m)))
        if sel not in seen:
            seen.add(sel)
            bands.append(sel)
    return planes, bands


def srp_signature(a: Column | str, planes: list[list[float]]) -> Column:
    """Signed-random-projection bit signature as a long (≤63 planes)."""
    if len(planes) > 63:
        raise ValueError("srp_signature supports at most 63 planes")
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                _c(a),
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
    return sig
