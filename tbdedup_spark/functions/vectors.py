"""Vector primitives over ``array<float/double>`` columns — built-in
higher-order functions only (zip_with / aggregate), JVM-side, no UDFs.

Determinism note: sums fold left-to-right in both Spark's ``aggregate`` and
DuckDB's ``list_sum``, and we cast to double *before* arithmetic, so the
correctness oracle compares bit-identical floating point on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str | Column, b: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.transform(ca, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def lsh_signature(vec_col: str, projections: list[list[float]]) -> Column:
    """Random-hyperplane LSH: bit j = 1 iff dot(vec, proj_j) > 0, packed into
    a long. Projections are seeded constants baked into the plan as literals,
    so the signature is reproducible across engines and runs (no RNG in
    workers — the discipline the reference violates with timestamped names,
    tbdedup/planner/output.py:26-78, and we fix)."""
    bits = []
    for j, p in enumerate(projections):
        lit = F.array(*[F.lit(float(x)) for x in p])
        d = dot(F.col(vec_col), lit)
        bits.append(F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def seeded_projections(n_bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian projection matrix via LCG (embeddable in
    SQL literals; values in [-1, 1), 3 decimal places)."""
    state = (seed * 2654435761) & 0xFFFFFFFF
    out = []
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            state = (1664525 * state + 1013904223) & 0xFFFFFFFF
            row.append(round((state / 2**31) - 1.0, 3))
        out.append(row)
    return out
