"""Skew-safe top-k per group — the executable form of the repo's hot-key
caveat.

``Window.partitionBy(key)`` serializes EVERY row of a key onto one task; for
real bounded entities (customers, users) that holds at 100 TB, but a
power-law key (a bot user, a default/null-ish group) turns the window into a
single straggler task holding the whole stage. The standard fix is two-phase
top-k:

1. salt each row deterministically into ``n_salt`` subgroups and take a
   PARTIAL top-k per (key, salt) — each window partition is now ~1/n_salt of
   the hot key, and k rows per subgroup survive;
2. re-rank the union per key — at most k * n_salt rows per key reach the
   second window, bounded regardless of the input skew.

Correctness: any global top-k row of a key is, within its salt subgroup,
among that subgroup's top-k (the subgroup is a subset of the key's rows), so
phase 1 never drops it; phase 2 then reproduces the exact global ranking.
The result is row-identical to the single-window form PROVIDED the order is
total (e.g. a unique id as the last sort key) — the same determinism
requirement the single-window form already has.

This generalizes the groupBy+join min-rep pattern of ``exact.exact_pairs``
(k = 1 there) to arbitrary k; the reference has no analog (its per-hash
lookups are driver-side loops, tbdedup/dedup/__init__.py:140-157).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str | Column],
    k: int,
    rank_col: str = "rnk",
    n_salt: int | None = None,
) -> DataFrame:
    """Top-k rows per key in ``order_cols`` order, with a 1-based ``rank_col``.

    ``n_salt=None`` is the plain single-window plan (fine for bounded-entity
    keys). ``n_salt >= 2`` enables the two-phase salted plan for power-law
    keys; the output is identical when ``order_cols`` is a total order. The
    salt hashes the row's columns — deterministic per ROW (not per task /
    partition), so resumed or re-planned runs agree; it cannot hash
    ``order_cols`` directly because those may be SortOrder expressions
    (``.desc()``), and correctness never depends on WHICH subgroup a row
    lands in (phase 1 keeps the top-k of every subgroup).
    """
    if n_salt is None:
        w = Window.partitionBy(*key_cols).orderBy(*order_cols)
        return (
            df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k)
        )
    if n_salt < 2:
        raise ValueError(f"n_salt must be >= 2 (or None for unsalted), got {n_salt}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)).cast("int")
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    partial = (
        df.withColumn("_salt", salt)
        .withColumn("_prn", F.row_number().over(w1))
        .filter(F.col("_prn") <= k)  # <= k*n_salt survivors per key
        .drop("_prn")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        partial.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("_salt")
    )
