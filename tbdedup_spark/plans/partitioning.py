"""Partitioning policy: scan fan-out and the hot-key cap.

Scan-parallelism repair for small unsplittable inputs.

Heavy per-row map stages (shingle explode + md5, regex extraction chains,
higher-order-function aggregates) run at the SCAN's parallelism. A small
corpus packed into one parquet row group yields ONE input split no matter
what ``spark.sql.files.maxPartitionBytes`` says (parquet only splits at
row-group boundaries), so the whole CPU-bound stage runs on a single core —
measured 9.0s for the minhash signature build at sf0.1 (1 task) vs ~1s at
32-way parallelism (BENCH/dissect_r06.py, round 6).

``fan_out_small_scan`` is the adaptive form of the fix ``operators/cdc.py``
already shipped as a manual ``min_partitions`` knob: repartition up to the
session's default parallelism ONLY when the physical plan would yield fewer
partitions. At real corpus scale the scan has thousands of splits and this
is a structural no-op — the guard is what keeps the fix from turning into a
full-corpus shuffle at 100 TB (guide §2.4: remove shuffles outright; §6:
input split sizing). The keyless round-robin repartition is retry-safe:
``spark.sql.execution.sortBeforeRepartition`` (default on) pins the
row-to-partition assignment under task retries (SPARK-23207).

``cap_hot_keys`` is the one skew valve of every bucketed self-join (band,
postings, anchor and fingerprint joins): a join key shared by ``n`` rows
builds ``n^2/2`` pairs in one task, so groups above a cap are dropped from
the join and reported, never silently lost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def fan_out_small_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin ``df`` up to ``target`` partitions (default: the session's
    ``defaultParallelism``) iff its physical plan yields fewer — a no-op for
    well-split inputs, so callers can apply it unconditionally at every
    narrow-input → CPU-heavy-map boundary.

    Call it on the NARROW projection feeding the heavy stage (ids + the text
    column about to be exploded/hashed), never on a wide payload relation:
    the point is to move kilobytes once so megabytes of downstream compute
    parallelize.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        # planning-only probe: no job runs, the RDD is never materialized.
        # JVM-side toRdd, NOT df.rdd — the PySpark property additionally
        # plans a javaToPython conversion stage (measured ~1.0s per fresh
        # DataFrame vs ~0.05s for the internal-row RDD).
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df  # exotic plan the RDD conversion rejects — leave it alone
    return df.repartition(target) if n < target else df


def cap_hot_keys(
    rel: DataFrame, keys: list[str], cap: int | None
) -> tuple[DataFrame, DataFrame]:
    """(kept, dropped): the rows of ``rel`` whose ``keys`` group holds at
    most ``cap`` rows, and one ``(*keys, bucket_size)`` row per larger group.

    ``cap=None`` is the uncapped (oracle) mode: ``rel`` comes back untouched
    with an empty report and no sizing runs — the groupBy + join +
    checkpoint below is a pure-latency materialization when nothing is
    dropped (measured: dedup_clusters 44.7s -> 73.0s when it ran
    unconditionally). A cap below 1 raises: it would silently keep nothing.

    Otherwise ``kept`` carries the group size as ``_bsz`` (callers may split
    further on it, as minhash's salted regime does). Sizes come from a
    groupBy + join, NOT a window: ``Window.partitionBy(key)`` places a whole
    hot group on one task, the thing the cap exists to prevent; the groupBy
    combines map-side and the join is AQE-skew-splittable. The sized
    relation is materialized once, so both self-join sides and the report
    read it without re-running ``rel``'s upstream.

    The materializing job also observes the number of dropped groups, so
    ``dropped_groups(dropped)`` costs no job. The observation sits at the
    root of the checkpointed relation: one on the group sizes, below the
    join, never fires when ``rel`` is empty (AQE prunes that side), and
    reading it would then wait forever.
    """
    if cap is None:
        dropped = rel.select(*keys, F.lit(0).cast("long").alias("bucket_size")).limit(0)
        dropped._n_groups = 0
        return rel, dropped
    if cap < 1:
        raise ValueError(f"hot-key cap must be >= 1 or None (uncapped), got {cap}")
    sizes = rel.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
    over = F.col("_bsz") > cap
    drops = Observation()
    sized = (
        rel.join(sizes, keys)
        # a group of n rows adds n * (1/n): the sum is the group count up
        # to rounding, exact while rows_dropped * groups_dropped < 2^52
        .observe(
            drops,
            F.coalesce(F.sum(F.when(over, 1.0 / F.col("_bsz"))), F.lit(0.0)).alias("groups"),
        )
        .localCheckpoint()
    )
    dropped = (
        sized.filter(over)
        .groupBy(*keys)
        .agg(F.max("_bsz").alias("bucket_size"))
    )
    dropped._n_groups = round(drops.get["groups"])
    return sized.filter(F.col("_bsz") <= cap), dropped


def dropped_groups(dropped: DataFrame) -> int:
    """Row count of a report exactly as ``cap_hot_keys`` returned it, read
    from what its sizing job observed — no job runs."""
    return dropped.__dict__["_n_groups"]
