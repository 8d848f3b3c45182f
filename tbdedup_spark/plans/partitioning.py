"""Partitioning policy: scan fan-out, the hot-key cap and the bucketed
self-join.

Scan-parallelism repair for small unsplittable inputs.

Heavy per-row map stages (shingle explode + md5, regex extraction chains,
higher-order-function aggregates) run at the SCAN's parallelism. A small
corpus packed into one parquet row group yields ONE input split no matter
what ``spark.sql.files.maxPartitionBytes`` says (parquet only splits at
row-group boundaries), so the whole CPU-bound stage runs on a single core —
measured 9.0s for the minhash signature build at sf0.1 (1 task) vs ~1s at
32-way parallelism (OPTIMIZATION_r06.md, round 6).

``fan_out_small_scan`` repartitions up to the session's default
parallelism ONLY when the physical plan would yield fewer partitions; the
heavy text map stages under ``operators/`` call it on their narrow input.
At real corpus scale the scan has thousands of splits and this is a
structural no-op — the guard is what keeps the fix from turning into a
full-corpus shuffle at 100 TB (guide §2.4: remove shuffles outright; §6:
input split sizing). The keyless round-robin repartition is retry-safe:
``spark.sql.execution.sortBeforeRepartition`` (default on) pins the
row-to-partition assignment under task retries (SPARK-23207).

``bucket_self_join`` is the one bucketed self-join (band, postings, anchor,
fingerprint and patch-hash joins): a join key shared by ``n`` rows builds
``n^2/2`` pairs in one task, so ``cap_hot_keys`` drops and reports the
groups above a cap, never silently losing them, and the join salts the kept
groups above ``SALT_ABOVE`` across ``SALT_CHUNKS`` chunks (the hot-key
partitioning of Hyper Dimension Shuffle, VLDB 2019).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

SALT_ABOVE = 256  # kept buckets larger than this are salted (bucket_self_join)
SALT_CHUNKS = 8  # chunk ids per salted bucket (~S(S+1)/2 join cells)


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` up to the session's ``defaultParallelism``
    partitions iff its physical plan yields fewer — a no-op for
    well-split inputs, so callers can apply it unconditionally at every
    narrow-input → CPU-heavy-map boundary.

    Call it on the NARROW projection feeding the heavy stage (ids + the text
    column about to be exploded/hashed), never on a wide payload relation:
    the point is to move kilobytes once so megabytes of downstream compute
    parallelize.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
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

    Otherwise ``kept`` carries the group size as ``_bsz`` (``bucket_self_join``
    salts on it). Sizes come from a groupBy + join, NOT a window:
    ``Window.partitionBy(key)`` places a whole hot group on one task, the
    thing the cap exists to prevent; the groupBy combines map-side and the
    join is AQE-skew-splittable. The sized relation is materialized once, so
    both self-join sides and the report read it without re-running ``rel``'s
    upstream.

    The materializing job also observes the dropped groups and rows and the
    largest kept group, so ``dropped_groups``/``dropped_rows`` and the
    salting decision cost no job. The observation sits at the root of the
    checkpointed relation: one on the group sizes, below the join, never
    fires when ``rel`` is empty (AQE prunes that side), and reading it would
    then wait forever.
    """
    if cap is None:
        dropped = rel.select(*keys, F.lit(0).cast("long").alias("bucket_size")).limit(0)
        dropped._sizing = {"groups": 0, "rows": 0, "largest_kept": 0}
        return rel, dropped
    if cap < 1:
        raise ValueError(f"hot-key cap must be >= 1 or None (uncapped), got {cap}")
    sizes = rel.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
    over = F.col("_bsz") > cap
    sizing = Observation()
    sized = (
        rel.join(sizes, keys)
        # a group of n rows adds n * (1/n): the sum is the group count up
        # to rounding, exact while rows_dropped * groups_dropped < 2^52
        .observe(
            sizing,
            F.coalesce(F.sum(F.when(over, 1.0 / F.col("_bsz"))), F.lit(0.0)).alias("groups"),
            F.count(F.when(over, 1)).alias("rows"),
            F.coalesce(F.max(F.when(~over, F.col("_bsz"))), F.lit(0)).alias("largest_kept"),
        )
        .localCheckpoint()
    )
    dropped = (
        sized.filter(over)
        .groupBy(*keys)
        .agg(F.max("_bsz").alias("bucket_size"))
    )
    dropped._sizing = sizing.get
    return sized.filter(F.col("_bsz") <= cap), dropped


def dropped_groups(dropped: DataFrame) -> int:
    """Row count of a report exactly as ``cap_hot_keys`` returned it, read
    from what its sizing job observed — no job runs."""
    return round(dropped.__dict__["_sizing"]["groups"])


def dropped_rows(dropped: DataFrame) -> int:
    """Input rows in the groups of that report (``bucket_size`` summed),
    observed by the same sizing job — no job runs."""
    return dropped.__dict__["_sizing"]["rows"]


def bucket_self_join(
    rel: DataFrame,
    keys: list[str],
    cap: int | None,
    id_col: str = "_id",
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, kept, dropped): every pair of rows of ``rel`` sharing ``keys``,
    under the hot-key cap of ``cap_hot_keys`` (whose ``kept`` and report
    come back alongside).

    ``pairs`` holds each (key, pair) exactly once as ``(*keys, a_id, b_id,
    <c>a, <c>b for c in carry)`` with ``a_id < b_id``; ``<c>a`` is the
    ``c`` of ``a_id``'s row. Callers put their pair filters, dedup and
    counts directly on it: Spark evaluates them in the join's stage, before
    the next exchange.

    The skew rule, the same at every site:

    * a bucket above ``cap`` is dropped and reported (``cap_hot_keys``);
    * a kept bucket above ``SALT_ABOVE`` rows is SALTED: members get a chunk
      id ``xxhash64(id) % SALT_CHUNKS``, the left side is replicated to
      every chunk >= its own and the join key becomes (keys, chunk), so one
      quadratic bucket becomes ~S(S+1)/2 join cells that schedule across
      the cluster instead of one monster task. Same pairs, ~S/2x
      replication of that bucket's rows;
    * when the sizing job observed no kept bucket above ``SALT_ABOVE``
      (and always when uncapped), the salted branch is not built: the plan
      holds one bucket join.
    """
    kept, dropped = cap_hot_keys(rel, keys, cap)

    def side(df, s, *extra):
        return df.select(
            *keys,
            F.col(id_col).alias(f"{s}_id"),
            *[F.col(c).alias(f"{c}{s}") for c in carry],
            *extra,
        )

    def join(df):
        return side(df, "a").join(side(df, "b"), keys).filter(F.col("a_id") < F.col("b_id"))

    if dropped.__dict__["_sizing"]["largest_kept"] <= SALT_ABOVE:
        return join(kept), kept, dropped
    hot = kept.filter(F.col("_bsz") > SALT_ABOVE).withColumn(
        "_chunk", F.pmod(F.xxhash64(id_col), F.lit(SALT_CHUNKS))
    )
    chunks = F.array(*[F.lit(j) for j in range(SALT_CHUNKS)])
    # left side replicated to every chunk >= its own, right side keyed by
    # its own chunk: cell (keys, cb) holds the chunk pairs (ca <= cb), so a
    # pair across two chunks meets once, in either id order, and a pair
    # within one chunk meets twice, kept once by a_id < b_id
    ha = side(hot, "a", F.col("_chunk").alias("_ca"), F.explode(chunks).alias("_cb"))
    hot_pairs = (
        ha.filter(F.col("_cb") >= F.col("_ca"))
        .join(side(hot, "b", F.col("_chunk").alias("_cb")), [*keys, "_cb"])
        .filter((F.col("_ca") < F.col("_cb")) | (F.col("a_id") < F.col("b_id")))
    )
    # orient: a pair met with a_id > b_id swaps its two sides
    fwd = F.col("a_id") < F.col("b_id")
    oriented = []
    for a, b in [("a_id", "b_id"), *[(f"{c}a", f"{c}b") for c in carry]]:
        oriented.append(F.when(fwd, F.col(a)).otherwise(F.col(b)).alias(a))
        oriented.append(F.when(fwd, F.col(b)).otherwise(F.col(a)).alias(b))
    hot_pairs = hot_pairs.select(*keys, *oriented)
    plain = join(kept.filter(F.col("_bsz") <= SALT_ABOVE))
    return plain.unionByName(hot_pairs), kept, dropped
