"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003 — the public MOSS algorithm): slide a w-wide window over the char
k-gram hashes of each document and keep each window's minimum (rightmost
on ties). The selected (position, hash) set is a ~2/(w+1)-density sketch
with the guarantee that any substring match of length >= k + w - 1
between two documents shares at least one fingerprint.

Scale shape: one explode (linear in corpus chars) and one window
partitioned BY DOCUMENT — the partition is bounded by document length,
never corpus size, so Window.partitionBy's usual hot-key risk does not
exist by construction; the k-gram text dies at the projection before the
exchange (only a packed int64 shuffles); the final distinct is the only
corpus-wide shuffle and runs on three int columns.

Hash split (the minhash.py md5-vs-crc32 convention): ``hash_fn=text.hash60``
is the ORACLE-GRADE path (bit-identical in DuckDB — the driver contract's
``winnowing_fingerprints`` uses it); ``hash_fn=text.hash32`` is the
THROUGHPUT path (~100x cheaper per gram). Fingerprint VALUES differ across
hash fns by design; the selection-density and coverage guarantees are hash-
independent, which tests/test_round5d.py pins for both.

Reference analog: the canonical-signature stage (SURVEY §2 O4,
/root/reference/tbdedup/dedup/__init__.py hashing) refined from whole-
message to positional-substring granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tbdedup_spark.functions import text
from tbdedup_spark.plans.partitioning import bucket_self_join, fan_out_small_scan

POS_ENC = 4_294_967_296  # 2^32: (hash, pos) packed into one orderable int64


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm",
    k: int = 7,
    w: int = 4,
    hash_fn=None,
) -> DataFrame:
    """(id, pos, fp) winnowing fingerprints of ``text_col``.

    The rightmost-min tiebreak is an argmin over (hash, -pos) packed into
    ONE int64 window key — (hash % 2^30) * 2^32 + (2^32 - 1 - pos) — so
    the window needs no struct comparator and both engines (this and the
    DuckDB oracle mirror) take a plain integer MIN. Documents shorter than
    k chars yield no rows; only complete windows select (pos >= w - 1).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    hash_fn = text.hash60 if hash_fn is None else hash_fn
    # docs shorter than k yield no grams; the filter must come BEFORE the
    # explode — sequence(0, negative) is DESCENDING in Spark and substr
    # with a negative start counts from the string end (garbage grams).
    # Fan-out: the per-gram hash + per-doc window must not run at a
    # single-split scan's parallelism (plans/partitioning.py; no-op at scale)
    grams = fan_out_small_scan(df.filter(F.length(text_col) >= k)).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, length({text_col}) - {k}),"
                f" i -> substr({text_col}, i + 1, {k}))"
            )
        ).alias("pos", "gm"),
    )
    key: Column = (
        (hash_fn("gm") % F.lit(1 << 30)) * F.lit(POS_ENC)
        + (F.lit(POS_ENC - 1) - F.col("pos"))
    ).alias("key")
    win = F.min("key").over(
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    return (
        grams.select(id_col, "pos", key)
        .select(id_col, "pos", win.alias("win"))
        .filter(F.col("pos") >= w - 1)
        .select(
            id_col,
            (F.lit(POS_ENC - 1) - F.col("win") % F.lit(POS_ENC)).alias("pos"),
            F.expr(f"win div {POS_ENC}").alias("fp"),
        )
        .distinct()
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm",
    k: int = 7,
    w: int = 4,
    df_cap: int = 50,
    min_shared: int = 3,
    tau: float = 0.5,
) -> DataFrame:
    """MOSS-style near-dup pairs: (id_a, id_b, n_shared, fp_jaccard) for
    document pairs whose winnowing-fingerprint sets overlap with Jaccard
    >= ``tau`` (after sharing at least ``min_shared`` fingerprints).

    Fingerprints whose document frequency exceeds ``df_cap`` are dropped
    BEFORE the pair join — they are boilerplate/template grams that carry
    no dup signal and would each fan out O(df^2) candidate pairs. With a
    constant cap the candidate volume is bounded by df_cap x |kept rows|,
    i.e. LINEAR in corpus size: the df computation, the pair join, and the
    per-pair count are all plain shuffles on int keys, and no per-fp group
    exceeds df_cap rows, so there is no hot key downstream of the filter.
    The cap is part of the SEMANTICS (set sizes are post-filter), which the
    DuckDB oracle mirrors exactly — the embedding_neardup_capped precedent.

    ``fp_jaccard`` is emitted as the RAW double of an exact-integer
    division — bit-identical in any IEEE engine, immune to the DuckDB
    HALF_EVEN vs Spark HALF_UP rounding split at 6-dp boundaries (which a
    ratio of small ints CAN sit on, e.g. 3/128).

    Reference analog: the dedup pair detection over canonical signatures
    (SURVEY §2 O8-O10) refined to partial-overlap granularity — catches
    documents sharing long spans that whole-document hashing misses.
    """
    if not (0.0 < tau <= 1.0):
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # One narrow materialization: the fingerprint subtree (explode + per-doc
    # window + distinct) feeds the df cap's size groupBy and join, and Spark
    # does not reuse exchanges across them — the r6 plan audit measured the
    # whole subtree re-executing per consumer (8 scans/8 windows in one plan,
    # plans/r06/winnow_dup_pairs_before.txt). (id, fp) is 16 bytes/row.
    sets = (
        winnow_fingerprints(df, id_col, text_col, k, w)
        .select(id_col, "fp")
        .distinct()
        .localCheckpoint()
    )
    pairs, kept, _ = bucket_self_join(sets, ["fp"], df_cap, id_col=id_col)
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("nfp"))
    pairs = (
        pairs.groupBy(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("nfp_a") + F.col("nfp_b") - F.col("n_shared")
    )
    return (
        pairs.join(sizes.select(F.col(id_col).alias("id_a"), F.col("nfp").alias("nfp_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("nfp").alias("nfp_b")), "id_b")
        .select("id_a", "id_b", "n_shared", jac.alias("fp_jaccard"))
        .filter(F.col("fp_jaccard") >= tau)
    )
