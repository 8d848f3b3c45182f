"""Detector 3 — exact-substring caption containment.

Semantics: emit (a, b) when the normalized caption of one is a strict
substring of the other's (unequal strings). The generalization of the
reference's exact-prefix folder grouping (path-suffix keys,
tbdedup/planner/walk.py:100-125) to content containment.

Rarest-shingle probe against an inverted shingle index. If short ⊆ long,
every k-shingle of short is a shingle of long, so any one shingle hash of
short appears in long's shingle set — probing with 1 row/doc against the
exploded index finds every containment (recall 1), and a built-in
``contains()`` filter removes hash coincidences (precision 1). Cost: the
index is ~total-chars rows; at scale set ``sample_mod`` > 1 to keep only
hash % m == 0 shingles (value sampling is containment-closed, so the shrink
is exact). The probe side stays one row per doc either way, so the join is
a skew-tolerant hash join on the shingle hash.

This is not the suffix array the north_rule names: README's "Deviations
from the north_rule" records why.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..plans.partitioning import fan_out_small_scan


def _exploded_hashes(base: DataFrame, k: int) -> DataFrame:
    """(_id, _i, _h): shingle-position hashes of the normalized ``_norm``
    column, explode-first (see minhash.exploded_shingles for why
    arrays-of-substrings are a trap: projection collapse re-evaluates the
    normalization per shingle). The base is fanned out when the scan
    under-splits (plans/partitioning.py) so the per-position crc32 stage
    parallelizes on small corpora; no-op at scale."""
    # the fresh aliases are no-ops for the optimizer but allocate expression
    # ids, so containment_pairs' optimized plan string (ids included) stays
    # comparable with a plain string compare across versions of this helper
    base = fan_out_small_scan(
        base.select(F.col("_id").alias("_id"), F.col("_norm").alias("_norm"))
    )
    pos = base.select(
        "_id", "_norm",
        F.explode(F.expr(f"sequence(0, greatest(length(_norm) - {k}, 0))")).alias("_i"),
    )
    # crc32: the probe/index hash is internal (both sides use the same fn)
    # and contains() removes collisions — throughput-grade is always safe here
    return pos.select(
        "_id", "_i", text.hash32(F.expr(f"substring(_norm, _i + 1, {k})")).alias("_h")
    )


def _verified_pairs(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Fetch the two norms BY ID for candidate pairs only, then the exact
    ``contains`` check. Candidates are orders of magnitude fewer than index
    rows, so the doc text enters exactly two narrow joins here instead of
    riding every index row (the round-1 anti-pattern: each doc's text was
    replicated ~len(doc) times through the index shuffle — O(len^2) bytes
    per doc)."""
    verified = (
        cand.join(base.select(F.col("_id").alias("short_id"), F.col("_norm").alias("_sn")), "short_id")
        .join(base.select(F.col("_id").alias("long_id"), F.col("_norm").alias("_ln")), "long_id")
        .filter((F.col("_sn") != F.col("_ln")) & F.col("_ln").contains(F.col("_sn")))
    )
    return (
        verified.select(
            F.least("short_id", "long_id").alias("a_id"),
            F.greatest("short_id", "long_id").alias("b_id"),
            F.lit("substr").alias("detector"),
            F.lit(1.0).alias("score"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )


def _brute_pairs(shorts: DataFrame, base: DataFrame) -> DataFrame:
    """Broadcast brute-force containment of ``shorts`` (_id, _norm) against
    the whole corpus. Used for docs the index machinery cannot serve — rare
    by construction at web scale, so the nested-loop is a sliver."""
    probe = shorts.select(F.col("_id").alias("short_id"), F.col("_norm").alias("_sn"))
    cand = base.select(F.col("_id").alias("long_id"), F.col("_norm").alias("_ln")).join(
        F.broadcast(probe), F.col("short_id") != F.col("long_id")
    )
    verified = cand.filter(
        (F.col("_sn") != F.col("_ln")) & F.col("_ln").contains(F.col("_sn"))
    )
    return verified.select(
        F.least("short_id", "long_id").alias("a_id"),
        F.greatest("short_id", "long_id").alias("b_id"),
        F.lit("substr").alias("detector"),
        F.lit(1.0).alias("score"),
    ).dropDuplicates(["a_id", "b_id"])


def containment_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 5,
    sample_mod: int = 1,
) -> DataFrame:
    """Complete containment detection: rarest-fingerprint probe vs inverted
    index.

    ``sample_mod = 1``: index = every distinct shingle hash; probe = one of
    the doc's own shingle hashes. Complete because short ⊆ long implies
    every shingle of short is a shingle of long.

    ``sample_mod = m > 1`` (the scale path for FULL-string containment):
    keep only fingerprints with hash % m == 0. Value-based sampling is
    trivially containment-closed — short ⊆ long means every (sampled)
    shingle of short is a (sampled) shingle of long — so it needs no window
    argument, and it is a pure filter: no extra groupBy, no higher-order
    functions (measured: positional winnowing w=4 cost +40s on an
    11M-shingle corpus at 4 cores for the same shrink; mod-sampling is
    free). Docs whose sample comes out empty fall back to the brute path,
    keeping completeness exact.

    Docs shorter than k take the brute-force broadcast path; empty strings
    are excluded by contract. ``contains()`` verification makes precision
    exact either way.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        text.norm_text(text_col).alias("_norm"),
    )
    long_enough = base.filter(F.length("_norm") >= k)
    hashes = _exploded_hashes(long_enough, k)
    kept = hashes.select("_id", "_h").dropDuplicates(["_id", "_h"])
    if sample_mod > 1:
        kept = kept.filter(F.pmod("_h", F.lit(sample_mod)) == 0)

    # Materialized once: kept feeds the DF aggregate, the probe join, and
    # the index side — without this the explode+dedup DAG re-executes
    # three times (round-1 lesson).
    kept = kept.localCheckpoint()

    # probe = the doc's RAREST fingerprint (min document frequency, hash as
    # tie-break), NOT the min-by-value fingerprint. Completeness is the same
    # (ANY single kept fingerprint of the contained doc appears in the
    # container's index), but fan-out is minimal: probing by min hash VALUE
    # is adversarial on real vocabularies — the globally-smallest-hashed
    # common substring (one syllable, measured: crc32('rika ')) becomes the
    # probe of hundreds of docs AND sits in thousands of indexes at once,
    # a quadratic hidden bucket (measured 2.27M candidates from 8k docs).
    # Rarest-first is the same economics as prefix filtering (setsim.py).
    df_rel = kept.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    probe = (
        kept.join(df_rel, "_h")
        .groupBy("_id")
        .agg(F.min(F.struct("_df", "_h")).alias("_m"))
        .select(F.col("_id").alias("short_id"), F.col("_m._h").alias("_mh"))
    )
    index = kept.select(F.col("_id").alias("long_id"), F.col("_h").alias("_mh"))
    cand = probe.join(index, "_mh").filter(F.col("short_id") != F.col("long_id")).select(
        "short_id", "long_id"
    )
    pairs = _verified_pairs(cand, base)
    # a doc shorter than k has no k-shingle in common with its container's
    # index; empty strings are excluded by contract (contained in
    # everything), as in the oracle SQL (length >= 1)
    brute = base.filter((F.length("_norm") < k) & (F.length("_norm") >= 1))
    if sample_mod > 1:
        # docs long enough to index whose sample came out empty: exact
        # completeness demands they probe brute-force (rare: P ~ (1-1/m)^s)
        no_sample = long_enough.join(kept.select("_id").distinct(), "_id", "left_anti")
        brute = brute.unionByName(no_sample)
    if k > 1 or sample_mod > 1:
        pairs = pairs.unionByName(_brute_pairs(brute, base)).dropDuplicates(["a_id", "b_id"])
    return pairs
