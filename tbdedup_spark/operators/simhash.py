"""Detector 2 — Hamming-distance bucketing over 64-bit signatures (phash).

Pigeonhole banding: split a 64-bit signature into B bands of 64/B bits; two
signatures within Hamming distance d < B collide on at least one band. The
band-key self-join is the Spark re-expression of "group by derived key"
(the reference's preplanner suffix grouping, tbdedup/planner/walk.py:100-125);
the exact-Hamming residual filter is a single built-in ``bit_count(a ^ b)``.

Zero UDFs, two shuffles (band explode join + pair dedup). Works on any long
column: images use the precomputed ``phash`` (input_hint), documents use a
text SimHash assembled by ``text_simhash``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..plans.partitioning import bucket_self_join, fan_out_small_scan


def hamming_bands(
    df: DataFrame, id_col: str = "image_id", sig_col: str = "phash",
    n_bands: int = 8, width: int = 64,
) -> DataFrame:
    """(id, sig, band_idx, band_bits). Arithmetic shift + mask is sign-safe."""
    bits_per = width // n_bands
    mask = (1 << bits_per) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("band_idx"),
                F.shiftright(F.col(sig_col), t * bits_per).bitwiseAND(mask).alias("band_bits"),
            )
            for t in range(n_bands)
        ]
    )
    return df.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"), F.explode(bands).alias("b")
    ).select("_id", "_sig", "b.band_idx", "b.band_bits")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    sig_col: str = "phash",
    max_hamming: int = 7,
    n_bands: int = 8,
    width: int = 64,
    max_bucket: int | None = 1024,
    detector_name: str = "simhash",
    checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped_buckets). Completeness: guaranteed for
    max_hamming <= n_bands - 1 (pigeonhole); the residual filter enforces the
    exact bound either way. Hot buckets (e.g. flat images all hashing to 0)
    are size-capped, reported and salted by
    ``plans.partitioning.bucket_self_join``; ``max_bucket=None`` (oracle
    mode) sizes nothing.

    ``checkpoint=True`` materializes the narrow banded relation (id, sig,
    band_idx, band_bits) before it fans out. The banded subtree is consumed
    twice (both self-join sides, or the cap's size groupBy and join) and
    Spark does NOT reuse the exchanges across those consumers (measured:
    the two join sides' shuffles don't canonicalize equal — text_simhash
    upstream ran twice, 8.5s vs 2.8s with the checkpoint at sf0.1). Set it
    whenever the upstream is expensive and not already materialized (raw
    text aggregation, media decode); leave False when ``df`` is itself a
    checkpoint/table scan — then the duplicate scan is cheaper than an
    extra materialization."""
    if max_hamming >= n_bands:
        # ValueError, not assert: -O would strip an assert and silently
        # miss pairs beyond the pigeonhole bound (review catch)
        raise ValueError(f"pigeonhole completeness needs max_hamming < n_bands, got {max_hamming} >= {n_bands}")
    banded = hamming_bands(df, id_col, sig_col, n_bands, width)
    if checkpoint:
        banded = banded.localCheckpoint()
    pairs, _, dropped = bucket_self_join(
        banded, ["band_idx", "band_bits"], max_bucket, carry=("_sig",)
    )
    pairs = (
        pairs.withColumn("_ham", F.bit_count(F.col("_siga").bitwiseXOR(F.col("_sigb"))))
        .filter(F.col("_ham") <= max_hamming)
        .select(
            "a_id",
            "b_id",
            F.lit(detector_name).alias("detector"),
            (F.lit(1.0) - F.col("_ham") / F.lit(float(width))).alias("score"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    return pairs, dropped


def text_simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", width: int = 32,
) -> DataFrame:
    """(id, simhash) from token-level md5 bit votes — built-ins only.

    One explode over tokens + one groupBy(id) with W conditional-sum
    aggregates (map-side combined). Mirrors exactly in DuckDB
    (functions/text.simhash_sql) for the oracle. The narrow (id, text)
    projection is fanned out when the scan under-splits
    (plans/partitioning.py) so the per-token md5 + W-way partial aggregate
    parallelize; no-op at real corpus scale.
    """
    toks = fan_out_small_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select(
        "_id",
        F.explode(F.split(text.norm_text("_t"), " ")).alias("_tok"),
    ).withColumn("_h", text.hash60("_tok"))
    sums = toks.groupBy("_id").agg(*text.simhash_bit_sums("_h", width))
    return sums.select("_id", text.simhash_assemble(width).alias("simhash"))
