"""Edit-distance-verified near-dup pairs.

Levenshtein is the precision instrument of the dedup ladder — too expensive
(O(len_a * len_b) per pair) to be the candidate GENERATOR, so this operator
pairs a cheap content-defined anchor join with an exact, threshold-bounded
``levenshtein`` verify. The reference's analog is its two-stage hash-then-
byte-compare verify discipline (canonical signature match confirmed against
the raw record before a row is treated as a duplicate,
/root/reference/tbdedup/dedup/__init__.py:140-157) — generate cheaply,
verify exactly.

Candidate generation: every q-gram of the normalized text whose md5-derived
60-bit hash is ``0 (mod sample_mod)`` is an anchor; two docs sharing any
anchor are candidates. Sampling is content-defined (a value condition on the
gram itself, not its position), so any text region shared verbatim by two
docs samples IDENTICALLY on both sides — the same closure argument as the
mod-sampled containment index (operators/substr.py). A pair within edit
distance D of length-n texts shares untouched runs totalling >= n - D chars
(longest >= (n - D) / (D + 1)); every one of those runs' ~len/sample_mod
sampled grams is a join hit, so misses require EVERY shared gram of EVERY
shared run to fall in the (1 - 1/m) unsampled mass — for the target regime
(hundreds of chars, D <= ~16) that is vanishingly rare, and the envelope is
the documented contract rather than a silent gap.

Scale shape (100 TB): the anchor relation is ~len/m rows per doc of
(int64 hash, int64 id) — narrow shuffle keys, no text movement; the hot-gram
cap bounds every join bucket (boilerplate-gram skew is the same economics as
setsim's prefix_cap); texts are fetched BY ID for surviving candidates only;
and the verify uses Spark's threshold-bounded levenshtein (banded DP, early
exit at > max_dist) so a far pair costs O(max_dist * len), not
O(len^2). The length-difference prefilter (|len_a - len_b| <= max_dist is
necessary for d <= max_dist) runs before any text join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text
from ..plans.partitioning import cap_hot_keys, fan_out_small_scan


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 16,
    q: int = 12,
    sample_mod: int = 8,
    anchor_cap: int | None = 256,
    checkpoint: bool = True,
) -> DataFrame:
    """(a_id, b_id, edit_distance, score): pairs of docs whose normalized
    texts are within ``max_dist`` Levenshtein edits, found via mod-sampled
    q-gram anchors and verified exactly.

    Contract (mirrored verbatim by the DuckDB oracle in __spark_entry__):
    docs with normalized length < ``q`` are out of scope (no q-gram to
    anchor on); anchors = distinct (doc, gram) with hash60(gram) %
    sample_mod == 0; grams anchoring more than ``anchor_cap`` docs are
    dropped (hot-bucket valve — stopword-like boilerplate grams otherwise
    build quadratic buckets); candidates must satisfy the length-difference
    bound; score = 1 - d / greatest(len_a, len_b), rounded to 6 digits.
    """
    if q < 1 or sample_mod < 1 or max_dist < 0:
        raise ValueError("q >= 1, sample_mod >= 1, max_dist >= 0 required")
    norm = df.select(
        F.col(id_col).alias("_id"),
        text.norm_text(text_col).alias("_t"),
    ).select("_id", "_t", F.length("_t").alias("_n")).filter(F.col("_n") >= q)

    # Explode-first (minhash.exploded_shingles lesson: arrays of substrings
    # re-evaluate the normalization per gram under projection collapse).
    # Fan-out: the ~len/1 md5-per-position stage must not run at a
    # single-split scan's parallelism (plans/partitioning.py; no-op at scale).
    pos = fan_out_small_scan(norm).select(
        "_id",
        "_n",
        F.explode(F.expr(f"sequence(0, length(_t) - {q})")).alias("_i"),
        "_t",
    )
    anchors = (
        pos.select(
            "_id",
            "_n",
            text.hash60(F.expr(f"substring(_t, _i + 1, {q})")).alias("_h"),
        )
        .filter(F.pmod("_h", F.lit(sample_mod)) == 0)
        .dropDuplicates(["_id", "_h"])
    )
    if checkpoint:
        # The anchor relation feeds two consumers (the hot-gram cap's size
        # groupBy and join, or both self-join sides when uncapped) — without
        # this the md5-gram explode re-executes per consumer. Opt out for
        # single-pass/small inputs (the simhash/setsim knob convention).
        anchors = anchors.localCheckpoint()
    anchors, _ = cap_hot_keys(anchors, ["_h"], anchor_cap)

    a = anchors.select(
        F.col("_id").alias("a_id"), F.col("_n").alias("_na"), "_h"
    )
    b = anchors.select(
        F.col("_id").alias("b_id"), F.col("_n").alias("_nb"), "_h"
    )
    cand = (
        a.join(b, "_h")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.abs(F.col("_na") - F.col("_nb")) <= max_dist)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )

    # Texts re-enter BY ID for survivors only; threshold-bounded levenshtein
    # returns -1 above max_dist (banded DP — early exit, not O(n^2)).
    ta = norm.select(F.col("_id").alias("a_id"), F.col("_t").alias("_ta"))
    tb = norm.select(F.col("_id").alias("b_id"), F.col("_t").alias("_tb"))
    d = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .select("a_id", "b_id", d.alias("_d"), "_ta", "_tb")
        .filter(F.col("_d") >= 0)
        .select(
            "a_id",
            "b_id",
            F.col("_d").cast("int").alias("edit_distance"),
            F.round(
                F.lit(1.0)
                - F.col("_d") / F.greatest(F.length("_ta"), F.length("_tb")),
                6,
            ).alias("score"),
        )
    )
