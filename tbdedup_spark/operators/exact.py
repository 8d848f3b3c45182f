"""Exact-signature dedup — the end-to-end analog of ``tb-dedup dedup``.

Reference lifecycle (tbdedup/dedup/__init__.py:86-165): parse → hash →
insert → distinct hashes → per-hash lookup → take-first representative →
verify → write. Spark mapping:

* O4/O5/O6 hash columns  → ``signatures`` (one narrow projection, 1 Python
  stage for the canonical decode, everything else built-in);
* O7 per-row INSERT      → one bulk write of the signatures table;
* O8 DISTINCT            → ``dropDuplicates``;
* O9 count-distinct sanity pair → ``dual_hash_sanity`` (two aggregates);
* O10 per-hash point lookups (a Python-driven nested-loop semi-join) →
  ONE ``groupBy`` shuffle — the single most important re-expression: the
  reference issues H point queries, we issue one hash-partitioned exchange;
* O11 take-first → deterministic ``min(image_id)`` representative (the star
  centre of ``exact_pairs``; clusters take theirs in
  ``unionfind.with_representatives``).

Shuffle budget: exactly one exchange on the signature key. ``bytes`` never
enters it (narrow projection first — late materialization, see
functions/hashing.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing


def signatures(images: DataFrame, include_canonical: bool = True) -> DataFrame:
    """Project the narrow signature relation from the wide images table.

    The canonical signature needs pixel decode (pandas UDF); disk and caption
    signatures are pure built-ins. ``include_canonical=False`` gives a
    UDF-free plan for disk-hash-only runs (the ``--msg-hash-source disk``
    analog, tbdedup/cmd/__init__.py:71-77).
    """
    cols = [
        F.col("image_id"),
        hashing.disk_sig("bytes").alias("disk_sig"),
        hashing.caption_sig("caption").alias("caption_sig"),
        F.col("phash"),
        F.col("caption"),
        F.col("w"),
        F.col("h"),
        F.col("fmt"),
    ]
    sig_col = hashing.canonical_sig() if include_canonical else hashing.disk_sig("bytes")
    cols.insert(1, sig_col.alias("sig"))
    return images.select(*cols)


def exact_pairs(sigs: DataFrame) -> DataFrame:
    """Duplicate edges from signature groups, as star edges to the group min.

    Star edges (member ↔ min(member)) carry the same connectivity as the full
    within-group clique at O(n) instead of O(n²) rows — at 10^12 scale a
    million-row duplicate group must not explode into 10^12 pair rows.

    groupBy+join, not Window.partitionBy(key): a window puts a whole hot
    signature group on one task; the groupBy gets map-side combine and the
    equi-join back is AQE-skew-splittable.
    """
    narrow = sigs.select("image_id", "sig")
    reps = narrow.groupBy("sig").agg(F.min("image_id").alias("rep"))
    return (
        narrow.join(reps, "sig")
        .filter(F.col("image_id") != F.col("rep"))
        .select(
            F.col("rep").alias("a_id"),
            F.col("image_id").alias("b_id"),
            F.lit("exact").alias("detector"),
            F.lit(1.0).alias("score"),
        )
    )


def dual_hash_sanity(sigs: DataFrame) -> DataFrame:
    """The O9 sanity pair: distinct canonical vs distinct disk signature
    counts, with the reference's warning condition (counts diverge ⇒ some
    byte-identical files differ only in volatile metadata or vice versa;
    tbdedup/dedup/__init__.py:120-123). Single-row DataFrame for metrics."""
    return sigs.agg(
        F.count_distinct("sig").alias("unique_canonical"),
        F.count_distinct("disk_sig").alias("unique_disk"),
        F.count(F.lit(1)).alias("total_rows"),
    ).withColumn(
        "counts_diverge", F.col("unique_canonical") != F.col("unique_disk")
    )
