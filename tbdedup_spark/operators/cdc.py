"""Content-defined chunking (CDC) + chunk-level exact dedup.

The reference dedups whole canonicalized messages — one hash per record
(tbdedup/dedup/__init__.py:137-161). At training-data scale the unit of
redundancy is often SMALLER than the document: boilerplate paragraphs,
quoted replies, shared license headers. CDC (the storage-dedup classic:
Rabin/Gear rolling fingerprints, LBFS/FastCDC lineage) cuts each document
at positions where a w-char window's fingerprint hits ``0 mod divisor``,
so chunk boundaries are a function of CONTENT, not offset: insert one
character and only the chunks touching the edit change — every boundary
after the next fingerprint hit re-synchronizes, unlike fixed-size
chunking where one insertion shifts every subsequent chunk. Chunk-level
exact dedup then prices sub-document redundancy the whole-doc signature
can never see.

Scale shape (the part that matters at 100 TB):

* The chunker is ONE map-side projection — ``filter(sequence(1, n), i ->
  boundary?)`` materializes the boundary array once per row (verified:
  CollapseProject keeps the non-cheap multi-referenced array as its own
  Project; the Generate that explodes chunks references the materialized
  attribute), then ``zip_with(prepend(0, bounds), bounds, substr)``
  extracts chunks. Zero shuffle until the chunk-hash aggregate; text
  never moves.
* The boundary test hashes a w-char window per position — O(n*w) per doc
  in declarative, oracle-mirrorable form (md5-based ``hash60``, available
  bit-identically in DuckDB). A throughput variant would run an O(n)
  Gear rolling hash in an Arrow-batched ``mapInPandas``; the declarative
  form is kept because every hot-path cost here is codegen'd JVM work and
  the oracle mirrors it one-to-one.
* ``chunk_stats`` adds the only shuffles: groupBy(chunk_hash) multiplicity
  (map-side partial aggregation — counts, not text), a join of the narrow
  (hash, count) relation back onto instances, and a final groupBy(doc).
  The raw ``text`` column is chunked as-is (an attribute reference, so no
  normalization expression can be inlined per-element by projection
  collapse; byte-level fidelity is what storage-style dedup wants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text


def chunk_instances(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
    divisor: int = 64,
    min_partitions: int | None = None,
) -> DataFrame:
    """(_id, chunk): one row per chunk instance, chunks partition each doc.

    Boundary rule: position i (1-based) ends a chunk iff i == len(text)
    (the tail is always flushed) or i >= w and
    ``hash60(text[i-w+1 .. i]) % divisor == 0`` — expected chunk length
    ~``divisor`` chars plus the window ramp-in. Docs shorter than w yield
    one whole-doc chunk; empty/null docs yield no rows.

    ``min_partitions``: the boundary projection is CPU-heavy (one md5 per
    character) and runs at the SCAN's parallelism — a small-file corpus
    (one parquet split) would run it serially. Set to the session's core
    count to repartition the narrow (id, text) base first; leave None at
    real corpus scale, where splits are plentiful and the extra text
    shuffle is pure cost.
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).filter(F.length("_t") > 0)
    if min_partitions is not None:
        base = base.repartition(min_partitions)
    n = F.length(F.col("_t"))
    bounds = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == n)
        | (
            (i >= F.lit(w))
            & (
                text.hash60(F.col("_t").substr(i - (w - 1), F.lit(w)))
                % divisor
                == F.lit(0)
            )
        ),
    )
    withb = base.select("_id", "_t", bounds.alias("_bs"))
    prevs = F.concat(
        F.array(F.lit(0)),
        F.slice(F.col("_bs"), F.lit(1), F.greatest(F.size("_bs") - 1, F.lit(0))),
    )
    chunks = F.zip_with(
        prevs, F.col("_bs"), lambda p, c: F.col("_t").substr(p + 1, c - p)
    )
    return withb.select("_id", F.explode(chunks).alias("chunk"))


def chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
    divisor: int = 64,
    min_partitions: int | None = None,
) -> DataFrame:
    """Per-doc chunk-dedup profile: (id_col, n_chunks, dup_chunks,
    dup_chars) where a chunk instance is 'dup' iff its sha256 occurs >= 2
    times corpus-wide (within- or cross-doc). ``dup_chars`` is the
    character mass a chunk store would not pay twice — the sub-document
    redundancy signal whole-doc dedup misses.

    The narrow (id, hash, len) instance relation is materialized once: it
    feeds BOTH the multiplicity aggregate and the join back, and Spark does
    not reuse the subtree across those consumers — without it the plan
    re-scans and re-chunks the whole corpus a second time (caught by the
    plan audit, BENCH/PLANS.md). A count-window over _ch would avoid the
    join but loses map-side partial aggregation AND AQE skew-join splitting
    — at web scale a boilerplate chunk with 10^9 occurrences must be
    splittable.
    """
    inst = chunk_instances(df, id_col, text_col, w, divisor, min_partitions).select(
        "_id",
        F.sha2(F.col("chunk"), 256).alias("_ch"),
        F.length("chunk").alias("_len"),
    ).localCheckpoint()
    mult = inst.groupBy("_ch").agg(F.count("*").alias("_m"))
    return (
        inst.join(mult, "_ch")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("_m") >= 2, 1).otherwise(0)).alias("dup_chunks"),
            F.sum(F.when(F.col("_m") >= 2, F.col("_len")).otherwise(0)).alias(
                "dup_chars"
            ),
        )
        .select(
            F.col("_id").alias(id_col), "n_chunks", "dup_chunks", "dup_chars"
        )
    )
