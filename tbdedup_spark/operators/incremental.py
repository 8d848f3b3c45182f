"""Tiered incremental deduplication: dedupe a NEW batch against an existing
HISTORY corpus, cheapest tier first, without ever self-joining history.

This is the shape a 100-TB training-data pipeline actually runs day to day:
the corpus is already deduped; what arrives is a (much smaller) crawl batch
that must be checked against the whole corpus in escalating tiers —

* tier 1 ``exact``  — canonical-signature equality (sha256 of normalized
  text), the reference's first-record-wins rule generalized from
  within-one-run to batch-vs-corpus (the analog of the dedup writer
  skipping already-written hashes, tbdedup/dedup/__init__.py:137-161);
* tier 2 ``near``   — MinHash/LSH band-bucket collision with any history
  doc, verified by exact Jaccard >= tau (operators/minhash machinery);
* else   ``unique`` — the doc enters the corpus.

Scale contract: HISTORY IS NEVER SELF-JOINED AND NEVER SHUFFLED BY A JOIN.
Every join in both tiers broadcasts a relation bounded by the NEW batch
(its distinct signatures, its band rows, its matched keys), so history's
join cost is map-side scans — the plan a 1000-executor cluster wants when
history is 100 TB and the batch is gigabytes. The broadcast hints are
GUARDED, not forced (same rule as unionfind.incremental_components): the
public tier operators count the batch once and drop the hints — letting
AQE decide from runtime sizes — when the batch-derived bound exceeds
``BROADCAST_THRESHOLD``, so an unexpectedly huge batch degrades to shuffle
joins instead of a forced-broadcast driver/executor OOM. The one history-sized
aggregation is the MinHash signature groupBy, and it must NOT be paid per
batch: pass ``hist_mh_sigs`` (history's signature table, persisted once
from ``minhash.minhash_signatures`` in the oracle grade, ``carry="hashes"``)
and the operator reads it instead of recomputing; recomputation from
``hist_df`` is the convenience path for one-shot use. plans/pipeline.py
commits no such table: its detector's throughput grade
(``carry="hashes32"``) would never match these bands.

Within-batch duplicates are intentionally out of scope — tier verdicts are
vs HISTORY only; run ``operators/exact`` on the batch for that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text
from . import minhash, simhash


# Row bound above which a batch-derived relation is not broadcast.
BROADCAST_THRESHOLD = 5_000_000


def _batch_hint(n_rows: int, multiplier: int = 1):
    """Join-hint factory for a relation bounded by ``n_rows * multiplier``
    rows: ``F.broadcast`` when the bound fits ``BROADCAST_THRESHOLD``,
    identity (AQE decides from runtime sizes) when it does not. Shared with
    ``unionfind.incremental_components`` — an unguarded forced broadcast
    crashes exactly when the batch is big."""
    if n_rows * multiplier > BROADCAST_THRESHOLD:
        return lambda df: df
    return F.broadcast


def exact_matches(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    id_col: str = "_id",
    sig_col: str = "_sig",
    hint=F.broadcast,
) -> DataFrame:
    """Ids of new rows whose signature exists anywhere in history.

    Two hinted semi-joins, both on a new-batch-bounded side: the batch's
    distinct signatures probe history map-side (history never shuffles),
    and the matched-signature set (<= |batch|) comes back to flag the batch
    rows. A naive ``new.join(hist, sig, "left_semi")`` would instead
    shuffle all of history on sig. ``hint`` is the batch-side join hint —
    ``F.broadcast`` by default; the tier operators pass a guarded hint from
    ``_batch_hint`` so oversized batches fall back to AQE-decided joins.
    """
    probe = new_sigs.select(sig_col).distinct()
    hit = (
        hist_sigs.join(hint(probe), sig_col, "left_semi")
        .select(sig_col)
        .distinct()
    )
    return new_sigs.join(hint(hit), sig_col, "left_semi").select(id_col)


def candidate_pairs_cross(
    banded_new: DataFrame, banded_hist: DataFrame, hint=F.broadcast,
    est_tau: float | None = None,
) -> DataFrame:
    """(a_id=new, b_id=hist) pairs sharing >= 1 LSH band bucket.

    The cross analog of ``minhash.candidate_pairs``: the NEW side's band
    rows broadcast into an equi-join that streams over the history band
    scan — no history shuffle, no self-join, no a<b dedup (the sides are
    disjoint by contract). Bucket skew cannot blow up a task the way the
    self-join's quadratic buckets can: a history bucket of size S yields at
    most S * |new-in-bucket| pairs, linear in S.

    ``est_tau`` (requires both sides built with ``carry_mh=True``): the
    estimated-Jaccard prefilter applied INSIDE the cross join — junk
    candidates die before the dropDuplicates exchange instead of being
    attached-and-filtered by two extra joins in ``verify_jaccard`` (the r6
    self-join optimization, minhash.candidate_pairs). Same pair set: est is
    a pure function of the pair and commutes with the dedup.
    """
    carry = est_tau is not None
    if carry and ("_mh" not in banded_new.columns or "_mh" not in banded_hist.columns):
        raise ValueError("est_tau requires banded rows built with carry_mh=True")
    probe_cols = [F.col("_id").alias("a_id"), "band_idx", "band_key"]
    if carry:
        probe_cols.append(F.col("_mh").alias("_mha"))
    probe = banded_new.select(*probe_cols)
    joined = banded_hist.join(hint(probe), ["band_idx", "band_key"])
    if carry:
        joined = joined.filter(minhash.est_jaccard("_mha", "_mh") >= est_tau)
    return (
        joined.select("a_id", F.col("_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def _check_hist_mh_sigs(sigs: DataFrame, n_perm: int) -> None:
    """``hist_mh_sigs`` must be a ``minhash_signatures(carry="hashes")``
    relation: the throughput grade (the pipeline's int32 sets) or a narrower
    signature would silently never match this operator's bands and sets."""
    cols = set(sigs.columns)
    missing = [c for c in ["_id", *(f"mh{j}" for j in range(n_perm))] if c not in cols]
    if missing:
        raise ValueError(f"hist_mh_sigs lacks columns {missing} (n_perm={n_perm})")
    carried = sigs.schema["_shingles"].dataType.simpleString() if "_shingles" in cols else None
    if carried != "array<bigint>":
        raise ValueError(
            "hist_mh_sigs._shingles must be array<bigint> (minhash_signatures "
            f'carry="hashes"), got {carried}'
        )


def tiered_dedup(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_perm: int = 16,
    n_bands: int = 8,
    tau: float = 0.8,
    seed: int = 42,
    est_tau: float | None = None,
    checkpoint: bool = False,
    hist_mh_sigs: DataFrame | None = None,
) -> DataFrame:
    """(id_col, tier) for every NEW row: 'exact' | 'near' | 'unique'.

    Tier semantics are hierarchical: 'near' is only assigned to docs NOT
    already exact-matched, so the tiers partition the batch. The MinHash
    parameters must match the corpus detector's (same k/n_perm/n_bands/
    tau/seed) for verdicts to be consistent with the batch eventually
    joining that corpus.

    ``hist_mh_sigs``: history's PRECOMPUTED minhash signature relation —
    ``minhash.minhash_signatures(hist_df, id_col, text_col, k, n_perm,
    seed, carry="hashes")`` persisted once (schema _id, mh0.., _shingles
    array<bigint>). Passing it removes the only history-sized shuffle in
    the operator (see module docstring). A relation lacking
    mh0..mh{n_perm-1} or carrying another set type raises ValueError; the
    k/seed/hash it was built with cannot be checked and must match.

    ``checkpoint`` materializes the signature relations (each feeds banding
    + the verify joins); leave False when the inputs are cheap scans, set
    it when ``text_col`` is derived from an expensive upstream.

    The batch is counted once (one cheap scan) and every broadcast hint is
    dropped — AQE decides from runtime sizes — when its batch-derived row
    bound (|batch| for id/signature sets, |batch| * n_bands for band rows)
    exceeds ``BROADCAST_THRESHOLD``.
    """
    mh_new = minhash.minhash_signatures(new_df, id_col, text_col, k, n_perm, seed)
    if hist_mh_sigs is not None:
        _check_hist_mh_sigs(hist_mh_sigs, n_perm)
        mh_hist = hist_mh_sigs
    else:
        mh_hist = minhash.minhash_signatures(hist_df, id_col, text_col, k, n_perm, seed)
    if checkpoint:
        mh_new = mh_new.localCheckpoint()
        if hist_mh_sigs is None:  # a supplied table is already materialized
            mh_hist = mh_hist.localCheckpoint()

    # Batch bound for the guarded broadcast hints. When the batch signature
    # relation was just checkpointed, count THAT (a scan of materialized
    # partitions; one row per batch doc) instead of new_df — counting new_df
    # re-executes its whole upstream lineage once more, which is exactly the
    # expensive-upstream case the checkpoint knob exists for (ADVICE r5).
    n_new = mh_new.count() if checkpoint else new_df.count()
    hint_ids = _batch_hint(n_new)
    hint_band = _batch_hint(n_new, n_bands)

    sig = F.sha2(F.encode(text.norm_text(text_col), "utf-8"), 256)
    new_sigs = new_df.select(F.col(id_col).alias("_id"), sig.alias("_sig"))
    hist_sigs = hist_df.select(F.col(id_col).alias("_id"), sig.alias("_sig"))
    exact_ids = exact_matches(new_sigs, hist_sigs, hint=hint_ids)
    # est prefilter INSIDE the cross join (the oracle grade carries raw
    # coords — bit-exact vs the oracle's coord-equality count);
    # verify_jaccard then only does the exact hash-set check. Band rows
    # carry n_perm longs extra, still batch-bounded on the broadcast side.
    cand = candidate_pairs_cross(
        minhash.band_keys(mh_new, n_perm, n_bands, carry_mh=est_tau is not None),
        minhash.band_keys(mh_hist, n_perm, n_bands, carry_mh=est_tau is not None),
        hint=hint_band,
        est_tau=est_tau,
    )
    # the verify joins see a candidate relation bounded by the batch's
    # bucket collisions — AQE broadcasts it against the signature relations
    near = minhash.verify_jaccard(cand, mh_new.unionByName(mh_hist), tau)
    near_ids = near.select(F.col("a_id").alias("_id")).distinct()
    return _tier_select(
        new_df, id_col, [("exact", exact_ids), ("near", near_ids)], hint=hint_ids
    )


def hamming_matches_cross(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    id_col: str = "_id",
    sig_col: str = "_sig",
    max_hamming: int = 7,
    n_bands: int = 8,
    width: int = 64,
    hint=F.broadcast,
) -> DataFrame:
    """Ids of NEW rows whose ``width``-bit signature is within ``max_hamming``
    of ANY history signature.

    The cross analog of ``simhash.simhash_pairs``: pigeonhole banding
    (``max_hamming < n_bands`` guarantees a shared band) with the NEW side's
    banded relation broadcast into an equi-join that streams over the
    history band scan — history never shuffles, never self-joins, exactly
    the ``candidate_pairs_cross`` contract. The residual ``bit_count(a^b)``
    filter enforces the exact bound, so with no bucket cap the result set
    equals the brute-force Hamming predicate (which is what the DuckDB
    oracle computes). A history band bucket of size S costs at most
    S * |new-in-bucket| pairs — linear in S, so the self-join's quadratic
    hot-bucket failure mode cannot occur; cap the NEW side upstream if a
    degenerate batch (all-flat phashes) ever needs a valve.
    """
    if max_hamming >= n_bands:
        # ValueError, not assert: -O strips asserts (review catch)
        raise ValueError(f"pigeonhole completeness needs max_hamming < n_bands, got {max_hamming} >= {n_bands}")
    probe = simhash.hamming_bands(new_sigs, id_col, sig_col, n_bands, width).select(
        F.col("_id").alias("a_id"), F.col("_sig").alias("_siga"), "band_idx", "band_bits"
    )
    hist_b = simhash.hamming_bands(hist_sigs, id_col, sig_col, n_bands, width)
    return (
        hist_b.join(hint(probe), ["band_idx", "band_bits"])
        .filter(
            F.bit_count(F.col("_siga").bitwiseXOR(F.col("_sig"))) <= max_hamming
        )
        .select(F.col("a_id").alias("_id"))
        .distinct()
    )


def tiered_image_dedup(
    new_imgs: DataFrame,
    hist_imgs: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
    max_hamming: int = 7,
    n_bands: int = 8,
) -> DataFrame:
    """(id_col, tier) for every NEW image: 'exact' | 'near' | 'unique' —
    ``tiered_dedup``'s batch-vs-corpus shape applied to the input_hint image
    payload (image_id, bytes, ..., phash).

    * tier 1 ``exact`` — raw-bytes sha256 equality with any history image
      (the reference's disk-hash folder grouping, tbdedup/dedup/
      __init__.py:137-161, as batch-vs-corpus instead of within-run); the
      binary column is hashed in the scan projection, so BYTES NEVER
      SHUFFLE — only the 64-hex signature does.
    * tier 2 ``near``  — pHash Hamming <= max_hamming with any history
      image (``hamming_matches_cross``), assigned only to rows not already
      exact-matched, so the tiers partition the batch.
    * else  ``unique`` — the image enters the corpus.

    Same scale contract as ``tiered_dedup``: every join is hinted on a
    relation bounded by the NEW batch; history is only ever map-side
    scanned. Within-batch duplicates are out of scope by the same contract.
    ``BROADCAST_THRESHOLD`` guards the hints exactly as in ``tiered_dedup``
    (band rows count |batch| * n_bands against it).
    """
    n_new = new_imgs.count()
    hint_ids = _batch_hint(n_new)
    hint_band = _batch_hint(n_new, n_bands)
    exact_ids, near_ids = _image_exact_near_ids(
        new_imgs, hist_imgs, id_col, bytes_col, phash_col, max_hamming, n_bands,
        hint_ids, hint_band,
    )
    return _tier_select(
        new_imgs, id_col, [("exact", exact_ids), ("near", near_ids)], hint=hint_ids
    )


def _image_exact_near_ids(
    new_imgs, hist_imgs, id_col, bytes_col, phash_col, max_hamming, n_bands,
    hint_ids=F.broadcast, hint_band=F.broadcast,
):
    """(exact_ids, near_ids) — the first two rungs of every image tier
    ladder, shared by the 3- and 4-tier variants so a fix to either rung
    lands in both. The sets may overlap; ``_tier_select`` applies the
    precedence."""
    sig = F.sha2(F.col(bytes_col), 256)
    exact_ids = exact_matches(
        new_imgs.select(F.col(id_col).alias("_id"), sig.alias("_sig")),
        hist_imgs.select(F.col(id_col).alias("_id"), sig.alias("_sig")),
        hint=hint_ids,
    )
    near_ids = hamming_matches_cross(
        new_imgs.select(F.col(id_col).alias("_id"), F.col(phash_col).alias("_sig")),
        hist_imgs.select(F.col(id_col).alias("_id"), F.col(phash_col).alias("_sig")),
        max_hamming=max_hamming,
        n_bands=n_bands,
        hint=hint_band,
    )
    return exact_ids, near_ids


def _tier_select(new_df, id_col, tiers, hint=F.broadcast):
    """(id_col, tier) via first-match precedence over ``tiers`` =
    [(label, ids_df), ...] — each ids_df is batch-bounded, distinct and
    join-hinted; the sets may overlap (a row in several takes the first
    label, so no tier needs anti-joining against earlier ones); rows
    matching no tier read 'unique'."""
    out = new_df.select(F.col(id_col).alias("_id"))
    for i, (_, ids) in enumerate(tiers):
        out = out.join(
            hint(ids.withColumn(f"_t{i}", F.lit(True))), "_id", "left"
        )
    verdict = F.when(F.col("_t0"), F.lit(tiers[0][0]))
    for i, (label, _) in enumerate(tiers[1:], start=1):
        verdict = verdict.when(F.col(f"_t{i}"), F.lit(label))
    return out.select(
        F.col("_id").alias(id_col),
        verdict.otherwise(F.lit("unique")).alias("tier"),
    )


def _bloom_positions(sig_col: str, m_bits: int, k: int):
    """The k Bloom bit positions of a signature: hash60(sig || ':' || i)
    % m_bits for i in 0..k-1. hash60 is the md5-based ORACLE-GRADE hash
    (functions/text.py), so DuckDB computes bit-identical positions."""
    return F.array(
        *[
            text.hash60(F.concat(F.col(sig_col), F.lit(f":{i}"))) % m_bits
            for i in range(k)
        ]
    )


def bloom_index(
    hist_sigs: DataFrame,
    sig_col: str = "_sig",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """The tier-0 index: an ``m_bits``-bit Bloom filter over every history
    signature, as a (chunk_idx: long, bits: long) relation packing 32 bits
    per word (bit 63 is never set — DuckDB's BIGINT ``<<`` refuses shift-63
    overflow, and staying in 0..31 keeps the mask algebra engine-portable).

    Build shape: one map-side pass over history (k positions per row,
    codegen), then a groupBy(chunk_idx) bit_or whose partial aggregation
    collapses each task's output to <= m_bits/32 rows BEFORE the shuffle —
    the only data that ever moves is the (tiny, bounded) bitmap itself.
    The relation is a REUSABLE INDEX: at 100 TB you build it once (or
    bit_or-merge per-partition increments as the corpus grows — Bloom
    union IS bit_or), persist it, and every daily batch probes it without
    touching history at all. That is the point of tier 0: ``exact_matches``
    must still map-scan all of history once per batch; the Bloom probe
    costs |batch| * k codegen rows against a broadcast bitmap.

    No false negatives ever; false-positive rate ~ (1 - e^{-kn/m})^k, so
    size m_bits ~ 10-16 bits per history key for sub-percent FP (the
    standard sizing; FPs only cost a wasted tier-1 lookup, never a wrong
    verdict). Reference analog: the dedup writer's already-written-hashes
    set held in memory (tbdedup/dedup/__init__.py:137-161) — here made
    mergeable, persistable, and O(m/32) to ship.
    """
    return (
        hist_sigs.select(
            F.explode(_bloom_positions(sig_col, m_bits, k)).alias("_pos")
        )
        .select(
            F.shiftright("_pos", 5).alias("chunk_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 32 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("chunk_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_maybe_matches(
    new_sigs: DataFrame,
    index: DataFrame,
    id_col: str = "_id",
    sig_col: str = "_sig",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Ids of NEW rows ALL of whose k Bloom positions are set in ``index``
    (from ``bloom_index`` with the SAME m_bits/k) — the tier-0
    "maybe-duplicate" set. Superset of the true exact-match set (no false
    negatives); route only these rows into tier 1+.

    Plan: k codegen position rows per batch row, broadcast-join the bitmap
    on chunk_idx (missing chunk == all-zero word), one batch-bounded
    groupBy(min(hit)). History is not touched at all.
    """
    probe = new_sigs.select(
        F.col(id_col).alias("_bid"),
        F.explode(_bloom_positions(sig_col, m_bits, k)).alias("_pos"),
    ).select(
        "_bid",
        F.shiftright("_pos", 5).alias("chunk_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 32 AS INT))").alias("_mask"),
    )
    hit = probe.join(F.broadcast(index), "chunk_idx", "left").select(
        "_bid",
        (
            F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(F.col("_mask"))
            != 0
        ).alias("_hit"),
    )
    return (
        hit.groupBy("_bid")
        .agg(F.min("_hit").alias("_all"))
        .filter(F.col("_all"))
        .select(F.col("_bid").alias(id_col))
    )


def crop_matches_cross(
    new_psigs: DataFrame,
    hist_psigs: DataFrame,
    id_col: str = "image_id",
    psig_col: str = "psig",
    min_shared: int = 2,
    hint=F.broadcast,
) -> DataFrame:
    """Ids of NEW images sharing >= ``min_shared`` keypoint-patch hashes
    with SOME single history image — the cross analog of
    ``multimodal.crop_resistant_near_dups``'s self-join, under the
    batch-vs-corpus contract: the new batch's (psig, id) relation is
    broadcast and history's patch relation is only map-side scanned
    (history never shuffles, never self-joins). A history patch bucket of
    size S costs at most S * |new-in-bucket| candidate rows — linear in S,
    so the self-join's quadratic hot-bucket mode cannot occur; the
    per-(new, hist) shared count is a batch-bounded groupBy.
    """
    probe = new_psigs.select(F.col(id_col).alias("_aid"), F.col(psig_col).alias("_ps"))
    hist = hist_psigs.select(F.col(id_col).alias("_hid"), F.col(psig_col).alias("_ps"))
    return (
        hist.join(hint(probe), "_ps")
        .groupBy("_aid", "_hid")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
        .select(F.col("_aid").alias("_id"))
        .distinct()
    )


def tiered_image_crop_dedup(
    new_imgs: DataFrame,
    hist_imgs: DataFrame,
    new_psigs: DataFrame,
    hist_psigs: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
    max_hamming: int = 7,
    n_bands: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """(id_col, tier) for every NEW image: 'exact' | 'near' | 'crop' |
    'unique' — ``tiered_image_dedup`` extended with the round's
    crop-resistant detector as tier 3, closing the re-upload ladder: bytes
    equality catches verbatim copies, pHash Hamming catches re-encodes and
    light perturbation, keypoint-patch equality catches CROPS (which land
    pHash-far by construction — the DCT basis re-frames), and only
    genuinely new content reaches 'unique'.

    Tiers partition the batch in precedence order (an exact copy also
    shares every patch; precedence keeps each verdict attributable).
    Callers pass the patch-hash relations explicitly
    (``multimodal.crop_patch_signatures`` output, or a landed/precomputed
    history index — at 100 TB the history psig table is maintained
    incrementally exactly like the history MinHash table in
    ``tiered_dedup``): every join is hinted on a batch-bounded relation,
    history is only ever map-side scanned. ``BROADCAST_THRESHOLD`` guards
    the hints as in ``tiered_dedup``; the crop probe's bound is
    |new_psigs| (already per-patch), counted separately from the batch.
    """
    n_new = new_imgs.count()
    n_psig = new_psigs.count()
    hint_ids = _batch_hint(n_new)
    hint_band = _batch_hint(n_new, n_bands)
    hint_crop = _batch_hint(n_psig)
    exact_ids, near_ids = _image_exact_near_ids(
        new_imgs, hist_imgs, id_col, bytes_col, phash_col, max_hamming, n_bands,
        hint_ids, hint_band,
    )
    crop_ids = crop_matches_cross(
        new_psigs, hist_psigs, id_col=id_col, min_shared=min_shared, hint=hint_crop
    )
    return _tier_select(
        new_imgs,
        id_col,
        [("exact", exact_ids), ("near", near_ids), ("crop", crop_ids)],
        hint=hint_ids,
    )
