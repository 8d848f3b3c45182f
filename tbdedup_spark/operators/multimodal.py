"""Multimodal column operators — image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing (schemas, batch iteration, partition behavior, UDF
signatures) is real and tested; the media codecs are from ``codecs.py``:
image = spec-conformant PNG subset + clearly-marked fake JPEG, audio = REAL
PCM16 WAV (RIFF parses with struct+numpy, no external lib needed), video =
a deterministic fake container (this sandbox ships no ffmpeg), each marked
at its definition per the build contract.

Scale shape: every operator is a map-only stage (no shuffle), so it scales
with input splits; heavy per-row work stays in C (zlib/numpy). Feature
outputs are narrow so downstream joins/groupBys never carry pixel payloads.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import codecs
from ..plans.partitioning import bucket_self_join

# --- audio / video (plumbing real, codecs stubbed) ---------------------------

_FAKE_VIDEO_MAGIC = b"FVID0001"  # our deterministic fake container

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_png", T.BinaryType()),
    ]
)


def encode_fake_video(frames: list[np.ndarray]) -> bytes:
    """Deterministic FAKE video container: frame count + zlib'd raw frames.
    Stands in for a real container until ffmpeg exists in the runtime."""
    h, w, _ = frames[0].shape
    payload = b"".join(f.tobytes() for f in frames)
    return (
        _FAKE_VIDEO_MAGIC
        + struct.pack(">HHH", len(frames), w, h)
        + zlib.compress(payload, 6)
    )


def decode_fake_video(data: bytes) -> list[np.ndarray]:
    if data[:8] != _FAKE_VIDEO_MAGIC:
        raise ValueError("not a fake video")
    n, w, h = struct.unpack(">HHH", data[8:14])
    raw = np.frombuffer(zlib.decompress(data[14:]), np.uint8)
    return list(raw.reshape(n, h, w, 3))


def sample_frames(media: DataFrame, every_k: int = 2,
                  id_col: str = "media_id", bytes_col: str = "bytes") -> DataFrame:
    """Frame sampling: one output row per kept frame (a flatMap — the same
    shape as the reference's one-file-to-N-messages record split,
    tbdedup/mbox/mboxfile.py:187-344). Uses the fake container; the real
    version swaps in an ffmpeg reader with identical plumbing."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[bytes_col]):
                frames = decode_fake_video(bytes(raw))
                for i in range(0, len(frames), every_k):
                    rows.append((mid, i, codecs.encode_png(frames[i])))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_png"])

    return media.select(id_col, bytes_col).mapInPandas(fn, FRAME_SCHEMA)


FRAME_SIG_SCHEMA = T.StructType(
    [
        T.StructField("frame_key", T.StringType()),
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def frame_signatures(frames: DataFrame) -> DataFrame:
    """pHash every sampled frame (FRAME_SCHEMA rows from sample_frames) —
    map-only Arrow batches; decode failures are error rows, not aborts."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import codecs as _c

        for pdf in batches:
            out = []
            for mid, idx, png in zip(pdf["media_id"], pdf["frame_idx"], pdf["frame_png"]):
                key = f"{mid}:{int(idx):06d}"
                try:
                    px, _meta = _c.decode_png(bytes(png))
                    out.append((key, mid, int(idx), _c.phash64(px), True))
                except Exception:
                    out.append((key, mid, int(idx), None, False))
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SIG_SCHEMA.fields])

    return frames.mapInPandas(fn, FRAME_SIG_SCHEMA)


def _land_or_checkpoint(sigs: DataFrame, sigs_out_path: str | None):
    """Single-source the oracle-landing contract every detector shares:
    when ``sigs_out_path`` is set, the signature relation lands as parquet
    and the RE-READ is returned (oracle input == join input by
    construction), with False signalling downstream checkpointing is now
    redundant; else the relation is returned untouched with True (the
    caller materializes it once — via simhash_pairs' checkpoint flag or an
    explicit localCheckpoint — because each detector consumes it 2-4x)."""
    if sigs_out_path is not None:
        sigs.write.mode("overwrite").parquet(sigs_out_path)
        return sigs.sparkSession.read.parquet(sigs_out_path), False
    return sigs, True


def frame_near_dups(
    media: DataFrame,
    every_k: int = 2,
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int | None = 1024,
    cross_media_only: bool = True,
    sigs_out_path: str | None = None,
) -> DataFrame:
    """Frame-level video near-dup detection — the cross-modal composition:
    sample frames (flatMap) → pHash (map-only pandas UDF) → Hamming-banded
    candidate pairs (operators/simhash — pigeonhole banding, bucket caps,
    zero per-row Python past the decode). Output: (a_id, b_id, detector,
    score) over ``media_id:frame_idx`` keys; ``cross_media_only`` drops
    within-video pairs (adjacent frames of one clip are trivially similar —
    the dedup question is between videos).

    Scale shape: every stage before the band self-join is map-only, the
    join is the bucketed simhash machinery, and frame pixels never survive
    past the signature projection — at 10^12 frames only (key, int64)
    rows shuffle.
    """
    from . import simhash as _sh

    sigs = frame_signatures(sample_frames(media, every_k)).filter("decode_ok").select(
        "frame_key", "phash"
    )
    # the banded subtree is consumed 2-3x with no exchange reuse; one narrow
    # materialization keeps the video decode + pHash stage single-run.
    # sigs_out_path swaps the localCheckpoint for a parquet landing (same
    # oracle rationale as audio_near_dups).
    sigs, checkpoint = _land_or_checkpoint(sigs, sigs_out_path)
    pairs, _dropped = _sh.simhash_pairs(
        sigs,
        id_col="frame_key",
        sig_col="phash",
        max_hamming=max_hamming,
        n_bands=n_bands,
        width=64,
        max_bucket=max_bucket,
        detector_name="frame_phash",
        checkpoint=checkpoint,
    )
    if cross_media_only:
        from pyspark.sql import functions as _F

        # strip the ':<frame_idx>' suffix from the RIGHT — media ids may
        # themselves contain ':' (s3://...), so first-segment parsing would
        # silently collapse every key to the scheme (review catch)
        med = lambda c: _F.regexp_replace(c, ":[0-9]+$", "")
        pairs = pairs.filter(med(_F.col("a_id")) != med(_F.col("b_id")))
    return pairs


AUDIO_SIG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("asig", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def _audio_sig64(mono: np.ndarray, rate: int, n_windows: int = 16, n_bands: int = 4) -> int:
    """64-bit spectral fingerprint: split the clip into ``n_windows`` equal
    time windows x ``n_bands`` log-spaced frequency bands; bit = band energy
    above that band's median across windows. Volume-invariant (median is
    per-band), deterministic, numpy-only — the audio analog of pHash's
    DCT-median signature."""
    n = mono.shape[0]
    if n < n_windows * 2:
        mono = np.pad(mono, (0, n_windows * 2 - n))
        n = mono.shape[0]
    w = n // n_windows
    seg = mono[: w * n_windows].reshape(n_windows, w)
    mag = np.abs(np.fft.rfft(seg, axis=1))  # (windows, freqs)
    nf = mag.shape[1]
    # log-spaced band edges over [1, nf): lows get finer bands, like hearing
    edges = np.unique(np.geomspace(1, nf, n_bands + 1).astype(int))
    while len(edges) < n_bands + 1:  # degenerate tiny clips
        edges = np.append(edges, edges[-1] + 1)
    e = np.stack([mag[:, a:b].sum(axis=1) for a, b in zip(edges[:-1], edges[1:])], axis=1)
    bits = (e > np.median(e, axis=0, keepdims=True)).astype(np.uint64).flatten()
    val = 0
    for i, b in enumerate(bits[:64]):
        val |= int(b) << i
    return val - (1 << 64) if val >= (1 << 63) else val


def audio_signatures(media: DataFrame, id_col: str = "media_id", bytes_col: str = "bytes") -> DataFrame:
    """(media_id, asig int64, decode_ok) — map-only Arrow batches over PCM16
    WAV rows; decode failures are error rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = [f.name for f in AUDIO_SIG_SCHEMA.fields]
        for pdf in batches:
            out = []
            for mid, raw in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    pcm, rate = codecs.decode_wav(bytes(raw))
                    mono = pcm.astype(np.float64).mean(axis=1) / 32768.0
                    out.append((mid, _audio_sig64(mono, rate), True))
                except Exception:
                    out.append((mid, None, False))
            yield pd.DataFrame(out, columns=out_cols)

    return media.select(id_col, bytes_col).mapInPandas(fn, AUDIO_SIG_SCHEMA)


def audio_near_dups(
    media: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int | None = 1024,
    sigs_out_path: str | None = None,
) -> DataFrame:
    """Audio near-dup pairs: spectral fingerprint (map-only) + the same
    pigeonhole-banded Hamming machinery as pHash/simhash — completing the
    image/video/audio detector triple. Only (media_id, int64) rows shuffle;
    samples never leave the signature stage.

    ``sigs_out_path``: materialize the fingerprint relation there (parquet)
    and feed the banded join from the RE-READ — the join input and the
    externally visible relation are the same bytes (an oracle can re-derive
    the banded-Hamming join from the files), and the parquet plays the
    upstream-checkpoint role the localCheckpoint otherwise fills."""
    from . import simhash as _sh

    sigs = audio_signatures(media).filter("decode_ok").select("media_id", "asig")
    # decode+FFT must stay single-run across the subtree
    sigs, checkpoint = _land_or_checkpoint(sigs, sigs_out_path)
    pairs, _dropped = _sh.simhash_pairs(
        sigs,
        id_col="media_id",
        sig_col="asig",
        max_hamming=max_hamming,
        n_bands=n_bands,
        width=64,
        max_bucket=max_bucket,
        detector_name="audio_fp",
        checkpoint=checkpoint,
    )
    return pairs


# --- rotation/mirror-invariant image near-dup (dihedral pHash) ----------------

DIHEDRAL_SIG_SCHEMA = T.StructType(
    [
        T.StructField("okey", T.StringType()),   # image_id:orient (0..7)
        T.StructField("phash", T.LongType()),
    ]
)


def dihedral_transforms(px: np.ndarray) -> list[np.ndarray]:
    """The 8 elements of the dihedral group D4 applied to an HxWxC image:
    orient o = (flip left-right if o >= 4) then rot90 x (o % 4). Index 0 is
    the identity, so orientation-0 rows ARE the plain stored-image pHashes."""
    out = []
    for flip in (False, True):
        q = px[:, ::-1] if flip else px
        for k in range(4):
            out.append(np.rot90(q, k))
    return out


def dihedral_signatures(
    images: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(okey=id:orient, phash): 8 orientation pHashes per image — map-only
    Arrow batches, one decode amortized over all 8 hashes; pixels never
    leave the stage. Decode failures drop the image (its error row belongs
    to the ingest stage, not the detector)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import codecs as _c

        for pdf in batches:
            out = []
            for iid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = _c.decode_image(bytes(data))
                except Exception:
                    continue
                for o, t in enumerate(dihedral_transforms(px)):
                    out.append((f"{iid}:{o}", _c.phash64(np.ascontiguousarray(t))))
            yield pd.DataFrame(out, columns=["okey", "phash"])

    return images.mapInPandas(fn, DIHEDRAL_SIG_SCHEMA)


def dihedral_near_dups(
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int | None = 1024,
    sigs_out_path: str | None = None,
) -> DataFrame:
    """Rotation/mirror-invariant image near-dup pairs: a re-upload rotated
    90/180/270 or mirrored lands Hamming-far from the original under plain
    pHash (the DCT coefficients permute and re-sign) — this detector hashes
    all 8 dihedral orientations and keeps a banded-Hamming match whenever
    SOME orientation of one image meets the STORED orientation of another
    ((orient_a = 0 OR orient_b = 0) — matches at two non-zero orientations
    are the same underlying pair re-expressed, by the group structure, so
    the canonical form drops them).

    Scale shape: the signature stage is map-only (one decode, 8 hashes);
    the banded self-join runs over 8x rows — the documented price of D4
    invariance at corpus-vs-corpus scope. For batch-vs-history tiering,
    expand ONLY the batch side to 8 orientations and probe history's
    stored-orientation index via incremental.hamming_matches_cross: history
    stays 1x and never shuffles. Output: (a_id, b_id, detector, score) over
    image_id:orient keys; split on ':' to recover ids and orientations.
    """
    from . import simhash as _sh
    from pyspark.sql import functions as F

    sigs = dihedral_signatures(images, id_col, bytes_col)
    sigs, checkpoint = _land_or_checkpoint(sigs, sigs_out_path)
    pairs, _dropped = _sh.simhash_pairs(
        sigs,
        id_col="okey",
        sig_col="phash",
        max_hamming=max_hamming,
        n_bands=n_bands,
        width=64,
        max_bucket=max_bucket,
        detector_name="dihedral_phash",
        checkpoint=checkpoint,
    )
    # parse from the RIGHT: the orientation is always the single appended
    # ':d' digit, while image ids may themselves contain ':' (s3://...) —
    # first-segment parsing would collapse every okey to the scheme and
    # filter ALL pairs as same-base (review catch)
    base = lambda c: F.substring(c, F.lit(1), F.length(c) - 2)
    orient = lambda c: F.substring(c, F.lit(-1), F.lit(1))
    return pairs.filter(
        (base(F.col("a_id")) != base(F.col("b_id")))
        & ((orient(F.col("a_id")) == "0") | (orient(F.col("b_id")) == "0"))
    )


# --- crop-resistant image near-dup (content-anchored patch hashes) ------------

CROP_PATCH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("psig", T.LongType()),
    ]
)

# Detector geometry. MARGIN is the load-bearing constant: the smoothing
# window (radius _SMOOTH) plus the strict-max window (radius _R) around a
# keypoint spans at most _R + _SMOOTH px, and its patch spans _P/2 = 8, so
# every value a kept keypoint's signature depends on lives within
# MARGIN = 8 px of the keypoint. A crop that leaves the keypoint >= MARGIN
# inside the new bounds therefore reproduces the IDENTICAL patch hash —
# that is the whole invariance argument, no approximate matching needed.
#
# _SMOOTH = 0 (raw intensity) is deliberate: box-smoothing an ISOLATED
# bright pixel on a locally flat background makes every window containing
# it sum to the same value — a plateau, so the STRICT max vanishes and
# flat-region texture anchors nothing (measured: a crop landing inside one
# flat synthetic rectangle lost all its keypoints). Raw maxima keep exact
# locality; a lossy-re-encode pipeline would instead raise _SMOOTH and
# accept plateau blindness, or switch the patch hash to pHash + banded
# Hamming (see crop_resistant_near_dups docstring).
_R = 2        # strict-local-max window radius (5x5)
_SMOOTH = 0   # intensity pre-smooth radius (0 = raw; see above)
_P = 16       # patch side; the hashed payload is the raw P x P x 3 bytes
# DERIVED, never hardcoded: raising _SMOOTH (the lossy-pipeline escalation
# named above) must widen the margin with it or the closure theorem breaks.
_MARGIN = max(_P // 2, _R + _SMOOTH)


def _box_smooth(g: np.ndarray, r: int) -> np.ndarray:
    """Exact integer box-sum of (2r+1)^2 neighborhoods, edge-padded —
    integral-image formulation, no float drift (float blur would let the
    same pixels hash differently across platforms)."""
    k = 2 * r + 1
    pad = np.pad(g, r, mode="edge").astype(np.int64)
    c = pad.cumsum(0).cumsum(1)
    c = np.pad(c, ((1, 0), (1, 0)))
    h, w = g.shape
    return c[k : k + h, k : k + w] - c[0:h, k : k + w] - c[k : k + h, 0:w] + c[0:h, 0:w]


def _crop_patch_sigs(px: np.ndarray, max_patches: int | None = None) -> list[int]:
    """Distinct 63-bit patch hashes anchored at strict local maxima of the
    box-smoothed intensity. Strictness makes the anchor set purely local
    AND deterministic (equal-valued neighbors anchor nothing — no
    tie-break that could depend on absolute coordinates, which a crop
    shifts).

    ``max_patches``: keep only the top N keypoints by (intensity value
    desc, hash asc) — the per-image valve a textured 12-MP photo needs
    (strict maxima can approach 1/(2R+1)^2 of pixels, ~10^5 rows/image).
    The ranking is CROP-SAFE by subset-monotonicity: a crop's candidate
    set is a subset of the original's with identical values and hashes,
    and anything in the superset's top-N that survives the crop is
    necessarily in the subset's top-N — so capping shrinks the shared
    count but never invents a rank inversion (the recall envelope moves
    from |survivors| to |survivors ∩ top-N|, documented, deterministic)."""
    import hashlib

    g = px.astype(np.int32).sum(axis=2)
    s = _box_smooth(g, _SMOOTH) if _SMOOTH else g.astype(np.int64)
    h, w = s.shape
    if h <= 2 * _MARGIN or w <= 2 * _MARGIN:
        return []
    strict = np.ones_like(s, dtype=bool)
    for dy in range(-_R, _R + 1):
        for dx in range(-_R, _R + 1):
            if dy == 0 and dx == 0:
                continue
            sh = np.full_like(s, np.int64(-(10**12)))
            ys = slice(max(0, dy), h + min(0, dy))
            xs = slice(max(0, dx), w + min(0, dx))
            ysrc = slice(max(0, -dy), h + min(0, -dy))
            xsrc = slice(max(0, -dx), w + min(0, -dx))
            sh[ys, xs] = s[ysrc, xsrc]
            strict &= s > sh
    strict[:_MARGIN] = strict[-_MARGIN:] = False
    strict[:, :_MARGIN] = strict[:, -_MARGIN:] = False
    ranked = set()
    half = _P // 2
    for y, x in zip(*np.nonzero(strict)):
        patch = px[y - half : y + half, x - half : x + half]
        hval = (
            int.from_bytes(
                hashlib.blake2b(patch.tobytes(), digest_size=8).digest(), "big"
            )
            >> 1
        )
        ranked.add((-int(s[y, x]), hval))
    if max_patches is not None:
        ranked = sorted(ranked)[:max_patches]
    return sorted({h for _v, h in ranked})


def crop_patch_signatures(
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    max_patches: int | None = None,
) -> DataFrame:
    """(image_id, psig): distinct content-anchored patch hashes per image —
    map-only Arrow batches; pixels never leave the stage. Decode failures
    drop the image (ingest owns error rows, detectors do not).
    ``max_patches`` is the per-image keypoint valve (see _crop_patch_sigs);
    None keeps every strict maximum (right for thumbnail-scale corpora,
    required by callers whose oracle landed the uncapped relation)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import codecs as _c

        for pdf in batches:
            out = []
            for iid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = _c.decode_image(bytes(data))
                except Exception:
                    continue
                out.extend(
                    (iid, sig) for sig in _crop_patch_sigs(px, max_patches)
                )
            yield pd.DataFrame(out, columns=["image_id", "psig"])

    return images.mapInPandas(fn, CROP_PATCH_SCHEMA)


def crop_resistant_near_dups(
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    min_shared: int = 2,
    max_bucket: int | None = 256,
    sigs_out_path: str | None = None,
) -> DataFrame:
    """Crop-resistant image near-dup pairs — the re-upload class whole-image
    pHash is blind to (cropping re-frames the DCT basis, so even a 10%%
    margin trim lands Hamming-far; dihedral hashing does not help either).

    Patch hashes are anchored at content-defined keypoints (strict local
    maxima of smoothed intensity), so a crop that keeps a keypoint >= MARGIN
    px inside the new bounds reproduces its hash EXACTLY — matching is a
    plain equality join, no Hamming bands. Two images pair when they share
    >= ``min_shared`` distinct patch hashes; score = shared / min(patch
    count) in [0, 1].

    Scale shape (100 TB): signatures are map-only (one decode, ~dozens of
    int64s out — pixels never shuffle); the pair join runs over narrow
    (psig, id) rows with the standard hot-bucket valve (``max_bucket``
    caps flat-region hashes — a sky gradient anchoring thousands of images
    would otherwise build a quadratic bucket; dropped buckets are
    reported-by-construction in the oracle mirror, same convention as
    simhash/minhash). Re-encode-lossy robustness is out of scope for the
    exact-hash variant — that escalation path is patch-pHash + banded
    Hamming, i.e. this operator's candidates fed through simhash_pairs.

    ``sigs_out_path`` lands the (image_id, psig) relation as parquet so the
    DuckDB oracle re-derives cap, join, threshold, and score from the SAME
    files (the audio/frames/dihedral landed-stage pattern).
    """
    from pyspark.sql import functions as F

    sigs = crop_patch_signatures(images, id_col, bytes_col)
    sigs, checkpoint = _land_or_checkpoint(sigs, sigs_out_path)
    if checkpoint:
        sigs = sigs.localCheckpoint()  # feeds the counts and the cap

    cnt = sigs.groupBy("image_id").agg(F.count(F.lit(1)).alias("_n"))
    pairs, _, _ = bucket_self_join(sigs, ["psig"], max_bucket, id_col="image_id")
    pairs = (
        pairs.groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    na = cnt.select(F.col("image_id").alias("a_id"), F.col("_n").alias("_na"))
    nb = cnt.select(F.col("image_id").alias("b_id"), F.col("_n").alias("_nb"))
    return (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.lit("crop_patch").alias("detector"),
            F.col("shared").cast("int").alias("shared"),
            F.round(F.col("shared") / F.least("_na", "_nb"), 6).alias("score"),
        )
    )


WITH_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("phash", T.LongType()),
    ]
)


def with_phash(
    images: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(image_id, bytes, phash): one map-only decode+pHash pass — the
    landing shape the tiered image queries need (bytes for the exact tier,
    phash for the near tier) without a second decode or a bytes shuffle.
    Decode failures drop the row (ingest owns error rows)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import codecs as _c

        for pdf in batches:
            out = []
            for iid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    ph = _c.phash64(_c.decode_image(bytes(data)))
                except Exception:
                    continue
                out.append((iid, data, ph))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "phash"])

    return images.mapInPandas(fn, WITH_PHASH_SCHEMA)
