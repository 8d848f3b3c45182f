"""Seeded workload inputs, generated once per seed and digest-checked.

The generators here are the benchmark's own: they do not import the package
under test, so a change to ``tbdedup_spark`` (its synthetic corpus or its
codecs included) cannot change what the benchmark feeds it. Every input is a
pure function of the workload seed (numpy ``default_rng`` only, no clock).

Each workload's inputs live in one cache directory per seed, together with
the planted truth and a SHA-256 digest over every file. ``load`` re-hashes the
files before a run and refuses a mismatch, so two commits measured with the
same seed read byte-identical inputs.
"""

from __future__ import annotations

import collections
import hashlib
import itertools
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)

# --- image corpus ------------------------------------------------------------

# 8,000 three-syllable words: unrelated captions share few 5-char shingles,
# so caption collisions between unrelated rows stay rare.
_S1 = "ka lo mi nu pe ra si to vu we ba do fi gu he ja ko le mo ni".split()
_S2 = "ran tel mos fin dur pax vel zor kim lut bes gor hin jat nep qua rof sul tix wem".split()
_S3 = "a e i o u ay ey oy an en in on un ar er ir or ur as os".split()
VOCAB = [a + b + c for a in _S1 for b in _S2 for c in _S3]

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# The package's lossy stand-in format: SOI + tag, then w, h, zlib(pixels)
# quantized to multiples of 4, then EOI.
_FAKE_JPEG_MAGIC = b"\xff\xd8\xff\xe0FAKEJPG1"
_JPEG_Q = 4


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(px: np.ndarray, text: dict[str, str] | None = None) -> bytes:
    """8-bit RGB PNG, filter 0 on every row, optional tEXt chunks."""
    h, w, _ = px.shape
    raw = np.concatenate([np.zeros((h, 1), np.uint8), px.reshape(h, w * 3)], axis=1)
    parts = [_PNG_MAGIC, _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))]
    for k, v in (text or {}).items():
        parts.append(_png_chunk(b"tEXt", k.encode("latin1") + b"\x00" + v.encode("latin1")))
    parts.append(_png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6)))
    parts.append(_png_chunk(b"IEND", b""))
    return b"".join(parts)


def quantize(px: np.ndarray) -> np.ndarray:
    q = (px.astype(np.int32) + _JPEG_Q // 2) // _JPEG_Q * _JPEG_Q
    return np.clip(q, 0, 255).astype(np.uint8)


def encode_fake_jpeg(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    body = zlib.compress(quantize(px).tobytes(), 6)
    return _FAKE_JPEG_MAGIC + struct.pack(">HH", w, h) + body + b"\xff\xd9"


_DCT = None


def phash(px: np.ndarray) -> int:
    """64-bit DCT perceptual hash as a signed int64: grey, 32x32 block
    means, 2-D DCT, low 8x8 band against its median (DC bit cleared)."""
    global _DCT
    if _DCT is None:
        k = np.arange(32)[:, None]
        i = np.arange(32)[None, :]
        m = np.sqrt(2.0 / 32) * np.cos(np.pi * (2 * i + 1) * k / 64)
        m[0] = np.sqrt(1.0 / 32)
        _DCT = m
    g = px.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = np.linspace(0, h, 33).astype(int)
    xs = np.linspace(0, w, 33).astype(int)
    small = np.add.reduceat(np.add.reduceat(g, ys[:-1], axis=0), xs[:-1], axis=1)
    small /= np.outer(np.diff(ys), np.diff(xs))
    block = (_DCT @ small @ _DCT.T)[:8, :8].ravel()
    bits = block > np.median(block[1:])
    bits[0] = False
    val = int(sum(1 << i for i, b in enumerate(bits) if b))
    return val - (1 << 64) if val >= (1 << 63) else val


def _pixels(rng: np.random.Generator, sizes=(64, 96, 128)) -> np.ndarray:
    """Seeded gradient with 2-5 flat rectangles."""
    w, h = int(rng.choice(sizes)), int(rng.choice(sizes))
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack(
        [
            (xx * rng.integers(1, 4) + yy * rng.integers(0, 3)) % 256,
            (yy * rng.integers(1, 4) + int(rng.integers(0, 256))) % 256,
            ((xx + yy) * rng.integers(1, 3) + int(rng.integers(0, 256))) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    for _ in range(int(rng.integers(2, 6))):
        x0, y0 = int(rng.integers(0, w - 8)), int(rng.integers(0, h - 8))
        x1, y1 = x0 + int(rng.integers(8, w - x0 + 1)), y0 + int(rng.integers(8, h - y0 + 1))
        px[y0:y1, x0:x1] = rng.integers(0, 256, 3, dtype=np.uint8)
    return px


def _caption(rng: np.random.Generator, lo: int = 8, hi: int = 25) -> str:
    return " ".join(VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), int(rng.integers(lo, hi))))


def _perturb(px: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """+-2 on about 1% of pixels: PSNR far above 40 dB."""
    out = px.astype(np.int16)
    h, w, _ = out.shape
    n = max(1, h * w // 100)
    out[rng.integers(0, h, n), rng.integers(0, w, n)] += rng.choice([-2, 2], (n, 3)).astype(np.int16)
    return np.clip(out, 0, 255).astype(np.uint8)


def _paraphrase(caption: str, rng: np.random.Generator) -> str:
    toks = caption.split()
    toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def _row(image_id, data, px, fmt, caption, ph=None) -> dict:
    h, w, _ = px.shape
    return {
        "image_id": image_id, "bytes": data, "w": w, "h": h, "fmt": fmt,
        "caption": caption, "phash": phash(px) if ph is None else ph,
    }


def image_group(seed: int, idx: int) -> list[dict]:
    """One base image and 0-3 planted derivatives, seeded by (seed, idx).

    Derivatives: exact copy, lossy re-encode, pixel perturbation, caption
    paraphrase, caption extension, metadata-only PNG variant, or an
    unrelated negative control. Rows carry ``group``: the base's id for
    planted duplicates, the row's own id for the control."""
    rng = np.random.default_rng([seed, idx])
    px = _pixels(rng)
    cap = _caption(rng)
    if rng.random() < 0.7:
        fmt, data, stored = "png", encode_png(px), px
    else:
        fmt, data, stored = "jpeg", encode_fake_jpeg(px), quantize(px)
    base_id = f"b{idx:07d}_0"
    base_ph = phash(stored)
    rows = [dict(_row(base_id, data, stored, fmt, cap, base_ph), group=base_id)]
    kinds = ("exact", "reencode", "perturb", "paraphrase", "contain", "metadata", "distinct")
    for j, kind in enumerate(rng.choice(kinds, int(rng.integers(0, 4))), start=1):
        rid = f"b{idx:07d}_{j}"
        if kind == "exact" or (kind == "metadata" and fmt != "png"):
            r = _row(rid, data, stored, fmt, cap, base_ph)
        elif kind == "metadata":
            r = _row(rid, encode_png(stored, {"Software": f"v{j}"}), stored, fmt, cap, base_ph)
        elif kind == "reencode":
            r = _row(rid, encode_fake_jpeg(stored), quantize(stored), "jpeg", cap)
        elif kind == "perturb":
            p2 = _perturb(stored, rng)
            r = _row(rid, encode_png(p2), p2, "png", cap)
        elif kind == "paraphrase":
            r = _row(rid, data, stored, fmt, _paraphrase(cap, rng), base_ph)
        elif kind == "contain":
            r = _row(rid, data, stored, fmt, cap + " " + _caption(rng), base_ph)
        else:
            p2 = _pixels(rng)
            r = dict(_row(rid, encode_png(p2), p2, "png", _caption(rng)), group=rid)
        r.setdefault("group", base_id)
        rows.append(r)
    return rows


def _write_images(rows: list[dict], path: str, n_files: int) -> None:
    """Rows as ``n_files`` parquet files: one scan split per file."""
    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in IMAGES_SCHEMA]
    for i, chunk in enumerate(np.array_split(np.arange(len(rows)), n_files)):
        part = [rows[j] for j in chunk]
        tbl = pa.table({c: [r[c] for r in part] for c in cols}, schema=IMAGES_SCHEMA)
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))


def shingles(text: str, k: int = 5) -> set[str]:
    t = " ".join(text.lower().split())
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


# --- per-workload preparation ----------------------------------------------------

IMAGE_ROWS = 640  # about 250 bases
HIST_BASES = 1000  # history rows for incremental_batch (bases only)
BATCH_ROWS = 400
BATCHES = 3  # batches per timed pass
# Kinds of arriving row and their shares. No measured upload mix exists in
# the repository or in the sources it cites, so this one is an assumption:
# it gives every tier of both detectors work in each batch. The tier counts
# it produces are stored with the truth and printed with every run.
BATCH_MIX = {"reupload": 0.2, "perturb": 0.2, "paraphrase": 0.2, "fresh": 0.4}


def _prep_image_pipeline(seed: int, out: str) -> dict:
    """Exactly ``IMAGE_ROWS`` rows: whole groups, the last one cut short."""
    rows: list[dict] = []
    for i in itertools.count():
        rows += image_group(seed, i)
        if len(rows) >= IMAGE_ROWS:
            break
    rows = rows[:IMAGE_ROWS]
    _write_images(rows, os.path.join(out, "images"), 8)
    groups: dict[str, list[str]] = {}
    for r in rows:
        groups.setdefault(r["group"], []).append(r["image_id"])
    return {"rows": len(rows), "groups": [g for g in groups.values() if len(g) > 1]}


def _batch(seed: int, b: int, hist: list[dict], hist_ph: np.ndarray) -> tuple[list[dict], dict]:
    """One arriving batch against the history, with each row's true tiers.

    Kinds: re-upload (same bytes and caption), perturbed copy (new pixels,
    same caption), paraphrase (fresh image, caption one word off a history
    caption), fresh row. Image truth is computed, not assumed: exact means
    equal bytes, near means some history pHash within 7 bits. Caption truth
    is exact for an unchanged caption and near for a paraphrase whose
    Jaccard with its source is at least 0.8 (others are redrawn)."""
    rng = np.random.default_rng([seed, 1000 + b])
    hist_bytes = {hashlib.sha256(r["bytes"]).digest() for r in hist}
    hist_caps = {" ".join(r["caption"].lower().split()) for r in hist}
    rows, truth = [], {}
    for j in range(BATCH_ROWS):
        rid = f"n{b:03d}_{j:04d}"
        kind = rng.choice(list(BATCH_MIX), p=list(BATCH_MIX.values()))
        src = hist[int(rng.integers(0, len(hist)))]
        cap_tier = "unique"
        if kind == "reupload":
            r = {k: v for k, v in src.items() if k != "_px"}
            r["image_id"] = rid
        elif kind == "perturb":
            px = _perturb(src["_px"], rng)
            r = _row(rid, encode_png(px), px, "png", src["caption"])
        else:
            px = _pixels(rng)
            if kind == "paraphrase":
                cap = _paraphrase(src["caption"], rng)
                while jaccard(shingles(cap), shingles(src["caption"])) < 0.8:
                    cap = _paraphrase(src["caption"], rng)
                cap_tier = "near"
            else:
                cap = _caption(rng, 20, 37)
            r = _row(rid, encode_png(px), px, "png", cap)
        norm = " ".join(r["caption"].lower().split())
        if norm in hist_caps:
            cap_tier = "exact"
        if hashlib.sha256(r["bytes"]).digest() in hist_bytes:
            img_tier = "exact"
        else:
            x = hist_ph ^ np.array([r["phash"]], np.int64).view(np.uint64)
            d = np.unpackbits(x.view(np.uint8)).reshape(len(hist_ph), 64).sum(axis=1)
            img_tier = "near" if d.min() <= 7 else "unique"
        rows.append(r)
        truth[rid] = [img_tier, cap_tier]
    return rows, truth


def _prep_incremental_batch(seed: int, out: str) -> dict:
    hist = []
    for i in range(HIST_BASES):
        rng = np.random.default_rng([seed, i])
        px = _pixels(rng)
        row = _row(f"h{i:07d}", encode_png(px), px, "png", _caption(rng, 20, 37))
        hist.append(dict(row, _px=px))
    hist_ph = np.array([r["phash"] for r in hist], dtype=np.int64).view(np.uint64)
    _write_images(hist, os.path.join(out, "history"), 4)
    truth, tiers = {}, {}
    for b in range(1, BATCHES + 1):
        rows, t = _batch(seed, b, hist, hist_ph)
        _write_images(rows, os.path.join(out, f"batch{b}"), 1)
        truth[f"batch{b}"] = t
        tiers[f"batch{b}"] = {
            kind: dict(collections.Counter(v[i] for v in t.values()))
            for i, kind in enumerate(("image", "caption"))
        }
    return {"rows": len(hist), "batch_rows": BATCH_ROWS, "truth": truth, "tier_counts": tiers}


PREPARE = {
    "image_pipeline": _prep_image_pipeline,
    "incremental_batch": _prep_incremental_batch,
}


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if f == "DIGEST":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def load(workload: str, seed: int, cache: str) -> tuple[str, dict, str]:
    """(input dir, truth, digest) for ``workload`` at ``seed``; generates the
    inputs the first time and verifies their digest every time."""
    out = os.path.join(cache, f"{workload}-{seed}")
    stamp = os.path.join(out, "DIGEST")
    if not os.path.exists(stamp):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = PREPARE[workload](seed, tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        with open(os.path.join(tmp, "DIGEST"), "w") as f:
            f.write(_digest(tmp))
        os.rename(tmp, out)
    with open(stamp) as f:
        recorded = f.read().strip()
    actual = _digest(out)
    if actual != recorded:
        raise RuntimeError(f"inputs in {out} changed since generation: {actual} != {recorded}")
    with open(os.path.join(out, "truth.json")) as f:
        truth = json.load(f)
    return out, truth, actual
