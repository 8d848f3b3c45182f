"""Round-5 third wave: crop-resistant image near-dup (content-anchored patch
hashes) and edit-distance-verified dedup — planted-corpus tests beyond the
sf0.01 oracle equality of test_entry_oracle.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from tbdedup_spark import codecs, synth
from tbdedup_spark.operators import editdist, multimodal
from tbdedup_spark.operators.multimodal import _crop_patch_sigs


# --- crop-resistant near-dup ---------------------------------------------------


def _speckled(seed: int, h: int = 128, w: int = 128) -> np.ndarray:
    rng = np.random.default_rng(seed)
    px = synth._base_pixels(rng, sizes=(h,)).copy()
    hh, ww, _ = px.shape
    gy, gx = np.mgrid[5 : hh - 5 : 10, 5 : ww - 5 : 10]
    ys = np.clip(gy + rng.integers(-2, 3, gy.shape), 0, hh - 1)
    xs = np.clip(gx + rng.integers(-2, 3, gx.shape), 0, ww - 1)
    px[ys.ravel(), xs.ravel()] = 255
    return px


def test_crop_patch_sigs_crop_closed():
    """The invariance theorem the detector rests on: every patch hash of a
    crop is a patch hash of the original (keypoints are strict local maxima
    of a purely local statistic, and MARGIN covers every pixel a kept
    signature depends on), and the shared mass is substantial."""
    for seed in range(8):
        px = _speckled(seed)
        h, w, _ = px.shape
        rng = np.random.default_rng(1000 + seed)
        t, b = int(rng.integers(4, h // 4)), int(rng.integers(4, h // 4))
        l, r = int(rng.integers(4, w // 4)), int(rng.integers(4, w // 4))
        crop = np.ascontiguousarray(px[t : h - b, l : w - r])
        so, sc = set(_crop_patch_sigs(px)), set(_crop_patch_sigs(crop))
        assert sc <= so, f"seed {seed}: crop produced a hash the original lacks"
        assert len(sc) >= 2, f"seed {seed}: too few surviving patches ({len(sc)})"


def test_crop_detector_recovers_planted_pairs(spark):
    media = synth.cropped_corpus(spark, n_orig=24, n_dup=12, seed=7)
    got = {
        (r.a_id, r.b_id)
        for r in multimodal.crop_resistant_near_dups(media).collect()
    }
    planted = {(f"im{j:04d}", f"im{24 + j:04d}") for j in range(12)}
    assert planted <= got, f"missed {sorted(planted - got)}"
    assert got == planted, f"false pairs {sorted(got - planted)}"


def test_whole_image_phash_blind_to_crops():
    """The class argument: the planted crops are Hamming-FAR under plain
    whole-image pHash (cropping re-frames the DCT basis), so the dedicated
    detector is load-bearing, not redundant with simhash/dihedral."""
    far = 0
    for seed in range(6):
        px = _speckled(seed)
        h, w, _ = px.shape
        crop = np.ascontiguousarray(px[h // 8 : h - h // 8, w // 8 : w - w // 8])
        d = bin(codecs.phash64(px) ^ codecs.phash64(crop)).count("1")
        if d > 6:  # the dihedral/image-tier match radius
            far += 1
    assert far >= 5, f"only {far}/6 crops were pHash-far"


def test_crop_detector_hot_bucket_cap(spark):
    """max_bucket drops a patch hash shared by too many images — the skew
    valve a flat-texture hash (sky gradient) needs at 100 TB."""
    px = _speckled(3)
    rows = [Row(image_id=f"x{i}", bytes=bytearray(codecs.encode_png(px))) for i in range(5)]
    df = spark.createDataFrame(rows)
    # every image identical: all pairs share every hash; cap=4 drops all
    # buckets (each hash appears in 5 images > 4)
    assert multimodal.crop_resistant_near_dups(df, max_bucket=4).count() == 0
    assert multimodal.crop_resistant_near_dups(df, max_bucket=5).count() == 10


# --- edit-distance-verified dedup ----------------------------------------------

_T = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_editdist_verifies_exact_distances(spark):
    rows = [
        (0, _T),
        (1, _T.replace("charlie", "charloo")),      # 2 substitutions
        (2, _T + " extra"),                          # 6 insertions
        (3, "completely unrelated content " * 6),    # far
        (4, _T.upper()),                             # normalization: identical
    ]
    got = {
        (r.a_id, r.b_id): r.edit_distance
        for r in editdist.edit_distance_pairs(
            _docs(spark, rows), "doc_id", "text", max_dist=8
        ).collect()
    }
    assert got[(0, 1)] == 2
    assert got[(0, 2)] == 6
    assert got[(0, 4)] == 0  # lower() folds case before hashing or verifying
    assert all(3 not in p for p in got), f"far doc paired: {got}"


def test_editdist_respects_threshold_and_length_bound(spark):
    rows = [(0, _T), (1, _T + " " + _T[:40])]  # 41 inserted chars
    pairs = editdist.edit_distance_pairs(
        _docs(spark, rows), "doc_id", "text", max_dist=16
    )
    assert pairs.count() == 0  # length diff 41 > 16: pruned before verify


def test_editdist_score_definition(spark):
    rows = [(0, _T), (1, _T.replace("alpha", "alphx"))]
    r = editdist.edit_distance_pairs(
        _docs(spark, rows), "doc_id", "text", max_dist=8
    ).collect()[0]
    n = len(_T)
    assert r.edit_distance == 1
    assert abs(r.score - round(1.0 - 1.0 / n, 6)) < 1e-9


def test_editdist_anchor_cap_drops_hot_grams(spark):
    """With anchor_cap below the corpus size, a gram shared by EVERY doc
    anchors nothing — the documented skew valve; recall then rests on the
    docs' non-universal grams (here: none, so no pairs)."""
    rows = [(i, _T) for i in range(6)]
    assert (
        editdist.edit_distance_pairs(
            _docs(spark, rows), "doc_id", "text", max_dist=8, anchor_cap=5
        ).count()
        == 0
    )
    assert (
        editdist.edit_distance_pairs(
            _docs(spark, rows), "doc_id", "text", max_dist=8, anchor_cap=6
        ).count()
        == 15
    )


# --- 4-tier batch-vs-history image dedup (exact/near/crop/unique) --------------


def test_tiered_image_crop_dedup_attributes_every_class(spark):
    """Each planted class lands in exactly its intended tier, and precedence
    keeps the verdicts attributable (a byte copy also shares every patch —
    it must still read 'exact')."""
    from tbdedup_spark.operators import incremental, multimodal
    from pyspark.sql import functions as F

    corpus = synth.crop_tier_corpus(
        spark, n_hist=16, n_crop=5, n_exact=5, n_near=5, n_new=5, seed=11
    )
    landed = multimodal.with_phash(corpus).localCheckpoint()
    psigs = multimodal.crop_patch_signatures(corpus).localCheckpoint()
    is_hist = F.col("image_id").startswith("hist")
    tiers = {
        r.image_id: r.tier
        for r in incremental.tiered_image_crop_dedup(
            landed.filter(~is_hist),
            landed.filter(is_hist),
            psigs.filter(~is_hist),
            psigs.filter(is_hist),
        ).collect()
    }
    assert len(tiers) == 20
    want = {"copy": "exact", "near": "near", "crop": "crop", "new": "unique"}
    for iid, tier in tiers.items():
        assert tier == want[iid.rstrip("0123456789")], (iid, tier)


def test_dihedral_parses_ids_containing_colons(spark):
    """Orientation parsing is RIGHT-anchored: an id like 's3://bucket/x'
    contains ':' itself, and first-segment parsing would collapse every
    okey to 's3' and filter ALL pairs as same-base (review catch)."""
    px = _speckled(5)
    rot = np.ascontiguousarray(np.rot90(px))
    rows = [
        Row(image_id="s3://bkt/a", bytes=bytearray(codecs.encode_png(px))),
        Row(image_id="s3://bkt/b", bytes=bytearray(codecs.encode_png(rot))),
    ]
    pairs = multimodal.dihedral_near_dups(
        spark.createDataFrame(rows), max_hamming=6
    ).collect()
    bases = {
        tuple(sorted((r.a_id[: -2], r.b_id[: -2]))) for r in pairs
    }
    assert ("s3://bkt/a", "s3://bkt/b") in bases, pairs


def test_editdist_matches_bruteforce_on_random_mutations(spark):
    """Independent completeness+precision check: a seeded corpus of random
    word-texts and 1-3-op mutated copies, compared against a local
    O(n*d)-banded DP computed WITHOUT Spark or DuckDB. Precision is exact
    by construction (the levenshtein verify); equality with brute force
    additionally shows the anchor blocking missed nothing on this corpus
    (sample_mod=2 keeps the sampling envelope deterministic-dense for
    ~150-char docs)."""
    rng = np.random.default_rng(123)
    vocab = ["alpha", "bravo", "cider", "delta", "ember", "frost", "gleam",
             "haven", "inlet", "jolly", "karma", "lunar", "motif", "noble"]
    texts = []
    for i in range(16):
        base = " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), 24))
        texts.append(base)
        mut = list(base)
        for _ in range(int(rng.integers(1, 4))):  # 1-3 ops, 1-4 chars each
            p = int(rng.integers(0, len(mut)))
            op = rng.choice(["sub", "ins", "del"])
            chunk = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(rng.integers(1, 5))))
            if op == "sub":
                mut[p : p + len(chunk)] = chunk
            elif op == "ins":
                mut[p:p] = chunk
            else:
                del mut[p : p + len(chunk)]
        texts.append("".join(mut))

    def dp(a: str, b: str, cap: int) -> int:
        if abs(len(a) - len(b)) > cap:
            return cap + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            if min(cur) > cap:
                return cap + 1
            prev = cur
        return prev[-1]

    D = 12
    norm = [" ".join(t.lower().split()) for t in texts]
    want = {
        (i, j): dp(norm[i], norm[j], D)
        for i in range(len(norm))
        for j in range(i + 1, len(norm))
        if dp(norm[i], norm[j], D) <= D
    }
    got = {
        (r.a_id, r.b_id): r.edit_distance
        for r in editdist.edit_distance_pairs(
            _docs(spark, list(enumerate(texts))), "doc_id", "text",
            max_dist=D, sample_mod=2,
        ).collect()
    }
    assert got == want, (sorted(set(want) - set(got)), sorted(set(got) - set(want)))


# --- PII detection + redaction ---------------------------------------------------


def test_pii_profile_counts_and_redacts(spark):
    from tbdedup_spark.functions import pii

    rows = [
        (0, "mail a.b+c@ex-ample.co.uk or x@y.io call 555-123-4567 or "
            "555.999.1234 ip 10.0.0.255 done 1.2.3.4567"),
        (1, "no pii here at all"),
    ]
    got = {r.doc_id: r for r in pii.pii_profile(_docs(spark, rows), "doc_id", "text").collect()}
    assert (got[0].n_email, got[0].n_phone, got[0].n_ipv4) == (2, 2, 1)
    assert got[0].redacted == (
        "mail <EMAIL> or <EMAIL> call <PHONE> or <PHONE> ip <IP> done 1.2.3.4567"
    )  # trailing 1.2.3.4567 is NOT an ipv4 (\b rejects the 4-digit tail)
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (0, 0, 0)
    assert got[1].redacted == "no pii here at all"


def test_phash_catches_resized_reuploads():
    """Completes the re-upload tier map: 'exact' = byte copies, 'near' =
    re-encode/perturb AND RESIZE (pHash area-resamples to 32x32 before the
    DCT, so a properly resampled downscale lands Hamming-close), 'dihedral'
    = rotations, 'crop' = crops. Asserted here so the near tier's resize
    coverage is a tested claim, not an implementation accident. The resize
    must be a real resample (area mean) — stride-2 SUBSAMPLING of these
    non-band-limited modular gradients aliases into different content
    (measured Hamming 50), which is a property of naive subsampling, not a
    detector gap."""
    for seed in range(6):
        px = _speckled(seed)
        h, w, _ = px.shape
        h2, w2 = h // 2 * 2, w // 2 * 2
        half = (
            px[:h2, :w2]
            .astype(np.uint16)
            .reshape(h2 // 2, 2, w2 // 2, 2, 3)
            .mean(axis=(1, 3))
            .astype(np.uint8)
        )
        d = bin(codecs.phash64(px) ^ codecs.phash64(half)).count("1")
        assert d <= 7, f"seed {seed}: resized copy Hamming {d} > near radius"


# --- catalog parquet snapshots (time travel, rollback, expiry) -----------------


def test_catalog_versioned_snapshots(spark, tmp_path):
    """The Iceberg commit mechanic on plain parquet: every write is a new
    snapshot committed by an atomic manifest swap; historical reads, O(1)
    rollback, no id reuse after rollback, and expiry that never deletes the
    current snapshot."""
    from tbdedup_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), "run_v")
    assert not cat.exists("t")
    assert cat.write(spark.range(3).selectExpr("id AS v"), "t") == 3
    assert cat.write(spark.range(5).selectExpr("id + 10 AS v"), "t") == 5
    assert cat.exists("t") and cat.current_snapshot("t") == 2
    assert [s["id"] for s in cat.snapshots("t")] == [1, 2]
    assert cat.read("t").count() == 5                      # current
    assert cat.read("t", snapshot_id=1).count() == 3       # time travel
    cat.rollback("t", 1)
    assert cat.read("t").count() == 3                      # O(1) pointer swap
    assert cat.write(spark.range(7).selectExpr("id AS v"), "t") == 7
    assert cat.current_snapshot("t") == 3                  # id never reused
    assert cat.read("t", snapshot_id=1).count() == 3       # history intact
    expired = cat.expire_snapshots("t", keep_last=1)
    assert expired == [1, 2]
    assert cat.read("t").count() == 7
    assert "t" in cat.list_tables()
    import pytest as _pt
    with _pt.raises(ValueError):
        cat.rollback("t", 99)


def test_catalog_versioned_killed_run_recovery(spark, tmp_path):
    """A run killed between the data write and the manifest commit leaves
    an orphan snap dir and an UNMOVED pointer: readers never saw the dead
    snapshot (atomicity), and the retry overwrites the orphan under the
    same id it re-earns."""
    import os

    from tbdedup_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), "run_k")
    cat.write(spark.range(3).selectExpr("id AS v"), "t")
    # simulate a kill: orphan snap-2 data, manifest still at snapshot 1
    orphan = os.path.join(str(tmp_path), "run_k", "t", "snap-2")
    spark.range(99).selectExpr("id AS v").write.parquet(orphan)
    assert cat.current_snapshot("t") == 1
    assert cat.read("t").count() == 3          # readers unaffected
    assert cat.write(spark.range(5).selectExpr("id AS v"), "t") == 5
    assert cat.current_snapshot("t") == 2      # retry re-earned the id
    assert cat.read("t").count() == 5          # orphan data fully replaced


def test_catalog_expire_commits_manifest_before_deleting(spark, tmp_path, monkeypatch):
    """expire_snapshots must swap the manifest BEFORE any rmtree (Iceberg's
    metadata-first rule; review catch — the old order could commit a
    manifest referencing deleted data). Simulate a crash between the two by
    making rmtree a no-op: the manifest must already be clean, every kept
    snapshot readable, and the orphan dirs invisible to readers."""
    import os
    import shutil

    from tbdedup_spark.sources import catalog as catmod
    from tbdedup_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), "run_x")
    for i in (3, 5, 7):
        cat.write(spark.range(i).selectExpr("id AS v"), "t")

    monkeypatch.setattr(catmod.shutil, "rmtree", lambda *a, **k: None)
    expired = cat.expire_snapshots("t", keep_last=1)
    monkeypatch.undo()

    assert expired == [1, 2]
    # crash-window state: manifest already clean, data dirs still on disk
    assert [s["id"] for s in cat.snapshots("t")] == [3]
    assert os.path.isdir(os.path.join(str(tmp_path), "run_x", "t", "snap-1"))
    assert cat.read("t").count() == 7
    import pytest as _pt
    with _pt.raises(ValueError):
        cat.read("t", snapshot_id=1)  # orphan is not a committed snapshot
    # a completed expire (rmtree restored) actually deletes kept-out data
    cat.write(spark.range(2).selectExpr("id AS v"), "t")
    cat.expire_snapshots("t", keep_last=1)
    assert not os.path.isdir(os.path.join(str(tmp_path), "run_x", "t", "snap-3"))


def test_editdist_operator_is_codepoint_exact_on_unicode(spark):
    """The OPERATOR keeps full code-point semantics ('café' vs 'cafe' is
    ONE edit); only the contract query narrows its domain to ASCII because
    DuckDB's levenshtein counts UTF-8 bytes (would say 2). Pinned here so
    the production definition can't silently regress to byte distances."""
    a = "café " + _T
    b = "cafe " + _T
    r = editdist.edit_distance_pairs(
        _docs(spark, [(0, a), (1, b)]), "doc_id", "text", max_dist=4
    ).collect()
    assert len(r) == 1 and r[0].edit_distance == 1


def test_crop_patch_cap_is_crop_safe():
    """The max_patches valve keeps the closure property: a capped crop's
    hashes are a subset of the capped original's POSSIBLE top set — any
    original-top-N keypoint surviving the crop is in the crop's top-N
    (subset monotonicity of top-N under candidate removal), so capping
    never manufactures a hash the uncapped pipeline lacked and planted
    recovery degrades gracefully, not catastrophically."""
    from tbdedup_spark.operators.multimodal import _crop_patch_sigs

    for seed in range(6):
        px = _speckled(seed)
        h, w, _ = px.shape
        crop = np.ascontiguousarray(px[h // 8 : h - h // 8, w // 8 : w - w // 8])
        full_o = set(_crop_patch_sigs(px))
        cap_o = set(_crop_patch_sigs(px, max_patches=16))
        cap_c = set(_crop_patch_sigs(crop, max_patches=16))
        assert cap_o <= full_o and len(cap_o) <= 16 and len(cap_c) <= 16
        # monotonicity consequence: capped-crop hashes that the uncapped
        # original owns AND that made the original's top-16 stay shared
        assert cap_c <= set(_crop_patch_sigs(crop)) <= full_o
        assert len(cap_o & cap_c) >= 2, f"seed {seed}: cap destroyed recall"


def test_catalog_expire_keep_last_zero_keeps_only_current(spark, tmp_path):
    """keep_last=0 means 'keep only the current snapshot' — the [-0:] slice
    would silently keep EVERYTHING (review catch); negative is rejected."""
    import os

    from tbdedup_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path), "run_z")
    for i in (3, 5, 7):
        cat.write(spark.range(i).selectExpr("id AS v"), "t")
    assert cat.expire_snapshots("t", keep_last=0) == [1, 2]
    assert [s["id"] for s in cat.snapshots("t")] == [3]
    assert not os.path.isdir(os.path.join(str(tmp_path), "run_z", "t", "snap-1"))
    assert cat.read("t").count() == 7
    import pytest as _pt
    with _pt.raises(ValueError):
        cat.expire_snapshots("t", keep_last=-1)
