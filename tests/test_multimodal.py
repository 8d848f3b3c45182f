"""Multimodal plumbing tests: schemas, batch shapes, flatMap semantics —
the codecs are stand-ins, the Spark wiring is the thing under test."""

import numpy as np
from pyspark.sql import functions as F

from tbdedup_spark import codecs
from tbdedup_spark.operators import multimodal


def test_frame_sample_flatmap(spark):
    rng = np.random.default_rng(0)
    frames = [rng.integers(0, 256, (16, 24, 3), dtype=np.uint8) for _ in range(7)]
    vid = multimodal.encode_fake_video(frames)
    df = spark.createDataFrame([("v1", vid)], "media_id string, bytes binary")
    out = multimodal.sample_frames(df, every_k=2).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 2, 4, 6]
    f0 = codecs.decode_image(bytes(out[0]["frame_png"]))
    assert f0.shape == (16, 24, 3)


def test_frame_near_dups_cross_video(spark):
    """Cross-modal composition: frame sampling -> pHash -> Hamming-banded
    pairs. Two videos sharing frames must pair on them; a third unrelated
    video must not pair with anything."""
    rng = np.random.default_rng(5)
    shared = [
        (rng.integers(0, 256, (32, 32, 3), dtype=np.uint8) // 32 * 32)
        for _ in range(4)
    ]
    noise = lambda: rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    v1 = multimodal.encode_fake_video([shared[0], noise(), shared[1], noise()])
    v2 = multimodal.encode_fake_video([shared[1], noise(), shared[0], noise()])
    # flat gradient frames — far from v1/v2 in phash space
    grad = np.tile(np.arange(32, dtype=np.uint8)[None, :, None] * 8, (32, 1, 3))
    v3 = multimodal.encode_fake_video([grad, grad])
    df = spark.createDataFrame(
        [("v1", v1), ("v2", v2), ("v3", v3)], "media_id string, bytes binary"
    )
    pairs = multimodal.frame_near_dups(df, every_k=1, max_hamming=3, n_bands=8)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    # shared[0]: v1 frame 0 == v2 frame 2; shared[1]: v1 frame 2 == v2 frame 0
    assert ("v1:000000", "v2:000002") in got
    assert ("v1:000002", "v2:000000") in got
    assert all("v3" not in a and "v3" not in b for a, b in got)
    # within-video pairs excluded by default
    assert all(a.split(":")[0] != b.split(":")[0] for a, b in got)


def test_audio_near_dups(spark):
    """Spectral-fingerprint dedup: a volume-scaled, lightly-noised copy of a
    clip must pair with the original; a different melody must not."""
    rng = np.random.default_rng(9)
    rate = 8000

    def melody(freqs):
        t = np.arange(rate // 4) / rate
        return np.concatenate([0.6 * np.sin(2 * np.pi * f * t) for f in freqs])

    a = melody([220, 330, 440, 550, 660, 880, 440, 330])
    a_dup = 0.7 * a + rng.normal(0, 0.004, a.shape)  # quieter + slight noise
    b = melody([3000, 2500, 2000, 1500, 1200, 1000, 900, 800])
    rows = [
        ("a", codecs.encode_wav(a, rate)),
        ("a2", codecs.encode_wav(a_dup, rate)),
        ("b", codecs.encode_wav(b, rate)),
    ]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    pairs = {(r.a_id, r.b_id) for r in multimodal.audio_near_dups(df, max_hamming=6).collect()}
    assert ("a", "a2") in pairs
    assert all("b" not in p for p in pairs)


def test_driver_media_queries_planted_pairs(spark):
    """The driver-contract audio/video entries (rows-only, synthesized
    in-query) must recover exactly the planted near-dup structure."""
    import __spark_entry__ as M

    q = M.queries()
    audio = {(r.a_id, r.b_id) for r in q["audio_near_dups"](spark, "").collect()}
    planted = {(f"au{j:04d}", f"au{j + 32:04d}") for j in range(16)}
    assert planted <= audio  # every planted dup recovered
    base = lambda s: int(s[2:]) % 32
    assert all(base(a) == base(b) for a, b in audio)  # no cross-base noise

    frames = {(r.a_id, r.b_id) for r in q["frame_near_dups"](spark, "").collect()}
    med = lambda s: s.split(":")[0]
    vid_pairs = {tuple(sorted((med(a), med(b)))) for a, b in frames}
    want = {(f"vd{j:04d}", f"vd{j + 24:04d}") for j in range(12)}
    # each planted video couple pairs on BOTH shared content frames
    for j in range(12):
        o, d = f"vd{j:04d}", f"vd{j + 24:04d}"
        hits = {p for p in frames if {med(p[0]), med(p[1])} == {o, d}}
        assert len(hits) >= 2, f"planted couple {o}/{d} under-recovered: {hits}"
    assert vid_pairs == want  # and nothing across different bases


def test_driver_media_queries_deterministic(spark):
    """Rows-only driver checks hinge on run-to-run determinism of the
    synthesized corpora + detectors."""
    import __spark_entry__ as M

    q = M.queries()
    for name in ("audio_near_dups", "frame_near_dups"):
        a = sorted(map(tuple, q[name](spark, "").collect()))
        b = sorted(map(tuple, q[name](spark, "").collect()))
        assert a == b and len(a) > 0
