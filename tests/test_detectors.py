"""Per-detector tests vs the brute-force oracle (FIXTURES F3) — the analog of
the reference's per-operator parse/classify tests (tests/mbox/test_file.py:
54-171). Recall is checked against planted classes; precision against the
oracle's threshold semantics."""

from pyspark.sql import functions as F

from tbdedup_spark.operators import exact, minhash, simhash, substr


def test_minhash_signature_deterministic(spark, images):
    s1 = minhash.minhash_signatures(images).orderBy("_id").collect()
    s2 = minhash.minhash_signatures(images).orderBy("_id").collect()
    assert s1 == s2


def test_minhash_catches_paraphrase_and_high_jaccard(spark, images, corpus_rows, golden):
    pairs, dropped = minhash.minhash_pairs(images, tau=0.6)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert dropped.count() == 0  # no degenerate buckets at this scale
    oracle = {(a, b) for a, b, d, _ in golden["pairs"] if d == "minhash"}
    # precision: every emitted pair really has Jaccard >= tau (verify step
    # guarantees it — check against oracle scores)
    oracle_all = {(a, b): s for a, b, d, s in golden["pairs"] if d == "minhash"}
    for p in got:
        assert p in oracle_all, f"false positive {p}"
    # recall over planted paraphrase class (FIXTURES: detector expected)
    planted = {
        tuple(sorted((r.image_id, r.base_id)))
        for r in corpus_rows
        if r.dup_class == "paraphrase" and tuple(sorted((r.image_id, r.base_id))) in oracle
    }
    missed = planted - got
    assert len(missed) / max(len(planted), 1) <= 0.01, f"missed {missed}"
    # overall recall vs oracle pairs >= 0.95 (LSH banding: some prob. misses)
    assert len(got & oracle) / max(len(oracle), 1) >= 0.95


def test_simhash_pairs_exact_vs_oracle(spark, images, golden):
    """Pigeonhole banding is COMPLETE for d < B, so the detector must equal
    the brute-force Hamming<=7 pair set exactly."""
    sigs = exact.signatures(images, include_canonical=False)
    pairs, dropped = simhash.simhash_pairs(sigs, max_hamming=7, n_bands=8)
    assert dropped.count() == 0
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    oracle = {(a, b) for a, b, d, s in golden["pairs"] if d == "simhash" and (1 - s) * 64 <= 7}
    assert got == oracle


def test_substr_containment_exact_vs_oracle(spark, images, golden):
    """Min-shingle probe + inverted index is complete; contains() verify makes
    it precise — output must equal brute force exactly."""
    pairs = substr.containment_pairs(images)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    oracle = {(a, b) for a, b, d, _ in golden["pairs"] if d == "substr"}
    assert got == oracle


def test_minhash_carry_hashes_equivalent(spark, images):
    """The verified pair set does not depend on the grade: the oracle grade
    (md5 hash60 long sets, the default) and the pipeline's throughput grade
    (crc32 sets folded to int32 — a bijective shift, Jaccard identical —
    plus the in-join est filter) agree. Jaccard over distinct hashes differs
    only under crc32 collisions (~1e-5/pair odds)."""
    a, _ = minhash.minhash_pairs(images, tau=0.6, carry="hashes")
    sa = {(r.a_id, r.b_id) for r in a.collect()}
    c, _ = minhash.minhash_pairs(images, tau=0.6, carry="hashes32", est_tau=0.3)
    sc_ = {(r.a_id, r.b_id) for r in c.collect()}
    assert sa == sc_


def test_embedding_neardup_exact_vs_brute(spark):
    """ann.neardup_pairs (banded signature + cosine verify) must equal the
    brute-force application of its contract: hamming(sig) <= d AND cos >= tau."""
    import itertools
    import numpy as np

    from tbdedup_spark.functions import vectors
    from tbdedup_spark.operators import ann

    rng = np.random.RandomState(7)
    dim, n = 16, 60
    base = rng.rand(10, dim)
    rows = []
    for i in range(n):
        v = base[i % 10] + (rng.rand(dim) - 0.5) * (0.02 if i >= 10 else 0.0)
        rows.append((f"v{i:03d}", [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id string, emb array<double>")
    tau, n_bits, ham, bands = 0.95, 16, 3, 4
    got = {
        (r.a_id, r.b_id)
        for r in ann.neardup_pairs(
            df, "vec_id", "emb", tau=tau, n_bits=n_bits, dim=dim,
            seed=42, max_hamming=ham, n_bands=bands, max_bucket=None,
        ).collect()
    }
    proj = np.array(vectors.seeded_projections(n_bits, dim, 42))

    def sig(v):
        return sum(1 << j for j in range(n_bits) if proj[j] @ v > 0)

    want = set()
    for (ia, va), (ib, vb) in itertools.combinations(rows, 2):
        a, b = np.array(va), np.array(vb)
        cos = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
        if bin(sig(a) ^ sig(b)).count("1") <= ham and cos >= tau:
            want.add(tuple(sorted((ia, ib))))
    assert got == want and len(want) > 0
