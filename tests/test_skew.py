"""Skew handling: the three bucket regimes of minhash.candidate_pairs
(plain / salted / dropped+reported) — the north_rule's skew ladder."""

from pyspark.sql import functions as F

from tbdedup_spark.operators import minhash


def _banded(spark, n_hot, n_cold):
    """n_hot docs in ONE bucket + n_cold singleton buckets."""
    rows = [(f"h{i:04d}", 0, "HOT") for i in range(n_hot)]
    rows += [(f"c{i:04d}", 0, f"cold{i}") for i in range(n_cold)]
    return spark.createDataFrame(rows, ["_id", "band_idx", "band_key"])


def test_salted_bucket_pairs_complete(spark):
    """Salted regime must produce exactly the full within-bucket pair set."""
    banded = _banded(spark, n_hot=60, n_cold=10)
    pairs, dropped = minhash.candidate_pairs(banded, max_bucket=16, salt_cap=128)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    hot_ids = sorted(f"h{i:04d}" for i in range(60))
    expect = {(a, b) for i, a in enumerate(hot_ids) for b in hot_ids[i + 1 :]}
    assert got == expect  # all 1770 pairs, none lost to chunk ordering
    assert dropped.count() == 0


def test_oversized_bucket_dropped_and_reported(spark):
    banded = _banded(spark, n_hot=200, n_cold=5)
    pairs, dropped = minhash.candidate_pairs(banded, max_bucket=16, salt_cap=128)
    assert pairs.count() == 0  # hot bucket over salt_cap, cold are singletons
    d = dropped.collect()
    assert len(d) == 1 and d[0].bucket_size == 200  # reported, not silent


def test_no_salting_default_unchanged(spark):
    banded = _banded(spark, n_hot=60, n_cold=10)
    pairs, dropped = minhash.candidate_pairs(banded, max_bucket=16)
    assert pairs.count() == 0
    assert dropped.collect()[0].bucket_size == 60


# --- setsim hot-prefix token cap ----------------------------------------------


def test_setsim_hot_prefix_cap_reported(spark):
    """Universal-token corpus: every doc carries the stopword 'zzz' (rarer
    tokens sort first, but the universal token lands in the prefix of docs
    short enough that p_len reaches it). With prefix_cap set, the universal
    postings list is dropped AND reported; pairs that also share a rare
    token survive, a pair sharing ONLY the universal token is the documented
    recall loss."""
    from tbdedup_spark.operators import setsim

    rows = (
        # pair via rare shared token "r1" (plus the universal token)
        [("a1", ["r1", "x1", "zzz"]), ("a2", ["r1", "x2", "zzz"])]
        # pair sharing ONLY the universal token (2-token docs: prefix covers both)
        + [("b1", ["y1", "zzz"]), ("b2", ["y2", "zzz"])]
        # filler docs making "zzz" hot
        + [(f"f{i}", [f"u{i}", "zzz"]) for i in range(30)]
    )
    d = spark.createDataFrame(rows, ["doc_id", "toks"])

    exact, no_drop = setsim.jaccard_pairs(d, "doc_id", "toks", 0.3)
    capped, dropped = setsim.jaccard_pairs(d, "doc_id", "toks", 0.3, prefix_cap=8)

    assert no_drop.count() == 0
    got = {(r.a_id, r.b_id) for r in capped.collect()}
    assert ("a1", "a2") in got  # recovered via the rare token r1
    assert ("b1", "b2") not in got  # the honest trade: only-universal pair lost
    assert ("b1", "b2") in {(r.a_id, r.b_id) for r in exact.collect()}
    rep = {r.token: r.postings for r in dropped.collect()}
    assert "zzz" in rep and rep["zzz"] > 8  # reported, never silent
    # precision untouched: capped pairs are a subset of the exact pairs
    assert got <= {(r.a_id, r.b_id) for r in exact.collect()}
