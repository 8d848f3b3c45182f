"""Skew handling: the three bucket regimes of minhash.candidate_pairs
(plain / salted / dropped+reported) — the north_rule's skew ladder — and
the shared hot-key cap (plans.partitioning.cap_hot_keys) behind every
bucketed self-join."""

import threading

import pytest

from tbdedup_spark.operators import (
    editdist, minhash, multimodal, setsim, simhash, substr, winnow,
)
from tbdedup_spark.plans.partitioning import cap_hot_keys, dropped_groups


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


# --- the shared hot-key cap ---------------------------------------------------


def test_simhash_oversized_bucket_dropped_and_reported(spark):
    """N identical phashes share every band's bucket: with max_bucket < N no
    pair survives, and each band reports its bucket with size N."""
    n = 12
    df = spark.createDataFrame([(i, 0x5A5A5A5A5A5A5A5A) for i in range(n)], "id long, sig long")
    pairs, dropped = simhash.simhash_pairs(df, "id", "sig", n_bands=8, max_bucket=n - 1)
    assert pairs.count() == 0
    rep = dropped.collect()
    assert sorted(r.band_idx for r in rep) == list(range(8))
    assert {r.bucket_size for r in rep} == {n}


def test_observed_drops_equal_the_report(spark):
    """The dropped-group count cap_hot_keys observes in its sizing job
    equals the report's row count: the simhash hot bucket above (one
    group per band) and a salted minhash case, where the 60-row bucket is
    salted, not dropped, and the 200-row one is dropped."""
    df = spark.createDataFrame([(i, 0x5A5A5A5A5A5A5A5A) for i in range(12)], "id long, sig long")
    _, dropped = simhash.simhash_pairs(df, "id", "sig", n_bands=8, max_bucket=11)
    assert dropped_groups(dropped) == dropped.count() == 8

    rows = [(f"h{i:04d}", 0, "HOT") for i in range(60)]
    rows += [(f"x{i:04d}", 0, "HOTTER") for i in range(200)]
    rows += [(f"c{i:04d}", 1, f"cold{i}") for i in range(10)]
    banded = spark.createDataFrame(rows, ["_id", "band_idx", "band_key"])
    _, dropped = minhash.candidate_pairs(banded, max_bucket=16, salt_cap=128)
    assert dropped_groups(dropped) == dropped.count() == 1


def test_observed_drops_on_empty_relation(spark):
    """An empty relation under a cap must report 0 dropped groups, not wait
    forever for an observation that never fires."""
    rel = spark.createDataFrame([], "k string, v long")
    got = []
    worker = threading.Thread(
        target=lambda: got.append(dropped_groups(cap_hot_keys(rel, ["k"], 5)[1])),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "the dropped-group observation never fired"
    assert got == [0]


_CAP_SITES = {
    "candidate_pairs": lambda s, cap: minhash.candidate_pairs(
        s.createDataFrame([], "_id string, band_idx int, band_key string"), max_bucket=cap
    ),
    "simhash_pairs": lambda s, cap: simhash.simhash_pairs(
        s.createDataFrame([], "id long, sig long"), "id", "sig", max_bucket=cap
    ),
    "containment_pairs_sa": lambda s, cap: substr.containment_pairs_sa(
        s.createDataFrame([], "id string, text string"), "id", "text", max_bucket=cap
    ),
    "jaccard_pairs": lambda s, cap: setsim.jaccard_pairs(
        s.createDataFrame([], "doc_id string, toks array<string>"), "doc_id", "toks", 0.5,
        prefix_cap=cap,
    ),
    "edit_distance_pairs": lambda s, cap: editdist.edit_distance_pairs(
        s.createDataFrame([], "doc_id string, text string"), "doc_id", "text", anchor_cap=cap
    ),
    "crop_resistant_near_dups": lambda s, cap: multimodal.crop_resistant_near_dups(
        s.createDataFrame([], "image_id string, bytes binary"), max_bucket=cap
    ),
    "winnow_dup_pairs": lambda s, cap: winnow.winnow_dup_pairs(
        s.createDataFrame([], "doc_id string, norm string"), df_cap=cap
    ),
}


@pytest.mark.parametrize("cap", [0, -1])
@pytest.mark.parametrize("site", sorted(_CAP_SITES))
def test_cap_below_one_rejected(spark, site, cap):
    """Every bucketed self-join rejects a cap below 1: it would keep no
    bucket, and it must not read as the uncapped mode either."""
    with pytest.raises(ValueError, match=">= 1"):
        _CAP_SITES[site](spark, cap)
