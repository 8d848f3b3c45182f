"""Skew handling: the one bucketed self-join (plans.partitioning.
bucket_self_join) behind all six bucketed sites — plain / salted /
dropped+reported, the north_rule's skew ladder — and the hot-key cap
(plans.partitioning.cap_hot_keys) it is built on."""

import threading

import pytest

from tbdedup_spark.operators import (
    editdist, minhash, multimodal, setsim, simhash, substr, winnow,
)
from tbdedup_spark.plans import partitioning
from tbdedup_spark.plans.partitioning import cap_hot_keys, dropped_groups, dropped_rows


def _banded(spark, n_hot, n_cold):
    """n_hot docs in ONE bucket + n_cold singleton buckets."""
    rows = [(f"h{i:04d}", 0, "HOT") for i in range(n_hot)]
    rows += [(f"c{i:04d}", 0, f"cold{i}") for i in range(n_cold)]
    return spark.createDataFrame(rows, ["_id", "band_idx", "band_key"])


def test_salted_bucket_pairs_complete(spark, monkeypatch):
    """A kept bucket above SALT_ABOVE is salted, and the salted join must
    produce exactly the full within-bucket pair set."""
    monkeypatch.setattr(partitioning, "SALT_ABOVE", 16)
    banded = _banded(spark, n_hot=60, n_cold=10)
    pairs, dropped = minhash.candidate_pairs(banded, max_bucket=128)
    got = [(r.a_id, r.b_id) for r in pairs.collect()]
    hot_ids = sorted(f"h{i:04d}" for i in range(60))
    expect = {(a, b) for i, a in enumerate(hot_ids) for b in hot_ids[i + 1 :]}
    assert len(got) == len(set(got)) and set(got) == expect  # all 1770, once
    assert dropped.count() == 0


def test_oversized_bucket_dropped_and_reported(spark, monkeypatch):
    monkeypatch.setattr(partitioning, "SALT_ABOVE", 16)
    banded = _banded(spark, n_hot=200, n_cold=5)
    pairs, dropped = minhash.candidate_pairs(banded, max_bucket=128)
    assert pairs.count() == 0  # hot bucket over the cap, cold are singletons
    d = dropped.collect()
    assert len(d) == 1 and d[0].bucket_size == 200  # reported, not silent


def test_no_salting_default_unchanged(spark):
    """A cap at or below SALT_ABOVE (minhash's default 64) drops what it
    does not keep; nothing is salted."""
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


def test_observed_drops_equal_the_report(spark, monkeypatch):
    """The dropped groups and rows cap_hot_keys observes in its sizing job
    equal the report's row count and its summed bucket sizes: the simhash
    hot bucket above (one group of 12 per band) and a minhash case, where
    the 60-row bucket is salted, not dropped, and the 200-row one is
    dropped."""
    df = spark.createDataFrame([(i, 0x5A5A5A5A5A5A5A5A) for i in range(12)], "id long, sig long")
    _, dropped = simhash.simhash_pairs(df, "id", "sig", n_bands=8, max_bucket=11)
    assert dropped_groups(dropped) == dropped.count() == 8
    assert dropped_rows(dropped) == 8 * 12

    monkeypatch.setattr(partitioning, "SALT_ABOVE", 16)
    rows = [(f"h{i:04d}", 0, "HOT") for i in range(60)]
    rows += [(f"x{i:04d}", 0, "HOTTER") for i in range(200)]
    rows += [(f"c{i:04d}", 1, f"cold{i}") for i in range(10)]
    banded = spark.createDataFrame(rows, ["_id", "band_idx", "band_key"])
    _, dropped = minhash.candidate_pairs(banded, max_bucket=128)
    assert dropped_groups(dropped) == dropped.count() == 1
    assert dropped_rows(dropped) == 200


def test_observed_drops_on_empty_relation(spark):
    """An empty relation under a cap must report 0 dropped groups and rows,
    not wait forever for an observation that never fires."""
    rel = spark.createDataFrame([], "k string, v long")
    got = []

    def observe():
        dropped = cap_hot_keys(rel, ["k"], 5)[1]
        got.append((dropped_groups(dropped), dropped_rows(dropped)))

    worker = threading.Thread(target=observe, daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "the sizing observation never fired"
    assert got == [(0, 0)]


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


# --- one rule at every site: salted pairs equal the uncapped pairs ------------


def _minhash_site(spark, monkeypatch, cap):
    rows = [(f"h{i:03d}", 0, "HOT", [i % 2, i % 3, 7, 7]) for i in range(40)]
    rows += [(f"c{i:03d}", 1, f"k{i % 4}", [0, 0, 0, i % 2]) for i in range(12)]
    banded = spark.createDataFrame(
        rows, "_id string, band_idx int, band_key string, _mh array<int>"
    )
    return minhash.candidate_pairs(banded, cap, est_tau=0.75)[0]


def _simhash_site(spark, monkeypatch, cap):
    base = 0x5A5A5A5A5A5A5A5A
    rows = [(i, base ^ (1 << i)) for i in range(40)]
    rows += [(100 + i, base ^ (0xFF << (8 * i))) for i in range(7)]
    df = spark.createDataFrame(rows, "id long, sig long")
    return simhash.simhash_pairs(df, "id", "sig", max_bucket=cap)[0]


def _editdist_site(spark, monkeypatch, cap):
    common = "the quick brown fox jumps over the lazy dog and keeps running far away "
    rows = [(f"d{i:03d}", f"{common * 3}tail {i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    return editdist.edit_distance_pairs(df, "doc_id", "text", anchor_cap=cap)


def _winnow_site(spark, monkeypatch, cap):
    common = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    rows = [(f"d{i:03d}", f"{common} unique tail number {i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, norm string")
    return winnow.winnow_dup_pairs(df, df_cap=cap, min_shared=1, tau=0.01)


def _crop_site(spark, monkeypatch, cap):
    rows = [(f"i{i:03d}", 7) for i in range(40)]
    rows += [(f"i{i:03d}", 100 + i % 5) for i in range(40)]
    rows += [(f"i{i:03d}", 1000 + i) for i in range(40)]
    sigs = spark.createDataFrame(rows, "image_id string, psig long")
    monkeypatch.setattr(multimodal, "crop_patch_signatures", lambda *a, **k: sigs)
    images = spark.createDataFrame([], "image_id string, bytes binary")
    return multimodal.crop_resistant_near_dups(images, min_shared=1, max_bucket=cap)


def _setsim_site(spark, monkeypatch, cap):
    rows = [(f"d{i:03d}", ["common1", "common2", "zzz", f"u{i}"]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    return setsim.jaccard_pairs(df, "doc_id", "toks", 0.5, prefix_cap=cap)[0]


_SALT_SITES = {
    "candidate_pairs": _minhash_site,
    "simhash_pairs": _simhash_site,
    "edit_distance_pairs": _editdist_site,
    "winnow_dup_pairs": _winnow_site,
    "crop_resistant_near_dups": _crop_site,
    "jaccard_pairs": _setsim_site,
}


@pytest.mark.parametrize("site", sorted(_SALT_SITES))
def test_salted_site_equals_uncapped(spark, monkeypatch, site):
    """A planted hot bucket under the cap, with SALT_ABOVE lowered so it is
    salted: the site's output equals its uncapped output row for row. The
    winnow n_shared and crop shared counts would grow if a pair were
    emitted twice."""
    build = _SALT_SITES[site]
    want = sorted(build(spark, monkeypatch, None).collect())
    monkeypatch.setattr(partitioning, "SALT_ABOVE", 4)
    salted = build(spark, monkeypatch, 64)
    assert "_cb#" in salted._jdf.queryExecution().analyzed().toString(), "not salted"
    assert want and sorted(salted.collect()) == want
