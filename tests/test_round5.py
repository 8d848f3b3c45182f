"""Round-5 regression tests: the 16-bit uncapped near-dup guard, the salted
top-k equivalence on a power-law key, the setsim checkpoint knob and the
probe-table decontamination join (VERDICT/ADVICE round-4 items)."""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tbdedup_spark.operators import ann, setsim, topk


# --- uncapped near-dup size guard (VERDICT r4 task 4) ------------------------


def _tiny_vectors(spark, n, dim=8):
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def test_neardup_uncapped_guard_fires(spark):
    df = _tiny_vectors(spark, 120)
    with pytest.raises(ValueError, match="uncapped_max_rows"):
        ann.neardup_pairs(
            df, "vec_id", "emb", tau=0.9, n_bits=16, dim=8,
            max_bucket=None, uncapped_max_rows=100,
        )


def test_neardup_guard_ignored_when_capped_or_unset(spark):
    df = _tiny_vectors(spark, 120)
    # capped: the guard does not apply even though rows > bound
    capped = ann.neardup_pairs(
        df, "vec_id", "emb", tau=0.99, n_bits=16, dim=8,
        max_bucket=64, uncapped_max_rows=100,
    )
    capped.count()  # plans and runs
    # uncapped but unguarded (oracle mode): legacy behavior preserved
    ann.neardup_pairs(
        df, "vec_id", "emb", tau=0.99, n_bits=16, dim=8, max_bucket=None
    ).count()


# --- salted top-k: row-identical on a power-law key (VERDICT r4 task 7) ------


def _powerlaw_df(spark):
    """One key owning ~90% of all rows; a unique id makes the order total."""
    rng = random.Random(13)
    rows = [(0, i, rng.random()) for i in range(9000)]  # the bot key
    rows += [(1 + rng.randrange(50), 9000 + i, rng.random()) for i in range(1000)]
    return spark.createDataFrame(rows, "key int, uid long, val double")


def test_salted_topk_matches_single_window(spark):
    df = _powerlaw_df(spark)
    order = [F.col("val").desc(), F.col("uid")]
    plain = topk.topk_per_group(df, ["key"], order, k=5, n_salt=None)
    salted = topk.topk_per_group(df, ["key"], order, k=5, n_salt=8)
    cols = ["key", "uid", "val", "rnk"]
    assert sorted(plain.select(cols).collect()) == sorted(salted.select(cols).collect())
    # phase-1 partials really do bound the second window's partitions
    assert salted.filter(F.col("key") == 0).count() == 5


def test_salted_topk_validates_n_salt(spark):
    df = _powerlaw_df(spark)
    with pytest.raises(ValueError, match="n_salt"):
        topk.topk_per_group(df, ["key"], ["uid"], k=3, n_salt=1)


# --- setsim checkpoint knob: identical pairs either way (ADVICE r4) ----------


def test_setsim_checkpoint_knob_equivalent(spark):
    docs = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),
        (3, ["x", "y", "z", "w"]),
        (4, ["x", "y", "z", "q"]),
        (5, ["m", "n"]),
    ]
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    on, _ = setsim.jaccard_pairs(df, "doc_id", "toks", 0.5, checkpoint=True)
    off, _ = setsim.jaccard_pairs(df, "doc_id", "toks", 0.5, checkpoint=False)
    assert sorted(on.collect()) == sorted(off.collect())
    assert on.count() == 2  # (1,2) and (3,4)


# --- probe-table decontamination: Spark vs a local recomputation -------------


def test_decontaminate_ngram_join_matches_local(spark):
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.n_hits)
        for r in entry.queries()["decontaminate_ngram_join"](spark, sf_dir).collect()
    }

    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    ).collect()
    n = entry.DECONTAM_N

    def grams(text):
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        } if len(toks) >= n else set()

    probe = set()
    for r in docs:
        if r.source == entry.DECONTAM_HOLDOUT:
            probe |= grams(r.text)
    expect = set()
    for r in docs:
        if r.source != entry.DECONTAM_HOLDOUT:
            hits = len(grams(r.text) & probe)
            if hits:
                expect.add((r.doc_id, hits))
    assert probe, "holdout source produced no probe n-grams"
    assert expect, "no training doc overlaps the probe set — test is vacuous"
    assert got == expect
