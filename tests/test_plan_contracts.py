"""Executable plan contracts: the 100-TB shape claims in BENCH/PLANS.md as
assertions over the ACTUAL physical plans, so a refactor that silently
introduces a row-at-a-time Python UDF, an unexpected shuffle in a
zero-shuffle query, or a lost broadcast fails CI instead of a future bench.

Plans are inspected as built (AQE initial plan): explicit F.broadcast()
joins and codegen projections are visible there; AQE-decided runtime
broadcasts deliberately are NOT pinned (they are allowed to change with
scale — that's the point of AQE)."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# Queries whose callables run real side-effect stages (streaming delivery,
# image/audio/video synth + decode, k-means, snapshot commits) before
# returning a DataFrame. Their returned plan is just a scan of the landed
# parquet — nothing to pin — and executing them here would race the other
# suites' fixed /tmp landing dirs for no added coverage.
LANDED = {
    "image_dedup_clusters",
    "image_tiered_dedup",
    "image_tiered_crop_dedup",
    "streaming_first_seen_dedup",
    "streaming_windowed_counts",
    "audio_near_dups",
    "frame_near_dups",
    "dihedral_image_neardup",
    "crop_image_neardup",
    "ann_topk_ivf",
    "semdedup_prune",
    "snapshot_diff_dedup",
    "tiered_incremental_dedup",
    "bloom_prefilter",
    # not landed, but their BUILD runs the full union-find driver loop —
    # covered by their own suites; nothing extra to pin in the final scan
    "dedup_clusters",
    "leakage_safe_split",
}


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _plan(spark, name: str) -> str:
    return _formatted(entry_mod.queries()[name](spark, SF))


@pytest.fixture(scope="module")
def plans(spark):
    names = [n for n in sorted(entry_mod.queries()) if n not in LANDED]
    return {n: _plan(spark, n) for n in names}


def test_no_row_python_udf_anywhere(plans):
    """The repo-wide hot-path rule: zero row-at-a-time Python UDFs. Arrow
    stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
    sanctioned slow path; BatchEvalPython is banned outright."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_zero_shuffle_queries_have_zero_exchanges(plans):
    """decontaminate_overlap and pii_scrub are documented as pure maps over
    the scan (their 100-TB cost model depends on it): no Exchange of any
    kind may appear."""
    for name in ("decontaminate_overlap", "pii_scrub"):
        assert "Exchange" not in plans[name], f"{name} gained a shuffle"


def test_winnowing_window_is_the_only_wide_stage(plans):
    """One per-document Window (bounded partitions by construction), no
    join of any kind, and the explode feeds the window through a single
    hash-partitioned Exchange; the distinct adds at most one more."""
    p = plans["winnowing_fingerprints"]
    assert p.count("(1) Scan parquet") == 1 and "Join" not in p
    assert "Window" in p
    assert p.count("Exchange") <= 2 + 2  # partition + distinct, formatted
    # mode lists each op in both tree and detail sections (hence the x2)


def test_bm25_probe_joins_are_broadcast_and_topk_prunes_early(plans):
    p = plans["bm25_topk"]
    assert "WindowGroupLimit" in p, "rank top-k must prune before the window"
    assert "BroadcastHashJoin" in p, "probe relation must broadcast"
    assert "SortMergeJoin" not in p, (
        "no corpus-vs-corpus sort-merge join belongs in this query at "
        "build time; scale-path joins are AQE's call, not the plan's"
    )


def test_decontaminate_ngram_join_probe_side_broadcast(plans):
    p = plans["decontaminate_ngram_join"]
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_exact_dedup_is_one_aggregation_no_join(plans):
    p = plans["exact_dedup_representatives"]
    assert "Join" not in p, "representative selection is an aggregate, not a join"


def test_scan_filter_project_pushes_down(plans):
    """O1/O18's contract: the filter reaches the parquet scan."""
    p = plans["scan_filter_project"]
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "GreaterThan" in p


def test_tier_ladders_plan_no_anti_join(spark):
    """Tier precedence is _tier_select's first-match CASE: neither tier
    ladder anti-joins a later tier's id set against an earlier one's."""
    from tbdedup_spark.operators import incremental

    imgs = spark.createDataFrame(
        [("n1", b"a", 1), ("n2", b"b", 2)], "image_id string, bytes binary, phash long"
    )
    hist = spark.createDataFrame(
        [("h1", b"a", 1)], "image_id string, bytes binary, phash long"
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a new doc")], "doc_id long, text string"
    )
    hdocs = spark.createDataFrame([(3, "the quick brown fox jumps")], "doc_id long, text string")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, df in (
        ("tiered_image_dedup", incremental.tiered_image_dedup(imgs, hist)),
        ("tiered_dedup", incremental.tiered_dedup(docs, hdocs, tau=0.6)),
    ):
        plan = df._jdf.queryExecution().explainString(mode)
        assert "LeftAnti" not in plan, f"{name} plans an anti-join"


def test_uncapped_band_joins_size_nothing(spark, plans):
    """max_bucket=None is the oracle fast path: the band self-join runs with
    no bucket-size aggregate. The pattern does match the sizing aggregate of
    a capped run's dropped-bucket report."""
    from tbdedup_spark.operators import simhash

    band_agg = re.compile(r"Keys \[\d+\]: \[band_idx")
    for name in ("minhash_lsh_pairs", "simhash_hamming_pairs"):
        assert not band_agg.search(plans[name]), f"{name} sizes its band buckets"
    df = spark.createDataFrame([(1, 0), (2, 0)], "id long, sig long")
    _, dropped = simhash.simhash_pairs(df, "id", "sig", max_bucket=1)
    assert band_agg.search(_formatted(dropped))


def _plan_nodes(df) -> list[str]:
    """Pre-order node strings of the physical plan as first planned, with
    expression and plan ids blanked so two builds of one plan compare equal."""
    out, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        out.append(re.sub(r"#\d+L?|plan_id=\d+", "#", node.simpleString(25)))
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def test_capped_sizing_plan_only_adds_collect_metrics(spark, monkeypatch, tmp_path):
    """cap_hot_keys observes its dropped groups on the relation it
    checkpoints. Over a filtered parquet scan, that plan differs from the
    unobserved one only by the CollectMetrics node: the filter still pushes
    down and no join or exchange changes."""
    from tbdedup_spark.operators import simhash

    path = str(tmp_path / "sigs")
    spark.createDataFrame(
        [(i, i % 3) for i in range(40)], "id long, sig long"
    ).write.parquet(path)
    seen = []
    cls = type(spark.range(1))
    observe = cls.observe

    def spy(self, *args):
        out = observe(self, *args)
        seen.append((self, out))
        return out

    monkeypatch.setattr(cls, "observe", spy)
    sigs = spark.read.parquet(path).filter("sig >= 1")
    simhash.simhash_pairs(sigs, "id", "sig", max_bucket=4)
    [(plain, observed)] = seen
    nodes = _plan_nodes(observed)
    assert sum(n.startswith("CollectMetrics") for n in nodes) == 1
    assert [n for n in nodes if not n.startswith("CollectMetrics")] == _plan_nodes(plain)
    assert any("PushedFilters: [IsNotNull(sig), GreaterThanOrEqual(sig,1)]" in n for n in nodes)
