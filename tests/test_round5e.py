"""Round-5 fifth wave: incremental cluster maintenance
(operators/unionfind.incremental_components) plus property checks for the
soft-dedup weights and quality-representative queries — semantic invariants
beyond the sf0.01 oracle equality of test_entry_oracle.py."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tbdedup_spark.operators import incremental, unionfind

SF = "/root/testdata/sf0.001"


def _labels(df):
    return {r[0]: r[1] for r in df.collect()}


def _random_split_case(spark, seed, n_nodes=400, n_edges=300, hist_frac=0.7):
    """Random graph; nodes below the split line are 'history', the rest are
    the new batch. Edges with both endpoints in history define yesterday's
    clusters; every other edge arrives with the batch (batch-batch AND
    batch-history, the real detector output shape)."""
    rng = random.Random(seed)
    cut = int(n_nodes * hist_frac)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    all_nodes = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
    all_edges = spark.createDataFrame(
        sorted(edges), "a_id long, b_id long"
    )
    hist_nodes = all_nodes.where(F.col("doc_id") < cut)
    new_nodes = all_nodes.where(F.col("doc_id") >= cut)
    hist_edges = all_edges.where((F.col("a_id") < cut) & (F.col("b_id") < cut))
    new_edges = all_edges.where((F.col("a_id") >= cut) | (F.col("b_id") >= cut))
    return all_nodes, all_edges, hist_nodes, new_nodes, hist_edges, new_edges


@pytest.mark.parametrize("seed", [7, 1999])
def test_incremental_matches_full_recompute(spark, seed, both_uf_regimes):
    """incremental_components(history labels, batch) must be label-identical
    to connected_components over the combined graph — the contraction
    argument in its docstring, checked on random graphs, under both
    union-find regimes (which must agree)."""
    (all_nodes, all_edges, hist_nodes, new_nodes, hist_edges, new_edges) = (
        _random_split_case(spark, seed)
    )

    def run():
        hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
        inc = unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
        full = unionfind.connected_components(all_nodes, all_edges, id_col="doc_id")
        return _labels(inc), _labels(full)

    inc, full = both_uf_regimes(run)
    assert inc == full


def test_incremental_broadcast_guard_fallback_identical(spark, monkeypatch):
    """BROADCAST_THRESHOLD = 0 forces the over-threshold path (no broadcast
    hints, AQE-decided joins); labels must be identical to the guarded
    map-side path — the safety valve changes the PLAN, never the answer."""
    (all_nodes, all_edges, hist_nodes, new_nodes, hist_edges, new_edges) = (
        _random_split_case(spark, 1234)
    )
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
    inc = unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
    monkeypatch.setattr(incremental, "BROADCAST_THRESHOLD", 0)
    inc0 = unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
    assert _labels(inc0) == _labels(inc)


def test_incremental_untouched_clusters_keep_labels(spark):
    """History clusters not reached by any batch edge must come back with
    their exact old labels (the coalesce fast path — no remap row exists
    for them), and isolated new nodes must self-label."""
    hist_nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    hist_edges = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "a_id long, b_id long"
    )
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
    before = _labels(hist)
    assert before == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4}

    # batch: node 10 bridges into cluster {2,3}; node 11 is isolated
    new_nodes = spark.createDataFrame([(10,), (11,)], "doc_id long")
    new_edges = spark.createDataFrame([(10, 3)], "a_id long, b_id long")
    out = _labels(
        unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
    )
    assert out[0] == 0 and out[1] == 0  # untouched
    assert out[4] == 4 and out[5] == 4  # untouched
    assert out[2] == out[3] == out[10] == 2  # merged, min id keeps the name
    assert out[11] == 11  # isolated new node self-labels


def test_incremental_new_min_renames_history_cluster(spark):
    """A batch id smaller than a history cluster's min must become the merged
    component's label — the remap path where history rows take a NEW name."""
    hist_nodes = spark.createDataFrame([(100,), (101,)], "doc_id long")
    hist_edges = spark.createDataFrame([(100, 101)], "a_id long, b_id long")
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
    new_nodes = spark.createDataFrame([(5,)], "doc_id long")
    new_edges = spark.createDataFrame([(5, 101)], "a_id long, b_id long")
    out = _labels(
        unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
    )
    assert out == {100: 5, 101: 5, 5: 5}


def test_incremental_chains_across_two_history_clusters(spark):
    """One batch node bridging two separate history clusters merges them
    transitively through the contracted graph."""
    hist_nodes = spark.createDataFrame([(1,), (2,), (10,), (11,)], "doc_id long")
    hist_edges = spark.createDataFrame([(1, 2), (10, 11)], "a_id long, b_id long")
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
    new_nodes = spark.createDataFrame([(20,)], "doc_id long")
    new_edges = spark.createDataFrame([(20, 2), (20, 11)], "a_id long, b_id long")
    out = _labels(
        unionfind.incremental_components(hist, new_nodes, new_edges, id_col="doc_id")
    )
    assert out == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


# --- soft dedup weights / quality representatives -------------------------------


def test_soft_weights_sum_to_cluster_count(spark):
    """sum(soft_weight) == #clusters exactly (each cluster contributes
    size * 1/size): the 'one document per cluster in expectation' invariant
    that makes the weights a drop-free dedup."""
    w = entry_mod._q_soft_dedup_weights(spark, SF).collect()
    n_clusters = len({r.cluster_id for r in w})
    total = sum(r.cluster_size * 0 + r.soft_weight for r in w)
    assert abs(total - n_clusters) < 1e-3
    for r in w:
        assert abs(r.soft_weight - 1.0 / r.cluster_size) < 1e-6


def test_quality_reps_member_and_argmax(spark):
    """Every representative is a member of its cluster and attains the
    cluster's max normalized length; ties break to the smallest doc_id."""
    cl = {r.doc_id: r.cluster_id for r in entry_mod._q_clusters(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    nlen = {d.doc_id: len(" ".join(d.text.lower().split())) for d in docs}
    reps = entry_mod._q_cluster_quality_reps(spark, SF).collect()
    by_cluster = {}
    for doc, c in cl.items():
        by_cluster.setdefault(c, []).append(doc)
    assert {r.cluster_id for r in reps} == set(by_cluster)
    for r in reps:
        members = by_cluster[r.cluster_id]
        assert r.representative_id in members
        best = max(nlen[m] for m in members)
        assert r.rep_n_chars == best
        assert r.representative_id == min(m for m in members if nlen[m] == best)
        assert r.cluster_size == len(members)


def test_incremental_string_ids_image_shape(spark):
    """The north-star payload keys on string image_ids — the merge must be
    id-type-agnostic (no arithmetic on ids anywhere: min-label works by
    ordering, which strings also have)."""
    hist_nodes = spark.createDataFrame(
        [("img_a",), ("img_b",), ("img_x",)], "image_id string"
    )
    hist_edges = spark.createDataFrame([("img_a", "img_b")], "a_id string, b_id string")
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="image_id")
    new_nodes = spark.createDataFrame([("img_0new",)], "image_id string")
    new_edges = spark.createDataFrame(
        [("img_0new", "img_b")], "a_id string, b_id string"
    )
    out = _labels(
        unionfind.incremental_components(hist, new_nodes, new_edges, id_col="image_id")
    )
    # "img_0new" < "img_a" lexicographically -> it renames the merged cluster
    assert out == {"img_a": "img_0new", "img_b": "img_0new",
                   "img_x": "img_x", "img_0new": "img_0new"}
