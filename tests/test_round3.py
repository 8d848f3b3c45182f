"""Round-3 regression tests: catalog ownership/listing fixes and the
bounded residual-id fetch (review findings from the round-2 audit)."""

import os

from pyspark.sql import functions as F

from tbdedup_spark.sources.catalog import Catalog


def test_release_cached_preserves_preexisting(spark, tmp_path):
    """A caller-held localCheckpoint created BEFORE the run must survive
    release_cached(): its lineage is truncated, so unpersisting it would
    make it unrecomputable in a shared session."""
    caller_df = spark.range(100).withColumn("x", F.col("id") * 2).localCheckpoint()
    assert caller_df.count() == 100

    cat = Catalog(spark, str(tmp_path / "wh"), "run_rc")
    run_df = spark.range(50).localCheckpoint()
    assert run_df.count() == 50

    released = cat.release_cached()
    assert released >= 1  # the run-owned checkpoint went
    # the caller's block is still pinned and fully usable
    rdd_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert caller_df.rdd.id() in rdd_ids or caller_df.count() == 100
    assert caller_df.count() == 100


def test_list_tables_prefix_and_commit_gate(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), "run_lt")
    cat.write(spark.range(3), "uf_labels_iter0004")
    cat.write(spark.range(3), "uf_labels_iter0008")
    cat.write(spark.range(3), "other_table")
    # an uncommitted dir (no _snapshots.json manifest) must not be listed
    partial = os.path.join(str(tmp_path / "wh"), "run_lt", "uf_labels_iter0012")
    os.makedirs(partial, exist_ok=True)
    # nor a table in the older layout: _SUCCESS and part files, no manifest
    legacy = os.path.join(str(tmp_path / "wh"), "run_lt", "uf_labels_iter0016")
    spark.range(3).write.parquet(legacy)
    assert os.path.exists(os.path.join(legacy, "_SUCCESS"))
    assert not cat.exists("uf_labels_iter0016")
    assert cat.list_tables("uf_labels_iter") == [
        "uf_labels_iter0004",
        "uf_labels_iter0008",
    ]
    assert "other_table" in cat.list_tables()
    # its first write replaces the old directory whole: no stale part files
    assert cat.write(spark.range(5), "uf_labels_iter0016") == 5
    assert sorted(os.listdir(legacy)) == ["_snapshots.json", "snap-1"]
    assert cat.read("uf_labels_iter0016").count() == 5


def test_footer_count_non_posix_signal(tmp_path):
    """No .parquet files under the path -> None (caller falls back to a
    Spark count) instead of a silent 0 row_count in lineage."""
    d = tmp_path / "empty_table"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    assert Catalog._footer_count(str(d)) is None


def test_write_records_true_rowcount(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), "run_wc")
    assert cat.write(spark.range(123), "t") == 123


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with n_probe=half the codebook must recover most of the exact
    top-k on clustered vectors (the regime IVF exists for)."""
    import numpy as np

    from tbdedup_spark.operators import ann

    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16) * 3
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.randn(16) * 0.4).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.filter("vec_id < 12")

    exact = ann.topk_bruteforce(df, probes, k=5)
    approx = ann.ivf_topk(
        df, probes, k=5, n_centroids=8, n_probe=4, sample_n=400,
        kmeans_iters=6, seed=7,
    )
    ex = {(r.probe_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.probe_id, r.neighbor_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.85, recall
    # deterministic: a second run returns the identical result
    again = {
        (r.probe_id, r.neighbor_id)
        for r in ann.ivf_topk(
            df, probes, k=5, n_centroids=8, n_probe=4, sample_n=400,
            kmeans_iters=6, seed=7,
        ).collect()
    }
    assert ap == again


def test_asof_join_semantics(spark):
    """Backward as-of: greatest right ts <= left ts per key; no prior row ->
    nulls; tolerance nulls too-old matches; equal-ts right row is eligible."""
    from datetime import datetime as dt

    from tbdedup_spark.operators import asof

    L = spark.createDataFrame(
        [
            (1, "u1", dt(2024, 1, 1, 10, 0, 0)),
            (2, "u1", dt(2024, 1, 1, 12, 0, 0)),
            (3, "u2", dt(2024, 1, 1, 9, 0, 0)),   # before any right row
            (4, "u2", dt(2024, 1, 1, 11, 0, 0)),  # equal-ts right row counts
        ],
        "event_id long, user_id string, ts timestamp",
    )
    R = spark.createDataFrame(
        [
            ("u1", dt(2024, 1, 1, 9, 30, 0), 1.0),
            ("u1", dt(2024, 1, 1, 11, 59, 0), 2.0),
            ("u2", dt(2024, 1, 1, 11, 0, 0), 3.0),
        ],
        "user_id string, ts timestamp, v double",
    )
    out = {
        r.event_id: (r.ts_r, r.v_r)
        for r in asof.asof_join(L, R, by="user_id", time_col="ts", right_cols=["v"]).collect()
    }
    assert out[1] == (dt(2024, 1, 1, 9, 30, 0), 1.0)
    assert out[2] == (dt(2024, 1, 1, 11, 59, 0), 2.0)
    assert out[3] == (None, None)
    assert out[4] == (dt(2024, 1, 1, 11, 0, 0), 3.0)

    # tolerance: u1's 12:00 click only matches within 60s -> 11:59 ok;
    # u1's 10:00 click is 30min from 9:30 -> nulled
    tol = {
        r.event_id: (r.ts_r, r.v_r)
        for r in asof.asof_join(
            L, R, by="user_id", time_col="ts", right_cols=["v"], tolerance_s=60
        ).collect()
    }
    assert tol[2] == (dt(2024, 1, 1, 11, 59, 0), 2.0)
    assert tol[1] == (None, None)
    assert tol[4] == (dt(2024, 1, 1, 11, 0, 0), 3.0)
