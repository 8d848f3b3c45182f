"""End-to-end pipeline: recall gate, determinism, resume — the tests the
reference was missing (its e2e has '# how to check the result?' at
tests/dedup/test_dedup.py:146; SURVEY §5 'we must do better')."""

from dataclasses import asdict

import pytest
from pyspark.sql import functions as F

from tbdedup_spark.operators import unionfind
from tbdedup_spark.plans.pipeline import DedupConfig, run_pipeline
from tbdedup_spark.sources.catalog import config_run_id

# Spark jobs one run_pipeline submits per stage (its job group) and outside
# every stage ("ungrouped"), on the conftest corpus into a fresh warehouse.
# At this scale every stage is latency-bound, so jobs are the cost unit: a
# change that cuts jobs lowers its entry, one that adds jobs says why.
JOB_BUDGET = {
    "signatures": 2, "pairs_exact": 3, "pairs_minhash": 9, "pairs_simhash": 6,
    "pairs_substr": 12, "pairs_all": 2, "clusters": 4, "verify_checked": 8,
    "clusters_verified": 3, "ungrouped": 7,
}


def _pair_recall(got_clusters: dict, golden_clusters: dict) -> float:
    """Dup-pair recall: fraction of oracle same-cluster pairs that are
    same-cluster in ours (the BASELINE.json >=0.99 gate)."""
    from collections import defaultdict

    def pairs(assign):
        groups = defaultdict(list)
        for k, v in assign.items():
            groups[v].append(k)
        out = set()
        for members in groups.values():
            members.sort()
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    out.add((a, b))
        return out

    gold = pairs(golden_clusters)
    ours = pairs(got_clusters)
    if not gold:
        return 1.0
    return len(gold & ours) / len(gold)


def test_unionfind_basic(spark, both_uf_regimes):
    nodes = spark.createDataFrame([(f"n{i}",) for i in range(8)], ["image_id"])
    edges = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n5", "n6"), ("n3", "n7")], ["a_id", "b_id"]
    )
    comp = both_uf_regimes(lambda: {
        r.image_id: r.cluster_id for r in unionfind.connected_components(nodes, edges).collect()
    })
    assert comp["n1"] == comp["n2"] == comp["n3"] == comp["n7"] == "n1"
    assert comp["n5"] == comp["n6"] == "n5"
    assert comp["n0"] == "n0" and comp["n4"] == "n4"


def test_unionfind_long_chain(spark, both_uf_regimes):
    """Chain of 40 nodes: every node reaches the chain's minimum."""
    n = 40
    nodes = spark.createDataFrame([(f"c{i:03d}",) for i in range(n)], ["image_id"])
    edges = spark.createDataFrame(
        [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(n - 1)], ["a_id", "b_id"]
    )
    labels = both_uf_regimes(lambda: {
        r.cluster_id for r in unionfind.connected_components(nodes, edges).collect()
    })
    assert labels == {"c000"}


@pytest.fixture(scope="module")
def pipeline_out(spark, images, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return run_pipeline(spark, images, wh), wh


def test_pipeline_recall_gate(spark, pipeline_out, golden):
    out, _ = pipeline_out
    got = {r.image_id: r.cluster_id for r in out["clusters"].collect()}
    recall = _pair_recall(got, golden["clusters"])
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_pipeline_representatives(spark, pipeline_out):
    out, _ = pipeline_out
    cl = out["clusters"]
    reps = cl.filter("is_representative")
    # exactly one representative per cluster, and it is the smallest id
    assert reps.count() == cl.select("cluster_id").distinct().count()
    assert reps.filter(F.col("image_id") != F.col("cluster_id")).count() == 0


def test_pipeline_verify_no_quarantine_on_clean_corpus(spark, pipeline_out):
    out, _ = pipeline_out
    assert out["quarantine"] is not None
    assert out["quarantine"].count() == 0


def test_pipeline_lineage_and_metrics(spark, pipeline_out):
    out, _ = pipeline_out
    stages = {r.stage for r in out["lineage"].collect()}
    assert {"signatures", "pairs_exact", "pairs_minhash", "pairs_simhash",
            "pairs_substr", "pairs_all", "clusters", "clusters_verified"} <= stages
    keys = {r.key for r in out["metrics"].collect()}
    assert {"unique_canonical", "unique_disk", "wall_clock_s", "row_count"} <= keys


def test_pipeline_resume_identical(spark, images, pipeline_out, golden):
    """Rerunning the same config must skip completed stages (no recompute)
    and produce the identical cluster assignment — FIXTURES F5 resume test."""
    out1, wh = pipeline_out
    before = out1["lineage"].count()
    out2 = run_pipeline(spark, images, wh)
    after = out2["lineage"].count()
    assert after == before  # nothing re-ran, no new lineage rows
    a = sorted((r.image_id, r.cluster_id) for r in out1["clusters"].collect())
    b = sorted((r.image_id, r.cluster_id) for r in out2["clusters"].collect())
    assert a == b


def test_pipeline_determinism_fresh_warehouse(spark, images, pipeline_out, tmp_path):
    out1, _ = pipeline_out
    out2 = run_pipeline(spark, images, str(tmp_path / "wh2"))
    a = sorted((r.image_id, r.cluster_id) for r in out1["clusters"].collect())
    b = sorted((r.image_id, r.cluster_id) for r in out2["clusters"].collect())
    assert a == b


def test_pipeline_disk_hash_source(spark, images, tmp_path):
    """--msg-hash-source disk analog: disk-signature groups are never coarser
    than canonical groups (byte-identical => pixel-identical)."""
    out = run_pipeline(spark, images, str(tmp_path / "whd"), DedupConfig(hash_source="disk"))
    assert out["clusters"].count() == images.count()


def test_driver_image_clusters_entry(spark):
    """The driver-contract image_dedup_clusters entry (rows-only) must
    produce a sound clustering of the distributed synthesized corpus:
    every image labeled once, representatives = cluster ids, planted
    exact-dup members co-clustered."""
    import __spark_entry__ as M

    from tbdedup_spark import synth

    out = M.queries()["image_dedup_clusters"](spark, "")
    rows = out.collect()
    assert len(rows) > 0
    by_id = {r.image_id: r for r in rows}
    assert len(by_id) == len(rows)  # one label per image
    for r in rows:
        assert (r.image_id == r.cluster_id) == r.is_representative

    # golden truth for the same 200 bases (synth is partition-invariant)
    g_rows = [row for b in range(200) for row in synth.rows_for_base(b, 42)]
    pairs = synth.golden_pairs(g_rows)
    golden = synth.golden_clusters(g_rows, pairs)
    # exact-class members must share the pipeline's cluster with their base
    n_checked = 0
    for r in g_rows:
        if r.dup_class == "exact" and r.image_id in by_id and r.base_id in by_id:
            assert by_id[r.image_id].cluster_id == by_id[r.base_id].cluster_id
            n_checked += 1
    assert n_checked > 10
    # dup-pair recall >= 0.99 against the golden clustering (the north_rule
    # gate, at this entry's scale)
    from collections import defaultdict

    want_groups = defaultdict(set)
    for iid, cid in golden.items():
        want_groups[cid].add(iid)
    want_pairs = {
        (a, b)
        for g in want_groups.values()
        for a in g
        for b in g
        if a < b
    }
    got_groups = defaultdict(set)
    for r in rows:
        got_groups[r.cluster_id].add(r.image_id)
    got_pairs = {
        (a, b) for g in got_groups.values() for a in g for b in g if a < b
    }
    recall = len(want_pairs & got_pairs) / max(len(want_pairs), 1)
    assert recall >= 0.99, f"recall {recall:.4f}"


def test_pipeline_job_budget(spark, images, tmp_path):
    """No stage of a fresh run_pipeline submits more Spark jobs than
    JOB_BUDGET allows (statusTracker job groups, counted as new job ids)."""
    st = spark.sparkContext.statusTracker()
    run_id = config_run_id(asdict(DedupConfig()))

    def job_ids():
        return {
            s: set(st.getJobIdsForGroup(None if s == "ungrouped" else f"{run_id}/{s}"))
            for s in JOB_BUDGET
        }

    before = job_ids()
    run_pipeline(spark, images, str(tmp_path / "wh"))
    after = job_ids()
    used = {s: len(after[s] - before[s]) for s in JOB_BUDGET}
    over = {s: (n, JOB_BUDGET[s]) for s, n in used.items() if n > JOB_BUDGET[s]}
    assert not over, f"(jobs, budget) over budget: {over}"


def test_stage_reads_pass_the_inferred_schema(spark, images, tmp_path, monkeypatch):
    """Catalog.read passes the schema Catalog.write recorded, so reading a
    committed stage runs no inference job; for every table run_pipeline
    reads back, that schema equals the one parquet inference finds."""
    from tbdedup_spark.sources.catalog import Catalog

    reads = []
    read = Catalog.read

    def spy(self, table, snapshot_id=None):
        out = read(self, table, snapshot_id)
        reads.append((self, table, out))
        return out

    monkeypatch.setattr(Catalog, "read", spy)
    run_pipeline(spark, images, str(tmp_path / "wh"))
    [cat] = {c for c, _, _ in reads}
    committed = set(cat.list_tables())
    assert {"signatures", "pairs_minhash", "clusters"} <= committed
    assert {t for _, t, _ in reads} == committed
    for _, table, df in reads:
        assert table in cat._schemas, f"{table} was read with inference"
        assert df.schema == spark.read.parquet(cat._path(table)).schema, table
