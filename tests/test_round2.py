"""Round-2 regression tests: the ADVICE.md contract bugs (short-doc
containment, DECODE_ERROR sentinel collisions, sampled index recall), the est-Jaccard prefilter equivalence, prefix-filtered set-similarity
join, durable union-find checkpoint/resume, and quarantine evidence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tbdedup_spark import codecs, synth
from tbdedup_spark.functions import text
from tbdedup_spark.operators import exact, minhash, setsim, substr, unionfind, verify
from tbdedup_spark.plans.pipeline import DedupConfig, run_pipeline
from tbdedup_spark.sources.catalog import Catalog


# --- substring containment: short docs + sampled index -----------------------


def _doc_df(spark, rows):
    return spark.createDataFrame(rows, ["image_id", "caption"])


def _brute_contain(rows):
    out = set()
    for a, na in rows:
        for b, nb in rows:
            an, bn = " ".join(na.lower().split()), " ".join(nb.lower().split())
            if a != b and an != bn and len(an) >= 1 and an in bn:
                out.add(tuple(sorted((a, b))))
    return out


SHORT_ROWS = [
    ("d1", "abc"),            # shorter than k=5: only the brute path can find it
    ("d2", "xx abc yy"),
    ("d3", ""),               # empty: excluded by contract
    ("d4", "zz"),
    ("d5", "azz b"),
    ("d6", "a much longer caption body"),
    ("d7", "xyzzy a much longer caption body qqq"),
]


@pytest.mark.parametrize("m", [1, 4])
def test_containment_short_docs(spark, m):
    df = _doc_df(spark, SHORT_ROWS)
    got = {(r.a_id, r.b_id) for r in substr.containment_pairs(df, sample_mod=m).collect()}
    assert got == _brute_contain(SHORT_ROWS)


def test_sampled_containment_exact_vs_brute_random(spark):
    """The mod-sampled index + rarest-fingerprint probe is COMPLETE (not
    probabilistic): on a random corpus with planted containments at adversarial
    offsets, sample_mod=5 must equal brute force exactly."""
    rng = np.random.default_rng(7)
    alpha = "abcdefgh"
    rows = []
    for i in range(120):
        s = "".join(alpha[j] for j in rng.integers(0, len(alpha), int(rng.integers(9, 40))))
        rows.append((f"r{i:03d}", s))
    # planted: substrings at random offsets, including suffix-end positions
    for i in range(60):
        _, host = rows[int(rng.integers(0, 120))]
        if len(host) < 10:
            continue
        lo = int(rng.integers(0, len(host) - 9))
        hi = lo + int(rng.integers(9, len(host) - lo + 1))
        rows.append((f"p{i:03d}", host[lo:hi]))
    df = _doc_df(spark, rows)
    got = {(r.a_id, r.b_id) for r in substr.containment_pairs(df, k=5, sample_mod=5).collect()}
    assert got == _brute_contain(rows)


@pytest.mark.parametrize("m", [4, 64])
def test_containment_mod_sampling_exact(spark, images, golden, m):
    """Value-mod sampling is containment-closed, so even an aggressive m
    (where many docs have an EMPTY sample and must fall back to the brute
    path) stays exactly equal to brute force."""
    pairs = substr.containment_pairs(images, k=8, sample_mod=m)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    oracle = {(a, b) for a, b, d, _ in golden["pairs"] if d == "substr"}
    assert got == oracle


# --- minhash: est-J prefilter -------------------------------------------------


def test_minhash_est_prefilter_identical_output(spark, images):
    ref, _ = minhash.minhash_pairs(images, tau=0.6)
    fast, _ = minhash.minhash_pairs(images, tau=0.6, est_tau=0.3)
    a = {(r.a_id, r.b_id) for r in ref.collect()}
    b = {(r.a_id, r.b_id) for r in fast.collect()}
    assert a == b


# --- prefix-filtered set-similarity join --------------------------------------


def test_setsim_prefix_filter_equals_bruteforce(spark, images):
    d = images.select(
        "image_id",
        (F.crc32(F.col("image_id")) % 3).alias("blk"),
        F.array_distinct(F.split(text.norm_text("caption"), " ")).alias("toks"),
    )
    got = {
        (r.a_id, r.b_id, round(r.score, 9))
        for r in setsim.jaccard_pairs(d, "image_id", "toks", 0.5, block_cols=("blk",))[0].collect()
    }
    a = d.select(F.col("image_id").alias("a_id"), "blk", F.col("toks").alias("ta"))
    b = d.select(F.col("image_id").alias("b_id"), "blk", F.col("toks").alias("tb"))
    brute = (
        a.join(b, "blk").filter(F.col("a_id") < F.col("b_id"))
        .withColumn("score", F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb")).cast("double"))
        .filter(F.col("score") >= 0.5)
    )
    want = {(r.a_id, r.b_id, round(r.score, 9)) for r in brute.collect()}
    assert got == want and len(want) > 0


# --- union-find: durable checkpoint + mid-loop resume -------------------------


def _chain(spark, ids, links):
    nodes = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    edges = spark.createDataFrame(links, ["a_id", "b_id"])
    return nodes, edges


def _killed_on_second_commit(cat, monkeypatch):
    """Make ``cat`` raise on its second union-find label commit, as a run
    killed between two commits would stop."""
    real_write, commits = cat.write, []

    def write(df, table, *args, **kwargs):
        if table.startswith("uf_labels_"):
            commits.append(table)
            if len(commits) == 2:
                raise RuntimeError("killed")
        return real_write(df, table, *args, **kwargs)

    monkeypatch.setattr(cat, "write", write)
    return commits


def test_unionfind_catalog_resume(spark, tmp_path, monkeypatch):
    # checkpoints and resume exist in the distributed regime only
    monkeypatch.setattr(unionfind, "LOCAL_FINISH_EDGES", 0)
    monkeypatch.setattr(unionfind, "CKPT_EVERY", 2)
    ids = [f"c{i:03d}" for i in range(64)]
    nodes, edges = _chain(spark, ids, list(zip(ids, ids[1:])))
    direct = {r.image_id: r.cluster_id for r in unionfind.connected_components(nodes, edges).collect()}
    assert set(direct.values()) == {"c000"}

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh, "run_uftest")
    commits = _killed_on_second_commit(cat, monkeypatch)
    with pytest.raises(RuntimeError, match="killed"):
        unionfind.connected_components(nodes, edges, catalog=cat)
    assert len(commits) == 2 and commits[0].endswith("_iter0002")
    assert cat.list_tables("uf_labels_") == [commits[0]]

    # resume: a fresh run starts from the durable round-2 labels
    fresh = Catalog(spark, wh, "run_uftest")
    reads = []
    real_read = fresh.read
    monkeypatch.setattr(fresh, "read", lambda t, *a: reads.append(t) or real_read(t, *a))
    resumed = unionfind.connected_components(nodes, edges, catalog=fresh)
    assert reads[0] == commits[0]
    got = {r.image_id: r.cluster_id for r in resumed.collect()}
    assert got == direct


def test_unionfind_resume_ignores_other_graph(spark, tmp_path, monkeypatch):
    """Label commits are keyed by the edges they were computed from: a
    crashed run on one graph must not seed a later run on another graph
    over the same nodes and catalog."""
    monkeypatch.setattr(unionfind, "LOCAL_FINISH_EDGES", 0)
    monkeypatch.setattr(unionfind, "CKPT_EVERY", 2)
    ids = [f"c{i:03d}" for i in range(64)]
    nodes, g1 = _chain(spark, ids, list(zip(ids, ids[1:])))
    cat = Catalog(spark, str(tmp_path / "wh"), "run_uftest")
    commits = _killed_on_second_commit(cat, monkeypatch)
    with pytest.raises(RuntimeError, match="killed"):
        unionfind.connected_components(nodes, g1, catalog=cat)
    assert len(cat.list_tables("uf_labels_")) == 1

    # G2: the same nodes as two chains, c000..c031 and c032..c063
    g2 = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:]) if b != "c032"], ["a_id", "b_id"]
    )
    cat = Catalog(spark, str(tmp_path / "wh"), "run_uftest")
    got = {
        r.image_id: r.cluster_id
        for r in unionfind.connected_components(nodes, g2, catalog=cat).collect()
    }
    assert got == {i: "c000" if i < "c032" else "c032" for i in ids}
    # G2 committed under its own key, beside G1's round-2 labels
    keys = {t.rsplit("_iter", 1)[0] for t in cat.list_tables("uf_labels_")}
    assert len(keys) == 2


# --- decode errors: sentinel uniqueness + quarantine routing ------------------


def _corrupt_corpus(seed=77):
    rows = synth.generate_corpus(n_bases=25, seed=seed)
    spark_rows = synth.to_spark_rows(rows)
    # two DIFFERENT corrupt images sharing the PNG magic prefix
    bad = []
    for i, junk in ((0, b"\x00garbage-a"), (1, b"\x00garbage-b")):
        r = list(spark_rows[i])
        r[1] = bytes(r[1][:8]) + junk  # valid magic, undecodable body
        bad.append(r[0])
        spark_rows[i] = tuple(r)
    return spark_rows, bad


def test_decode_error_sentinel_unique(spark):
    from tbdedup_spark import schema
    spark_rows, bad = _corrupt_corpus()
    df = spark.createDataFrame(spark_rows, schema.IMAGES)
    from tbdedup_spark.operators import exact
    sigs = {r.image_id: r.sig for r in exact.signatures(df).collect()}
    assert sigs[bad[0]].startswith("DECODE_ERROR:")
    assert sigs[bad[1]].startswith("DECODE_ERROR:")
    assert sigs[bad[0]] != sigs[bad[1]], "distinct corrupt images must not share a sentinel"


def test_pipeline_quarantines_decode_errors_with_evidence(spark, tmp_path):
    from tbdedup_spark import schema
    spark_rows, bad = _corrupt_corpus()
    df = spark.createDataFrame(spark_rows, schema.IMAGES)
    out = run_pipeline(spark, df, str(tmp_path / "whq"))
    q = {r.image_id: r for r in out["quarantine"].collect()}
    assert set(bad) <= set(q)
    for b in bad:
        assert q[b].reason == "decode_error"
        # the evidence alone reproduces the failure offline
        assert q[b].evidence_bytes is not None
        with pytest.raises(Exception):
            codecs.decode_image(bytes(q[b].evidence_bytes))
    # quarantined rows are excluded from the verified clusters
    clustered = {r.image_id for r in out["clusters"].collect()}
    assert not (set(bad) & clustered)


# --- Iceberg catalog branch ----------------------------------------------


def test_catalog_iceberg_mode(spark, images, tmp_path):
    """Runs only when the Iceberg Spark runtime jar is present (not in this
    sandbox): the same Catalog contract over real snapshot commits. Without
    the jar, asserts the documented failure mode."""
    from tbdedup_spark.sources import catalog as catmod

    if not catmod.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg"):
            catmod.Catalog(spark, str(tmp_path / "iwh"), "run_x", iceberg=True)
        pytest.skip("Iceberg runtime jar absent in sandbox")
    cat = catmod.Catalog(spark, str(tmp_path / "iwh"), "run_x", iceberg=True)
    df = images.select("image_id").limit(5)
    assert not cat.exists("t1")
    n = cat.write(df, "t1")
    assert n == 5 and cat.exists("t1")
    assert cat.read("t1").count() == 5
    # time travel: a second commit, then a read of the first snapshot
    assert cat.write(df.limit(2), "t1") == 2
    first = spark.sql(
        f"SELECT snapshot_id FROM {cat._tbl('t1')}.snapshots ORDER BY committed_at"
    ).first()[0]
    assert cat.read("t1").count() == 2
    assert cat.read("t1", snapshot_id=first).count() == 5
    cat.log_metric("s", "k", 1.0)
    assert cat.metrics().count() >= 1


def test_attach_evidence_size_cap(spark, images):
    q = images.limit(2).select(
        "image_id",
        F.lit(None).cast("string").alias("cluster_id"),
        F.lit(None).cast("string").alias("rep_id"),
        F.lit("x").alias("reason"),
        F.lit(None).cast("double").alias("psnr_db"),
        F.lit(None).cast("double").alias("cap_sim"),
    )
    withev = verify.attach_evidence(q, images)
    assert withev.filter(F.col("evidence_bytes").isNull()).count() == 0
    capped = verify.attach_evidence(q, images, evidence_cap=4)
    assert capped.filter(F.col("evidence_bytes").isNotNull()).count() == 0


def test_empty_captions_carry_no_dup_evidence(spark, images):
    """Review catch: contains('') is trivially true and toks('') is [''],
    so an empty representative caption used to cheap-approve EVERY member
    (and two empty captions scored similarity 1.0) with no pixel proof.
    Empty/whitespace captions must route to the PSNR path: two pixel-
    distinct images with blank captions in one cluster -> member NOT ok."""
    # two BASE images of different base groups: independent random pixels,
    # so the PSNR proof genuinely fails (a same-base variant could pass it)
    two = sorted(
        r.image_id
        for r in images.filter(F.col("image_id").endswith("_00"))
        .select("image_id").limit(2).collect()
    )
    rep, mem = two[0], two[1]
    blank = images.filter(F.col("image_id").isin(two)).withColumn(
        "caption", F.lit("  ")
    )
    clusters = spark.createDataFrame(
        [(rep, rep, True), (mem, rep, False)],
        "image_id string, cluster_id string, is_representative boolean",
    )
    checked = verify.check_members(clusters, blank, exact.signatures(blank))
    row = checked.filter(F.col("image_id") == mem).collect()[0]
    assert row.cap_sim == 0.0 and not row.cap_contain
    # pixel-distinct fixtures -> the PSNR proof must fail -> quarantined
    assert not row.ok and row.psnr_db is not None
