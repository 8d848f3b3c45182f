"""Round-6 optimization internals: the small-scan fan-out guard, the raw
minhash-coordinate carry, and the PPJoin candidate prunes' exactness.

The end-to-end equivalences (est-in-join, one-intersect Jaccard, Generate
barriers) are pinned by the oracle replica (test_entry_oracle.py) — these
tests pin the MECHANISMS so a regression fails with a named cause instead
of a downstream hash mismatch.
"""

from __future__ import annotations

import random
import threading

from pyspark.sql import functions as F

from tbdedup_spark.operators import minhash, setsim
from tbdedup_spark.plans.partitioning import fan_out_small_scan


def _nparts(df):
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def test_fan_out_widens_single_partition(spark):
    """A 1-partition relation is widened to the session parallelism."""
    one = spark.range(1000).coalesce(1)
    assert _nparts(one) == 1
    widened = fan_out_small_scan(one)
    assert _nparts(widened) == spark.sparkContext.defaultParallelism
    # row set unchanged
    assert widened.count() == 1000
    assert widened.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2


def test_fan_out_is_noop_on_wide_input(spark):
    """Well-split input comes back AS-IS (same object): no repartition plan
    node, no extra exchange at real corpus scale — the guard that keeps the
    fix from becoming a full-corpus shuffle."""
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    assert fan_out_small_scan(wide) is wide
    wider = spark.range(1000).repartition(target + 4)
    assert fan_out_small_scan(wider) is wider


def test_band_keys_raw_carry_matches_signature_columns(spark):
    """band_keys takes its form from the grade of the signatures. Oracle
    grade ("hashes"): string band keys and the RAW 61-bit coords (bit-exact
    est algebra). Throughput grade ("hashes32"): xxhash64 long band keys
    and the coords folded mod 2^31-1. Both agree with the signature
    columns they derive from."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    for carry, key_type, fold in (("hashes", "string", lambda v: v),
                                  ("hashes32", "bigint", lambda v: v % 2147483647)):
        sigs = minhash.minhash_signatures(df, "doc_id", "text", 5, 16, 42, carry=carry)
        by_id = {r["_id"]: [r[f"mh{j}"] for j in range(16)] for r in sigs.collect()}
        banded = minhash.band_keys(sigs, 16, 8, carry_mh=True)
        assert banded.schema["band_key"].dataType.simpleString() == key_type, carry
        rows = banded.collect()
        assert len(rows) == 2 * 8
        for r in rows:
            assert list(r["_mh"]) == [fold(v) for v in by_id[r["_id"]]], carry


def test_ppjoin_prunes_exact_vs_bruteforce(spark):
    """jaccard_pairs (prefix + length + positional filters) == brute-force
    all-pairs Jaccard on a corpus engineered to stress the prunes: mixed set
    sizes (length filter boundaries), heavy token overlap (dense candidate
    mass), and tau at an exactly-representable boundary."""
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(120):
        size = rng.choice([3, 4, 5, 8, 12, 20])
        rows.append((i, sorted(rng.sample(vocab, size))))
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    tau = 0.5

    got = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in setsim.jaccard_pairs(df, "doc_id", "toks", tau)[0].collect()
    }

    want = {}
    for i, (ida, ta) in enumerate(rows):
        sa = set(ta)
        for idb, tb in rows[i + 1:]:
            sb = set(tb)
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= tau:
                want[(ida, idb)] = j

    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


def test_unionfind_active_subgraph_isolated_nodes(spark, both_uf_regimes):
    """r6: the union-find loop iterates only edge-endpoint nodes; isolated
    nodes must still come back self-labelled, and edge-only restriction must
    not change any cluster."""
    from tbdedup_spark.operators import unionfind

    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a_id long, b_id long",
    )
    out = both_uf_regimes(lambda: {
        r["doc_id"]: r["cluster_id"]
        for r in unionfind.connected_components(nodes, edges, id_col="doc_id").collect()
    })
    assert len(out) == 30
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == 10
    assert out[20] == out[21] == out[22] == 20
    for i in range(30):
        if i not in (1, 2, 3, 10, 11, 20, 21, 22):
            assert out[i] == i  # isolated: self-labelled


def test_unionfind_no_edges_all_isolated(spark, both_uf_regimes):
    """Zero edges: every node is its own cluster and the loop has nothing
    to iterate (the empty active set must not break the convergence probe).
    Run in a thread joined with a timeout: an observed moved-label count
    that never fires would otherwise wait forever."""
    from tbdedup_spark.operators import unionfind

    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    edges = spark.createDataFrame([], "a_id long, b_id long")
    got = []
    worker = threading.Thread(
        target=lambda: got.append(both_uf_regimes(lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in unionfind.connected_components(nodes, edges, id_col="doc_id").collect()
        })),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "the moved-label observation never fired"
    assert got == [{i: i for i in range(7)}]
