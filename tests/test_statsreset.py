"""Regression pin for the checkpoint stats-compounding bug.

``Dataset.localCheckpoint`` preserves the checkpointed plan's size estimate
in the new ``LogicalRDD`` leaf, and Catalyst's fallback join estimate is the
PRODUCT of child sizes — so an iterated checkpoint-of-self-join compounds
the estimate to ``O(m^k)`` bits after k rounds and the driver then spends
minutes multiplying BigIntegers inside stats-reading optimizer rules
(InjectRuntimeFilter / join selection / explain). Observed live: union-find
on a 400-node graph went from seconds to a >30-minute planning hang.

``plans.ckpt.local_checkpoint_fresh_stats`` resets the carried estimate at
each truncation. These tests pin (a) the raw mechanism, (b) that union-find
output plans stay estimate-bounded, and (c) that the fresh-stats checkpoint
is a drop-in (same rows, same schema).
"""

from pyspark.sql import functions as F

from tbdedup_spark.operators import unionfind
from tbdedup_spark.plans.ckpt import local_checkpoint_fresh_stats, plan_size_bits


def test_fresh_stats_checkpoint_resets_estimate(spark):
    """Three rounds of checkpoint(self-join³): plain compounds ~3x bits per
    round; fresh-stats stays flat at the 63-bit session default."""
    base = spark.createDataFrame([(i,) for i in range(64)], "id long")
    plain = base
    fresh = base
    plain_bits, fresh_bits = [], []
    for _ in range(3):
        pj = plain.alias("x").join(plain.alias("y"), "id").join(plain.alias("z"), "id")
        fj = fresh.alias("x").join(fresh.alias("y"), "id").join(fresh.alias("z"), "id")
        plain = pj.localCheckpoint()
        fresh = local_checkpoint_fresh_stats(fj)
        plain_bits.append(plan_size_bits(plain))
        fresh_bits.append(plan_size_bits(fresh))
    # plain: estimate carried through the leaf -> strictly compounding
    assert plain_bits[2] > plain_bits[1] > plain_bits[0]
    # fresh: flat, bounded by the 63-bit default
    assert fresh_bits == [fresh_bits[0]] * 3
    assert fresh_bits[0] <= 64
    # drop-in: identical data
    assert sorted(r.id for r in fresh.collect()) == sorted(r.id for r in plain.collect())


def test_fresh_stats_checkpoint_preserves_rows_and_schema(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k long, v string"
    ).repartition(4, "k")
    out = local_checkpoint_fresh_stats(df)
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_unionfind_plan_estimate_stays_bounded(spark, monkeypatch):
    """A chain graph drives several propagation rounds; the LABEL relation's
    size estimate must stay flat across iterations (the compounding channel
    ran through jumped.localCheckpoint -> next round's self-join)."""
    monkeypatch.setattr(unionfind, "LOCAL_FINISH_EDGES", 0)  # iterate, don't finish locally
    n = 96
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    labels = unionfind.connected_components(nodes, chain, id_col="doc_id")
    assert plan_size_bits(labels) < 256
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(n)}
