"""Per-stage dissection of the hot detector subtrees (round 6, guide §1).

Times each sub-DataFrame of the minhash subtree / union-find loop through the
noop sink so the expensive stage is attributable, not guessed. Numbers land in
OPTIMIZATION_r06.md. Not part of the frozen bench contract.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

import __spark_entry__ as em
from tbdedup_spark.functions import text
from tbdedup_spark.operators import minhash, substr, unionfind
from tbdedup_spark.session import get_spark


def t(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"{label:45s} {dt:8.2f}s", flush=True)
    return out


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("tbdedup_dissect_r06", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setJobDescription("dissect: warmup")
    spark.range(100000).select(F.md5(F.col("id").cast("string")).alias("x")).groupBy(
        F.substring("x", 1, 2)
    ).count().write.mode("overwrite").format("noop").save()

    d = em._t(spark, sf_dir, "documents")

    # --- minhash subtree --------------------------------------------------
    spark.sparkContext.setJobDescription("dissect: minhash sigs build")
    sigs = t(
        "sigs build (explode+md5+groupBy+ckpt)",
        lambda: minhash.minhash_signatures(
            d, "doc_id", "text", em.K, em.N_PERM, em.SEED, carry="hashes"
        ).localCheckpoint(),
    )
    banded = minhash.band_keys(sigs, em.N_PERM, em.N_BANDS)
    spark.sparkContext.setJobDescription("dissect: band self-join raw count")
    t("band self-join candidates (count)", lambda: print(
        "   candidates pre-dedup:",
        banded.select(F.col("_id").alias("a_id"), "band_idx", "band_key")
        .join(
            banded.select(F.col("_id").alias("b_id"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .count(),
    ))
    spark.sparkContext.setJobDescription("dissect: candidate_pairs + dedup")
    cand, _ = minhash.candidate_pairs(banded, max_bucket=None)
    cand = cand.localCheckpoint()
    print("   candidates post-dedup:", cand.count(), flush=True)
    spark.sparkContext.setJobDescription("dissect: est joins")
    n_perm = em.N_PERM
    mh_arr = F.array(*[F.col(f"mh{j}") for j in range(n_perm)])
    mhs = sigs.select("_id", mh_arr.alias("_mha"))
    est = (
        F.size(F.filter(F.zip_with("_va", "_vb", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_perm))
    )
    surv = (
        cand.join(mhs.select(F.col("_id").alias("a_id"), F.col("_mha").alias("_va")), "a_id")
        .join(mhs.select(F.col("_id").alias("b_id"), F.col("_mha").alias("_vb")), "b_id")
        .filter(est >= em.MIN_EQ / em.N_PERM)
        .select("a_id", "b_id")
    )
    surv = t("est prefilter joins (ckpt)", lambda: surv.localCheckpoint())
    print("   est survivors:", surv.count(), flush=True)
    spark.sparkContext.setJobDescription("dissect: hash-set verify")
    t("hash-set verify joins (noop)", lambda: noop(
        minhash.verify_jaccard(surv, sigs, em.TAU)
    ))

    # --- full query for reference ----------------------------------------
    spark.sparkContext.setJobDescription("dissect: full minhash query")
    t("FULL minhash_lsh_pairs (noop)", lambda: noop(em.queries()["minhash_lsh_pairs"](spark, sf_dir)))

    # --- substr subtree ---------------------------------------------------
    spark.sparkContext.setJobDescription("dissect: substr")
    t("FULL substr_containment_pairs (noop)", lambda: noop(
        substr.containment_pairs(d, "doc_id", "text", k=em.K)
    ))

    # --- union-find over the flagship edges -------------------------------
    spark.sparkContext.setJobDescription("dissect: detector edges")
    edges = t("detector edges (mh ∪ substr, ckpt)", lambda: em._detector_edges(spark, sf_dir).localCheckpoint())
    print("   edges:", edges.count(), flush=True)
    spark.sparkContext.setJobDescription("dissect: union-find")
    t("union-find connected_components (noop)", lambda: noop(
        unionfind.connected_components(d.select("doc_id"), edges, id_col="doc_id")
    ))

    spark.stop()


if __name__ == "__main__":
    main()
