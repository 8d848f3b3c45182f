"""The flagship pipeline: images → signatures → 4 detectors → union-find →
verified clusters, every stage checkpointed + lineage-logged.

Stage map (SURVEY §3 "our lifecycle"):

  A ingest/signatures   exact.signatures        (1 Python decode stage)
  B detector: exact     exact.exact_pairs       (1 shuffle on sig)
  C detector: minhash   minhash.minhash_pairs   (explode + groupBy + band join)
  D detector: simhash   simhash.simhash_pairs   (band join on phash)
  E detector: substr    substr.containment_pairs(index join + contains)
  F union of edges      unionByName + dropDuplicates
  G union-find          unionfind.connected_components (finished on the
                        driver below LOCAL_FINISH_EDGES edges)
  H verify + quarantine verify.check_members, split_verified and
                        attach_evidence (the only stage re-touching bytes)

Each stage writes a parquet table under the run's warehouse dir and a lineage
row; re-running the same config resumes after the last completed stage —
the generalization of the reference's plan documents
(tbdedup/combinatory/__init__.py:83-265), which recorded the same facts but
could not skip completed work.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import text
from ..operators import exact, minhash, simhash, substr, unionfind, verify
from ..sources.catalog import Catalog, config_run_id
from .partitioning import dropped_groups, dropped_rows

# the detector names pairs_all's rows carry, one per detector stage
DETECTORS = ("exact", "minhash", "simhash", "substr")


@dataclass(frozen=True)
class DedupConfig:
    """The reference config surface (tbdedup/cmd/__init__.py:37-188)
    generalized: hash_source picks canonical vs disk signature
    (--msg-hash-source, :71-77); the rest parameterize the detectors."""

    hash_source: str = "canonical"  # or "disk"
    # Resume is keyed by config_run_id(asdict(config)) ALONE — the input
    # DataFrame's identity is not (cheaply) observable, so re-running the
    # same config against a DIFFERENT corpus in the same warehouse would
    # silently resume the old corpus's committed stages (review catch). Set
    # dataset_id to name the input (a snapshot id, a path, a content stamp);
    # it participates in the run id, so a changed corpus gets fresh stages.
    # MIGRATION NOTE (ADVICE r5): adding this field changed asdict(config)
    # and therefore config_run_id for EVERY pre-existing config, including
    # the default "" — warehouses committed before the field existed will
    # not resume (their run dirs are orphaned, recompute is safe but full).
    # Removing minhash_salt_chunks (now partitioning.SALT_CHUNKS = 8) and
    # substr_winnow_w (always 1; the winnowing branch is gone) changed the
    # run id the same way: warehouses committed with those fields recompute.
    # So did removing minhash_salt_cap (salting is now the one rule of
    # partitioning.bucket_self_join) and raising minhash_max_bucket from 64
    # to 1024 (the same pair set: buckets up to 1024 were salted before).
    dataset_id: str = ""
    shingle_k: int = 5
    n_perm: int = 16
    n_bands: int = 8
    jaccard_tau: float = 0.6
    phash_bands: int = 8
    phash_max_hamming: int = 7
    minhash_max_bucket: int = 1024
    # estimated-Jaccard prefilter before the exact verify join (fraction of
    # equal minhash coords); ~tau/2 = 3+ sigma below tau at n_perm=16, so
    # true pairs pass w.p. ~1-1e-5 while collision junk (J ~ 0.05) dies.
    # CONTRACT NOTE: est_tau (with the crc32 hash + int32 hash-set carry
    # below) makes the pipeline's minhash detector probabilistic-recall,
    # unlike the oracle-exact query path (md5 hash60, a prefilter DuckDB
    # restates): a true pair drops w.p. ~1e-5 and crc32 collisions can
    # perturb scores near tau. Verified identical on the bench corpus;
    # minhash_est_tau=None removes the prefilter's share of that loss.
    minhash_est_tau: float | None = 0.3
    simhash_max_bucket: int = 1024
    # Containment-index knobs (operators/substr.py). The index shingle width
    # is INTERNAL to the detector (output identical for any k; docs shorter
    # than the machinery's reach take the brute broadcast path): longer
    # shingles are rarer, and rare probes are the whole game — measured on
    # the 75k-row bench corpus at 4 cores: k=5 36.6s, k=12+sample_mod=4
    # 10.8s, identical 12,278 pairs. sample_mod keeps only h%m==0
    # fingerprints (exact, containment-closed, ~m x smaller index);
    # positional winnowing measured +40s here for the same shrink.
    substr_index_k: int = 12
    substr_sample_mod: int = 8
    min_psnr_db: float = 40.0
    seed: int = 42


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    warehouse: str,
    config: DedupConfig = DedupConfig(),
) -> dict[str, DataFrame]:
    """Returns {signatures, pairs, checked, clusters, quarantine, lineage,
    metrics}."""
    cfg = asdict(config)
    cat = Catalog(spark, warehouse, config_run_id(cfg))

    # Repartition the narrow output before the commit: the signature relation
    # otherwise inherits the WIDE input's split count (one task per ~16 MB of
    # image bytes — 1000+ tiny files for a 300k-row corpus), which fragments
    # every downstream detector scan and the footer count. The shuffle moves
    # only the narrow columns (bytes never leave the decode stage).
    n_out = spark.sparkContext.defaultParallelism
    sigs_fresh = not cat.exists("signatures")
    sigs = cat.stage(
        "signatures",
        lambda: exact.signatures(
            images, include_canonical=(config.hash_source == "canonical")
        ).repartition(n_out),
        input_ref="images",
    )
    # Rows whose pixels failed to decode carry a per-row DECODE_ERROR
    # sentinel; they are quarantined BEFORE pair generation (the verify
    # contract: never dedup what cannot be verified) and excluded from every
    # detector. The analog of the reference skipping + preserving the record
    # on hash mismatch instead of writing it (tbdedup/dedup/__init__.py:142-151).
    _is_bad = F.col("sig").startswith("DECODE_ERROR:")
    sigs_ok = sigs.filter(~_is_bad)

    # Bookkeeping metrics run only when this invocation BUILT the stage —
    # on resume the rows already exist, and the append-only metrics table
    # would otherwise accumulate one duplicate set per re-launch (review
    # catch: consumers aggregating by (run_id, stage, key) would multi-count).
    if sigs_fresh:
        # O2 analog: sampled format inference — classify the source from the
        # first <=1000 rows only (Mailbox.detect_mbox_type samples <=1000
        # messages, tbdedup/mbox/mboxfile.py:62-119); full-scan format stats
        # at 10^12 rows would be a job of their own
        for row in images.limit(1000).groupBy("fmt").count().collect():
            cat.log_metric("signatures", f"fmt_sample_{row['fmt']}", row["count"])

        # O9 sanity pair — metrics, with the reference's divergence warning.
        # Only meaningful when BOTH hashes were computed: in disk mode
        # signatures() aliases disk_sig as sig, so the comparison would be
        # a column against itself and the warning could never fire (review
        # catch) — skip it rather than log a vacuously-agreeing pair.
        if config.hash_source == "canonical":
            sanity = exact.dual_hash_sanity(sigs).collect()[0]
            cat.log_metric("signatures", "unique_canonical", sanity.unique_canonical)
            cat.log_metric("signatures", "unique_disk", sanity.unique_disk)
            if sanity.counts_diverge:
                cat.log_metric("signatures", "dual_hash_counts_diverge", 1.0)

    def _log_dropped(stage, dropped):
        cat.log_metric(stage, "dropped_buckets", dropped_groups(dropped))
        cat.log_metric(stage, "dropped_rows", dropped_rows(dropped))

    def _mh():
        pairs, dropped = minhash.minhash_pairs(
            sigs_ok, "image_id", "caption",
            k=config.shingle_k, n_perm=config.n_perm, n_bands=config.n_bands,
            tau=config.jaccard_tau, seed=config.seed,
            max_bucket=config.minhash_max_bucket,
            hash_fn=text.hash32,  # throughput-grade; oracle queries pass md5
            est_tau=config.minhash_est_tau,
            # int sets, not strings/longs: the fat shuffle column, and the
            # bijective int32 fold keeps verify Jaccard exactly equal
            carry="hashes32",
        )
        _log_dropped("pairs_minhash", dropped)
        return pairs

    def _sh():
        pairs, dropped = simhash.simhash_pairs(
            sigs_ok, "image_id", "phash",
            max_hamming=config.phash_max_hamming, n_bands=config.phash_bands,
            max_bucket=config.simhash_max_bucket,
        )
        _log_dropped("pairs_simhash", dropped)
        return pairs

    def _sub():
        return substr.containment_pairs(
            sigs_ok, "image_id", "caption",
            k=config.substr_index_k, sample_mod=config.substr_sample_mod,
        )

    # The four detectors are independent consumers of the signatures table —
    # submit them CONCURRENTLY (Spark job submission is thread-safe; tasks
    # from in-flight jobs share the executors). Sequential stages leave the
    # cluster underutilized during each stage's shuffle barriers and task
    # tails — overlap fills those slots, and the effect grows with cluster
    # size (at N executors one detector may saturate the cores; at 4N it
    # cannot). Each stage still commits/resumes independently via Catalog.
    # 4-way measured best: 2-way serializes the small detectors behind the
    # two big ones (+28s at 4 executors); the contention cost of full overlap
    # is smaller than the tail-fill it buys.
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {
            "pairs_exact": pool.submit(
                cat.stage, "pairs_exact", lambda: exact.exact_pairs(sigs_ok), "signatures"
            ),
            "pairs_minhash": pool.submit(cat.stage, "pairs_minhash", _mh, "signatures"),
            "pairs_simhash": pool.submit(cat.stage, "pairs_simhash", _sh, "signatures"),
            "pairs_substr": pool.submit(cat.stage, "pairs_substr", _sub, "signatures"),
        }
        exact_p = futs["pairs_exact"].result()
        mh_p = futs["pairs_minhash"].result()
        sh_p = futs["pairs_simhash"].result()
        sub_p = futs["pairs_substr"].result()
    # barrier: every detector is committed, all live DataFrames are
    # parquet-backed — drop the detectors' pinned checkpoint blocks
    cat.release_cached()

    pairs_fresh = not cat.exists("pairs_all")
    # per-detector counts observed by the stage's own write, not a job
    per_detector = Observation()
    pairs = cat.stage(
        "pairs_all",
        lambda: exact_p.unionByName(mh_p).unionByName(sh_p).unionByName(sub_p)
        .dropDuplicates(["a_id", "b_id", "detector"])
        .observe(
            per_detector, *[F.count_if(F.col("detector") == d).alias(d) for d in DETECTORS]
        ),
        "pairs_*",
    )
    if pairs_fresh:  # resume-idempotent, like the signatures bookkeeping
        for detector, n in per_detector.get.items():
            if n:  # a detector with no pairs gets no row, as under a groupBy
                cat.log_metric("pairs_all", f"pairs_{detector}", n)

    clusters = cat.stage(
        "clusters",
        lambda: unionfind.with_representatives(
            unionfind.connected_components(
                sigs_ok.select("image_id"), pairs.select("a_id", "b_id"),
                catalog=cat,
            )
        ),
        "pairs_all",
    )

    cat.release_cached()  # union-find label checkpoints are committed

    # expensive invariant pass materialized once (PSNR decode UDF); the
    # verified/quarantine splits read its parquet, never re-decoding
    checked = cat.stage(
        "verify_checked",
        lambda: verify.check_members(clusters, images, sigs_ok, config.min_psnr_db),
        "clusters",
    )
    cat.release_cached()

    def _verify():
        ok, quarantined = verify.split_verified(clusters, checked)
        decode_bad = sigs.filter(_is_bad).select(
            "image_id",
            F.lit(None).cast("string").alias("cluster_id"),
            F.lit(None).cast("string").alias("rep_id"),
            F.lit("decode_error").alias("reason"),
            F.lit(None).cast("double").alias("psnr_db"),
            F.lit(None).cast("double").alias("cap_sim"),
        )
        allq = verify.attach_evidence(quarantined.unionByName(decode_bad), images)
        n_quarantined = cat.write(allq, "quarantine")
        cat.log_metric("verify", "quarantined", n_quarantined)
        return ok

    verified = cat.stage("clusters_verified", _verify, "verify_checked")

    return {
        "signatures": sigs,
        "pairs": pairs,
        "checked": checked,
        "clusters": verified,
        "quarantine": cat.read("quarantine") if cat.exists("quarantine") else None,
        "lineage": cat.lineage(),
        "metrics": cat.metrics(),
        "run_id": cat.run_id,
    }
