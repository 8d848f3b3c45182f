"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family (SURVEY.md §2 + the
training-data-pipeline extras) onto the driver's parquet tables;
``oracle_sql()`` holds the exactly-mirrored DuckDB SQL. The mirrors share all
constants (MinHash permutation coefficients, LSH projections, thresholds)
with the Spark side via ``tbdedup_spark.functions`` — both engines compute
md5-based hashes, so signatures, band keys, and scores match bit-for-bit.

The image-specific pipeline (canonical pixel signatures, pHash, PSNR verify)
is exercised by ``tests/`` on the synthetic FIXTURES corpus; here its text
analogs run on the ``documents`` table so the DuckDB oracle can check them.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tbdedup_spark.functions import text, vectors
from tbdedup_spark.functions.url import TRACKING_PARAM_RE as _TRACK_RE
from tbdedup_spark.functions.pii import EMAIL_RE as _PII_EMAIL
from tbdedup_spark.functions.pii import IPV4_RE as _PII_IPV4
from tbdedup_spark.functions.pii import PHONE_RE as _PII_PHONE
from tbdedup_spark.operators import (
    ann, asof, cdc, incremental, minhash, setsim, simhash, substr, unionfind,
)
from tbdedup_spark.plans.partitioning import fan_out_small_scan as _fan

# Landed-oracle staging namespace: queries that materialize intermediates
# for the DuckDB mirror stage them under /tmp keyed by THIS checkout's
# path, so two concurrent runs from different worktrees (the repo's A/B
# bench discipline) cannot clobber each other's oracle inputs. Computed
# once at import: static per process, so queries() and oracle_sql() agree.
import hashlib as _hashlib

_ORACLE_NS = _hashlib.md5(
    os.path.dirname(os.path.abspath(__file__)).encode()
).hexdigest()[:8]

# --- shared detector config (same constants on both engines) -----------------
K = 5            # shingle width
N_PERM = 16      # minhash permutations
N_BANDS = 8      # LSH bands (r = 2 rows/band)
TAU = 0.8        # jaccard verify threshold
MIN_EQ = 7       # est-Jaccard prefilter: keep a candidate only if >= 7 of the
# 16 minhash coords agree (est >= 7/16 = 0.4375, exactly representable, so
# the Spark float compare and the DuckDB integer count are the same
# predicate). The coords are already computed (they built the band keys), the
# filter is DETERMINISTIC, and the DuckDB mirror applies the identical count
# — so the oracle stays bit-exact while ~95% of bucket-collision junk dies
# before the fat set-intersection verify (measured 3.25M -> ~50k candidates
# at sf0.1). A true pair at J = TAU = 0.8 fails the filter with probability
# P[Binom(16, 0.8) <= 6] ~= 2e-4 — and identically on both engines.
SIM_W = 32       # text simhash width
SIM_BANDS = 4    # 8 bits/band
SIM_D = 3        # max hamming
NGRAM_TAU = 0.5  # token-set jaccard threshold
FP_K = 8         # fingerprint shingle width
ANN_K = 5
ANN_BITS = 16
EMB_DIM = 64
NEARDUP_TAU = 0.9   # embedding-cosine near-dup threshold
NEARDUP_HAM = 3     # signature hamming bound (detector contract)
NEARDUP_BANDS = 4   # pigeonhole: complete for hamming <= bands - 1
# scale-path variant: a 16-bit signature has only 4-bit band keys (16
# values) — buckets saturate quadratically as n grows (measured: the
# uncapped 16-bit query went 14x at 10x data, BENCH/BASELINE.md). The
# production shape widens the signature with corpus size AND caps buckets:
NEARDUP2_BITS = 32   # 8-bit band keys: 256 values/band
NEARDUP2_CAP = 256   # bucket cap — dropped, reported, oracle-MIRRORED
INC_NEW_MOD = 5      # tiered incremental dedup: doc_id % 5 == 0 is the "new
# batch", the rest is "history" — a deterministic 20/80 split both engines
# can state declaratively
BLOOM_BPK = 4        # tier-0 Bloom bits per history key — DELIBERATELY tight
# (production sizing is 10-16 bits/key for sub-percent FP; the operator
# default m is 2^20). At 4 bits/key the fill is 1-e^-1 = 63.2% and the FP
# rate ~16% AT EVERY SCALE (m grows with the corpus), so the contract query
# exercises — and the DuckDB oracle bit-checks — the false-positive algebra
# rather than comparing two all-false columns.
BLOOM_K = 4          # Bloom hash count
DSIR_B = 1024        # DSIR hashed-bigram feature buckets
DIH_HAM = 6          # dihedral near-dup: pHash Hamming radius (light
# perturbation on the planted rotated copies, same radius as audio_near_dups)
CDC_W = 16           # CDC fingerprint window (chars)
CDC_D = 64           # CDC boundary divisor — expected chunk ~64 chars at the
# test corpus's ~300-char docs (scaled-down analog of production 4-64 KB
# chunks); the rule is scale-free, only the constants are corpus-sized
IMG_TIER_HAM = 7     # image tiered dedup: pHash Hamming radius for the
# 'near' tier — the pipeline's phash_max_hamming (plans/pipeline.py:47), so
# batch verdicts are consistent with the corpus detector's
SEMDEDUP_K = 16      # SemDeDup codebook FLOOR (contract scale: 16 cells over
# 500 docs ~ the paper's cluster size). Above the floor K grows with the
# corpus — K = ceil(n / SEMDEDUP_CELL) — holding expected cell size constant
# so the within-cell join is O(n * cell), not O(n^2 / 16) (r5 curve fix).
SEMDEDUP_CELL = 512  # target rows per k-means cell for the auto-K regime
SEMDEDUP_TAU = 0.9   # within-cell cosine prune threshold (= NEARDUP_TAU)
PARA_W = 20          # pseudo-paragraph width (tokens) for paragraph-level dedup
SAMPLE_BP = {        # stratified-sampling keep rates in basis points (1/10000)
    "en": 5000, "zh": 3000, "es": 2500, "de": 2000, "fr": 1000,
}
SAMPLE_BP_DEFAULT = 500
QF_MIN_TOKENS = 16   # quality filter chain: rule thresholds (first-fail order
QF_MAX_TOKENS = 2000  # too_short, too_long, short_tokens, long_tokens,
QF_MEAN_TOK_MIN = 3.0  # punct_heavy, low_stopword — see
QF_MEAN_TOK_MAX = 10.0  # functions/text.py:quality_filter_reason)
QF_MAX_PUNCT = 0.2
QF_MIN_STOPWORD = 0.04
QUOTA_K = 100        # per-domain quota: expected docs kept per hot domain
PACK_SEQ_LEN = 512   # sequence packing: tokens per training sequence
PACK_SHARDS = 8      # independent packing streams (data-parallel readers)
VALID_BP = 1000      # leakage-safe split: basis points routed to validation
MIX_SHARDS = 8       # token-budget mix: shards of the two-phase prefix sum
MIX_BUDGET = {       # token-budget mix: per-language token budgets
    "en": 10000, "zh": 6000, "es": 6000,
}
MIX_BUDGET_DEFAULT = 4000
CM_D = 4             # count-min sketch: hash rows
CM_W = 16            # count-min sketch: counters per row — DELIBERATELY tight
# for the synthetic corpus's 31-token vocabulary (production sizing is
# w = ceil(e/eps)): with ~2 tokens/bucket per row, some rows collide and
# some don't, so at sf0.01 the probed top-20 shows BOTH exact estimates
# and positive overcounts — the min-over-rows algebra is exercised on
# non-trivial data rather than comparing equal columns (same philosophy
# as BLOOM_BPK's ~16% FP rate)
CM_TOPK = 20         # heavy hitters probed against ground truth
KMV_K = 64           # bottom-k distinct sketch: retained minimum hashes
KMV_MAX = 1 << 60    # hash60's range — the estimator's normalizing constant
ED_MAX = 16          # edit-distance dedup: Levenshtein verify threshold
ED_Q = 12            # edit-distance dedup: anchor q-gram width
ED_MOD = 8           # edit-distance dedup: hash60(gram) % ED_MOD == 0 sampling
ED_CAP = 256         # edit-distance dedup: hot-anchor doc-frequency cap
CROP_MIN_SHARED = 2  # crop near-dup: shared patch-hash threshold (planted
# crops retain >= 3 interior keypoint patches; cross-image collisions are 0
# on the synth corpus — tests/test_round5c.py)
CROP_CAP = 256       # crop near-dup: hot patch-hash bucket cap
SEED = 42
P = text.MERSENNE_P
COEF = text.perm_coeffs(N_PERM, SEED)
PROJ = vectors.seeded_projections(ANN_BITS, EMB_DIM, SEED)
PROJ2 = vectors.seeded_projections(NEARDUP2_BITS, EMB_DIM, SEED)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _cleanup_at_exit(path: str) -> None:
    """Reclaim a per-query temp dir when the driver process exits (it can't
    be removed earlier: the query's returned DataFrame reads from it)."""
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)


# =============================================================================
# Spark-side queries
# =============================================================================


def _q_exact_dedup(spark, sf_dir):
    """O4/O8/O10/O11: signature groups + min-id representative (the tbdedup
    core: hash → group → take-first, made deterministic)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.norm_text("text").alias("norm")
    )
    return (
        d.select(F.sha2(F.encode("norm", "utf-8"), 256).alias("sig"), "doc_id")
        .groupBy("sig")
        .agg(F.min("doc_id").alias("representative_id"), F.count(F.lit(1)).alias("group_size"))
    )


def _q_dual_hash_sanity(spark, sf_dir):
    """O9: the canonical-vs-raw distinct-count sanity pair
    (tbdedup/dedup/__init__.py:120-123)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.sha2(F.encode(text.norm_text("text"), "utf-8"), 256).alias("c"),
        F.sha2(F.encode("text", "utf-8"), 256).alias("r"),
    ).agg(
        F.count_distinct("c").alias("unique_canonical"),
        F.count_distinct("r").alias("unique_disk"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _minhash_pairs_df(spark, sf_dir):
    """Detector 1 subtree, PRODUCTION-SHAPED and oracle-mirrored end to end.

    Round-5 rework of the two costs the round-4 plan audit flagged as "the
    oracle-exact md5 path":

    * ``carry="hashes"`` — the verify Jaccard runs over each doc's DISTINCT
      hash60 values (array<long>) instead of the shingle strings. DuckDB
      computes the SAME md5-derived hashes, so the score is bit-identical BY
      CONSTRUCTION even in the (astronomically unlikely, ~|union|^2/2^61 per
      pair) event of a hash collision — both engines would collide the same
      way. Long arrays intersect ~4x cheaper than UTF8 shingle arrays and
      halve the verify join's shuffle bytes.
    * ``est_tau=MIN_EQ/N_PERM`` — the estimated-Jaccard prefilter (fraction
      of equal minhash coords, an unbiased J estimator that is FREE — the
      coords already exist for banding) kills bucket-collision junk before
      the set-intersection verify; the DuckDB mirror applies the identical
      integer coord-equality count, so dropped pairs drop on both engines.

    Together: the fat array join sees ~50k survivors instead of 3.25M
    candidates at sf0.1 (and the candidate relation itself never carries
    arrays). The uncapped band join stays the oracle-scale config;
    plans/pipeline.py remains the capped/salted 100-TB path. The est
    prefilter runs INSIDE the band self-join over the raw coords the oracle
    grade carries, so junk dies before the candidate dropDuplicates
    exchange (measured 3.25M -> 388k rows into it; plan 6 joins -> 4)."""
    d = _t(spark, sf_dir, "documents")
    return minhash.minhash_pairs(
        d, "doc_id", "text", K, N_PERM, N_BANDS, TAU, SEED,
        max_bucket=None, est_tau=MIN_EQ / N_PERM,
    )[0]


def _q_minhash(spark, sf_dir):
    """Shingle-MinHash + LSH banding near-dup pairs over documents
    (operators/minhash.py): oracle-grade md5 hashing, estimated-Jaccard
    band prefilter, exact hash-set Jaccard verify."""
    return _minhash_pairs_df(spark, sf_dir).select(
        "a_id", "b_id", "detector", F.round("score", 6).alias("score")
    )


def _q_simhash(spark, sf_dir):
    """Text SimHash + pigeonhole banded Hamming pairs over documents
    (operators/simhash.py): zero-UDF signature build, bit_count verify."""
    d = _t(spark, sf_dir, "documents")
    sh = simhash.text_simhash(d, "doc_id", "text", SIM_W)
    pairs, _ = simhash.simhash_pairs(
        sh, "_id", "simhash", max_hamming=SIM_D, n_bands=SIM_BANDS,
        width=SIM_W, max_bucket=None,
        # text_simhash's explode+groupBy is the expensive upstream and the
        # band self-join consumes it twice without exchange reuse — one
        # narrow materialization beats the double aggregation (measured 3x)
        checkpoint=True,
    )
    return pairs.select("a_id", "b_id", "detector", F.round("score", 6).alias("score"))


def _substr_pairs_df(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return substr.containment_pairs(d, "doc_id", "text", k=K)


def _q_substr(spark, sf_dir):
    """Full-string containment pairs over documents (operators/substr.py):
    rarest-fingerprint probe vs mod-sampled inverted index, contains()
    verify — complete and precise by construction."""
    return _substr_pairs_df(spark, sf_dir)


def _detector_edges(spark, sf_dir):
    """The flagship edge set: minhash ∪ substring detector pairs, deduped.

    The two detector subtrees are CONSTRUCTED on concurrent threads: each
    eagerly materializes its signature/index checkpoints at build time, so
    sequential construction would serialize those jobs even though Spark
    could overlap them (job submission is thread-safe — the same pattern as
    plans/pipeline.py's detector stages). Shared by dedup_clusters and
    incremental_cluster_update so both cluster over the SAME edge
    definition their oracles' common clusters CTE mirrors."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        mh_f = pool.submit(_minhash_pairs_df, spark, sf_dir)
        sub_f = pool.submit(_substr_pairs_df, spark, sf_dir)
        mh, sub = mh_f.result(), sub_f.result()
    return (
        mh.select("a_id", "b_id")
        .unionByName(sub.select("a_id", "b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def _q_clusters(spark, sf_dir):
    """Flagship: union of detector edges → distributed union-find →
    (doc_id, cluster_id). Edge construction (and its concurrent-thread
    rationale) lives in _detector_edges."""
    d = _t(spark, sf_dir, "documents")
    edges = _detector_edges(spark, sf_dir)
    return unionfind.connected_components(d.select("doc_id"), edges, id_col="doc_id")


def _q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/validation split — route documents by the hash of
    their NEAR-DUP CLUSTER id, not their own id, so no near-duplicate pair
    can straddle the split (the standard eval-contamination failure of
    doc-hash splits: the val copy of a near-dup leaks its train twin's
    content; cf. the decontamination queries, which handle the cross-corpus
    case). Same-split-per-cluster is STRUCTURAL here — split is a function
    of cluster_id — so the guarantee needs no verification pass at 10^12
    rows.

    Plan: the flagship dedup_clusters subtree (concurrent detectors →
    union-find) plus ONE codegen projection — the split decision adds zero
    shuffles, zero Python. The hash predicate (not df.randomSplit) keeps
    the split reproducible across engines, runs, and partitionings, and
    membership is decidable per-row from cluster_id alone (a new corpus
    snapshot re-splits consistently for unchanged clusters).

    Reference analog: the dedup writer routing all messages of one
    signature group to one output artifact
    (/root/reference/tbdedup/dedup/__init__.py:140-157) — the group, not
    the message, decides the destination."""
    cl = _q_clusters(spark, sf_dir)
    h = text.hash60(F.concat(F.lit("split:"), F.col("cluster_id").cast("string")))
    return cl.select(
        "doc_id",
        "cluster_id",
        F.when(h % 10000 < VALID_BP, F.lit("valid"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# recall probe: contiguous id block brute-forced exactly. Constant-size by
# design — the quadratic is RECALL_BLOCK^2/2 comparisons regardless of SF.
RECALL_BLOCK = 400


def _q_minhash_recall_block(spark, sf_dir):
    """Detector-recall MEASUREMENT by block sampling — the north rule's
    "dup-pair recall >= 0.99" turned from a one-off test into an executable,
    oracle-mirrored query a pipeline can run continuously.

    Ground truth: within a constant-size contiguous id block, brute-force
    ALL pairs with the exact similarity the detector's verify stage itself
    uses (Jaccard over each doc's distinct shingle-hash60 set, >= TAU) —
    ~RECALL_BLOCK^2/2 comparisons, constant at any corpus scale, the shape
    you'd sample per-partition at 10^12 rows. Detected: the production
    minhash detector's full output restricted to the block. The verify
    stage makes the detector's precision 1 by construction (every emitted
    pair passed the exact-Jaccard check), so recall = n_detected / n_true;
    what recall measures is banding misses (a true pair whose signature
    never collides in any band) plus est-prefilter misses — the two
    probabilistic stages. DuckDB restates BOTH sides (brute truth and the
    full banded detector), so the measured recall itself is oracle-checked.

    Reference analog: the reference's dedup is exact-hash only, so its
    recall is 1 by definition (/root/reference/tbdedup/dedup/
    __init__.py:120-157); this query is what the guarantee becomes when the
    detector is probabilistic."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < RECALL_BLOCK)
    ex = minhash.exploded_shingles(d, "doc_id", "text", K)
    hs = (
        ex.withColumn("_h", text.hash60("_sh"))
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("hs"))
    )
    a = hs.select(F.col("_id").alias("a_id"), F.col("hs").alias("ha"))
    b = hs.select(F.col("_id").alias("b_id"), F.col("hs").alias("hb"))
    jac = F.size(F.array_intersect("ha", "hb")) / F.size(F.array_union("ha", "hb"))
    n_true = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .where(jac >= TAU)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_det = (
        _minhash_pairs_df(spark, sf_dir)
        .where((F.col("a_id") < RECALL_BLOCK) & (F.col("b_id") < RECALL_BLOCK))
        .agg(F.count(F.lit(1)).alias("n_detected"))
    )
    return n_true.crossJoin(n_det).select(
        "n_true",
        "n_detected",
        F.round(
            F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
                F.col("n_detected").cast("double") / F.col("n_true")
            ),
            6,
        ).alias("recall"),
    )


def _q_incremental_cluster_update(spark, sf_dir):
    """Day-2 dedup: yesterday's cluster labels + today's batch, merged by
    operators/unionfind.incremental_components — union-find runs only on the
    CONTRACTED batch-scale graph (history clusters collapse to one super-node
    each; history is scanned map-side twice, never shuffled, never
    re-iterated). The deterministic split is doc_id % 10 == 0 -> today's
    batch; edges come from the same two detectors as dedup_clusters and are
    routed by the same mod rule (both-endpoints-history edges belong to
    yesterday's run; anything touching a batch doc arrives today).

    The oracle is the strongest form this repo has: DuckDB recomputes the
    FULL corpus clusters from scratch (the dedup_clusters CTE verbatim), so
    the green row proves incremental == full recompute — the contraction
    argument in incremental_components' docstring, machine-checked.

    Reference analog: the reference re-runs its entire hash->group pass per
    invocation (/root/reference/tbdedup/dedup/__init__.py:100-157); this is
    what its per-location reruns want to be at 10^12 rows."""
    d = _t(spark, sf_dir, "documents")
    edges = _detector_edges(spark, sf_dir)
    hist_nodes = d.select("doc_id").where(F.col("doc_id") % 10 != 0)
    batch_nodes = d.select("doc_id").where(F.col("doc_id") % 10 == 0)
    hist_edges = edges.where((F.col("a_id") % 10 != 0) & (F.col("b_id") % 10 != 0))
    new_edges = edges.where((F.col("a_id") % 10 == 0) | (F.col("b_id") % 10 == 0))
    hist = unionfind.connected_components(hist_nodes, hist_edges, id_col="doc_id")
    return unionfind.incremental_components(
        hist, batch_nodes, new_edges, id_col="doc_id"
    )


def _q_soft_dedup_weights(spark, sf_dir):
    """SOFT dedup: downweight duplicates instead of dropping them — each
    document gets sampling weight 1/|its near-dup cluster|, so every cluster
    contributes ~one document in expectation under weighted sampling while
    no individual copy (and none of its unique content) is discarded. The
    public idea is the soft-deduplication / data-reweighting framing
    (SoftDeDup, 2024) and the sampled-dedup appendix recipes of Gopher and
    CCNet; here it is the natural counterpart to the reference's hard
    first-record-wins rule (/root/reference/tbdedup/dedup/__init__.py:140-157)
    — same groups, a weight instead of a drop.

    Plan: the flagship dedup_clusters subtree (its labels relation is
    localCheckpoint-backed, so the two consumers below do NOT re-run the
    detectors) + ONE groupBy(cluster_id) count + ONE equi-join back on
    cluster_id. The join is groupBy+join, not a count-over-window, so a
    10^9-member pathological cluster is a shuffle skew AQE can split, not a
    single window task that must hold the whole cluster. The size side of
    the join is one row per CLUSTER (~#docs at worst, tiny after dedup), and
    the join key's Exchange is shared with the aggregate's."""
    cl = _q_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cl.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("soft_weight"),
    )


def _q_cluster_quality_reps(spark, sf_dir):
    """Representative selection by QUALITY, not arrival order: per near-dup
    cluster keep the member with the longest normalized text (ties -> min
    doc_id) — the production rule when duplicates differ in truncation or
    boilerplate and "first seen" would keep the worst copy. Contrast with
    exact_dedup_representatives' min-id rule, which mirrors the reference's
    first-record-wins (/root/reference/tbdedup/dedup/__init__.py:140-157).

    Plan: clusters subtree -> join document lengths on doc_id (reuses the
    labels relation's doc_id partitioning; lengths are a codegen projection
    over the scan) -> ONE groupBy(cluster_id) where the arg-max is a single
    max(struct(n_chars_norm, -doc_id)) aggregate: struct ordering gives
    max-length-then-min-id in one pass — no window over the corpus, no
    second join-back, deterministic by the total order on (len, id)."""
    cl = _q_clusters(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(text.norm_text("text")).cast("long").alias("n_chars_norm"),
    )
    j = cl.join(d, "doc_id")
    agg = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("n_chars_norm"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("best"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("best.neg_id")).cast("long").alias("representative_id"),
        F.col("best.n_chars_norm").alias("rep_n_chars"),
        "cluster_size",
    )


def _q_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard within lang blocks — prefix-filtered
    similarity join (operators/setsim.py), NOT the quadratic within-block
    all-pairs join: candidates come only from shared rare-prefix tokens and
    are then exactly verified, so the result is identical to the brute-force
    oracle while the shuffle stays near-linear."""
    # fan-out: normalize+split+distinct per row, then the token explode and
    # per-doc rank window downstream (plans/partitioning.py; no-op at scale)
    d = _fan(_t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.array_distinct(F.split(text.norm_text("text"), " ")).alias("toks"),
    ))
    pairs, _dropped = setsim.jaccard_pairs(
        d, "doc_id", "toks", NGRAM_TAU, block_cols=("lang",),
        # checkpoint=False (re-confirmed at BOTH scale points, r6): the
        # eager prefix materialization costs ~2.6s/run at sf1 (600k-row
        # checkpoint write) and buys nothing warm — A/B at sf1: 23.7s
        # uncheckpointed vs 26.3s checkpointed, equal at sf0.1 warm. The
        # one cost of the duplicated prefix subtree is a first-execution
        # double codegen compile, which the bench's median-of-trials
        # already absorbs (r4's ~5% finding stands).
        checkpoint=False,
    )
    return pairs.select("a_id", "b_id", F.round("score", 6).alias("score"))


def _q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish token counts per document (functions/text.py) —
    pure codegen expressions, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens_ws"),
        text.bpe_ish_token_count("text").alias("n_tokens_bpe"),
    )


def _q_quality(spark, sf_dir):
    """Per-document quality features (length/token/punct/stopword ratios,
    functions/text.py) — the raw signals the filter chain thresholds."""
    # fan-out + Generate barrier: normalize once per row; all five features
    # then reference the attribute (plans/partitioning.py + the crawl-plan
    # inlining lesson)
    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    b = d.select("doc_id", F.explode(F.array(text.norm_text("text"))).alias("_n"))
    feats = text.quality_features("_n", normalized=True)
    return b.select(
        "doc_id",
        feats["n_chars_norm"].alias("n_chars_norm"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 6).alias("mean_token_len"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
    )


def _q_lang_id(spark, sf_dir):
    """N-gram-heuristic language ID per document (functions/text.py) —
    stopword/character-class scores, pure expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id_heuristic("text").alias("lang_guess"))


def _q_fingerprint(spark, sf_dir):
    """Bottom-1 sketch via explode+groupBy — NOT the array-transform form:
    projection collapse would re-evaluate lower+regexp once per shingle
    (see minhash.exploded_shingles)."""
    d = _t(spark, sf_dir, "documents")
    ex = minhash.exploded_shingles(d, "doc_id", "text", FP_K)
    return (
        ex.withColumn("_h", text.hash60("_sh"))
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(F.min("_h").alias("fp"))
    )


# documented saturation bound for the 16-bit uncapped variant: 4-bit band
# keys have 16 values, so by ~20k rows the mean bucket exceeds the capped
# variant's whole cap and the self-join is deep into its quadratic regime
# (measured 14x time at 10x data from 5k rows, BENCH/BASELINE.md round 4)
NEARDUP_UNCAPPED_MAX_ROWS = 20_000


def _q_embedding_neardup(spark, sf_dir):
    """Fifth dedup detector: embedding-cosine near-dup over documents —
    the ORACLE-SCALE variant only. DO NOT use this shape in production:
    the 16-bit signature's 4-bit band keys (16 values) saturate quadratically
    as the corpus grows (measured 14x time at 10x data, BENCH/BASELINE.md);
    ``embedding_neardup_capped`` (32-bit signature + oracle-mirrored bucket
    cap) is the production path and the one the bench tracks. A row-count
    guard makes misuse loud: above NEARDUP_UNCAPPED_MAX_ROWS this query
    RAISES instead of melting (tests/test_round5.py).

    The embedding is a deterministic 64-dim feature-hashed bag-of-words of
    the document text (dimension = token-hash % 64, value = count) — computed
    identically in both engines, so the oracle is exact. One explode + one
    64-way conditional-sum groupBy builds embeddings; ann.neardup_pairs bands
    a 16-bit hyperplane signature (pigeonhole-complete for hamming <= 3) and
    verifies cosine >= tau inside buckets only — never all-pairs."""
    emb = _doc_embeddings(spark, sf_dir)
    return ann.neardup_pairs(
        emb, "doc_id", "emb", tau=NEARDUP_TAU,
        n_bits=ANN_BITS, dim=EMB_DIM, seed=SEED,
        max_hamming=NEARDUP_HAM, n_bands=NEARDUP_BANDS, max_bucket=None,
        uncapped_max_rows=NEARDUP_UNCAPPED_MAX_ROWS,
    )


def _doc_embeddings(spark, sf_dir):
    # fan-out: the per-token md5 + 64-way conditional-sum partial aggregate
    # must not run at a single-split scan's parallelism (plans/partitioning.py)
    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select(
        "doc_id", F.explode(F.split(text.norm_text("text"), " ")).alias("_tok")
    ).withColumn("_h", text.hash60("_tok"))
    return (
        toks.groupBy("doc_id")
        .agg(*text.hashed_bow_sums("_h", EMB_DIM))
        .select("doc_id", text.hashed_bow_assemble(EMB_DIM).alias("emb"))
    )


DECONTAM_PROBES = ("slow hash batch", "part filter scan", "window fast query")


def _q_ngram_topk(spark, sf_dir):
    """Global word-3-gram frequency, top-20 — the n-gram-statistics primitive
    of a training-data pipeline (LM contamination studies, corpus stats).
    One explode + one count groupBy (map-side combined) + a 20-row
    TakeOrdered; ties broken by the gram text so the result is total-ordered."""
    # fan-out: 3-gram transform + explode per row (plans/partitioning.py)
    d = _fan(
        _t(spark, sf_dir, "documents").select(
            F.split(text.norm_text("text"), " ").alias("toks")
        ).filter(F.size("toks") >= 3)
    )
    grams = d.select(
        F.explode(
            F.expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))")
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


SNAP_ORACLE_DIR = f"/tmp/tbdedup_snap_oracle_{_ORACLE_NS}"  # per-checkout (see _ORACLE_NS)


def _q_snapshot_diff_dedup(spark, sf_dir):
    """Incremental dedup as SNAPSHOT DIFF on the versioned catalog — the
    storage-side half of the tier story: the history table the tiered
    queries probe must ADVANCE one atomic commit per ingested batch, and
    "what is genuinely new in the latest commit?" must be answerable
    against any historical snapshot. The query commits snapshot 1 (docs
    with doc_id % INC_NEW_MOD != 0 — the tiered queries' history split)
    and snapshot 2 (the full corpus) of a (doc_id, sig) table through
    the Catalog, then anti-joins current against the
    TIME-TRAVEL READ of snapshot 1 by canonical signature: the rows whose
    content entered the corpus in commit 2. Exact-dup re-ingests (same
    sig, new doc_id) are correctly absent.

    ORACLE: both snapshots are plain parquet under the committed snap-N
    dirs (the manifest-swap commit is the landed non-SQL step), so DuckDB
    re-derives the same anti join from the same files. Reference analog:
    the dedup writer's skip-already-written-hashes rule
    (/root/reference/tbdedup/dedup/__init__.py:137-161) expressed against
    a snapshot store instead of an in-run set."""
    import shutil

    from tbdedup_spark.sources.catalog import Catalog

    shutil.rmtree(SNAP_ORACLE_DIR, ignore_errors=True)  # deterministic re-runs
    cat = Catalog(spark, SNAP_ORACLE_DIR, "run_snap")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(text.norm_text("text"), 256).alias("sig")
    )
    cat.write(d.filter(F.col("doc_id") % INC_NEW_MOD != 0), "docs")  # snap 1
    cat.write(d, "docs")                                             # snap 2
    cur = cat.read("docs")
    hist = cat.read("docs", snapshot_id=1)
    return cur.join(hist.select("sig"), "sig", "left_anti").select("doc_id", "sig")


def _q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (functions/pii.py) — the privacy-scrub
    pass production pipelines run FIRST. The synthetic corpus is word
    salad with no PII, so the query plants deterministic PII the same way
    bloom/count-min keep their error algebra non-trivial: docs with
    doc_id % 7 == 0 gain an email, % 5 == 0 a phone, % 3 == 0 an IPv4 —
    all constructed from doc_id by expressions BOTH engines state
    identically, so the probed output shows every count in {0, 1} and
    mixed placeholder layouts rather than comparing all-zero columns.
    Counts + the fully redacted text are the compared values; regex
    parity (Java vs RE2) is pinned by the ASCII-only constructs in
    functions/pii.py and a planted pytest. Zero shuffles: one codegen
    projection over the scan."""
    from tbdedup_spark.functions import pii

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-123-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.pii_profile(planted, "doc_id", "text")


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169):
    score every document by how target-like its hashed-bigram profile is —
    the importance-resampling primitive for steering a 100-TB crawl toward
    a target distribution. Features: word bigrams of the normalized text
    hashed to DSIR_B buckets (hash60 — oracle-grade); target = lang='en'
    docs, raw = whole corpus; per-doc log-weight = sum over the doc's
    bigram instances of ln(p_f / q_f) with Laplace(+1) smoothing over the
    B-bucket distributions. Scale shape: one explode (linear in tokens),
    ONE tiny groupBy(bucket) whose map-side partial collapses to <= DSIR_B
    rows per task, the B-row smoothed log-ratio table BROADCAST back onto
    the instance stream, and a per-doc sum — the only corpus-sized shuffle
    is the final groupBy(doc_id). Docs with < 2 words get weight 0.0 via
    the left join. Reference analog: the planner's regex include/exclude
    predicate (tbdedup/planner/plan.py:96-102) generalized from a boolean
    gate to a learned continuous score."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(text.norm_text("text"), " ")
    # NO fan-out (r6, A/B-measured): the gram relation is localCheckpointed
    # right below, and the repartition + 32-task checkpoint write cost more
    # warm (~1.55s) than the single-split explode+md5 they parallelize
    # (~1.37s) — the explode is one cheap md5 per bigram, not per char.
    base = d.select("doc_id", "lang", ws.alias("_ws")).filter(F.size("_ws") >= 2)
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_ws) - 1),"
                " i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"
            )
        ).alias("_g"),
    ).select("doc_id", "lang", (text.hash60(F.col("_g")) % DSIR_B).alias("_f"))
    # the gram relation (narrow: id, lang, int bucket) feeds BOTH the feature
    # counts and the per-doc sum, and Spark re-derives it — including the
    # per-bigram md5 — from a second scan without this materialization
    # (same audit finding as cdc_chunk_dedup, BENCH/PLANS.md)
    grams = grams.localCheckpoint()
    feat = grams.groupBy("_f").agg(
        F.count(F.lit(1)).alias("_q"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("_t"),
    )
    tot = feat.agg(
        F.sum("_q").alias("_tq"), F.sum("_t").alias("_tt")
    )
    # The per-bucket log-ratio is quantized to FIXED-POINT micro-nats
    # before the per-doc sum: an unrounded double sum of ln() terms is the
    # one value in the contract that is not exact-by-construction across
    # engines (JVM Math.log vs DuckDB libm can differ in the last ulp, and
    # float summation is order-dependent) — summing int64 micro-nats is
    # order-independent and exact, and the boundary risk collapses from
    # per-sum to per-bucket (<= DSIR_B roundings of ~1e-10 exposure each).
    lr = feat.crossJoin(F.broadcast(tot)).select(
        "_f",
        F.round(
            (
                F.log((F.col("_t") + 1) / (F.col("_tt") + DSIR_B))
                - F.log((F.col("_q") + 1) / (F.col("_tq") + DSIR_B))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("_lr"),
    )
    per_doc = (
        grams.join(F.broadcast(lr), "_f")
        .groupBy("doc_id")
        .agg(F.sum("_lr").alias("_w"))
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("_w", F.lit(0)) / F.lit(1_000_000.0)).alias("dsir_logw"),
        )
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark-decontamination primitive: which documents contain any of a
    (small) probe-phrase set as a substring — the test-set-overlap check
    every LLM data pipeline runs before training. ZERO-shuffle plan: the
    probe array is a literal and a higher-order `filter` counts matches
    per row in codegen (no explode amplification, no groupBy — at 10^12
    rows this is a pure map over the scan; probes are distinct so the
    match count IS the distinct-hit count)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.norm_text("text").alias("norm")
    )
    probes = F.array(*[F.lit(p) for p in DECONTAM_PROBES])
    n_hits = F.size(F.filter(probes, lambda p: F.contains(F.col("norm"), p)))
    return (
        d.select("doc_id", n_hits.cast("long").alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


# decontamination probe-table config: one held-out source plays the
# benchmark test set; its distinct word-3-grams are the probe relation
DECONTAM_HOLDOUT = "src19"
DECONTAM_N = 3


def _word_ngrams(toks_col: str, n: int):
    """array<string> of word n-grams over an array-of-tokens column."""
    return F.expr(
        f"transform(sequence(1, size({toks_col}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks_col}, i, {n})))"
    )


def _q_decontaminate_ngram_join(spark, sf_dir):
    """Benchmark decontamination against a probe TABLE — the generalization
    of ``decontaminate_overlap``'s 3-literal array to a relation of thousands
    of n-grams, the shape that actually runs against a held-out test set at
    100 TB (VERDICT r4 task 3; reference analog: the planner's regex
    predicate generalized to a relation, tbdedup/planner/plan.py:96-102).

    The held-out source's documents ARE the test set; their distinct word-
    3-grams form the probe relation. Each training document reports how many
    DISTINCT probe n-grams it contains. Plan shape: explode both sides to
    word 3-grams, distinct, then a BROADCAST equi-join on the gram (the probe
    side is a benchmark test set — millions of grams at worst, broadcastable
    by construction; were it not, the same plan minus the broadcast hint is a
    bucketed shuffle equi-join) and one count groupBy per doc. No substring
    scan, no quadratic anything: cost is linear in corpus tokens."""
    # fan-out: the n-gram explode + concat_ws per gram runs at scan
    # parallelism (plans/partitioning.py; no-op at scale)
    d = _fan(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", F.split(text.norm_text("text"), " ").alias("toks")
        ).filter(F.size("toks") >= DECONTAM_N)
    )
    grams = lambda df: df.select(
        "doc_id", F.explode(_word_ngrams("toks", DECONTAM_N)).alias("gram")
    )
    probe = grams(d.filter(F.col("source") == DECONTAM_HOLDOUT)).select("gram").distinct()
    train = grams(d.filter(F.col("source") != DECONTAM_HOLDOUT)).dropDuplicates(
        ["doc_id", "gram"]
    )
    return (
        train.join(F.broadcast(probe), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _q_hapax_counts(spark, sf_dir):
    """Per-document count of hapax tokens (tokens appearing in exactly ONE
    document corpus-wide) — the rare-token profile used for quality/
    memorization analysis. Two groupBys over the distinct (doc, token)
    relation; docs with zero hapaxes included via left join + coalesce."""
    d = _t(spark, sf_dir, "documents")
    # NO fan-out (r6, measured 0.5s -> 0.9s with it): `ex` feeds two
    # consumers (the hapax df-filter and the per-doc join), each re-paying
    # the repartition; the explode itself is hash-free and cheap.
    ex = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(text.norm_text("text"), " "))).alias("tok")
    )
    hapax = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") == 1)
    per_doc = (
        ex.join(hapax.select("tok"), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hapax"))
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select("doc_id", F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"))
    )


# winnowing config: char k-gram width and window size (Schleimer et al.'s
# guarantee: every substring match of length >= WINNOW_K + WINNOW_W - 1
# shares at least one selected fingerprint)
WINNOW_K = 7
WINNOW_W = 4
from tbdedup_spark.operators.winnow import POS_ENC as _POS_ENC  # noqa: E402


def _q_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): slide a WINNOW_W-wide window over
    the char-WINNOW_K-gram hashes of each normalized document and keep the
    window minimum (rightmost on ties); the selected (position, hash) set
    is a ~2/(W+1)-density sketch with the guarantee that any substring
    match of length >= K + W - 1 between two documents shares a
    fingerprint. The local-copy-detection primitive between exact hashing
    (misses edits) and MinHash (loses positions).

    Cross-engine determinism: the rightmost-min tiebreak is an argmin over
    (hash, -pos), packed into ONE int64 key — (hash60 % 2^30) * 2^32 +
    (2^32 - 1 - pos) — so both engines take a plain integer window MIN and
    decode (pos, fp) from it exactly; no floats anywhere.

    Scale shape: one explode (linear in corpus chars) and one window
    partitioned BY DOCUMENT — the partition is bounded by document length,
    never corpus size, so there is no hot key by construction; the final
    DISTINCT is the only corpus-wide shuffle and it runs on 3 small int
    columns. At 10^12 docs this is embarrassingly parallel per doc.
    Uses hash60, which the oracle mirrors. Reference analog: the
    canonical-signature stage (tbdedup/dedup/hashing, SURVEY O4) refined
    from whole-message to positional substring granularity."""
    from tbdedup_spark.operators import winnow

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.norm_text("text").alias("norm")
    )
    return winnow.winnow_fingerprints(
        d, id_col="doc_id", text_col="norm", k=WINNOW_K, w=WINNOW_W
    )


# winnow_dup_pairs config: fingerprints hotter than WINNOW_DF_CAP docs are
# template/boilerplate grams dropped BEFORE the pair join (the cap is part
# of the semantics, mirrored by the oracle); measured at sf0.01 the planted
# near-dups sit at fp-Jaccard >= 0.9 vs a < 0.2 noise floor, so TAU = 0.5
# splits the modes with wide margin on both sides.
WINNOW_DF_CAP = 50
WINNOW_MIN_SHARED = 3
WINNOW_TAU = 0.5


def _q_winnow_dup_pairs(spark, sf_dir):
    """MOSS-style near-dup pairs over winnowing fingerprints
    (operators/winnow.py): document pairs whose selected-fingerprint sets
    overlap with Jaccard >= WINNOW_TAU, after dropping fingerprints hotter
    than WINNOW_DF_CAP documents. The partial-overlap detector between
    exact dedup (whole-doc hash) and MinHash (bag-of-shingles, no
    positions): any shared span of >= K + W - 1 chars contributes
    fingerprints, so plagiarized/quoted spans register even when the
    documents differ elsewhere.

    Scale shape: with a CONSTANT df cap the candidate volume is bounded by
    df_cap x |kept (doc, fp) rows| — linear in corpus size — and no per-fp
    join group exceeds df_cap rows, so the equi-join has no hot key by
    construction. fp_jaccard is the raw double of an exact-integer
    division: bit-identical in DuckDB, no rounding-mode exposure.

    Reference analog: the dedup pair stage (SURVEY §2 O8-O10) refined to
    partial-overlap granularity."""
    from tbdedup_spark.operators import winnow

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.norm_text("text").alias("norm")
    )
    return winnow.winnow_dup_pairs(
        d,
        id_col="doc_id",
        text_col="norm",
        k=WINNOW_K,
        w=WINNOW_W,
        df_cap=WINNOW_DF_CAP,
        min_shared=WINNOW_MIN_SHARED,
        tau=WINNOW_TAU,
    )


# Deterministic URL corpus for url_canonical_dedup, written in the SQL
# dialect intersection (concat / CASE / % / CAST AS STRING) so BOTH engines
# synthesize bit-identical strings from doc_id. 200 canonical resources,
# spread across host-case, explicit-:443, trailing-slash, param-order,
# tracking-junk, and fragment variants — one of each equivalence the
# canonicalizer must collapse.
_URL_SYNTH = """concat(
  'https://',
  CASE doc_id % 3 WHEN 0 THEN 'news.example.com'
                  WHEN 1 THEN 'NEWS.Example.COM'
                  ELSE 'news.example.com:443' END,
  '/articles/item-', CAST(doc_id % 200 AS STRING),
  CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END,
  '?',
  CASE WHEN doc_id % 2 = 0
       THEN concat('id=', CAST(doc_id % 200 AS STRING), '&lang=en')
       ELSE concat('lang=en&id=', CAST(doc_id % 200 AS STRING)) END,
  CASE WHEN doc_id % 4 = 0 THEN '&utm_source=feed&fbclid=abc123' ELSE '' END,
  CASE WHEN doc_id % 5 = 0 THEN '#comments' ELSE '' END
)"""


def _q_url_canonical_dedup(spark, sf_dir):
    """URL-level dedup on the canonical form (functions/url.py) — the
    crawl-frontier stage that collapses case, default ports, trailing
    slashes, fragments, tracking params, and query-param order into one
    fetch key BEFORE any content is read, and serves as tier 0 of the
    dedup cascade after ingest. The corpus is synthesized deterministically
    from doc_id in BOTH engines (per the no-external-data rule), one
    variant family per equivalence the canonicalizer must collapse.

    Scale shape: canonicalization is a pure whole-stage-codegen map
    (regexp + split + higher-order filter + array_sort — no UDF, no
    Python); the groupBy on the canonical key is the only shuffle, and at
    crawl scale it is exactly the dedup shuffle you must pay. Key skew
    mirrors true resource popularity; a hot resource is a count, not a
    fanout, because aggregates here are map-side combinable."""
    from tbdedup_spark.functions import url as url_fns

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SYNTH).alias("url")
    )
    c = d.select("doc_id", "url", url_fns.canonical_url("url").alias("canonical_url"))
    return c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("url").alias("n_variants"),
    )


# Deterministic HTML wrapping for html_text_extract, written in the SQL
# dialect intersection so BOTH engines synthesize identical markup from
# (doc_id, text): head with title/script/style, nav + comment + footer
# boilerplate, the doc text in <p>, and an entity-rich trailing sentence.
_HTML_SYNTH = """concat(
  '<html><head><title>Doc ', CAST(doc_id AS STRING), '</title>',
  '<script type="text/javascript">var t = 1 < 2 && "x";</script>',
  '<style>body { color: #000; }</style></head><body>',
  '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>',
  '<!-- crawl id ', CAST(doc_id AS STRING), ' -->',
  '<h1>Item ', CAST(doc_id % 50 AS STRING), '</h1>',
  '<p>', coalesce(text, ''), '</p>',
  '<p>Fish &amp; chips &lt;tasty&gt; &quot;quoted&quot; it&#39;s&nbsp;done</p>',
  '<footer>&copy; 2026 Example</footer></body></html>'
)"""


def _html_text_sql(x: str) -> str:
    """DuckDB mirror of functions/html.py:html_to_text — the SAME patterns
    verbatim (Java-regex/RE2 intersection), with DuckDB's explicit 'g'
    flag standing in for Spark's replace-all default."""
    from tbdedup_spark.functions.html import ENTITIES, STRIP_PATTERNS

    out = x
    for pat, rep in STRIP_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    for ent, ch in ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def _q_html_text_extract(spark, sf_dir):
    """HTML -> visible text (functions/html.py) — the first transform of a
    web-crawl pipeline: script/style/head and boilerplate containers
    (nav/header/footer/aside) die, remaining tags become spaces, common
    entities unescape, whitespace collapses. Markup is synthesized
    deterministically from (doc_id, text) in BOTH engines (per the
    no-external-data rule); the oracle applies the SAME regex chain
    verbatim, so extraction semantics are pinned cross-engine.

    Scale shape: a pure whole-stage-codegen map over the scan — zero
    shuffles, zero Python; cost is proportional to bytes scanned, the
    shape that saturates NVMe/S3 read bandwidth at 100 TB. A DOM-fidelity
    extractor would ride mapInPandas behind the same column contract (the
    multimodal decode pattern)."""
    from tbdedup_spark.functions.html import html_to_text

    # fan-out + Generate barrier: the 17-pass regex chain is the whole cost —
    # parallelize it, and evaluate it ONCE per row (both output columns
    # reference it; projection collapse would otherwise inline it twice)
    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.select(
        "doc_id",
        F.explode(F.array(html_to_text(F.expr(_HTML_SYNTH)))).alias("clean_text"),
    ).select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("long").alias("n_chars_clean"),
    )


CRAWL_STRIDE = 4  # crawl_id = doc_id * stride + mirror; mirrors/page = 1..3


def _q_crawl_dedup_pipeline(spark, sf_dir):
    """The engine's user story as ONE fused plan: crawl -> extract ->
    quality-gate -> exact-dedup. A synthetic crawl fetches each page from
    1..3 mirror URLs (doc_id % 3 + 1 fetches, crawl_id = doc_id*4+mirror —
    the duplication class url_canonical_dedup models at the frontier and
    this pipeline must catch post-fetch), wraps it in the deterministic
    markup of html_text_extract, extracts visible text, applies the
    quality_filter_chain rules to the EXTRACTED text (a real pipeline
    filters what it would train on, not raw markup), and exact-dedups on
    the normalized clean text — representatives keep the smallest crawl_id
    (first-fetch-wins, the reference dedup writer's rule,
    /root/reference/tbdedup/dedup/__init__.py:140-157).

    Scale shape: scan -> explode(<=3) -> pure-map extract+filter -> ONE
    groupBy shuffle on the 32-byte signature. Everything upstream of the
    shuffle is whole-stage codegen in a single stage (mirror fan-out is a
    Generate, not a join), the text column dies at the signature
    projection, and the shuffled rows are (sig, crawl_id, n_tok) — ~48
    bytes/fetch regardless of page size. At 10^12 fetches this is the
    bandwidth-bound shape: bytes-scanned-dominated map, then a dedup
    exchange whose volume is fetch COUNT, not corpus bytes. The oracle
    restates every stage (same markup synthesis, same regex chain, same
    first-fail rules, same sha256) so the composition is pinned end-to-end,
    not just its pieces."""
    from tbdedup_spark.functions.html import html_to_text

    # fan-out: the per-fetch regex extraction chain is the dominant CPU and
    # runs at scan parallelism (plans/partitioning.py; no-op at scale)
    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    fetch = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % (CRAWL_STRIDE - 1)).cast("int"))
        ).alias("mirror"),
    )
    # explode(array(...)) = the repo's Generate collapse barrier (see
    # minhash.exploded_shingles): extract + normalize are evaluated ONCE per
    # fetch. Without it, filter pushdown substitutes the whole 17-pass regex
    # chain into every reference of the quality CASE — ~10 full inlinings,
    # 124 regexp_replace nodes in plans/r06/crawl_dedup_pipeline_before.txt
    # (one in the _after plan). The barrier carries the NORMALIZED text:
    # every downstream consumer (quality features, signature, token count)
    # only ever uses norm_text(clean), so `cnorm` + normalized=True paths
    # compute identical values with zero re-normalization.
    page = fetch.select(
        (F.col("doc_id") * CRAWL_STRIDE + F.col("mirror")).alias("crawl_id"),
        F.explode(
            F.array(text.norm_text(html_to_text(F.expr(_HTML_SYNTH))))
        ).alias("cnorm"),
    )
    reason = text.quality_filter_reason(
        "cnorm",
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        min_mean_tok=QF_MEAN_TOK_MIN,
        max_mean_tok=QF_MEAN_TOK_MAX,
        max_punct=QF_MAX_PUNCT,
        min_stopword=QF_MIN_STOPWORD,
        normalized=True,
    )
    sig = page.filter(reason == "pass").select(
        "crawl_id",
        F.sha2(F.encode("cnorm", "utf-8"), 256).alias("sig"),
        text.token_count("cnorm", normalized=True).alias("n_tok"),
    )
    return sig.groupBy("sig").agg(
        F.min("crawl_id").alias("rep_crawl_id"),
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.min("n_tok").alias("n_tokens_clean"),
    )


def _q_tier_attribution(spark, sf_dir):
    """Per-tier marginal-catch report for the dedup cascade — the planning
    artifact tiered dedup exists to produce: walking the ladder cheapest
    tier first (exact signature -> SimHash Hamming -> MinHash/LSH), how
    many documents does each tier newly catch, and how many survive as
    unique? A doc is 'caught' at the FIRST tier that links it to any
    earlier (smaller-id) document, so n_docs sums to the corpus and each
    tier's row is its marginal value — the number you read before deciding
    whether the next (more expensive) tier pays for itself at 100 TB.

    Reuses the standalone detector queries' exact configs (same sha256
    signature as exact_dedup_representatives, same SIM_* and minhash
    constants), so the report is consistent with the pair queries by
    construction. Scale shape: the detector subtrees dominate and are the
    same linear shapes audited in BENCH/PLANS.md; attribution itself adds
    three left joins on int doc_id (the caught sets, each <= corpus) and a
    4-group aggregate. At production scale you would feed the operator the
    already-materialized pair tables instead of recomputing — the
    composition is query-level, not a new detector."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.norm_text("text").alias("norm")
    )
    sigs = d.select("doc_id", F.sha2(F.encode("norm", "utf-8"), 256).alias("sig"))
    emin = sigs.groupBy("sig").agg(F.min("doc_id").alias("min_id"))
    ex_c = (
        sigs.join(emin, "sig").filter(F.col("doc_id") > F.col("min_id")).select("doc_id")
    )
    # Concurrent construction, same rationale as _detector_edges: both
    # subtrees eagerly materialize checkpoints at build time, so building
    # them sequentially would serialize those jobs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        sh_f = pool.submit(_q_simhash, spark, sf_dir)
        mh_f = pool.submit(_minhash_pairs_df, spark, sf_dir)
        sh_pairs, mh_pairs = sh_f.result(), mh_f.result()
    sh_c = sh_pairs.select(F.col("b_id").alias("doc_id")).distinct()
    mh_c = mh_pairs.select(F.col("b_id").alias("doc_id")).distinct()
    lbl = (
        d.select("doc_id")
        .join(ex_c.withColumn("e", F.lit(1)), "doc_id", "left")
        .join(sh_c.withColumn("s", F.lit(1)), "doc_id", "left")
        .join(mh_c.withColumn("m", F.lit(1)), "doc_id", "left")
    )
    tier = (
        F.when(F.col("e").isNotNull(), F.lit("exact"))
        .when(F.col("s").isNotNull(), F.lit("simhash"))
        .when(F.col("m").isNotNull(), F.lit("minhash"))
        .otherwise(F.lit("unique"))
    )
    rank = (
        F.when(F.col("e").isNotNull(), F.lit(1))
        .when(F.col("s").isNotNull(), F.lit(2))
        .when(F.col("m").isNotNull(), F.lit(3))
        .otherwise(F.lit(4))
    )
    counts = (
        lbl.select(tier.alias("tier"), rank.alias("tier_rank"))
        .groupBy("tier", "tier_rank")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # fixed 4-row spine so a tier that catches nothing still reports 0 —
    # "exact caught zero" is exactly the datum the report exists to show
    spine = spark.createDataFrame(
        [("exact", 1), ("simhash", 2), ("minhash", 3), ("unique", 4)],
        "tier string, tier_rank int",
    )
    return spine.join(counts, ["tier", "tier_rank"], "left").select(
        "tier",
        "tier_rank",
        F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
    )


# BM25 config (Robertson & Zaragoza 2009 defaults). Constants that feed
# float expressions are pre-folded in PYTHON and injected verbatim into both
# engines so neither side's constant folding can differ in the last ulp.
BM25_QUERIES = (
    (1, ("slow", "hash", "join")),
    (2, ("fast", "merge", "sort", "table")),
    (3, ("window", "filter", "query", "scan")),
)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1P1 = 1.0 + BM25_K1
BM25_1MB = 1.0 - BM25_B
BM25_TOPK = 10


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval (Robertson & Zaragoza 2009, public Okapi
    formula) for a literal probe-query set over ``documents`` — the
    quality-retrieval primitive a training pipeline uses to mine
    target-domain documents from a 100-TB crawl. idf = ln(1 + (N - df +
    0.5) / (df + 0.5)); tf term with k1=1.2, b=0.75 length normalization.

    Cross-engine determinism: each (term, doc) contribution is quantized
    to int64 micro-nats BEFORE the per-(query, doc) sum (the dsir
    fixed-point discipline — float sums are order-dependent, int64 sums
    are not), and the top-k rank orders by that integer, so rank ties are
    impossible to get wrong; ln() appears once per TERM (|terms| ~ 10
    roundings of ~1e-10 boundary exposure, not per row).

    Scale shape: the probe relation is a literal (broadcast by
    construction); the corpus explode is filtered to probe terms BEFORE
    the tf groupBy, so the shuffled relation is |matching tokens|, not
    |corpus tokens|; df and the (N, avgdl) scalars are tiny aggregates
    broadcast back; the final rank window partitions by query_id over
    <= |queries| * |matched docs| rows. Reference analog: the planner's
    regex include predicate (tbdedup/planner/plan.py:96-102) generalized
    from boolean match to ranked relevance."""
    # NO fan-out (r6, measured 2.4s -> 3.0s with it): `d` feeds two
    # consumers (dl + the token explode) which each re-pay the repartition;
    # the explode is a cheap split with no per-token hashing.
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(text.norm_text("text"), " ").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").cast("long").alias("dl"))
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id int, tok string",
    )
    ex = d.select("doc_id", F.explode("toks").alias("tok"))
    tf = (
        ex.join(F.broadcast(qt.select("tok").distinct()), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = dfreq.crossJoin(F.broadcast(st)).select(
        "tok",
        F.round(
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * 1_000_000
        )
        .cast("long")
        .alias("idfm"),
        "avgdl",
    )
    contrib = tf.join(dl, "doc_id").join(F.broadcast(idf), "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("idfm")
            * (
                (F.col("tf") * BM25_K1P1)
                / (
                    F.col("tf")
                    + BM25_K1 * (BM25_1MB + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            )
        )
        .cast("long")
        .alias("cm"),
    )
    sc = (
        contrib.join(F.broadcast(qt), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("cm").alias("sm"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("sm").desc(), "doc_id")
    )
    return (
        sc.select("query_id", "doc_id", "sm", rnk.alias("rank"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "query_id", "doc_id", "rank", (F.col("sm") / 1_000_000.0).alias("score")
        )
    )


def _q_bigram_lm_nll(spark, sf_dir):
    """Corpus-trained bigram-LM negative log-likelihood per document — the
    CCNet/KenLM-style perplexity quality filter (Wenzek et al. 2020,
    public): train add-1-smoothed bigram probabilities p(w2|w1) =
    (c(w1 w2) + 1) / (c(w1 .) + V) on the WHOLE corpus, then score each
    document by its average per-bigram NLL (perplexity = exp(avg_nll)).
    Low = boilerplate-like, high = out-of-distribution — the standard
    pre-training quality axis next to dsir's importance weight.

    Cross-engine determinism: ln() is taken once per bigram TYPE and
    quantized to int64 micro-nats (the dsir fixed-point discipline); the
    per-doc accumulation is an exact integer sum of count * micro-nats;
    the only float ops after that are one division by 1e6 and one by the
    bigram count — both exact-rounded IEEE on identical operands.

    Scale shape: the instance stream collapses FIRST to per-(doc, bigram)
    counts (map-side combinable), the bigram-type LM table derives from
    those counts (types << instances — Zipf), the context totals and
    vocabulary V are tiny aggregates, and the scored types broadcast back
    onto the per-doc counts; the only corpus-sized shuffles are the two
    count groupBys. Docs with < 2 tokens score 0.0 with n_bigrams 0 via
    the left join. Reference analog: the quality gate the planner's regex
    filter (tbdedup/planner/plan.py:96-102) approximates, learned from
    the corpus instead of hand-written."""
    d = _t(spark, sf_dir, "documents")
    # NO fan-out here (r6, measured): `base` fans out to TWO consumers
    # (vocab + inst) and each would re-execute the repartition exchange —
    # measured 2.7s -> 3.4s with the fan. The explodes are cheap token
    # splits (no per-token md5), so the single-split scan is not the
    # bottleneck the hash-heavy paths have.
    base = d.select(
        "doc_id", F.split(text.norm_text("text"), " ").alias("_ws")
    )
    vocab = base.select(F.explode("_ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    inst = base.filter(F.size("_ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_ws) - 1),"
                " i -> struct(element_at(_ws, i) AS w1, element_at(_ws, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    per_doc_type = inst.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    types = per_doc_type.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    ctx = types.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = (
        types.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))
                * 1_000_000
            )
            .cast("long")
            .alias("lpm"),
        )
    )
    per_doc = (
        per_doc_type.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.sum(F.col("k") * F.col("lpm")).alias("m"), F.sum("k").alias("nb"))
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nb", F.lit(0)).alias("n_bigrams"),
            F.coalesce(
                (F.col("m") / 1_000_000.0) / F.col("nb"), F.lit(0.0)
            ).alias("avg_nll"),
        )
    )


def _q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup, the CCNet/Dolma primitive (Wenzek et al.
    2020; Soldaini et al. 2024, both public): duplicated PARAGRAPHS are
    removed corpus-wide keeping the FIRST occurrence (smallest (doc_id,
    para_idx)), and each document reports how much of it survived. The
    corpus has no newlines, so "paragraphs" are deterministic PARA_W-token
    chunks — both engines chunk identically, so the oracle is exact.

    Scale shape: explode to (doc, idx, para-hash60) — the para TEXT never
    shuffles, only its 8-byte hash — then ONE map-side-combinable groupBy
    taking min(struct(doc_id, idx)) per hash (the keep-first rule as an
    aggregate, not a window: no hot-key single-task risk when one
    boilerplate paragraph appears 10^9 times), a per-doc count of the
    winners, and a broadcast-able join back to per-doc totals."""
    # NO fan-out (r6, measured 0.9s -> 1.5s floor with it): `d` feeds two
    # consumers (paras + totals) which each re-pay the repartition, and the
    # per-paragraph md5 count is only ~n_tokens/PARA_W per doc — too light
    # to win back two exchanges.
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(text.norm_text("text"), " ").alias("toks")
    )
    paras = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(toks) / {PARA_W}.0) as int) - 1),"
                f" j -> concat_ws(' ', slice(toks, j * {PARA_W} + 1, {PARA_W})))"
            )
        ).alias("para_idx", "para"),
    ).select("doc_id", "para_idx", text.hash60("para").alias("ph"))
    winners = paras.groupBy("ph").agg(
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("para_idx").alias("i"))).alias("w")
    )
    kept = winners.groupBy(F.col("w.d").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    totals = d.select(
        "doc_id",
        F.ceil(F.size("toks") / F.lit(float(PARA_W))).cast("long").alias("n_paras"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(
            F.lit(1.0) - F.coalesce("n_kept", F.lit(0)) / F.col("n_paras").cast("double"), 6
        ).alias("dup_para_frac"),
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling — the data-mixing
    primitive of a training pipeline (upsample/downsample sources to a
    target distribution). Keep rule: hash60('sample:' || doc_id) % 10000 <
    rate_bp[lang] — a pure ZERO-shuffle codegen map over the scan (the
    sampling decision is a hash predicate, not an RNG: reproducible across
    engines, runs, and partitionings, unlike df.sample). The rate map is a
    literal CASE on both engines."""
    rate = F.lit(SAMPLE_BP_DEFAULT)
    for lang, bp in sorted(SAMPLE_BP.items()):
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    h = text.hash60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    return (
        _t(spark, sf_dir, "documents")
        .filter((h % 10000) < rate)
        .select("doc_id", "lang")
    )


def _q_repetition_scores(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public): per-doc duplicate word-2-gram / 3-gram fractions and the
    most-frequent-token mass — the filters every LLM data pipeline applies
    before training (boilerplate and degenerate repetition detection).

    ZERO-shuffle plan: all three signals are higher-order-function
    expressions in whole-stage codegen over the scan — the token lists
    never explode into rows and nothing aggregates across docs (contrast
    hapax_counts, which needs the corpus-wide groupBy by definition). At
    10^12 docs this is a pure map."""
    # fan-out: the three HOF signals are heavy per-row codegen work — a
    # single-split scan runs them serially (plans/partitioning.py). Still
    # zero CORPUS-sized shuffles: the one exchange moves the 5k-row
    # projection, only when the scan under-splits.
    d = _fan(_t(spark, sf_dir, "documents").select(
        "doc_id", F.split(text.norm_text("text"), " ").alias("toks")
    ))

    def grams(n):
        # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
        # short docs must short-circuit to [] (DuckDB generate_series(1, 0)
        # IS empty, so the guard also keeps the engines aligned)
        return F.when(
            F.size("toks") >= n,
            F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}),"
                f" i -> concat_ws(' ', slice(toks, i, {n})))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    def dup_frac(g):
        return F.round(
            F.when(
                F.size(g) > 0,
                (F.size(g) - F.size(F.array_distinct(g))) / F.size(g).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )

    # max token multiplicity via sort + run-length aggregate: O(n log n) per
    # doc. The obvious transform(distinct, u -> count(filter(toks, = u))) is
    # O(distinct * n) per doc — quadratic in DOCUMENT LENGTH, a real hazard
    # for 100k-token documents even though it is linear in corpus size
    # (measured 5.0s -> see PLANS.md). Initial prev='' is safe: norm_text
    # trims/collapses whitespace, so '' only occurs as the single token of
    # an empty doc, where run=0+1=1 is the right answer anyway.
    _long = lambda c: c.cast("long")
    top = F.aggregate(
        F.array_sort("toks"),
        F.struct(
            F.lit("").alias("prev"),
            _long(F.lit(0)).alias("run"),
            _long(F.lit(0)).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc.prev, acc.run + 1).otherwise(_long(F.lit(1))).alias("run"),
            F.greatest(
                acc.best,
                F.when(t == acc.prev, acc.run + 1).otherwise(_long(F.lit(1))),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return d.select(
        "doc_id",
        dup_frac(grams(2)).alias("dup_2gram_frac"),
        dup_frac(grams(3)).alias("dup_3gram_frac"),
        F.round(top / F.size("toks").cast("double"), 6).alias("top_token_frac"),
    )


def _q_quality_filter_chain(spark, sf_dir):
    """Quality filter chain with first-fail reason codes — the decision
    layer on top of ``quality_scores``: every document gets keep/drop plus
    WHICH ordered rule rejected it (too_short / too_long / short_tokens /
    long_tokens / punct_heavy / low_stopword / pass), the auditable form a
    production pipeline needs to tune thresholds from reject histograms
    instead of silent row loss. Rule semantics + citations in
    functions/text.py:quality_filter_reason.

    Scale shape: ONE whole-stage-codegen projection over the parquet scan
    (the CASE shares the feature subexpressions) — zero shuffles, zero
    Python, pure map at 10^12 docs."""
    # fan-out + two Generate barriers (the crawl-plan lesson): normalize once
    # per row, then evaluate the CASE once per row — the naive form inlines
    # the lower+regex normalization into every CASE branch AND computes the
    # whole CASE twice (fail_reason + passed).
    d = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    b = d.select(
        "doc_id", F.explode(F.array(text.norm_text("text"))).alias("_n")
    )
    reason = text.quality_filter_reason(
        "_n",
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        min_mean_tok=QF_MEAN_TOK_MIN,
        max_mean_tok=QF_MEAN_TOK_MAX,
        max_punct=QF_MAX_PUNCT,
        min_stopword=QF_MIN_STOPWORD,
        normalized=True,
    )
    return b.select(
        "doc_id", F.explode(F.array(reason)).alias("fail_reason")
    ).select(
        "doc_id",
        "fail_reason",
        F.when(F.col("fail_reason") == "pass", 1).otherwise(0).cast("long").alias("passed"),
    )


def _q_domain_quota_sample(spark, sf_dir):
    """Hot-domain quota capping — the per-source balancing step of a
    training-data mix (cap any one domain's contribution at ~QUOTA_K docs;
    CommonCrawl-derived sets do exactly this to stop a handful of boilerplate
    domains dominating). `lang` stands in for the domain key in the synthetic
    schema (it is the skewed column: en has 3.4x fr's mass at sf0.01).

    Unlike ``stratified_sample`` (fixed compile-time rates) the keep rate is
    DATA-DEPENDENT: rate_bp = min(10000, 10000*K div count(domain)), so hot
    domains are downsampled exactly to quota in expectation and cold domains
    pass untouched. Unlike ``topk_per_group`` there is NO per-group sort or
    window: a 10^9-doc domain costs a map-side-combined count, never a
    single-task rank — the keep decision stays a pure hash predicate
    (reproducible across engines/runs/partitionings, like stratified_sample).

    Scale shape: one map-side-combinable groupBy over the domain column
    (output rows = |domains|, tiny), broadcast join of the rate table back
    onto the scan, then a codegen hash-predicate filter — the corpus itself
    never shuffles."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_dom"))
        .select(
            "lang",
            F.least(
                F.lit(10000).cast("long"),
                F.expr(f"{10000 * QUOTA_K} div n_dom"),
            ).alias("rate_bp"),
        )
    )
    h = text.hash60(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(rates), "lang")
        .filter((h % 10000) < F.col("rate_bp"))
        .select("doc_id", "lang", "rate_bp")
    )


def _q_pack_sequences(spark, sf_dir):
    """Sequence-packing manifest — the step that turns a deduped, filtered
    corpus into fixed-length training sequences (concat-and-chunk: documents
    are laid end-to-end in a deterministic order and cut into PACK_SEQ_LEN-
    token blocks — the standard pretraining layout, e.g. Brown et al. 2020
    §2.3's document packing; public). For every non-empty document the
    manifest states WHERE its tokens land: packing stream (``shard``),
    token offset within the stream (``start_off``), first/last sequence ids
    (``seq_first``/``seq_last``), and whether it straddles a sequence
    boundary (``straddles`` — the fraction a loss-masking policy cares
    about). A trainer can consume the manifest without ever re-scanning
    text.

    Scale shape: the corpus is split into PACK_SHARDS independent packing
    streams by a deterministic hash (at 10^12 docs you size the shard count
    to the trainer's data-parallel width — each reader owns one stream), so
    the ONLY shuffle is the hash partition by shard, and the per-stream
    ordered cumulative sum is one sorted pass over 16-byte rows
    ((hash, n_tokens) pairs — the text column is projected away at the
    scan, bodies never shuffle). No global sort, no global window: a
    stream's cumsum never sees another stream's rows. The within-stream
    order is (hash, doc_id) — i.e. a deterministic pseudo-random
    permutation, which doubles as the epoch-shuffle every training run
    needs (reproducible across engines, runs, and partitionings, unlike
    df.sample/orderBy(rand())).

    Reference analog: the dedup writer streaming deduped messages
    sequentially into one output mbox in deterministic first-seen order
    (/root/reference/tbdedup/dedup/__init__.py:140-157) — generalized to
    N parallel output streams cut into fixed-token blocks."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", text.token_count("text").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    h = text.hash60(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    d = d.withColumn("_h", h).withColumn("shard", (F.col("_h") % PACK_SHARDS))
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "doc_id", "shard", "n_tokens", F.sum("n_tokens").over(w).alias("end_off")
    )
    L = PACK_SEQ_LEN
    return c.selectExpr(
        "doc_id",
        "shard",
        "n_tokens",
        "end_off - n_tokens AS start_off",
        f"(end_off - n_tokens) div {L} AS seq_first",
        f"(end_off - 1) div {L} AS seq_last",
        f"CAST(CASE WHEN (end_off - 1) div {L} > (end_off - n_tokens) div {L} "
        "THEN 1 ELSE 0 END AS BIGINT) AS straddles",
    )


def _q_token_budget_mix(spark, sf_dir):
    """Token-budget data mixing — fill each language's token budget in a
    deterministic pseudo-random order and stop exactly at the budget: the
    step that turns per-source weights (e.g. 30% code, 5% books) into an
    actual document manifest. Keep rule: a doc survives iff the running
    token total of its language, taken in (shard, hash, doc_id) order, is
    still <= MIX_BUDGET[lang] INCLUDING the doc itself — prefix truncation,
    not knapsack: the cut is order-stable, so the kept set is reproducible
    and only ever shrinks-from-the-tail when the budget tightens.

    Scale shape — the two-phase distributed prefix sum: a naive per-lang
    running total is a single-task window over 10^11 rows of one hot
    language. Instead (1) each (lang, shard) partition computes a LOCAL
    ordered cumsum (bounded by corpus/shards, one sorted pass over 16-byte
    rows); (2) the per-shard token totals — a |langs| x MIX_SHARDS relation,
    tiny — get an exclusive scan per lang and are BROADCAST back as shard
    base offsets; local + offset = the exact global prefix sum, bit-equal
    to the single-pass result by associativity. No task ever sees a whole
    language; text is projected away at the scan.

    Reference analog: the size-capped output splitting of the reference's
    ordered writer (one artifact closes when full, deterministically —
    /root/reference/tbdedup/dedup/__init__.py:140-157), lifted to
    per-source token accounting."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", text.token_count("text").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    h = text.hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    d = d.withColumn("_h", h).withColumn("_shard", F.col("_h") % MIX_SHARDS)
    w_local = (
        Window.partitionBy("lang", "_shard")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("_loc", F.sum("n_tokens").over(w_local))
    # phase 2: exclusive scan over the tiny (lang, shard) totals relation
    w_off = (
        Window.partitionBy("lang")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("lang", "_shard")
        .agg(F.sum("n_tokens").alias("_tot"))
        .select(
            "lang", "_shard",
            F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    budget = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(MIX_BUDGET.items()) for x in kv]
            ),
            F.col("lang"),
        ),
        F.lit(MIX_BUDGET_DEFAULT),
    )
    return (
        local.join(F.broadcast(offsets), ["lang", "_shard"])
        .withColumn("end_off", (F.col("_loc") + F.col("_off")).cast("long"))
        .filter(F.col("end_off") <= budget)
        .select("doc_id", "lang", "n_tokens", "end_off")
    )


def _q_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy-hitter estimation (Cormode & Muthukrishnan
    2005, public) — the frequency complement of ``bloom_prefilter``'s
    membership index: a CM_D x CM_W counter matrix over the token stream
    whose per-token estimate is min over rows of the collided counter.
    The sketch is MERGEABLE (CMS union = elementwise sum — across shards,
    days, or corpora, like the Bloom bitmap's bit_or), and its build is
    the ideal map shape: one pass over the stream with bounded (d x w)
    state per task — map-side combine collapses every partition to
    <= CM_D*CM_W rows before the only shuffle, so at 10^12 tokens the
    exchanged bytes are CONSTANT in corpus size.

    The contract query also carries ground truth (an exact token groupBy —
    affordable at oracle scale, and the point of the comparison): output =
    the true top-CM_TOPK tokens with true count, sketch estimate, and
    overcount. ``est_cnt >= true_cnt`` ALWAYS (CMS never underestimates) —
    that one-sided-error algebra is visible in the compared columns, and
    CM_W is deliberately tight for the synthetic 31-token vocabulary (see
    the constant's comment) so the probed top-20 shows both exact
    estimates and positive overcounts at sf0.01. Production uses the
    sketch relation alone; truth exists here to make the estimator
    oracle-checkable.

    Reference analog: buildSummary's per-hash message-count map
    (/root/reference/tbdedup/dedup/__init__.py:180-210), with bounded
    memory instead of one dict entry per distinct key."""
    # fan-out: 4 md5s per token instance (plans/partitioning.py; no-op at scale)
    toks = (
        _fan(_t(spark, sf_dir, "documents").select("text"))
        .select(F.explode(F.split(text.norm_text("text"), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    rows = [
        F.struct(
            F.lit(d).alias("d"),
            (text.hash60(F.concat(F.lit(f"cm{d}:"), F.col("tok"))) % CM_W).alias("b"),
        )
        for d in range(CM_D)
    ]
    sketch = (
        toks.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.d", "s.b")
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = truth.orderBy(F.desc("true_cnt"), "tok").limit(CM_TOPK)
    probe = top.select(
        "tok",
        "true_cnt",
        F.explode(F.array(*rows)).alias("s"),
    ).select("tok", "true_cnt", "s.d", "s.b")
    return (
        probe.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select(
            "tok",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
    )


def _q_kmv_distinct_sketch(spark, sf_dir):
    """KMV bottom-k distinct sketch (Bar-Yossef et al. 2002; Beyer et al.
    2007 — public) — the cardinality member of the mergeable-index trilogy
    (Bloom = membership, count-min = frequency): per language, keep the
    KMV_K smallest distinct hash values of the normalized document text;
    estimate distinct docs as (k-1) * 2^60 / h_k when the group has >= k
    distinct values, exactly the retained count otherwise. Unlike HLL the
    whole algebra is deterministic integer/float arithmetic both engines
    state identically, so the ESTIMATOR itself is oracle-checked — and the
    sketch merges by keeping the k smallest of a union (the same
    min-survives rule, shippable across shards/days). This is the dedup
    planner's question — "how many unique documents per source?" — at
    bounded memory.

    Scale shape — the same two-phase decomposition as token_budget_mix:
    a naive per-lang ranking is one hot-language task. Instead phase 1
    takes each (lang, hash-shard)'s k smallest (bounded window), leaving
    <= k * MIX_SHARDS candidate rows per language — tiny — and phase 2
    ranks only those (the global k smallest are a subset of the per-shard
    k smallest, so the result is bit-equal to the single-pass ranking the
    oracle states). ``true_distinct`` is carried for the oracle-scale
    comparison only; production ships the sketch alone — at 10^12 rows
    the exact per-group distinct is precisely what you cannot afford.

    Reference analog: buildSummary's unique-hash counting
    (/root/reference/tbdedup/dedup/__init__.py:180-210), at bounded
    memory per group."""
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "lang",
            text.hash60(
                F.concat(F.lit("kmv:"), text.norm_text("text"))
            ).alias("h"),
        )
        .distinct()
    )
    w1 = (
        Window.partitionBy("lang", F.col("h") % MIX_SHARDS).orderBy("h")
    )
    cand = (
        d.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= KMV_K)
        .drop("_r")
    )
    w2 = Window.partitionBy("lang").orderBy("h")
    hk = (
        cand.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") == KMV_K)
        .select("lang", F.col("h").alias("hk"))
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("true_distinct"))
    return totals.join(hk, "lang", "left").select(
        "lang",
        "true_distinct",
        F.when(F.col("hk").isNull(), F.col("true_distinct"))
        .otherwise(
            F.floor(
                (F.lit(float(KMV_MAX)) / F.col("hk")) * F.lit(KMV_K - 1)
            )
        )
        .cast("long")
        .alias("est_distinct"),
    )


def _q_tiered_incremental_dedup(spark, sf_dir):
    """The day-2 shape of a 100-TB dedup deployment: a NEW batch (doc_id %
    INC_NEW_MOD == 0, 20% of the table) checked against HISTORY (the other
    80%) in escalating tiers — exact signature, then MinHash/LSH near-dup —
    with history never shuffled or self-joined (operators/incremental.py:
    every join broadcasts a batch-bounded relation). Same detector constants
    as minhash_lsh_pairs, so the oracle derives the cross-tier pairs from
    the SAME mh_pairs CTE restricted to (new, history) pairs. Within-batch
    dups are out of scope by contract (exact_dedup covers them)."""
    d = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INC_NEW_MOD == 0
    return incremental.tiered_dedup(
        d.filter(is_new), d.filter(~is_new), "doc_id", "text",
        k=K, n_perm=N_PERM, n_bands=N_BANDS, tau=TAU, seed=SEED,
        est_tau=MIN_EQ / N_PERM,
        # each side's explode+groupBy signature feeds banding AND the verify
        # joins — materialize once (same contract as minhash_lsh_pairs)
        checkpoint=True,
    )


def _q_bloom_prefilter(spark, sf_dir):
    """Tier-0 of the incremental-dedup ladder: a Bloom-filter membership
    probe of the NEW batch (doc_id % INC_NEW_MOD == 0) against a bitmap
    index built over HISTORY's exact signatures — the reusable, mergeable,
    O(m/32)-shippable form of the reference dedup writer's in-memory
    already-written-hashes set (tbdedup/dedup/__init__.py:137-161). Returns
    (doc_id, bloom_maybe, exact_dup) per new doc: `bloom_maybe` is the
    tier-0 verdict, `exact_dup` the ground truth the next tier would
    compute, so the no-false-negatives invariant (bloom_maybe >=
    exact_dup) is visible in — and checked by — the oracle comparison
    itself. Positions use the md5-based hash60, so DuckDB computes the
    IDENTICAL bitmap, false positives included (deterministic, engine-
    portable); m is auto-sized to BLOOM_BPK bits/key so the FP rate stays
    ~16% at every sf — visible to the hash compare, never saturating.
    Scale shape: bitmap built with one map-side history pass + partial-
    aggregated bit_or (only the bitmap ever shuffles), probed by |batch|*k
    codegen rows against a broadcast of m/32 words; history is untouched
    at probe time — the whole point of tier 0."""
    d = _t(spark, sf_dir, "documents")
    sig = F.sha2(text.norm_text("text"), 256)
    is_new = F.col("doc_id") % INC_NEW_MOD == 0
    new_sigs = d.filter(is_new).select(
        F.col("doc_id").alias("_id"), sig.alias("_sig")
    )
    hist_sigs = d.filter(~is_new).select(sig.alias("_sig"))
    m_bits = max(256, BLOOM_BPK * hist_sigs.count())
    index = incremental.bloom_index(hist_sigs, m_bits=m_bits, k=BLOOM_K)
    maybe = incremental.bloom_maybe_matches(
        new_sigs, index, m_bits=m_bits, k=BLOOM_K
    )
    exact = incremental.exact_matches(new_sigs, hist_sigs.select("_sig"))
    return (
        new_sigs.select("_id")
        .join(F.broadcast(maybe.withColumn("_m", F.lit(True))), "_id", "left")
        .join(F.broadcast(exact.withColumn("_e", F.lit(True))), "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("_m", F.lit(False)).alias("bloom_maybe"),
            F.coalesce("_e", F.lit(False)).alias("exact_dup"),
        )
    )


def _q_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking + chunk-level exact dedup over the raw
    document text — sub-document redundancy (boilerplate paragraphs, quoted
    blocks) that whole-doc signatures miss. Boundary rule: position i ends
    a chunk iff i == len or (i >= CDC_W and hash60(text[i-CDC_W+1..i]) %
    CDC_D == 0) — content-defined, so an edit re-synchronizes at the next
    fingerprint hit (the CDC property; tested in tests/test_round5b.py).
    Returns per-doc (n_chunks, dup_chunks, dup_chars) where dup = chunk
    sha256 multiplicity >= 2 corpus-wide. Reference analog: the dedup
    writer's one-hash-per-whole-message rule
    (tbdedup/dedup/__init__.py:137-161) refined below document granularity.
    Scale shape: the chunker is ONE map-side projection (boundary array
    materialized once per row — verified plan), zero shuffle until the
    chunk-hash count (map-side partial agg) + narrow join-back + per-doc
    agg; text never shuffles. Oracle: the identical md5-position algebra
    as DuckDB list_filter/list_transform SQL."""
    return cdc.chunk_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", w=CDC_W, divisor=CDC_D
    )


def _q_semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the hashed-BoW document embeddings
    (the same deterministic embedding as embedding_neardup_*, where true
    semantic near-dups exist): k-means cells + within-cell cosine >= tau
    prune, keep-smallest-id. ORACLED like ann_topk_ivf: the k-means is the
    one non-SQL stage, so the operator lands its (doc_id, cell) assignments
    at MEDIA_ORACLE_DIR/semdedup and DuckDB re-derives the within-cell
    pairs, the exact cosine, and the keep rule from the files + the
    documents table (any K yields a valid oracle row — the files ARE the
    clustering). K is auto-scaled (ceil(n / SEMDEDUP_CELL), floor 16) so the
    within-cell join stays O(n * cell): the r5 sf curve measured fixed K=16
    at 17.6x time for 10x data. n comes from a count over the documents
    parquet (metadata-cheap), not the BoW relation."""
    # one materialization (r6): the embedding subtree (token explode + md5 +
    # 64-way aggregate) feeds BOTH the k-means sample collect and the cell
    # assignment scan inside ann.semdedup — without this it executes twice
    emb = _doc_embeddings(spark, sf_dir).localCheckpoint()
    n = _t(spark, sf_dir, "documents").count()
    return ann.semdedup(
        emb, "doc_id", "emb", tau=SEMDEDUP_TAU,
        seed=SEED,
        assignments_out_path=os.path.join(MEDIA_ORACLE_DIR, "semdedup"),
        target_cell_rows=SEMDEDUP_CELL, min_centroids=SEMDEDUP_K, n_rows=n,
    )


def _q_embedding_neardup_capped(spark, sf_dir):
    """The SCALE-PATH embedding near-dup detector, oracle-mirrored INCLUDING
    its skew valve — the first cap whose dropped-bucket semantics the DuckDB
    oracle verifies exactly (the SQL builds the same banded join and filters
    buckets > cap). Contract: hamming(sig32) <= 3 AND cosine >= tau over
    SURVIVING band buckets only. Why this variant exists: the 16-bit
    signature of `embedding_neardup_pairs` has 4-bit band keys (16 values) —
    its uncapped buckets grow ~n/16 and the self-join goes quadratic
    (measured 14x time at 10x data); the production shape widens the
    signature with corpus size (32 bits -> 256-value bands here) and caps
    the residual hot buckets, reported never silent."""
    emb = _doc_embeddings(spark, sf_dir)
    return ann.neardup_pairs(
        emb, "doc_id", "emb", tau=NEARDUP_TAU,
        n_bits=NEARDUP2_BITS, dim=EMB_DIM, seed=SEED,
        max_hamming=NEARDUP_HAM, n_bands=NEARDUP_BANDS,
        max_bucket=NEARDUP2_CAP,
    )


def _q_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-k over the embeddings table (operators/ann.py):
    probes broadcast, one corpus scan, per-probe rank — the correctness
    baseline the LSH/IVF variants are measured against."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    out = ann.topk_bruteforce(e, probes, "vec_id", "embedding", k=ANN_K)
    return out.select("probe_id", "neighbor_id", "score", F.col("rank").alias("rnk"))


def _q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-k (operators/ann.py): seeded signed-
    projection signatures, Hamming-1 multiprobe, exact cosine re-rank of
    bucket candidates — the banded scale path over the brute baseline."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    out = ann.topk_lsh(
        e, probes, "vec_id", "embedding", k=ANN_K,
        n_bits=ANN_BITS, dim=EMB_DIM, seed=SEED, multiprobe_hamming1=True,
    )
    return out.select("probe_id", "neighbor_id", "score", F.col("rank").alias("rnk"))


def _q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN (operators/ann.ivf_topk): spherical-k-means
    codebook on a bounded sample, Voronoi-cell equi-join, exact cosine inside
    probed cells.

    ORACLED since r5 (previously rows-only): k-means itself is not
    SQL-expressible, so the operator lands its Voronoi assignments (plain
    (id, cell) ints) at MEDIA_ORACLE_DIR/ivf, and DuckDB re-derives the
    probed-cell candidate join, the exact cosine over the embeddings table,
    and the (score DESC, neighbor_id) ranking from them. Recall vs brute
    force stays gated in tests/test_round3.py."""

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    out = ann.ivf_topk(
        e, probes, "vec_id", "embedding", k=ANN_K,
        n_centroids=16, n_probe=4, seed=SEED,
        assignments_out_path=os.path.join(MEDIA_ORACLE_DIR, "ivf"),
    )
    return out.select("probe_id", "neighbor_id", "score", F.col("rank").alias("rnk"))


# Stable landing spot for the image pipeline's oracle intermediates (same
# mechanism as STREAM_ORACLE_DIR below): the pixel stages (decode, pHash,
# PSNR) are NOT SQL-expressible, so the query materializes their OUTPUTS —
# the ok-id universe, the detector edge set, and the per-member verify
# verdicts — and DuckDB re-derives everything relational downstream of them:
# connected components (recursive CTE), representative selection, and the
# verified-split algebra. A wrong union-find, rep rule, or split shows as a
# hash mismatch; only the detector/decode verdicts themselves are trusted
# from Spark (they are pytest-gated against a golden single-node oracle).
IMG_ORACLE_DIR = f"/tmp/tbdedup_img_oracle_{_ORACLE_NS}"

# Same mechanism for the remaining non-SQL stages: the audio/frame queries
# land their 64-bit fingerprints (the FFT/pHash outputs) and the IVF query
# its Voronoi cell assignments (the k-means output); DuckDB re-derives the
# relational downstream — banded-Hamming candidate join with the bucket cap,
# or cell join + exact cosine + rank — from those files. Only the signal
# processing itself is trusted from Spark (pytest-gated planted-pair
# recall / recall-vs-bruteforce).
MEDIA_ORACLE_DIR = f"/tmp/tbdedup_media_oracle_{_ORACLE_NS}"


def _q_image_dedup_clusters(spark, sf_dir):
    """The north_star pipeline itself under the driver contract: an
    input_hint-shaped image+caption corpus (image_id, bytes, w, h, fmt,
    caption, phash) is synthesized DISTRIBUTED in-query
    (synth_dist.images_distributed — seeded per base index, identical under
    any partitioning), then the full plans/pipeline.run_pipeline executes:
    signatures → exact + minhash + simhash + substr detectors (concurrent,
    skew-laddered) → union-find → PSNR≥40dB + caption-equality verify with
    quarantine, every stage committed through the resumable Catalog into a
    fresh temp warehouse. Returns the verified CLUSTERS relation.

    ORACLED since r5 (previously rows-only): the query lands the ok-id
    universe, the deduped edge set, and the per-member verify verdicts at
    IMG_ORACLE_DIR, and the DuckDB mirror recomputes the clustering +
    verified-split from them (see IMG_ORACLE_DIR comment). Detector recall
    ≥0.99 and cluster-assignment equality vs the golden single-node oracle
    remain gated in tests/test_pipeline.py."""
    import shutil
    import tempfile

    from tbdedup_spark import synth_dist
    from tbdedup_spark.plans import pipeline
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)
    images = synth_dist.images_distributed(spark, n_bases=200, seed=SEED, partitions=8)
    wh = tempfile.mkdtemp(prefix="tbdedup_imgclusters_")
    _cleanup_at_exit(wh)  # the returned DataFrame reads the warehouse for
    # the rest of the session; reclaim it at process exit
    out = pipeline.run_pipeline(spark, images, wh)
    shutil.rmtree(IMG_ORACLE_DIR, ignore_errors=True)  # no stale parts
    out["signatures"].filter(~F.col("sig").startswith("DECODE_ERROR:")).select(
        "image_id"
    ).write.mode("overwrite").parquet(os.path.join(IMG_ORACLE_DIR, "ids"))
    out["pairs"].select("a_id", "b_id").dropDuplicates().write.mode(
        "overwrite"
    ).parquet(os.path.join(IMG_ORACLE_DIR, "pairs"))
    out["checked"].select("image_id", "ok").write.mode("overwrite").parquet(
        os.path.join(IMG_ORACLE_DIR, "checked")
    )
    return out["clusters"]


def _q_image_tiered_dedup(spark, sf_dir):
    """Tiered incremental dedup over the input_hint IMAGE payload — the
    round-5 tier theme applied to the graft's image axis. An input_hint
    corpus is synthesized distributed (same generator as
    image_dedup_clusters), split deterministically by the image_id's
    derivative counter: counter 00 (the base image of each group) is the
    already-deduped HISTORY corpus; counters >= 01 (the planted exact /
    reencode / perturb / paraphrase / contain / distinct derivatives) are
    the NEW crawl batch. incremental.tiered_image_dedup assigns each new
    image 'exact' (raw-bytes sha256 match — paraphrase/contain share the
    base's bytes, so they land here too) | 'near' (pHash Hamming <=
    IMG_TIER_HAM, the perturb/reencode classes) | 'unique' (the distinct
    class), history never shuffled (reference analog: the dedup writer's
    skip-already-written-hashes rule, tbdedup/dedup/__init__.py:137-161,
    as batch-vs-corpus).

    ORACLE: the corpus (image_id, bytes, phash) lands at
    MEDIA_ORACLE_DIR/imgtier and both engines read the SAME files; DuckDB
    states the tiers declaratively — bytes equality for 'exact' (sha256
    equality iff bytes equality), brute-force bit_count(xor) <= R for
    'near', which the uncapped pigeonhole banding + residual filter equals
    exactly. Only the phash values themselves are Spark-supplied (pixel
    decode is the one non-SQL stage, same contract as audio/frame sigs)."""
    import shutil

    from tbdedup_spark import synth_dist
    from tbdedup_spark.operators import incremental
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # mapInPandas closures import the package
    corpus = synth_dist.images_distributed(spark, n_bases=200, seed=SEED, partitions=8)
    land = os.path.join(MEDIA_ORACLE_DIR, "imgtier")
    shutil.rmtree(land, ignore_errors=True)  # no stale parts
    corpus.select("image_id", "bytes", "phash").write.mode("overwrite").parquet(land)
    landed = spark.read.parquet(land)
    ctr = F.substring("image_id", 14, 2).cast("int")
    return incremental.tiered_image_dedup(
        landed.filter(ctr >= 1),
        landed.filter(ctr == 0),
        max_hamming=IMG_TIER_HAM,
        n_bands=8,
    )


def _q_image_tiered_crop_dedup(spark, sf_dir):
    """The round's two themes composed: batch-vs-history TIER dedup over
    IMAGES with the crop-resistant detector as tier 3. synth.crop_tier_corpus
    plants one class per tier — verbatim byte copies ('exact'), PSNR>=40dB
    perturbations ('near': pHash Hamming <= IMG_TIER_HAM), margin crops
    ('crop': pHash-FAR by construction, but interior keypoint patches
    identical), and fresh images ('unique'). incremental.tiered_image_crop_dedup
    assigns tiers in precedence order; history never shuffles in any tier
    (bytes-sha256 probe, banded-Hamming cross join, and the patch-hash
    cross join all broadcast batch-bounded relations only).

    ORACLE: two landed relations — (image_id, bytes, phash) and the
    keypoint-patch (image_id, psig) — and DuckDB re-states all four tiers
    declaratively: bytes equality, brute-force bit_count(xor) <= R (which
    the uncapped pigeonhole banding equals exactly), shared-psig count >=
    CROP_MIN_SHARED against any single history image, with the same
    precedence CASE. Only the phash/psig values are Spark-supplied (pixel
    decode is the non-SQL stage — the imgtier/audio/frames contract).
    Reference analog: the dedup writer's skip-already-written-hashes rule
    (/root/reference/tbdedup/dedup/__init__.py:137-161) escalated through
    three signature families."""
    import shutil


    from tbdedup_spark import synth
    from tbdedup_spark.operators import incremental, multimodal
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # mapInPandas closures import the package
    corpus = synth.crop_tier_corpus(spark, seed=SEED)
    land = os.path.join(MEDIA_ORACLE_DIR, "imgtier_crop")
    shutil.rmtree(land, ignore_errors=True)  # no stale parts
    multimodal.with_phash(corpus).write.mode("overwrite").parquet(
        os.path.join(land, "corpus")
    )
    landed = spark.read.parquet(os.path.join(land, "corpus"))
    # sign the LANDED bytes, not `corpus`: re-using the original relation
    # would re-run the whole synth render+encode a second time (review catch)
    multimodal.crop_patch_signatures(landed).write.mode("overwrite").parquet(
        os.path.join(land, "psigs")
    )
    psigs = spark.read.parquet(os.path.join(land, "psigs"))
    is_hist = F.col("image_id").startswith("hist")
    return incremental.tiered_image_crop_dedup(
        landed.filter(~is_hist),
        landed.filter(is_hist),
        psigs.filter(~is_hist),
        psigs.filter(is_hist),
        max_hamming=IMG_TIER_HAM,
        n_bands=8,
        min_shared=CROP_MIN_SHARED,
    )


def _q_audio_near_dups(spark, sf_dir):
    """Audio near-dup detection under the driver contract. The driver
    testdata ships no media tables, so the corpus is synthesized IN-QUERY by
    synth.audio_corpus: a distributed map-only stage rendering seeded PCM16
    WAV melodies with 16 planted volume-scaled+noised near-dups.

    ORACLED since r5 (previously rows-only): the WAV decode + FFT
    fingerprint is not SQL-expressible, so the operator lands the
    fingerprint relation (media_id, asig int64) at MEDIA_ORACLE_DIR and
    feeds its own banded join from the re-read — DuckDB then re-derives the
    ENTIRE candidate machinery from the same bytes: 8-band pigeonhole
    split, the 1024 bucket cap, the Hamming-distance filter, and the score.
    Planted-pair recall stays gated in tests/test_multimodal.py."""

    from tbdedup_spark import synth
    from tbdedup_spark.operators import multimodal
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # pandas-UDF closures import the package
    media = synth.audio_corpus(spark, n_orig=32, n_dup=16, rate=8000, seed=SEED)
    return multimodal.audio_near_dups(
        media, max_hamming=6, n_bands=8,
        sigs_out_path=os.path.join(MEDIA_ORACLE_DIR, "audio"),
    )


def _q_frame_near_dups(spark, sf_dir):
    """Frame-level video near-dup detection under the driver contract.
    synth.video_corpus plants 12 videos that re-use two content frames of
    their base at different positions; frame_near_dups (sample → pHash →
    banded Hamming, cross-media only) must recover exactly those
    shared-frame pairs — asserted in tests/test_multimodal.py.

    ORACLED since r5 (same mechanism as audio_near_dups): the landed
    (frame_key, phash) relation lets DuckDB re-derive the banded join, the
    bucket cap, the Hamming filter, AND the cross-media predicate
    (split_part on the media_id:frame_idx key)."""

    from tbdedup_spark import synth
    from tbdedup_spark.operators import multimodal
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # pandas-UDF closures import the package
    media = synth.video_corpus(spark, n_orig=24, n_dup=12, seed=SEED)
    return multimodal.frame_near_dups(
        media, every_k=1, max_hamming=3, n_bands=8,
        sigs_out_path=os.path.join(MEDIA_ORACLE_DIR, "frames"),
    )


def _q_dihedral_neardup(spark, sf_dir):
    """Rotation/mirror-invariant image near-dup — the re-upload class plain
    pHash is blind to (a 90-degree rotation permutes and re-signs the DCT
    coefficients, landing Hamming-far from the original). synth plants 20
    rotated/mirrored + lightly-perturbed copies among 40 bases; the
    detector hashes all 8 dihedral orientations per image (one decode,
    map-only) and runs the banded-Hamming self-join over the 8x signature
    relation, keeping matches where one side is the STORED orientation.
    ORACLED like audio/frames: the landed (okey, phash) relation lets
    DuckDB re-derive the banded join, bucket cap, Hamming filter, and the
    canonical-orientation predicate (split_part on image_id:orient).
    Planted-recovery + plain-pHash-blindness asserted in
    tests/test_round5b.py."""

    from tbdedup_spark import synth
    from tbdedup_spark.operators import multimodal
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # pandas-UDF closures import the package
    media = synth.rotated_corpus(spark, n_orig=40, n_dup=20, seed=SEED)
    return multimodal.dihedral_near_dups(
        media, max_hamming=DIH_HAM, n_bands=8,
        sigs_out_path=os.path.join(MEDIA_ORACLE_DIR, "dihedral"),
    )


def _q_crop_image_neardup(spark, sf_dir):
    """Crop-resistant image near-dup — the OTHER re-upload class whole-image
    pHash is blind to (cropping re-frames the DCT basis; dihedral hashing
    does not help). synth plants 20 margin-cropped copies (>= half the area
    kept) among 40 speckled bases; the detector hashes raw P x P patches
    anchored at strict local maxima of the smoothed intensity — purely local
    and deterministic, so every keypoint >= MARGIN px inside the crop
    reproduces its hash EXACTLY — then pairs images sharing >=
    CROP_MIN_SHARED hashes via a capped equality join. ORACLED like
    audio/frames/dihedral: the landed (image_id, psig) relation lets DuckDB
    re-derive the cap, the join, the shared-count threshold, and the
    shared/min(n) score. Planted-recovery + whole-image-pHash blindness
    asserted in tests/test_round5c.py. Reference analog: the canonical-
    signature grouping generalized to many sub-image signatures per record
    (/root/reference/tbdedup/dedup/__init__.py:140-157)."""

    from tbdedup_spark import synth
    from tbdedup_spark.operators import multimodal
    from tbdedup_spark.session import ensure_worker_pyfiles

    ensure_worker_pyfiles(spark)  # pandas-UDF closures import the package
    media = synth.cropped_corpus(spark, n_orig=40, n_dup=20, seed=SEED)
    return multimodal.crop_resistant_near_dups(
        media, min_shared=CROP_MIN_SHARED, max_bucket=CROP_CAP,
        sigs_out_path=os.path.join(MEDIA_ORACLE_DIR, "croppatch"),
    )


def _q_editdist_pairs(spark, sf_dir):
    """Edit-distance-verified near-dup pairs over ``documents``: mod-sampled
    q-gram anchors (content-defined — any verbatim-shared region samples
    identically on both sides) generate candidates; threshold-bounded
    ``levenshtein`` verifies exactly. The precision rung of the dedup
    ladder: minhash/simhash say "probably near", this says "provably within
    ED_MAX edits". Full-pipeline DuckDB mirror (anchors, hot-gram cap,
    length-diff bound, levenshtein) over the same parquet — no landed
    intermediate needed, both engines have the distance built in.

    ENGINE DIVERGENCE GUARD: DuckDB's levenshtein counts UTF-8 BYTES while
    Spark's counts CODE POINTS (levenshtein('café','cafe') = 2 vs 1,
    verified empirically), so the contract query restricts its domain to
    ASCII-only documents IN BOTH ENGINES — on ASCII, bytes == code points
    and the mirror is exact by construction on ANY dataset (the shipped
    testdata happens to be all-ASCII, but the filter makes that a theorem,
    not luck). The OPERATOR itself keeps full code-point semantics — the
    production-correct definition.

    Reference analog: the hash-then-byte-compare verify discipline
    (/root/reference/tbdedup/dedup/__init__.py:140-157)."""
    from tbdedup_spark.operators import editdist

    docs = _t(spark, sf_dir, "documents").filter(
        ~F.col("text").rlike(r"[^\x00-\x7F]")
    )
    return editdist.edit_distance_pairs(
        docs, "doc_id", "text",
        max_dist=ED_MAX, q=ED_Q, sample_mod=ED_MOD, anchor_cap=ED_CAP,
    )


# Stable landing spot for the streaming query's per-batch signature tables:
# the DuckDB mirror reads these files by absolute path (oracle_sql() returns
# a static string, so the location cannot be a per-run tempdir). The Spark
# query overwrites both subdirs on every run, making re-runs deterministic.
STREAM_ORACLE_DIR = f"/tmp/tbdedup_stream_oracle_{_ORACLE_NS}"


def _q_streaming_first_seen(spark, sf_dir):
    """Structured-streaming stateful first-seen dedup under the driver
    contract. Two parquet batches land in a temp dir — the second
    RE-DELIVERS an overlapping slice — and the streaming query
    (streaming/ingest.stream_dedup_first_seen) must emit each canonical
    signature exactly once: batch 1's min-id row per sig, then only the
    genuinely-new sigs from batch 2 (re-arrivals suppressed by the per-group
    state). NoTimeout mode for the finite run; each batch is fully processed
    before the next lands (maxFilesPerTrigger exceeds each batch's file
    count, so one trigger per batch), so the emitted row set is
    deterministic. Invariants gated in tests/test_streaming.py.

    ORACLE (new in r5 — VERDICT r4 task 2): with this deterministic
    two-batch delivery, first-seen IS SQL-expressible — per sig, the min
    image_id within the earliest batch containing it. The query materializes
    each batch's signature relation (computed through the BATCH path,
    exact.signatures — an independent execution of the projection the
    streaming side also runs) at STREAM_ORACLE_DIR, and the DuckDB mirror
    recomputes first-seen from those files. What the green row proves: the
    applyInPandasWithState operator's cross-trigger state semantics match
    the declarative restatement. Reference analog: the dedup writer's
    first-record-wins rule, tbdedup/dedup/__init__.py:140-157."""
    import shutil
    import tempfile

    from tbdedup_spark import synth_dist
    from tbdedup_spark.operators import exact
    from tbdedup_spark.session import ensure_worker_pyfiles
    from tbdedup_spark.streaming import ingest

    ensure_worker_pyfiles(spark)
    base = tempfile.mkdtemp(prefix="tbdedup_stream_q_")
    _cleanup_at_exit(base)
    shutil.rmtree(STREAM_ORACLE_DIR, ignore_errors=True)  # stale parts from
    # a previous run must not leak into the mirror's glob
    inp, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    b1 = synth_dist.images_distributed(spark, n_bases=120, seed=SEED, partitions=4)
    b1.write.mode("overwrite").parquet(os.path.join(inp, "b1"))
    exact.signatures(b1).select("image_id", "sig").write.mode("overwrite").parquet(
        os.path.join(STREAM_ORACLE_DIR, "b1")
    )
    q = ingest.stream_dedup_first_seen(
        spark, inp, out, ckpt, state_ttl_hours=None, max_files_per_trigger=1000
    )
    try:
        q.processAllAvailable()
        # batch 2: bases 80..159 — 0..119 overlap re-delivers 40 bases' rows
        b2 = (
            synth_dist.images_distributed(spark, n_bases=160, seed=SEED, partitions=4)
            .filter(F.col("image_id") >= "img000000080")
        )
        b2.write.mode("overwrite").parquet(os.path.join(inp, "b2"))
        exact.signatures(b2).select("image_id", "sig").write.mode("overwrite").parquet(
            os.path.join(STREAM_ORACLE_DIR, "b2")
        )
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out).select("image_id", "sig")


def _q_streaming_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation under Structured Streaming —
    the late-data shape of a 100-TB ingest feed (readStream → withWatermark
    → window → append sink), run finite via trigger(availableNow).

    Emission semantics ARE the oracle: in append mode a (day, event_type)
    window row is emitted only once the watermark (max event time seen
    minus the 1h delay) passes the window END, so the trailing partial day
    is withheld in state — and the DuckDB mirror reproduces exactly that
    cutoff declaratively (window_end <= max(ts) - 1h). All input files land
    in ONE data microbatch (maxFilesPerTrigger above any sf's file count):
    cross-batch file order is not deterministic and a stale file processed
    after the watermark advanced would DROP rows; one batch means the
    watermark only FINALIZES windows (the trailing no-data microbatch
    flushes them), never discards input. Zero Python in the plan — the
    window/agg runs as JVM stateful operators. Reference analog: the
    summary-by-folder rollup, /root/reference/tbdedup/report.py
    (buildSummary), re-expressed as event-time windows instead of a
    post-hoc dict walk."""
    import shutil
    import tempfile

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    base = tempfile.mkdtemp(prefix="tbdedup_streamwin_")
    _cleanup_at_exit(base)
    inp = os.path.join(base, "in")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    # FileStreamSource requires a DIRECTORY; the sf tables are single files.
    # Staging a copy (bytes, no decode) also mirrors how a feed lands.
    os.makedirs(inp, exist_ok=True)
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(path, f), os.path.join(inp, f))
    else:
        shutil.copy(path, os.path.join(inp, "part-0.parquet"))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(inp)
        # events.ts is TIMESTAMP_NTZ; watermarks require an instant type.
        # Session tz is pinned UTC (session.py), so the NTZ→TZ cast is a
        # pure reinterpretation — wall-clock values are unchanged.
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # value is 2-dp synthetic; sum it as DECIMAL, not round(sum
            # (double), 4) — a double sum is accumulation-order-dependent
            # and its cross-engine delta outgrows the rounding boundary at
            # large per-group row counts (same discipline as group_agg)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            # back to NTZ for schema parity with the source column
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


# --- generic relational operators (SURVEY §2 mappings on TPC-H tables) -------


def _q_scan_filter(spark, sf_dir):
    """O1+O18: pushed-down scan filter + projection."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05)
    ).select(
        "l_orderkey", "l_linenumber",
        # 4 dp: the product of two 2-dp values has <=4 true decimals, so the
        # round is boundary-free (engines' HALF_UP vs HALF_EVEN can't differ)
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
    )


def _q_group_agg(spark, sf_dir):
    """O10 re-expressed: one shuffle replaces per-hash point queries
    (TPC-H Q1 shape; decimal-exact sums so both engines agree bitwise)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_topk_per_group(spark, sf_dir):
    """O11 generalized: deterministic top-3 per group via row_number.

    Hot-key caveat (the repo convention, operators/exact.py + asof.py):
    Window.partitionBy places each o_custkey's rows on ONE task — fine here
    because customers are real entities with bounded order counts; for a
    group column with power-law keys use the EXECUTABLE salted variant,
    ``topk_per_group_salted`` (operators/topk.py — partial per-(key, salt)
    top-k then re-rank), which this oracle also certifies row-identical."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


def _q_topk_per_group_salted(spark, sf_dir):
    """The SKEW-SAFE variant of ``topk_per_group`` — same contract, same
    oracle, two-phase salted plan (operators/topk.py): partial top-3 per
    (custkey, salt) windows first, so no single task ever holds a whole hot
    key, then a re-rank over the <= 3*n_salt survivors per key. Row-identical
    to the single-window form because (o_orderdate, o_orderkey) is a total
    order; the green oracle row IS the equivalence proof. This is the
    executable form of the hot-key caveat documented on _q_topk_per_group /
    _q_sessionize / _q_rolling_agg."""
    from tbdedup_spark.operators import topk

    o = _t(spark, sf_dir, "orders")
    out = topk.topk_per_group(
        o, ["o_custkey"], ["o_orderdate", "o_orderkey"], k=3, n_salt=8
    )
    return out.select("o_custkey", "o_orderkey", "rnk")


def _q_count_distinct(spark, sf_dir):
    """O9 generalized: per-month distinct customers."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count_distinct("o_custkey").alias("n_cust"), F.count(F.lit(1)).alias("n_orders"))
    )


def _q_join_agg(spark, sf_dir):
    """Broadcast-join star query (dims broadcast — the 100 TB plan shape)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _q_derived_key_group(spark, sf_dir):
    """O17: the preplanner's group-by-derived-key (path suffix analog)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.concat_ws("/", "source", "lang").alias("group_key"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def _q_regex_filter(spark, sf_dir):
    """O18: the planner's regex limit-pattern filter."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike("join .*filter|window scan")).select("doc_id")


def _q_set_ops(spark, sf_dir):
    """Set operators: customers ordering in both 1995 and 1996."""
    o = _t(spark, sf_dir, "orders")
    y = lambda yr: o.filter(F.year("o_orderdate") == yr).select("o_custkey").distinct()
    return y(1995).intersect(y(1996))


def _q_sessionize(spark, sf_dir):
    """Event sessionization (gap > 30 min) — lag window + conditional sum.

    Hot-key caveat (the repo convention, operators/exact.py + asof.py): the
    lag window serializes each user_id onto one task. Users are real bounded
    entities, so this holds at 100 TB; a bot/default key that owns 1% of all
    events would need per-(user, day) pre-splitting with boundary stitching
    (sessions can't span the split gap check) before the window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("brk", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("brk").alias("n_sessions"))
    )


def _q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every click matched to the user's
    most recent view at or before it. Spark lacks a native ASOF JOIN; the
    operator is the union+window composition — one shuffle by key, one
    ordered scan — and DuckDB's native ASOF LEFT JOIN is the oracle.
    Views are pre-aggregated to one row per (user, ts) in BOTH engines so
    the equal-timestamp tie rule cannot differ. Timestamps are returned as
    epoch microseconds (engine-neutral)."""
    return _asof_clicks_views(spark, sf_dir, tolerance_s=None)


def _asof_clicks_views(spark, sf_dir, tolerance_s):
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof.asof_join(
        clicks, views, by="user_id", time_col="ts",
        right_cols=["view_value"], tolerance_s=tolerance_s,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("view_us"),
        F.round("view_value_r", 6).alias("view_value"),
    )


def _q_asof_join_tolerance(spark, sf_dir):
    """As-of join WITH a max-gap tolerance (pandas merge_asof semantics):
    matches older than 120s are nulled. Exercises the microsecond-precision
    gap (events carry sub-second timestamps; whole-second truncation would
    keep a 120.4s-stale match — the ADVICE r3 defect, now oracle-checked).
    DuckDB mirror: native ASOF LEFT JOIN + an epoch_us gap filter."""
    return _asof_clicks_views(spark, sf_dir, tolerance_s=120)


def _q_rolling_agg(spark, sf_dir):
    """Rolling window aggregate: per-user moving average of the last 4
    events (3 preceding + current) in (ts, event_id) order. Hot-key caveat
    as for sessionize: user_id partitions are real bounded entities."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


def _q_cube_agg(spark, sf_dir):
    """CUBE aggregate (all grouping-set combinations) over orders —
    completes the rollup/cube subtotal family."""
    o = _t(spark, sf_dir, "orders")
    # decimal sum, NOT round(sum(double), 2): a double sum is accumulation-
    # order-dependent and at sf1-scale row counts the cross-engine delta
    # (~6e-3 measured on 1.5M 2-dp values) exceeds the 0.005 half-boundary
    # of the rounding — the same flake group_agg's decimal discipline avoids
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


def _q_anti_join(spark, sf_dir):
    """Left ANTI join: customers who ordered in 1995-03 but not in 1995-04 —
    the churn query shape; both sides pre-aggregated so the anti join is
    distinct-key vs distinct-key."""
    o = _t(spark, sf_dir, "orders")
    m = lambda mo: (
        o.filter(F.date_format("o_orderdate", "yyyy-MM") == mo)
        .select("o_custkey")
        .distinct()
    )
    return m("1995-03").join(m("1995-04"), "o_custkey", "left_anti")


def _q_bpe_token_counts(spark, sf_dir):
    """BPE-ish regex tokenization (letters / digits / single punctuation
    runs — the GPT-2 pre-tokenizer shape) next to the whitespace count;
    the class pattern means Java regex and RE2 agree symbol-for-symbol."""
    d = _t(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias("bpe_tokens"),
        F.length("text").alias("chars"),
    )


def _q_rollup_agg(spark, sf_dir):
    """ROLLUP aggregate (subtotal hierarchy) over orders."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # decimal-exact sum — see _q_cube_agg
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# =============================================================================
# DuckDB oracle SQL (exact mirrors; same constants)
# =============================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _sh_sql(k: int) -> str:
    return (
        f"list_distinct(list_transform(generate_series(0, greatest(length(norm) - {k}, 0)),"
        f" i -> substr(norm, i + 1, {k})))"
    )


def _h60_sql(x: str) -> str:
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _winnow_ctes_sql() -> str:
    """The shared d/g/kg/w winnowing CTE block (normalize -> k-gram hashes
    packed with the rightmost-min position tiebreak -> per-doc window min),
    used by BOTH winnow oracle entries so the two mirrors cannot drift
    (review catch: the block was previously maintained twice verbatim)."""
    return f"""WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents
           WHERE length({_NORM}) >= {WINNOW_K}),
g AS (SELECT doc_id, norm,
             unnest(generate_series(0, length(norm) - {WINNOW_K})) AS pos
      FROM d),
kg AS (SELECT doc_id, pos,
              ({_h60_sql(f"substr(norm, pos + 1, {WINNOW_K})")} % 1073741824)
                * {_POS_ENC} + ({_POS_ENC - 1} - pos) AS key
       FROM g),
w AS (SELECT doc_id, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS win
      FROM kg)"""


def _minhash_pairs_sql() -> str:
    """Shared CTE block ending in relation ``mh_pairs(a_id,b_id,score)``."""
    mins = ", ".join(
        f"min(({a} * hp + {b}) % {P}) AS mh{j}" for j, (a, b) in enumerate(COEF)
    )
    r = N_PERM // N_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {t} AS band_idx, concat("
        + ", '-', ".join(f"mh{t * r + j}" for j in range(r))
        + ") AS band_key FROM m"
        for t in range(N_BANDS)
    )
    # est prefilter: integer count of equal minhash coords >= MIN_EQ — the
    # same predicate as Spark's size(filter(zip_with(...)))/16.0 >= 0.4375
    # (7/16 is an exact dyadic, so the float and integer forms coincide).
    eq_count = " + ".join(
        f"CASE WHEN ma.mh{j} = mb.mh{j} THEN 1 ELSE 0 END" for j in range(N_PERM)
    )
    return f"""
d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
s AS (SELECT doc_id, {_sh_sql(K)} AS sh FROM d),
hset AS (SELECT doc_id, list_distinct(list_transform(sh, g -> {_h60_sql('g')})) AS hs FROM s),
ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
hh AS (SELECT doc_id, {_h60_sql('g')} % {P} AS hp FROM ex),
m AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.a_id, c.b_id
  FROM cand c
  JOIN m ma ON ma.doc_id = c.a_id
  JOIN m mb ON mb.doc_id = c.b_id
  WHERE ({eq_count}) >= {MIN_EQ}
),
mh_pairs AS (
  SELECT e.a_id, e.b_id,
         CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
           / len(list_distinct(ha.hs || hb.hs)) AS score
  FROM est e
  JOIN hset ha ON ha.doc_id = e.a_id
  JOIN hset hb ON hb.doc_id = e.b_id
  WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
          / len(list_distinct(ha.hs || hb.hs)) >= {TAU}
)"""


def _substr_pairs_sql() -> str:
    """Relation ``sub_pairs(a_id, b_id)`` — brute-force containment (the
    oracle for the winnowed-probe index join, which is complete+precise).
    Contract shared with the Spark side: empty normalized strings are
    excluded (an empty string is contained in everything — quadratic junk);
    sub-k-length docs are included (Spark handles them via the broadcast
    brute path, operators/substr.py:_brute_pairs)."""
    return f"""
dn AS (SELECT doc_id, {_NORM} AS norm FROM documents),
sub_pairs AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
                  greatest(a.doc_id, b.doc_id) AS b_id
  FROM dn a JOIN dn b
    ON a.doc_id != b.doc_id AND a.norm != b.norm AND contains(b.norm, a.norm)
       AND length(a.norm) >= 1
)"""


def _simhash_sql() -> str:
    sums, assemble = text.simhash_sql(SIM_W)
    bits_per = SIM_W // SIM_BANDS
    mask = (1 << bits_per) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {t} AS band_idx, (sh >> {t * bits_per}) & {mask} AS band_bits FROM shh"
        for t in range(SIM_BANDS)
    )
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
h0 AS (SELECT doc_id, {_h60_sql('t')} AS h FROM tok),
sums AS (SELECT doc_id, {', '.join(sums)} FROM h0 GROUP BY doc_id),
shh AS (SELECT doc_id, {assemble} AS sh FROM sums),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sha, b.sh AS shb
  FROM bands a JOIN bands b USING (band_idx, band_bits)
  WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id, 'simhash' AS detector,
       round(1.0 - CAST(bit_count(xor(sha, shb)) AS DOUBLE) / {SIM_W}, 6) AS score
FROM cand WHERE bit_count(xor(sha, shb)) <= {SIM_D}
"""


def _hamming_files_sql(
    path: str,
    id_col: str,
    sig_col: str,
    detector: str,
    max_hamming: int,
    n_bands: int = 8,
    width: int = 64,
    max_bucket: int = 1024,
    extra_where: str = "",
) -> str:
    """DuckDB mirror of operators/simhash.simhash_pairs over a MATERIALIZED
    signature relation (the sigs_out_path mechanism): band split, bucket cap
    (kept-bucket semantics identical to the capped join), banded self-join,
    exact Hamming filter, 1 - d/width score."""
    bits = width // n_bands
    mask = (1 << bits) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT id, s, {t} AS band_idx, (s >> {t * bits}) & {mask} AS band_bits FROM sigs"
        for t in range(n_bands)
    )
    return f"""
WITH sigs AS (SELECT {id_col} AS id, {sig_col} AS s
              FROM read_parquet('{path}/*.parquet')),
bands AS ({band_rows}),
bsz AS (SELECT band_idx, band_bits, count(*) AS c FROM bands GROUP BY 1, 2),
kept AS (SELECT b.* FROM bands b JOIN bsz USING (band_idx, band_bits)
         WHERE c <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.s AS sa, b.s AS sb
  FROM kept a JOIN kept b USING (band_idx, band_bits)
  WHERE a.id < b.id
)
SELECT a_id, b_id, '{detector}' AS detector,
       round(1.0 - CAST(bit_count(xor(sa, sb)) AS DOUBLE) / {width}, 6) AS score
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming} {extra_where}
"""


def _ann_common_sql() -> str:
    return """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e)"""


def _ann_bruteforce_sql() -> str:
    return f"""
WITH {_ann_common_sql()},
p AS (SELECT vec_id AS probe_id, v AS pv, nv AS npv FROM nrm WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, v AS cv, nv AS ncv FROM nrm),
s AS (
  SELECT probe_id, neighbor_id, list_dot_product(pv, cv) / (npv * ncv) AS score
  FROM c CROSS JOIN p WHERE probe_id != neighbor_id
),
r AS (SELECT probe_id, neighbor_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM s)
SELECT probe_id, neighbor_id, round(score, 6) AS score, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {ANN_K}
"""


def _proj_list_sql(j: int) -> str:
    return "[" + ", ".join(repr(x) for x in PROJ[j]) + "]"


def _ann_lsh_sql() -> str:
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_proj_list_sql(j)}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(ANN_BITS)
    )
    flips = "[" + ", ".join(str(x) for x in [0] + [1 << j for j in range(ANN_BITS)]) + "]"
    return f"""
WITH {_ann_common_sql()},
sg AS (SELECT vec_id, v, nv, {sig_terms} AS sig FROM nrm),
p AS (SELECT vec_id AS probe_id, v AS pv, nv AS npv, xor(sig, f) AS sig
      FROM sg, unnest({flips}) AS u(f) WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, v AS cv, nv AS ncv, sig FROM sg),
cand AS (
  SELECT DISTINCT probe_id, neighbor_id, pv, npv, cv, ncv
  FROM c JOIN p USING (sig) WHERE probe_id != neighbor_id
),
s AS (SELECT probe_id, neighbor_id, list_dot_product(pv, cv) / (npv * ncv) AS score FROM cand),
r AS (SELECT probe_id, neighbor_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM s)
SELECT probe_id, neighbor_id, round(score, 6) AS score, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {ANN_K}
"""


def _embedding_neardup_sql() -> str:
    """Brute-force truth: same hashed-BoW embedding + signature, ALL pairs."""
    sums, assemble = text.hashed_bow_sql("h", EMB_DIM)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_proj_list_sql(j)}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(ANN_BITS)
    )
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
h0 AS (SELECT doc_id, {_h60_sql('t')} AS h FROM tok),
sums AS (SELECT doc_id, {', '.join(sums)} FROM h0 GROUP BY doc_id),
emb AS (SELECT doc_id, {assemble} AS v FROM sums),
nrm AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nv, {sig_terms} AS sig FROM emb),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         round(list_dot_product(a.v, b.v) / (a.nv * b.nv), 6) AS score,
         bit_count(xor(a.sig, b.sig)) AS ham
  FROM nrm a JOIN nrm b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, score FROM p WHERE ham <= {NEARDUP_HAM} AND score >= {NEARDUP_TAU}
"""


def _embedding_neardup_capped_sql() -> str:
    """Banded-join mirror WITH the bucket cap — NOT brute force: the capped
    result is 'pairs sharing >= 1 SURVIVING band bucket', so the oracle must
    build the same bands, drop the same over-cap buckets, and verify the
    same hamming+cosine contract."""
    sums, assemble = text.hashed_bow_sql("h", EMB_DIM)
    proj2 = lambda j: "[" + ", ".join(repr(x) for x in PROJ2[j]) + "]"
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {proj2(j)}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(NEARDUP2_BITS)
    )
    bits_per = NEARDUP2_BITS // NEARDUP_BANDS
    mask = (1 << bits_per) - 1
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
h0 AS (SELECT doc_id, {_h60_sql('t')} AS h FROM tok),
sums AS (SELECT doc_id, {', '.join(sums)} FROM h0 GROUP BY doc_id),
emb AS (SELECT doc_id, {assemble} AS v FROM sums),
nrm AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nv, {sig_terms} AS sig FROM emb),
bands AS (
  SELECT doc_id, sig, band_idx, (sig >> (band_idx * {bits_per})) & {mask} AS band_bits
  FROM nrm, unnest({list(range(NEARDUP_BANDS))}) AS u(band_idx)
),
bsz AS (SELECT band_idx, band_bits, count(*) AS c FROM bands GROUP BY 1, 2),
kept AS (SELECT b.* FROM bands b JOIN bsz USING (band_idx, band_bits) WHERE c <= {NEARDUP2_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM kept a JOIN kept b USING (band_idx, band_bits)
  WHERE a.doc_id < b.doc_id
),
p AS (
  SELECT c.a_id, c.b_id,
         round(list_dot_product(x.v, y.v) / (x.nv * y.nv), 6) AS score,
         bit_count(xor(x.sig, y.sig)) AS ham
  FROM cand c JOIN nrm x ON x.doc_id = c.a_id JOIN nrm y ON y.doc_id = c.b_id
)
SELECT a_id, b_id, score FROM p WHERE ham <= {NEARDUP_HAM} AND score >= {NEARDUP_TAU}
"""


def _semdedup_sql() -> str:
    """Mirror of ann.semdedup over the hashed-BoW doc embeddings: the
    landed (doc_id, cell) assignments are the trusted k-means output; the
    embedding, the within-cell pairs, the exact cosine, and the
    keep-smallest-id rule are all re-derived relationally."""
    sums, assemble = text.hashed_bow_sql("h", EMB_DIM)
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
h0 AS (SELECT doc_id, {_h60_sql('t')} AS h FROM tok),
sums AS (SELECT doc_id, {', '.join(sums)} FROM h0 GROUP BY doc_id),
emb AS (SELECT doc_id, {assemble} AS v FROM sums),
nrm AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nv FROM emb),
asg AS (SELECT doc_id, cell
        FROM read_parquet('{MEDIA_ORACLE_DIR}/semdedup/*.parquet')),
m AS (SELECT a.doc_id, a.cell, n.v, n.nv FROM asg a JOIN nrm n USING (doc_id)),
drp AS (
  SELECT DISTINCT y.doc_id
  FROM m x JOIN m y ON x.cell = y.cell AND x.doc_id < y.doc_id
  WHERE list_dot_product(x.v, y.v) / (x.nv * y.nv) >= {SEMDEDUP_TAU}
)
SELECT m.doc_id, CAST(m.cell AS INT) AS cell, (p.doc_id IS NULL) AS kept
FROM m LEFT JOIN drp p ON m.doc_id = p.doc_id
"""


def _lang_id_sql() -> str:
    markers = {
        "en": ["the", "and", "of", "to", "is"],
        "de": ["der", "die", "und", "ist", "nicht"],
        "es": ["el", "la", "los", "que", "es"],
        "fr": ["le", "la", "les", "est", "une"],
    }
    score = lambda ws: "len(list_intersect(toks, [" + ", ".join(f"'{w}'" for w in ws) + "]))"
    scores = {lang: score(ws) for lang, ws in markers.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in ("de", "en", "es", "fr")
    )
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
t AS (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS toks FROM d),
sc AS (SELECT doc_id, toks, {best} AS best FROM t)
SELECT doc_id, CASE WHEN best <= 0 THEN 'other' {whens} ELSE 'other' END AS lang_guess FROM sc
"""


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + "]"


def oracle_sql() -> dict[str, str]:
    mh = _minhash_pairs_sql()
    sub = _substr_pairs_sql()
    # Shared restatement of the flagship cluster subtree (detector edges ->
    # transitive closure -> min-label), used verbatim by every oracle that
    # consumes (doc_id, cluster_id): dedup_clusters, leakage_safe_split,
    # soft_dedup_weights, cluster_quality_representatives.
    clusters_cte = f"""WITH RECURSIVE {mh}, {sub},
edges AS (
  SELECT a_id, b_id FROM mh_pairs UNION SELECT a_id, b_id FROM sub_pairs
),
sym AS (SELECT a_id AS s, b_id AS t FROM edges UNION SELECT b_id, a_id FROM edges),
reach(s, t) AS (
  SELECT s, t FROM sym
  UNION
  SELECT r.s, e.t FROM reach r JOIN sym e ON r.t = e.s
),
lbl AS (
  SELECT doc_id, doc_id AS m FROM documents
  UNION ALL
  SELECT s AS doc_id, t AS m FROM reach
),
cl AS (SELECT doc_id, MIN(m) AS cluster_id FROM lbl GROUP BY doc_id)"""
    return {
        "exact_dedup_representatives": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT sha256(norm) AS sig, MIN(doc_id) AS representative_id,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM d GROUP BY sha256(norm)
""",
        "dual_hash_sanity": f"""
WITH d AS (SELECT sha256({_NORM}) AS c, sha256(text) AS r FROM documents)
SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS unique_canonical,
       CAST(COUNT(DISTINCT r) AS BIGINT) AS unique_disk,
       CAST(COUNT(*) AS BIGINT) AS total_rows
FROM d
""",
        "minhash_lsh_pairs": f"""
WITH {mh}
SELECT a_id, b_id, 'minhash' AS detector, round(score, 6) AS score FROM mh_pairs
""",
        "simhash_hamming_pairs": _simhash_sql(),
        "substr_containment_pairs": f"""
WITH {sub}
SELECT a_id, b_id, 'substr' AS detector, CAST(1.0 AS DOUBLE) AS score FROM sub_pairs
""",
        "dedup_clusters": f"""
{clusters_cte}
SELECT doc_id, cluster_id FROM cl
""",
        "leakage_safe_split": f"""
{clusters_cte}
SELECT doc_id, cluster_id,
       CASE WHEN {_h60_sql("'split:' || CAST(cluster_id AS VARCHAR)")} % 10000
                 < {VALID_BP}
            THEN 'valid' ELSE 'train' END AS split
FROM cl
""",
        "incremental_cluster_update": f"""
{clusters_cte}
SELECT doc_id, cluster_id FROM cl
""",
        "minhash_recall_block": f"""
WITH {mh},
blk AS (SELECT doc_id, hs FROM hset WHERE doc_id < {RECALL_BLOCK}),
tp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM blk a JOIN blk b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
          / len(list_distinct(a.hs || b.hs)) >= {TAU}
),
tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tp),
dc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_detected FROM mh_pairs
       WHERE a_id < {RECALL_BLOCK} AND b_id < {RECALL_BLOCK})
SELECT n_true, n_detected,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(n_detected AS DOUBLE) / n_true END, 6) AS recall
FROM tc, dc
""",
        "soft_dedup_weights": f"""
{clusters_cte},
sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       FROM cl GROUP BY cluster_id)
SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       round(1.0 / sz.cluster_size, 6) AS soft_weight
FROM cl JOIN sz USING (cluster_id)
""",
        "cluster_quality_representatives": f"""
{clusters_cte},
sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       FROM cl GROUP BY cluster_id),
q AS (SELECT doc_id, CAST(length({_NORM}) AS BIGINT) AS n_chars_norm
      FROM documents),
j AS (SELECT cl.doc_id, cl.cluster_id, q.n_chars_norm
      FROM cl JOIN q USING (doc_id)),
b AS (SELECT cluster_id, MAX(n_chars_norm) AS best FROM j GROUP BY cluster_id)
SELECT j.cluster_id,
       MIN(j.doc_id) AS representative_id,
       MAX(j.n_chars_norm) AS rep_n_chars,
       MAX(sz.cluster_size) AS cluster_size
FROM j
JOIN b ON j.cluster_id = b.cluster_id AND j.n_chars_norm = b.best
JOIN sz ON j.cluster_id = sz.cluster_id
GROUP BY j.cluster_id
""",
        "ngram_jaccard_pairs": f"""
WITH d AS (SELECT doc_id, lang,
                  list_distinct(string_split({_NORM}, ' ')) AS toks
           FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(a.toks || b.toks)), 6) AS score
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(a.toks || b.toks)) >= {NGRAM_TAU}
""",
        "token_counts": f"""
WITH d AS (SELECT doc_id, text, {_NORM} AS norm FROM documents)
SELECT doc_id,
       CAST(CASE WHEN length(norm) = 0 THEN 0 ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens_bpe
FROM d
""",
        "quality_scores": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
t AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM d)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS n_chars_norm,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round((length(norm) - (len(toks) - 1)) / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS mean_token_len,
       round(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) / greatest(CAST(length(norm) AS DOUBLE), 1.0), 6) AS punct_ratio,
       round(CAST(len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS DOUBLE)
             / greatest(CAST(len(list_distinct(toks)) AS DOUBLE), 1.0), 6) AS stopword_ratio
FROM t
""",
        "lang_id": _lang_id_sql(),
        "doc_fingerprint": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
s AS (SELECT doc_id, {_sh_sql(FP_K)} AS sh FROM d)
SELECT doc_id, list_min(list_transform(sh, s -> {_h60_sql('s')})) AS fp FROM s
""",
        "ann_topk_bruteforce": _ann_bruteforce_sql(),
        "ann_topk_lsh": _ann_lsh_sql(),
        "embedding_neardup_pairs": _embedding_neardup_sql(),
        "embedding_neardup_capped": _embedding_neardup_capped_sql(),
        "ngram_topk": f"""
WITH d AS (SELECT string_split({_NORM}, ' ') AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
  FROM d WHERE len(toks) >= 3
)
SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g
GROUP BY gram ORDER BY n DESC, gram LIMIT 20
""",
        "decontaminate_overlap": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
h AS (
  SELECT doc_id, probe FROM d, unnest({list(DECONTAM_PROBES)}) AS u(probe)
  WHERE contains(norm, probe)
)
SELECT doc_id, CAST(COUNT(DISTINCT probe) AS BIGINT) AS n_hits
FROM h GROUP BY doc_id
""",
        "decontaminate_ngram_join": f"""
WITH d AS (SELECT doc_id, source, string_split({_NORM}, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(toks) - {DECONTAM_N - 1}),
                i -> {" || ' ' || ".join(f"toks[i + {j}]" for j in range(DECONTAM_N))})) AS gram
  FROM d WHERE len(toks) >= {DECONTAM_N}
),
probe AS (SELECT DISTINCT gram FROM g WHERE source = '{DECONTAM_HOLDOUT}'),
train AS (SELECT DISTINCT doc_id, gram FROM g WHERE source != '{DECONTAM_HOLDOUT}')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM train JOIN probe USING (gram) GROUP BY doc_id
""",
        "streaming_first_seen_dedup": f"""
WITH u AS (
  SELECT image_id, sig, 1 AS batch
  FROM read_parquet('{STREAM_ORACLE_DIR}/b1/*.parquet')
  UNION ALL
  SELECT image_id, sig, 2 AS batch
  FROM read_parquet('{STREAM_ORACLE_DIR}/b2/*.parquet')
),
fb AS (SELECT sig, min(batch) AS batch FROM u GROUP BY sig)
SELECT min(u.image_id) AS image_id, u.sig AS sig
FROM u JOIN fb USING (sig, batch) GROUP BY u.sig
""",
        "audio_near_dups": _hamming_files_sql(
            f"{MEDIA_ORACLE_DIR}/audio", "media_id", "asig", "audio_fp",
            max_hamming=6,
        ),
        "frame_near_dups": _hamming_files_sql(
            f"{MEDIA_ORACLE_DIR}/frames", "frame_key", "phash", "frame_phash",
            max_hamming=3,
            extra_where="AND regexp_replace(a_id, ':[0-9]+$', '') != "
            "regexp_replace(b_id, ':[0-9]+$', '')",
        ),
        "crop_image_neardup": f"""
WITH sigs AS (SELECT image_id, psig
              FROM read_parquet('{MEDIA_ORACLE_DIR}/croppatch/*.parquet')),
cnt AS (SELECT image_id, count(*) AS n FROM sigs GROUP BY 1),
freq AS (SELECT psig, count(*) AS c FROM sigs GROUP BY 1),
kept AS (SELECT s.image_id, s.psig FROM sigs s JOIN freq USING (psig)
         WHERE c <= {CROP_CAP}),
p AS (SELECT a.image_id AS a_id, b.image_id AS b_id, count(*) AS shared
      FROM kept a JOIN kept b USING (psig)
      WHERE a.image_id < b.image_id GROUP BY 1, 2)
SELECT a_id, b_id, 'crop_patch' AS detector, CAST(shared AS INT) AS shared,
       round(CAST(shared AS DOUBLE) / least(na.n, nb.n), 6) AS score
FROM p JOIN cnt na ON na.image_id = p.a_id
       JOIN cnt nb ON nb.image_id = p.b_id
WHERE shared >= {CROP_MIN_SHARED}
""",
        "editdist_pairs": f"""
WITH d AS (SELECT doc_id AS id, {_NORM} AS t FROM documents
           -- ASCII-only domain: DuckDB levenshtein counts UTF-8 bytes,
           -- Spark counts code points; on ASCII they coincide (the Spark
           -- query applies the identical filter)
           WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')),
nn AS (SELECT id, t, length(t) AS n FROM d WHERE length(t) >= {ED_Q}),
g AS (SELECT id, n,
             unnest(list_transform(generate_series(0, n - {ED_Q}),
                                   i -> substr(t, i + 1, {ED_Q}))) AS gram
      FROM nn),
gh AS (SELECT id, n, {_h60_sql('gram')} AS h FROM g),
anc AS (SELECT DISTINCT id, n, h FROM gh WHERE h % {ED_MOD} = 0),
freq AS (SELECT h, count(*) AS df FROM anc GROUP BY 1),
capped AS (SELECT anc.* FROM anc JOIN freq USING (h) WHERE df <= {ED_CAP}),
cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
         FROM capped a JOIN capped b USING (h)
         WHERE a.id < b.id AND abs(a.n - b.n) <= {ED_MAX}),
v AS (SELECT a_id, b_id, levenshtein(ta.t, tb.t) AS dist,
             greatest(ta.n, tb.n) AS mx
      FROM cand JOIN nn ta ON ta.id = a_id JOIN nn tb ON tb.id = b_id)
SELECT a_id, b_id, CAST(dist AS INT) AS edit_distance,
       round(1.0 - CAST(dist AS DOUBLE) / mx, 6) AS score
FROM v WHERE dist <= {ED_MAX}
""",
        "dihedral_image_neardup": _hamming_files_sql(
            f"{MEDIA_ORACLE_DIR}/dihedral", "okey", "phash", "dihedral_phash",
            max_hamming=DIH_HAM,
            extra_where=(
                "AND substr(a_id, 1, length(a_id) - 2) != "
                "substr(b_id, 1, length(b_id) - 2) "
                "AND (right(a_id, 1) = '0' OR right(b_id, 1) = '0')"
            ),
        ),
        "ann_topk_ivf": f"""
WITH {_ann_common_sql()},
cc AS (SELECT neighbor_id, cell
       FROM read_parquet('{MEDIA_ORACLE_DIR}/ivf/corpus/*.parquet')),
pc AS (SELECT probe_id, cell
       FROM read_parquet('{MEDIA_ORACLE_DIR}/ivf/probes/*.parquet')),
cand AS (
  SELECT DISTINCT probe_id, neighbor_id
  FROM pc JOIN cc USING (cell) WHERE probe_id != neighbor_id
),
s AS (
  SELECT cand.probe_id, cand.neighbor_id,
         list_dot_product(p.v, c.v) / (p.nv * c.nv) AS score
  FROM cand JOIN nrm p ON p.vec_id = cand.probe_id
            JOIN nrm c ON c.vec_id = cand.neighbor_id
),
r AS (SELECT probe_id, neighbor_id, score,
             row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM s)
SELECT probe_id, neighbor_id, round(score, 6) AS score, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {ANN_K}
""",
        "image_dedup_clusters": f"""
WITH RECURSIVE
ids AS (SELECT image_id FROM read_parquet('{IMG_ORACLE_DIR}/ids/*.parquet')),
e AS (SELECT DISTINCT a_id, b_id FROM read_parquet('{IMG_ORACLE_DIR}/pairs/*.parquet')),
sym AS (SELECT a_id AS s, b_id AS t FROM e UNION SELECT b_id, a_id FROM e),
reach(s, t) AS (
  SELECT s, t FROM sym
  UNION
  SELECT r.s, e2.t FROM reach r JOIN sym e2 ON r.t = e2.s
),
lbl AS (
  SELECT image_id, image_id AS m FROM ids
  UNION ALL
  SELECT s AS image_id, t AS m FROM reach
),
cc AS (SELECT image_id, MIN(m) AS cluster_id FROM lbl GROUP BY image_id),
okm AS (SELECT image_id FROM read_parquet('{IMG_ORACLE_DIR}/checked/*.parquet') WHERE ok)
SELECT image_id, cluster_id, TRUE AS is_representative
FROM cc WHERE image_id = cluster_id
UNION ALL
SELECT cc.image_id, cc.cluster_id, FALSE AS is_representative
FROM cc JOIN okm USING (image_id)
""",
        "streaming_windowed_counts": """
SELECT * FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         event_type,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
) WHERE window_start + INTERVAL 1 DAY <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
""",
        "paragraph_dedup": f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
p AS (
  SELECT doc_id, j,
         array_to_string(toks[j * {PARA_W} + 1 : j * {PARA_W} + {PARA_W}], ' ') AS para
  FROM d, unnest(generate_series(0, CAST(ceil(len(toks) / {PARA_W}.0) AS INT) - 1)) AS u(j)
),
h AS (SELECT doc_id, j, {_h60_sql('para')} AS ph FROM p),
w AS (SELECT ph, min({{'d': doc_id, 'i': j}}) AS w FROM h GROUP BY ph),
k AS (SELECT (w).d AS doc_id, CAST(count(*) AS BIGINT) AS n_kept FROM w GROUP BY 1),
t AS (SELECT doc_id, CAST(ceil(len(toks) / {PARA_W}.0) AS BIGINT) AS n_paras FROM d)
SELECT t.doc_id, t.n_paras,
       coalesce(k.n_kept, 0) AS n_kept,
       round(1.0 - coalesce(k.n_kept, 0) / CAST(t.n_paras AS DOUBLE), 6) AS dup_para_frac
FROM t LEFT JOIN k USING (doc_id)
""",
        "stratified_sample": f"""
SELECT doc_id, lang FROM documents
WHERE {_h60_sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 10000 <
      (CASE {' '.join(f"WHEN lang = '{lg}' THEN {bp}" for lg, bp in sorted(SAMPLE_BP.items()))}
       ELSE {SAMPLE_BP_DEFAULT} END)
""",
        "quality_filter_chain": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
t AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM d),
f AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        round((length(norm) - (len(toks) - 1)) / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS mtl,
        round(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) / greatest(CAST(length(norm) AS DOUBLE), 1.0), 6) AS punct,
        round(CAST(len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS DOUBLE)
              / greatest(CAST(len(list_distinct(toks)) AS DOUBLE), 1.0), 6) AS stop
      FROM t),
r AS (SELECT doc_id,
        CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
             WHEN n_tokens > {QF_MAX_TOKENS} THEN 'too_long'
             WHEN mtl < {QF_MEAN_TOK_MIN} THEN 'short_tokens'
             WHEN mtl > {QF_MEAN_TOK_MAX} THEN 'long_tokens'
             WHEN punct > {QF_MAX_PUNCT} THEN 'punct_heavy'
             WHEN stop < {QF_MIN_STOPWORD} THEN 'low_stopword'
             ELSE 'pass' END AS fail_reason
      FROM f)
SELECT doc_id, fail_reason,
       CAST(CASE WHEN fail_reason = 'pass' THEN 1 ELSE 0 END AS BIGINT) AS passed
FROM r
""",
        "domain_quota_sample": f"""
WITH c AS (SELECT lang, count(*) AS n_dom FROM documents GROUP BY lang),
r AS (SELECT lang, CAST(least(10000, {10000 * QUOTA_K} // n_dom) AS BIGINT) AS rate_bp FROM c)
SELECT d.doc_id, d.lang, r.rate_bp
FROM documents d JOIN r USING (lang)
WHERE {_h60_sql("'quota:' || CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp
""",
        "pack_sequences": f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
d AS (SELECT doc_id,
        CAST(CASE WHEN length(norm) = 0 THEN 0
                  ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens
      FROM n),
s AS (SELECT doc_id, n_tokens,
        {_h60_sql("'pack:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM d WHERE n_tokens > 0),
c AS (SELECT doc_id, h % {PACK_SHARDS} AS shard, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY h % {PACK_SHARDS}
             ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
      FROM s)
SELECT doc_id, shard, n_tokens,
       end_off - n_tokens AS start_off,
       (end_off - n_tokens) // {PACK_SEQ_LEN} AS seq_first,
       (end_off - 1) // {PACK_SEQ_LEN} AS seq_last,
       CAST(CASE WHEN (end_off - 1) // {PACK_SEQ_LEN}
                    > (end_off - n_tokens) // {PACK_SEQ_LEN}
            THEN 1 ELSE 0 END AS BIGINT) AS straddles
FROM c
""",
        "token_budget_mix": f"""
WITH n AS (SELECT doc_id, lang, {_NORM} AS norm FROM documents),
d AS (SELECT doc_id, lang,
        CAST(CASE WHEN length(norm) = 0 THEN 0
                  ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens
      FROM n),
s AS (SELECT doc_id, lang, n_tokens,
        {_h60_sql("'mix:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM d WHERE n_tokens > 0),
c AS (SELECT doc_id, lang, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY h % {MIX_SHARDS}, h, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
      FROM s)
SELECT doc_id, lang, n_tokens, end_off
FROM c
WHERE end_off <= (CASE {' '.join(f"WHEN lang = '{lg}' THEN {b}" for lg, b in sorted(MIX_BUDGET.items()))}
                  ELSE {MIX_BUDGET_DEFAULT} END)
""",
        "kmv_distinct_sketch": f"""
WITH n AS (SELECT lang, {_NORM} AS norm FROM documents),
d AS (SELECT DISTINCT lang, {_h60_sql("'kmv:' || norm")} AS h FROM n),
rk AS (SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS r
       FROM d),
agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS true_distinct,
               max(CASE WHEN r = {KMV_K} THEN h END) AS hk
        FROM rk GROUP BY lang)
SELECT lang, true_distinct,
       CAST(CASE WHEN hk IS NULL THEN true_distinct
                 ELSE CAST(floor((CAST({KMV_MAX} AS DOUBLE) / hk)
                                 * {KMV_K - 1}) AS BIGINT)
            END AS BIGINT) AS est_distinct
FROM agg
""",
        "countmin_heavy_hitters": f"""
WITH t AS (SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents),
tk AS (SELECT tok FROM t WHERE length(tok) > 0),
buck AS (SELECT g.d,
           {_h60_sql("'cm' || CAST(g.d AS VARCHAR) || ':' || tok")} % {CM_W} AS b
         FROM tk CROSS JOIN range(0, {CM_D}) g(d)),
sketch AS (SELECT d, b, CAST(count(*) AS BIGINT) AS cnt FROM buck GROUP BY d, b),
truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM tk GROUP BY tok),
top AS (SELECT tok, true_cnt FROM truth ORDER BY true_cnt DESC, tok LIMIT {CM_TOPK}),
pb AS (SELECT tok, true_cnt, g.d,
         {_h60_sql("'cm' || CAST(g.d AS VARCHAR) || ':' || tok")} % {CM_W} AS b
       FROM top CROSS JOIN range(0, {CM_D}) g(d)),
est AS (SELECT tok, true_cnt, min(cnt) AS est_cnt
        FROM pb JOIN sketch USING (d, b) GROUP BY tok, true_cnt)
SELECT tok, true_cnt, CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(est_cnt - true_cnt AS BIGINT) AS overcount
FROM est
""",
        "repetition_scores": f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
g AS (SELECT doc_id, toks,
  CASE WHEN len(toks) >= 2
       THEN list_transform(generate_series(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])
       ELSE [] END AS g2,
  CASE WHEN len(toks) >= 3
       THEN list_transform(generate_series(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
       ELSE [] END AS g3
  FROM d)
SELECT doc_id,
  round(CASE WHEN len(g2) = 0 THEN 0.0
             ELSE (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE) END, 6)
    AS dup_2gram_frac,
  round(CASE WHEN len(g3) = 0 THEN 0.0
             ELSE (len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE) END, 6)
    AS dup_3gram_frac,
  round(list_max(list_transform(list_distinct(toks),
                                u -> len(list_filter(toks, t -> t = u))))
        / CAST(len(toks) AS DOUBLE), 6) AS top_token_frac
FROM g
""",
        "tiered_incremental_dedup": f"""
WITH {mh},
t1new AS (SELECT doc_id, sha256({_NORM}) AS sig FROM documents
       WHERE doc_id % {INC_NEW_MOD} = 0),
t1hist AS (SELECT sha256({_NORM}) AS sig FROM documents
       WHERE doc_id % {INC_NEW_MOD} != 0),
t1ex AS (SELECT DISTINCT n.doc_id FROM t1new n JOIN t1hist h USING (sig)),
t2cross AS (
  SELECT DISTINCT CASE WHEN a_id % {INC_NEW_MOD} = 0 THEN a_id ELSE b_id END AS doc_id
  FROM mh_pairs
  WHERE (a_id % {INC_NEW_MOD} = 0) != (b_id % {INC_NEW_MOD} = 0)
),
t2near AS (SELECT doc_id FROM t2cross
           WHERE doc_id NOT IN (SELECT doc_id FROM t1ex))
SELECT n.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN r.doc_id IS NOT NULL THEN 'near'
            ELSE 'unique' END AS tier
FROM t1new n LEFT JOIN t1ex e ON n.doc_id = e.doc_id
             LEFT JOIN t2near r ON n.doc_id = r.doc_id
""",
        # both engines read the SAME landed (image_id, bytes, phash) files;
        # 'exact' is stated as bytes equality (identical set to the Spark
        # side's sha256-equality), 'near' as the brute-force Hamming
        # predicate (identical set to uncapped pigeonhole banding + the
        # exact bit_count residual filter, since max_hamming < n_bands)
        "image_tiered_dedup": f"""
WITH c AS (SELECT image_id, bytes, phash,
                  CAST(substr(image_id, 14, 2) AS INT) AS ctr
           FROM read_parquet('{MEDIA_ORACLE_DIR}/imgtier/*.parquet')),
newb AS (SELECT * FROM c WHERE ctr >= 1),
hist AS (SELECT * FROM c WHERE ctr = 0),
ex AS (SELECT DISTINCT n.image_id FROM newb n JOIN hist h ON n.bytes = h.bytes),
nr AS (SELECT DISTINCT n.image_id
       FROM newb n JOIN hist h ON bit_count(xor(n.phash, h.phash)) <= {IMG_TIER_HAM}
       WHERE n.image_id NOT IN (SELECT image_id FROM ex))
SELECT n.image_id,
       CASE WHEN e.image_id IS NOT NULL THEN 'exact'
            WHEN r.image_id IS NOT NULL THEN 'near'
            ELSE 'unique' END AS tier
FROM newb n
LEFT JOIN ex e ON n.image_id = e.image_id
LEFT JOIN nr r ON n.image_id = r.image_id
""",
        "image_tiered_crop_dedup": f"""
WITH c AS (SELECT image_id, bytes, phash
           FROM read_parquet('{MEDIA_ORACLE_DIR}/imgtier_crop/corpus/*.parquet')),
ps AS (SELECT image_id, psig
       FROM read_parquet('{MEDIA_ORACLE_DIR}/imgtier_crop/psigs/*.parquet')),
newb AS (SELECT * FROM c WHERE image_id NOT LIKE 'hist%'),
hist AS (SELECT * FROM c WHERE image_id LIKE 'hist%'),
ex AS (SELECT DISTINCT n.image_id FROM newb n JOIN hist h ON n.bytes = h.bytes),
nr AS (SELECT DISTINCT n.image_id
       FROM newb n JOIN hist h ON bit_count(xor(n.phash, h.phash)) <= {IMG_TIER_HAM}
       WHERE n.image_id NOT IN (SELECT image_id FROM ex)),
shared AS (SELECT a.image_id, h.image_id AS hid, count(*) AS s
           FROM (SELECT * FROM ps WHERE image_id NOT LIKE 'hist%') a
           JOIN (SELECT * FROM ps WHERE image_id LIKE 'hist%') h USING (psig)
           GROUP BY 1, 2),
cr AS (SELECT DISTINCT image_id FROM shared
       WHERE s >= {CROP_MIN_SHARED}
         AND image_id NOT IN (SELECT image_id FROM ex)
         AND image_id NOT IN (SELECT image_id FROM nr))
SELECT n.image_id,
       CASE WHEN e.image_id IS NOT NULL THEN 'exact'
            WHEN r.image_id IS NOT NULL THEN 'near'
            WHEN p.image_id IS NOT NULL THEN 'crop'
            ELSE 'unique' END AS tier
FROM newb n
LEFT JOIN ex e ON n.image_id = e.image_id
LEFT JOIN nr r ON n.image_id = r.image_id
LEFT JOIN cr p ON n.image_id = p.image_id
""",
        # identical bitmap by construction: positions are hash60(sha256(norm)
        # || ':i') % m on both engines; 32 bits packed per BIGINT word (bit
        # 63 never set — DuckDB << refuses shift-63 overflow). bloom_maybe
        # >= exact_dup (no false negatives) is thereby oracle-checked.
        "bloom_prefilter": f"""
WITH d AS (SELECT doc_id, sha256({_NORM}) AS sig FROM documents),
newb AS (SELECT * FROM d WHERE doc_id % {INC_NEW_MOD} = 0),
hist AS (SELECT sig FROM d WHERE doc_id % {INC_NEW_MOD} != 0),
mparam AS (SELECT greatest(256, {BLOOM_BPK} * count(*)) AS m FROM hist),
hpos AS (SELECT {_h60_sql(f"sig || ':' || i")} % mp.m AS p
         FROM hist CROSS JOIN generate_series(0, {BLOOM_K - 1}) g(i)
              CROSS JOIN mparam mp),
bloom AS (SELECT p // 32 AS chunk_idx,
                 bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
          FROM hpos GROUP BY 1),
npos AS (SELECT n.doc_id, {_h60_sql(f"n.sig || ':' || i")} % mp.m AS p
         FROM newb n CROSS JOIN generate_series(0, {BLOOM_K - 1}) g(i)
              CROSS JOIN mparam mp),
probed AS (SELECT doc_id,
                  min(CASE WHEN (COALESCE(c.bits, 0)
                                 & (CAST(1 AS BIGINT) << CAST(np.p % 32 AS INT))) <> 0
                           THEN 1 ELSE 0 END) AS allhit
           FROM npos np LEFT JOIN bloom c ON c.chunk_idx = np.p // 32
           GROUP BY doc_id),
exq AS (SELECT DISTINCT n.doc_id FROM newb n JOIN hist h USING (sig))
SELECT n.doc_id,
       COALESCE(pr.allhit = 1, FALSE) AS bloom_maybe,
       (e.doc_id IS NOT NULL) AS exact_dup
FROM newb n LEFT JOIN probed pr USING (doc_id) LEFT JOIN exq e USING (doc_id)
""",
        # identical boundary algebra by construction: position i ends a chunk
        # iff i = n or hash60(window) % D = 0, with hash60 the shared
        # md5-based base hash; list_filter/list_transform state the same
        # chunker the Spark higher-order projection runs.
        # both snapshots are plain parquet under the committed snap-N dirs;
        # NOT EXISTS (not NOT IN) so a hypothetical NULL sig keeps Spark's
        # left_anti semantics
        "snapshot_diff_dedup": f"""
WITH cur AS (SELECT doc_id, sig
             FROM read_parquet('{SNAP_ORACLE_DIR}/run_snap/docs/snap-2/*.parquet')),
h AS (SELECT sig
      FROM read_parquet('{SNAP_ORACLE_DIR}/run_snap/docs/snap-1/*.parquet'))
SELECT doc_id, sig FROM cur
WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.sig = cur.sig)
""",
        # regex parity Java<->RE2 pinned by ASCII-only constructs
        # (functions/pii.py); 'g' flag: DuckDB regexp_replace is
        # first-match-only by default, Spark's is global
        "pii_scrub": f"""
WITH p AS (SELECT doc_id,
  text || CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END
       || CASE WHEN doc_id % 3 = 0
               THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               ELSE '' END AS t
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
  CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phone,
  CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT) AS n_ipv4,
  regexp_replace(regexp_replace(regexp_replace(t,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IPV4}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM p
""",
        "dsir_importance_weights": f"""
WITH d AS (SELECT doc_id, lang, string_split({_NORM}, ' ') AS ws FROM documents),
g AS (SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1])) AS gm
      FROM d WHERE len(ws) >= 2),
gr AS (SELECT doc_id, lang, {_h60_sql("gm")} % {DSIR_B} AS f FROM g),
feat AS (SELECT f, count(*) AS q,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
         FROM gr GROUP BY 1),
tot AS (SELECT sum(q) AS tq, sum(t) AS tt FROM feat),
-- fixed-point micro-nats: int64 sums are order-independent and exact,
-- removing the one libm/summation-order divergence in the contract
lr AS (SELECT f, CAST(round((ln((t + 1) / CAST(tt + {DSIR_B} AS DOUBLE))
              - ln((q + 1) / CAST(tq + {DSIR_B} AS DOUBLE))) * 1000000)
              AS BIGINT) AS lrv
       FROM feat, tot),
pd AS (SELECT doc_id, sum(lrv) AS w FROM gr JOIN lr USING (f) GROUP BY 1)
SELECT doc_id, COALESCE(pd.w, 0) / 1000000.0 AS dsir_logw
FROM documents LEFT JOIN pd USING (doc_id)
""",
        "cdc_chunk_dedup": f"""
WITH d AS (SELECT doc_id, text AS t, length(text) AS n FROM documents
           WHERE length(text) > 0),
bl AS (SELECT doc_id, t,
              list_filter(generate_series(1, n),
                          i -> i = n OR (i >= {CDC_W} AND
                               {_h60_sql(f"substr(t, i - {CDC_W - 1}, {CDC_W})")} % {CDC_D} = 0)) AS bs
       FROM d),
ch AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(bs)),
                     j -> substr(t, CASE WHEN j = 1 THEN 1 ELSE bs[j - 1] + 1 END,
                                 bs[j] - CASE WHEN j = 1 THEN 0 ELSE bs[j - 1] END))) AS chunk
       FROM bl),
inst AS (SELECT doc_id, sha256(chunk) AS chh, length(chunk) AS clen FROM ch),
mult AS (SELECT chh, count(*) AS m FROM inst GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(sum(CASE WHEN m >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_chars
FROM inst JOIN mult USING (chh)
GROUP BY doc_id
""",
        "semdedup_prune": _semdedup_sql(),
        "hapax_counts": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
ex AS (SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS tok FROM d),
hapax AS (SELECT tok FROM ex GROUP BY tok HAVING count(*) = 1),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hapax
  FROM ex JOIN hapax USING (tok) GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(p.n_hapax, 0) AS n_hapax
FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
""",
        "bigram_lm_nll": f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(ws) AS w FROM d)),
inst AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[i])) AS w1,
                unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[i + 1])) AS w2
         FROM d WHERE len(ws) >= 2),
pdt AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
        FROM inst GROUP BY 1, 2, 3),
types AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM pdt GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM types GROUP BY 1),
lp AS (SELECT w1, w2, CAST(round(-ln((c12 + 1) / CAST(c1 + v AS DOUBLE)) * 1000000)
              AS BIGINT) AS lpm
       FROM types JOIN ctx USING (w1), vocab),
pd AS (SELECT doc_id, CAST(sum(k * lpm) AS BIGINT) AS m,
              CAST(sum(k) AS BIGINT) AS nb
       FROM pdt JOIN lp USING (w1, w2) GROUP BY 1)
SELECT documents.doc_id, COALESCE(nb, 0) AS n_bigrams,
       COALESCE((m / 1000000.0) / nb, 0.0) AS avg_nll
FROM documents LEFT JOIN pd USING (doc_id)
""",
        "bm25_topk": f"""
WITH q(query_id, tok) AS (VALUES {", ".join(f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms)}),
d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM d),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM ex
       WHERE tok IN (SELECT DISTINCT tok FROM q) GROUP BY 1, 2),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
st AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
idf AS (SELECT tok, CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * 1000000)
               AS BIGINT) AS idfm, avgdl
        FROM dfreq, st),
contrib AS (SELECT doc_id, tok,
                   CAST(round(idfm * ((tf * {BM25_K1P1!r})
                        / (tf + {BM25_K1!r} * ({BM25_1MB!r}
                           + {BM25_B!r} * dl / avgdl)))) AS BIGINT) AS cm
            FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok)),
sc AS (SELECT query_id, doc_id, sum(cm) AS sm
       FROM contrib JOIN q USING (tok) GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, sm,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sm DESC, doc_id) AS rnk
      FROM sc)
SELECT CAST(query_id AS INT) AS query_id, doc_id, CAST(rnk AS INT) AS rank,
       sm / 1000000.0 AS score
FROM r WHERE rnk <= {BM25_TOPK}
""",
        "winnowing_fingerprints": f"""
{_winnow_ctes_sql()}
SELECT DISTINCT doc_id,
       CAST({_POS_ENC - 1} - (win % {_POS_ENC}) AS BIGINT) AS pos,
       CAST(win // {_POS_ENC} AS BIGINT) AS fp
FROM w WHERE pos >= {WINNOW_W - 1}
""",
        "winnow_dup_pairs": f"""
{_winnow_ctes_sql()},
fsets AS (SELECT DISTINCT doc_id, CAST(win // {_POS_ENC} AS BIGINT) AS fp
          FROM w WHERE pos >= {WINNOW_W - 1}),
dfc AS (SELECT fp FROM fsets GROUP BY fp
        HAVING count(*) <= {WINNOW_DF_CAP}),
kept AS (SELECT f.doc_id, f.fp FROM fsets f JOIN dfc USING (fp)),
sz AS (SELECT doc_id, count(*) AS nfp FROM kept GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT id_a, id_b, n_shared,
       CAST(n_shared AS DOUBLE) / (sa.nfp + sb.nfp - n_shared) AS fp_jaccard
FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / (sa.nfp + sb.nfp - n_shared) >= {WINNOW_TAU}
""",
        # operation-for-operation mirror of functions/url.py:canonical_url
        # over the same _URL_SYNTH corpus (both engines synthesize identical
        # strings from doc_id)
        "url_canonical_dedup": f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH} AS url FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS no_frag FROM u),
s2 AS (SELECT doc_id, url,
              lower(regexp_extract(no_frag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
              regexp_replace(no_frag, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS after
       FROM s1),
s3 AS (SELECT *, lower(regexp_extract(after, '^([^/?]+)', 1)) AS hostport FROM s2),
s4 AS (SELECT *,
              CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                   WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                   ELSE hostport END AS host,
              substr(after, length(hostport) + 1) AS pathq
       FROM s3),
s5 AS (SELECT *, regexp_extract(pathq, '^([^?]*)', 1) AS path FROM s4),
s6 AS (SELECT *,
              CASE WHEN length(pathq) > length(path)
                   THEN substr(pathq, length(path) + 2) ELSE '' END AS qs
       FROM s5),
s7 AS (SELECT doc_id, url, scheme, host,
              regexp_replace(path, '/+$', '') AS cpath,
              list_sort(list_filter(string_split(qs, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}'))) AS kept
       FROM s6),
c AS (SELECT doc_id, url,
             concat(scheme, '://', host, cpath,
                    CASE WHEN len(kept) > 0
                         THEN concat('?', array_to_string(kept, '&'))
                         ELSE '' END) AS canonical_url
      FROM s7)
SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS n_variants
FROM c GROUP BY 1
""",
        # first-tier-wins marginal catch: detector subqueries are the SAME
        # SQL as the standalone pair queries (nested WITH scopes are local,
        # so their CTE names cannot collide with the outer t-prefixed ones)
        "tier_attribution": f"""
WITH tdoc AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tsig AS (SELECT doc_id, sha256(norm) AS sig FROM tdoc),
temin AS (SELECT sig, min(doc_id) AS min_id FROM tsig GROUP BY sig),
tex AS (SELECT doc_id FROM tsig JOIN temin USING (sig) WHERE doc_id > min_id),
tshp AS (SELECT DISTINCT b_id AS doc_id FROM ({_simhash_sql()})),
tmhp AS (SELECT DISTINCT b_id AS doc_id
         FROM (WITH {mh} SELECT a_id, b_id FROM mh_pairs)),
tlbl AS (SELECT t.doc_id,
                CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                     WHEN s.doc_id IS NOT NULL THEN 'simhash'
                     WHEN m.doc_id IS NOT NULL THEN 'minhash'
                     ELSE 'unique' END AS tier,
                CASE WHEN e.doc_id IS NOT NULL THEN 1
                     WHEN s.doc_id IS NOT NULL THEN 2
                     WHEN m.doc_id IS NOT NULL THEN 3
                     ELSE 4 END AS tier_rank
         FROM tdoc t LEFT JOIN tex e ON t.doc_id = e.doc_id
                     LEFT JOIN tshp s ON t.doc_id = s.doc_id
                     LEFT JOIN tmhp m ON t.doc_id = m.doc_id),
tcnt AS (SELECT tier, tier_rank, count(*) AS n FROM tlbl GROUP BY 1, 2),
tspine(tier, tier_rank) AS (VALUES ('exact', 1), ('simhash', 2),
                                   ('minhash', 3), ('unique', 4))
SELECT sp.tier, CAST(sp.tier_rank AS INTEGER) AS tier_rank,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs
FROM tspine sp LEFT JOIN tcnt c
  ON sp.tier = c.tier AND sp.tier_rank = c.tier_rank
""",
        "html_text_extract": f"""
WITH h AS (SELECT doc_id, {_HTML_SYNTH} AS html FROM documents),
x AS (SELECT doc_id, {_html_text_sql('html')} AS clean_text FROM h)
SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars_clean
FROM x
""",
        # crawl -> extract -> quality-gate -> dedup, every stage restated:
        # same mirror fan-out, same markup synthesis + regex chain as
        # html_text_extract, same first-fail rules as quality_filter_chain
        # (over the EXTRACTED text), same sha256 + first-fetch-wins group.
        "crawl_dedup_pipeline": f"""
WITH cf AS (SELECT doc_id, text,
                   unnest(generate_series(0, doc_id % {CRAWL_STRIDE - 1})) AS mirror
            FROM documents),
ch AS (SELECT doc_id * {CRAWL_STRIDE} + mirror AS crawl_id,
              {_HTML_SYNTH} AS html
       FROM cf),
cp AS (SELECT crawl_id, {_html_text_sql('html')} AS clean FROM ch),
cn AS (SELECT crawl_id,
              trim(regexp_replace(lower(clean), '\\s+', ' ', 'g')) AS norm
       FROM cp),
ct AS (SELECT crawl_id, norm, string_split(norm, ' ') AS toks FROM cn),
cfeat AS (SELECT crawl_id, norm,
        CAST(len(toks) AS BIGINT) AS n_tok,
        round((length(norm) - (len(toks) - 1)) / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS mtl,
        round(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) / greatest(CAST(length(norm) AS DOUBLE), 1.0), 6) AS punct,
        round(CAST(len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS DOUBLE)
              / greatest(CAST(len(list_distinct(toks)) AS DOUBLE), 1.0), 6) AS stop
      FROM ct),
ckeep AS (SELECT crawl_id, norm, n_tok FROM cfeat
          WHERE NOT (n_tok < {QF_MIN_TOKENS}) AND NOT (n_tok > {QF_MAX_TOKENS})
            AND NOT (mtl < {QF_MEAN_TOK_MIN}) AND NOT (mtl > {QF_MEAN_TOK_MAX})
            AND NOT (punct > {QF_MAX_PUNCT}) AND NOT (stop < {QF_MIN_STOPWORD}))
SELECT sha256(norm) AS sig,
       CAST(min(crawl_id) AS BIGINT) AS rep_crawl_id,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(min(n_tok) AS BIGINT) AS n_tokens_clean
FROM ckeep GROUP BY 1
""",
        "scan_filter_project": """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
""",
        "group_agg": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "topk_per_group": """
SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
        # deliberately the SAME single-window SQL as topk_per_group: the
        # green row proves the two-phase salted plan is row-identical
        "topk_per_group_salted": """
SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
        "count_distinct_agg": """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
""",
        "broadcast_join_agg": """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
        "derived_key_group": """
SELECT concat(source, '/', lang) AS group_key,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
""",
        "regex_filter": """
SELECT doc_id FROM documents WHERE regexp_matches(text, 'join .*filter|window scan')
""",
        "set_ops": """
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
""",
        "sessionize": """
WITH e AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
m AS (
  SELECT user_id,
         CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS brk
  FROM e
)
SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions FROM m GROUP BY user_id
""",
        "asof_join_tolerance": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, MAX(value) AS view_value FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
),
m AS (
  SELECT c.event_id, c.user_id, c.ts AS cts, v.ts AS vts, v.view_value,
         CASE WHEN v.ts IS NOT NULL
                   AND epoch_us(c.ts) - epoch_us(v.ts) <= 120 * 1000000
              THEN 1 ELSE 0 END AS in_tol
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT event_id, user_id,
       epoch_us(cts) AS click_us,
       CASE WHEN in_tol = 1 THEN epoch_us(vts) END AS view_us,
       CASE WHEN in_tol = 1 THEN round(view_value, 6) END AS view_value
FROM m
""",
        "rolling_agg": """
SELECT event_id, user_id,
       round(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
         AS rolling_avg
FROM events
""",
        "cube_agg": """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "anti_join": """
SELECT DISTINCT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-04'
""",
        "asof_join": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, MAX(value) AS view_value FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(v.ts) AS view_us,
       round(v.view_value, 6) AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
        "bpe_token_counts": r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
       CAST(length(text) AS INT) AS chars
FROM documents
""",
        "rollup_agg": """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING = driver-correctness-window rotation (VERDICT r5 task 1), not
    # taxonomy: the driver checks the FIRST 50 entries per round, so entries
    # are ordered by how stale their last driver-produced green row is —
    # positions 1-10 are the ten round-5 queries that have never had one,
    # 11-26 the sixteen whose last green row is round-4, 27-50 round-5 greens
    # kept in-window for flagship coverage, 51-76 the freshest round-5 greens
    # parked until the next rotation. Every query keeps its exact oracle and
    # semantics; only the dict order moved (bench.py selects by NAME).
    return {
        # --- 1-10: never driver-checked (round-5 additions past the window)
        "kmv_distinct_sketch": _q_kmv_distinct_sketch,
        "repetition_scores": _q_repetition_scores,
        "tiered_incremental_dedup": _q_tiered_incremental_dedup,
        "bloom_prefilter": _q_bloom_prefilter,
        "cdc_chunk_dedup": _q_cdc_chunk_dedup,
        "dsir_importance_weights": _q_dsir_weights,
        "pii_scrub": _q_pii_scrub,
        "snapshot_diff_dedup": _q_snapshot_diff_dedup,
        "semdedup_prune": _q_semdedup_prune,
        "topk_per_group_salted": _q_topk_per_group_salted,
        # --- 11-26: last driver-green in round 4 (the relational set)
        "scan_filter_project": _q_scan_filter,
        "group_agg": _q_group_agg,
        "topk_per_group": _q_topk_per_group,
        "count_distinct_agg": _q_count_distinct,
        "broadcast_join_agg": _q_join_agg,
        "derived_key_group": _q_derived_key_group,
        "regex_filter": _q_regex_filter,
        "set_ops": _q_set_ops,
        "sessionize": _q_sessionize,
        "asof_join": _q_asof_join,
        "asof_join_tolerance": _q_asof_join_tolerance,
        "rolling_agg": _q_rolling_agg,
        "cube_agg": _q_cube_agg,
        "anti_join": _q_anti_join,
        "bpe_token_counts": _q_bpe_token_counts,
        "rollup_agg": _q_rollup_agg,
        # --- 27-50: round-5 greens kept in-window (flagship + non-SQL-stage
        # coverage: detectors, clusters, ANN, image, streaming)
        "exact_dedup_representatives": _q_exact_dedup,
        "dual_hash_sanity": _q_dual_hash_sanity,
        "minhash_lsh_pairs": _q_minhash,
        "simhash_hamming_pairs": _q_simhash,
        "substr_containment_pairs": _q_substr,
        "dedup_clusters": _q_clusters,
        "leakage_safe_split": _q_leakage_safe_split,
        "soft_dedup_weights": _q_soft_dedup_weights,
        "cluster_quality_representatives": _q_cluster_quality_reps,
        "incremental_cluster_update": _q_incremental_cluster_update,
        "minhash_recall_block": _q_minhash_recall_block,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "token_counts": _q_token_counts,
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "ann_topk_bruteforce": _q_ann_bruteforce,
        "ann_topk_lsh": _q_ann_lsh,
        "ann_topk_ivf": _q_ann_ivf,
        "image_dedup_clusters": _q_image_dedup_clusters,
        "image_tiered_dedup": _q_image_tiered_dedup,
        "image_tiered_crop_dedup": _q_image_tiered_crop_dedup,
        "streaming_first_seen_dedup": _q_streaming_first_seen,
        "streaming_windowed_counts": _q_streaming_windowed_counts,
        # --- 51-76: freshest round-5 greens, parked this rotation
        "audio_near_dups": _q_audio_near_dups,
        "frame_near_dups": _q_frame_near_dups,
        "dihedral_image_neardup": _q_dihedral_neardup,
        "crop_image_neardup": _q_crop_image_neardup,
        "editdist_pairs": _q_editdist_pairs,
        "embedding_neardup_pairs": _q_embedding_neardup,
        "embedding_neardup_capped": _q_embedding_neardup_capped,
        "ngram_topk": _q_ngram_topk,
        "decontaminate_overlap": _q_decontaminate,
        "decontaminate_ngram_join": _q_decontaminate_ngram_join,
        "hapax_counts": _q_hapax_counts,
        "winnowing_fingerprints": _q_winnowing_fingerprints,
        "winnow_dup_pairs": _q_winnow_dup_pairs,
        "url_canonical_dedup": _q_url_canonical_dedup,
        "tier_attribution": _q_tier_attribution,
        "html_text_extract": _q_html_text_extract,
        "crawl_dedup_pipeline": _q_crawl_dedup_pipeline,
        "bm25_topk": _q_bm25_topk,
        "bigram_lm_nll": _q_bigram_lm_nll,
        "paragraph_dedup": _q_paragraph_dedup,
        "stratified_sample": _q_stratified_sample,
        "quality_filter_chain": _q_quality_filter_chain,
        "domain_quota_sample": _q_domain_quota_sample,
        "pack_sequences": _q_pack_sequences,
        "token_budget_mix": _q_token_budget_mix,
        "countmin_heavy_hitters": _q_countmin_heavy_hitters,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-detector near-dup clustering on sf0.001 documents."""
    return _q_clusters(spark, "/root/testdata/sf0.001")
