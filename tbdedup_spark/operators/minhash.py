"""Detector 1 — caption-shingle MinHash with LSH banding.

Generalizes the reference's single canonical hash (tbdedup/mbox/
mboxmessage.py:94-117) to a locality-sensitive family; the band-key groupBy
is the direct analog of the reference's preplanner grouping on a derived key
(path suffix, tbdedup/planner/walk.py:100-125 — its disk-folder "LSH").

Plan shape (all built-in expressions — see functions/text.py for why this
beats a numpy UDF here: md5+min aggregation is pure codegen, and the same
formulas run on DuckDB for the correctness oracle):

    images ──select──> (id, norm)                       [no shuffle]
      └─explode shingles─> (id, shingle)                [no shuffle]
        └─md5/60-bit/perm─> groupBy(id).agg(min×n)      [shuffle 1: by id]
          └─explode bands─> (band_idx, band_key, id)    [no shuffle]
            └─self-join on (band_idx, band_key)         [shuffle 2: by band]
              └─Jaccard verify join (hash-set arrays)   [shuffle 3: by id]

Skew handling (north_rule requirement): a degenerate band key (e.g. every
caption sharing a stop-phrase) creates a quadratic bucket. The band join is
``plans.partitioning.bucket_self_join``, whose rule is the same at every
bucketed site: buckets larger than ``max_bucket`` are *dropped and counted*
(the honest trade: at web scale a universal bucket is a stop-word bucket;
its pairs are recovered by the other detectors or a higher-r config), and
kept buckets larger than ``SALT_ABOVE`` are salted into ``SALT_CHUNKS``
chunks, the same pairs from ~S(S+1)/2 join cells instead of one task. AQE
skew-join splitting handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..plans.partitioning import bucket_self_join, fan_out_small_scan


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, _sh): one row per (doc, shingle position), duplicates included.

    Explode-FIRST, substring after: computing the shingle array with
    ``transform(sequence(...), i -> substring(norm, ...))`` lets Catalyst's
    projection collapse inline the whole ``lower+regexp_replace``
    normalization INTO the lambda — re-evaluating it once per shingle
    (~200x per row; Spark 4's ICU ``lower`` made this the pipeline's top
    bottleneck: 31/32 threads in CollationSupport$Lower). The Generate
    (explode) node is a collapse boundary: ``norm`` is evaluated once per
    input row and downstream substrings reference the materialized column.

    The narrow (id, norm) base is fanned out to the session's parallelism
    when the scan under-splits (plans/partitioning.py — single-row-group
    corpora otherwise run the ~len(doc) md5s/row on ONE task; no-op at
    real corpus scale).
    """
    base = fan_out_small_scan(
        df.select(
            F.col(id_col).alias("_id"),
            text.norm_text(text_col).alias("_norm"),
        )
    )
    pos = base.select(
        "_id",
        "_norm",
        F.explode(F.expr(f"sequence(0, greatest(length(_norm) - {k}, 0))")).alias("_i"),
    )
    return pos.select("_id", F.expr(f"substring(_norm, _i + 1, {k})").alias("_sh"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 5,
    n_perm: int = 16,
    seed: int = 42,
    hash_fn=None,
    carry: str = "hashes",
) -> DataFrame:
    """(id, mh0..mh{n-1}, _shingles) — one explode + one groupBy(id).

    MinHash mins are over the shingle *multiset* (identical to set-mins);
    ``collect_set`` carries the distinct-hash array for the Jaccard verify
    in the same aggregation pass — no second explode, no join.

    ``carry="hashes"`` carries ``collect_set(_h)`` (array<long>): the set
    column is the fat payload of this detector's every shuffle (the groupBy,
    the signature checkpoint, and both verify joins; on a multi-executor
    cluster those bytes cross JVMs), and packed longs are ~4x smaller than
    UTF8 shingles with a far cheaper array_intersect. Jaccard over distinct
    hashes equals Jaccard over shingles modulo hash collisions; with the
    default md5 ``hash60`` DuckDB computes the same hashes, so oracle
    queries stay bit-exact. ``carry="hashes32"`` halves the bytes again
    (see below).
    """
    hash_fn = hash_fn or text.hash60  # hash60: oracle-grade (DuckDB md5
    # mirror); pass text.hash32 (crc32) in throughput paths — ~100x cheaper,
    # python-mirrorable via zlib.crc32, collisions only add candidates
    if carry not in ("hashes", "hashes32"):
        # a typo ('hash32', 'hashes64') must not fall through to some other
        # carry silently (review catch) — reject it loudly
        raise ValueError(f'carry must be "hashes" | "hashes32", got {carry!r}')
    if carry == "hashes32" and hash_fn is not text.hash32:
        # the int32 fold below is a bijection of [0, 2^32) ONLY; a 60-bit
        # hash would silently wrap, making the fold non-injective and the
        # verify Jaccard wrong with no error (ADVICE r3). The check is an
        # identity allowlist BY DESIGN (ADVICE r4): Column-valued hash fns
        # carry no introspectable output domain, so "is the range 32-bit"
        # cannot be validated structurally — text.hash32 is the one function
        # this module ships with that contract, and a caller with another
        # 32-bit hash should fold to int32 before calling (carry="hashes").
        raise ValueError(
            'carry="hashes32" requires hash_fn=text.hash32 (the only hash '
            "with a declared 32-bit output domain; see source comment)"
        )
    exploded = exploded_shingles(df, id_col, text_col, k).withColumn(
        "_h", hash_fn("_sh")
    )
    if carry == "hashes32":
        # array<int> carry via a BIJECTIVE shift of the 32-bit crc32 domain
        # ([0, 2^32) -> int32): any bijection preserves set equality, so
        # intersect/union cardinalities — the verify Jaccard — are identical
        # to the long form at half the bytes. This set column is the fat
        # payload of the detector's every shuffle (measured 3.0 GB shuffle
        # read in the verify+write stage of a 600k-row corpus). Requires a
        # 32-bit base hash (hash_fn=text.hash32).
        carry_col = F.collect_set((F.col("_h") - F.lit(2147483648)).cast("int"))
    else:
        carry_col = F.collect_set("_h")
    return exploded.groupBy("_id").agg(
        *text.minhash_agg_cols("_h", n_perm, seed),
        carry_col.alias("_shingles"),
    )


def band_keys(
    sigs: DataFrame,
    n_perm: int = 16,
    n_bands: int = 8,
    carry_mh: bool = False,
    hash_keys: bool = False,
    fold_mh: bool = True,
) -> DataFrame:
    """(id, band_idx, band_key[, _mh]): concat r=n_perm/n_bands minhashes per band.

    ``carry_mh`` adds the minhash vector to every band row so the bucket
    self-join can estimate Jaccard INSIDE the join (see
    ``candidate_pairs(est_tau=...)``) — carried as array<int> (each 61-bit
    coord folded mod 2^31-1): the est filter only tests COORD EQUALITY, which
    the fold preserves for true equals, and a false coord-equal (~2^-31 per
    unequal coord) can only add a candidate for the exact verify to reject.
    Half the bytes of the long form on the join's both sides.

    ``fold_mh=False`` carries the RAW long coords instead: ~2x the bytes,
    but the in-join est filter becomes BIT-EXACTLY the coord-equality count
    the DuckDB oracle states (no fold collisions, however improbable) —
    required when the est threshold is part of an oracle-mirrored contract
    rather than a recall-safe prefilter.

    ``hash_keys`` (throughput paths): band_key = xxhash64 of the band's
    coords (8 bytes) instead of the "-"-joined decimal string (~40 bytes for
    r=2 61-bit coords). A band-key hash collision merges two buckets —
    adds candidates at ~2^-64 odds, removed by the exact verify. Oracle
    paths keep strings: DuckDB mirrors concat_ws, not xxhash64."""
    r = n_perm // n_bands
    if r * n_bands != n_perm:
        # ValueError, not assert: -O would silently band only the first
        # r*n_bands coordinates, dropping recall (review catch)
        raise ValueError(f"n_perm ({n_perm}) must be divisible by n_bands ({n_bands})")
    if hash_keys:
        key = lambda t: F.xxhash64(*[F.col(f"mh{t * r + j}") for j in range(r)])
    else:
        key = lambda t: F.concat_ws("-", *[F.col(f"mh{t * r + j}") for j in range(r)])
    bands = F.array(
        *[
            F.struct(F.lit(t).alias("band_idx"), key(t).alias("band_key"))
            for t in range(n_bands)
        ]
    )
    cols = [F.col("_id"), F.explode(bands).alias("b")]
    out = ["_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")]
    if carry_mh:
        if fold_mh:
            mh_arr = F.array(
                *[
                    F.pmod(F.col(f"mh{j}"), F.lit(2147483647)).cast("int")
                    for j in range(n_perm)
                ]
            )
        else:
            mh_arr = F.array(*[F.col(f"mh{j}") for j in range(n_perm)])
        cols.insert(1, mh_arr.alias("_mh"))
        out.insert(1, F.col("_mh"))
    return sigs.select(*cols).select(*out)


def est_jaccard(mh_a: str, mh_b: str) -> Column:
    """Estimated Jaccard of two carried minhash vectors (``band_keys(
    carry_mh=True)``'s ``_mh``): the fraction of equal coordinates, an
    unbiased estimator the band rows already carry for free."""
    return (
        F.size(F.filter(F.zip_with(mh_a, mh_b, lambda x, y: x == y), lambda v: v))
        / F.size(mh_a).cast("double")
    )


def candidate_pairs(
    banded: DataFrame,
    max_bucket: int | None = 64,
    est_tau: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Self-join per (band_idx, band_key); returns (pairs, dropped_buckets).

    ``est_tau`` (requires ``banded`` built with ``carry_mh=True``): the
    estimated-Jaccard prefilter (``est_jaccard``) applied INSIDE the bucket
    self-join, before the pair relation is ever shuffled. The candidate
    relation is the detector's combinatorial object —
    measured 95.2M distinct candidates from a 300k-row corpus (stop-phrase
    band keys; grows superlinearly) of which 0.2% survive verification;
    filtering at the join means the 99.8% junk never reaches the
    dropDuplicates shuffle or the verify joins, at the price of carrying
    ~n_perm*8 bytes per band row into the join inputs.

    Buckets above ``max_bucket`` are dropped AND REPORTED via
    ``dropped_buckets`` (band_idx, band_key, bucket_size); kept buckets
    above ``partitioning.SALT_ABOVE`` are salted (see the module docstring).
    """
    carry = est_tau is not None
    if carry and "_mh" not in banded.columns:
        raise ValueError("est_tau requires banded rows built with carry_mh=True")
    pairs, _, dropped = bucket_self_join(
        banded, ["band_idx", "band_key"], max_bucket, carry=("_mh",) if carry else ()
    )
    if carry:
        pairs = pairs.filter(est_jaccard("_mha", "_mhb") >= est_tau)
    return pairs.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"]), dropped


def verify_jaccard(pairs: DataFrame, sigs: DataFrame, tau: float = 0.6) -> DataFrame:
    """Exact Jaccard on the carried hash-set arrays (built-in array ops), the
    analog of the reference's verify-before-write (tbdedup/dedup/__init__.py:
    142-151): candidates are *checked*, never trusted. Two narrow joins.
    Any estimated-Jaccard prefilter belongs in the band join
    (``candidate_pairs(est_tau=...)``), before the pairs are shuffled."""
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the distinct-element set columns, so
    # one array_intersect (hash-set build + probe) replaces intersect + union
    # — exactly half the per-pair set work, same integer sizes, bit-identical
    # score (r6; the oracle computes the same value its own way). _inter is
    # its own projection: CollapseProject keeps the non-cheap multi-referenced
    # expression from being inlined twice into the score formula.
    sh = sigs.select(
        F.col("_id"), F.col("_shingles"), F.size("_shingles").alias("_nsh")
    )
    out = (
        pairs.join(
            sh.select(
                F.col("_id").alias("a_id"),
                F.col("_shingles").alias("_sha"),
                F.col("_nsh").alias("_na"),
            ),
            "a_id",
        )
        .join(
            sh.select(
                F.col("_id").alias("b_id"),
                F.col("_shingles").alias("_shb"),
                F.col("_nsh").alias("_nb"),
            ),
            "b_id",
        )
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "score",
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("score") >= tau)
        .select("a_id", "b_id", F.lit("minhash").alias("detector"), "score")
    )
    return out


def minhash_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 5,
    n_perm: int = 16,
    n_bands: int = 8,
    tau: float = 0.6,
    seed: int = 42,
    max_bucket: int | None = 64,
    hash_fn=None,
    est_tau: float | None = None,
    carry: str = "hashes",
) -> tuple[DataFrame, DataFrame]:
    """End-to-end detector: (verified pairs PAIRS-schema, dropped buckets).

    The signature relation is materialized once (``localCheckpoint``) — it
    feeds three consumers (banding, and both sides of the Jaccard verify
    join); without it the explode+groupBy DAG re-executes per consumer.
    Band keys are xxhash64 (``band_keys(hash_keys=True)``): 8-byte join keys,
    and a key collision only adds candidates the exact verify removes.

    ``est_tau`` is applied INSIDE the bucket self-join (candidate_pairs):
    the minhash vector rides the band rows and junk candidates die before
    the pair relation is shuffled — see candidate_pairs for the measured
    combinatorics. verify_jaccard then does only the exact set verify.
    """
    sigs = minhash_signatures(
        df, id_col, text_col, k, n_perm, seed, hash_fn, carry
    ).localCheckpoint()
    banded = band_keys(
        sigs, n_perm, n_bands, carry_mh=est_tau is not None, hash_keys=True
    )
    cand, dropped = candidate_pairs(banded, max_bucket, est_tau=est_tau)
    return verify_jaccard(cand, sigs, tau), dropped
