"""Detector 3 — exact-substring caption containment.

Semantics: emit (a, b) when the normalized caption of one is a strict
substring of the other's (unequal strings). The generalization of the
reference's exact-prefix folder grouping (path-suffix keys,
tbdedup/planner/walk.py:100-125) to content containment.

Two implementations:

* ``containment_pairs`` (default, complete): rarest-shingle probe against
  an inverted shingle index. If short ⊆ long, every k-shingle of short is a
  shingle of long, so any one shingle hash of short appears in long's
  shingle set — probing with 1 row/doc against the exploded index finds every
  containment (recall 1), and a built-in ``contains()`` filter removes hash
  coincidences (precision 1). Cost: the index is ~total-chars rows; at
  scale set ``sample_mod`` > 1 to keep only hash % m == 0 shingles (value
  sampling is containment-closed, so the shrink is exact). The probe side
  stays one row per doc either way, so the join is a skew-tolerant hash
  join on the shingle hash.

* ``containment_pairs_sa`` (dense-bucket path): per-bucket generalized
  suffix array built in numpy inside ``applyInPandas`` — the north_rule's
  suffix-array requirement made real. Used when buckets are dense enough
  that within-bucket SA search beats the global index join; results are
  identical (tested against brute force).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text
from ..plans.partitioning import cap_hot_keys, fan_out_small_scan


def _exploded_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, normalized: bool = False
) -> DataFrame:
    """(_id, _i, _h): shingle-position hashes, explode-first (see
    minhash.exploded_shingles for why arrays-of-substrings are a trap:
    projection collapse re-evaluates the normalization per shingle).
    ``normalized=True`` when ``text_col`` is already norm_text output —
    skips a second full lower+regex pass over every doc (review catch:
    both internal call sites pass the pre-normalized column; idempotence
    made the duplicate pass correct but not free). The base is fanned out
    when the scan under-splits (plans/partitioning.py) so the per-position
    crc32 stage parallelizes on small corpora; no-op at scale."""
    base = fan_out_small_scan(
        df.select(
            F.col(id_col).alias("_id"),
            (F.col(text_col) if normalized else text.norm_text(text_col)).alias("_norm"),
        )
    )
    pos = base.select(
        "_id", "_norm",
        F.explode(F.expr(f"sequence(0, greatest(length(_norm) - {k}, 0))")).alias("_i"),
    )
    # crc32: the probe/index hash is internal (both sides use the same fn)
    # and contains() removes collisions — throughput-grade is always safe here
    return pos.select(
        "_id", "_i", text.hash32(F.expr(f"substring(_norm, _i + 1, {k})")).alias("_h")
    )


def _verified_pairs(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Fetch the two norms BY ID for candidate pairs only, then the exact
    ``contains`` check. Candidates are orders of magnitude fewer than index
    rows, so the doc text enters exactly two narrow joins here instead of
    riding every index row (the round-1 anti-pattern: each doc's text was
    replicated ~len(doc) times through the index shuffle — O(len^2) bytes
    per doc)."""
    verified = (
        cand.join(base.select(F.col("_id").alias("short_id"), F.col("_norm").alias("_sn")), "short_id")
        .join(base.select(F.col("_id").alias("long_id"), F.col("_norm").alias("_ln")), "long_id")
        .filter((F.col("_sn") != F.col("_ln")) & F.col("_ln").contains(F.col("_sn")))
    )
    return (
        verified.select(
            F.least("short_id", "long_id").alias("a_id"),
            F.greatest("short_id", "long_id").alias("b_id"),
            F.lit("substr").alias("detector"),
            F.lit(1.0).alias("score"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )


def _brute_pairs(shorts: DataFrame, base: DataFrame) -> DataFrame:
    """Broadcast brute-force containment of ``shorts`` (_id, _norm) against
    the whole corpus. Used for docs the index machinery cannot serve — rare
    by construction at web scale, so the nested-loop is a sliver."""
    probe = shorts.select(F.col("_id").alias("short_id"), F.col("_norm").alias("_sn"))
    cand = base.select(F.col("_id").alias("long_id"), F.col("_norm").alias("_ln")).join(
        F.broadcast(probe), F.col("short_id") != F.col("long_id")
    )
    verified = cand.filter(
        (F.col("_sn") != F.col("_ln")) & F.col("_ln").contains(F.col("_sn"))
    )
    return verified.select(
        F.least("short_id", "long_id").alias("a_id"),
        F.greatest("short_id", "long_id").alias("b_id"),
        F.lit("substr").alias("detector"),
        F.lit(1.0).alias("score"),
    ).dropDuplicates(["a_id", "b_id"])


def _short_doc_pairs(base: DataFrame, min_len: int) -> DataFrame:
    """Docs whose normalized text is too short for the shingle machinery
    (0 < length < ``min_len``): brute-force broadcast against the corpus.

    Without this, a doc shorter than k chars has no k-shingle in common with
    its container's index (its only 'shingle' is the whole string) and every
    containment involving it is silently missed while the brute-force oracle
    reports it. Empty strings are EXCLUDED by contract (an empty string is
    contained in everything — quadratic junk), mirrored in the oracle SQL
    (length >= 1)."""
    shorts = base.filter((F.length("_norm") < min_len) & (F.length("_norm") >= 1))
    return _brute_pairs(shorts, base)


def containment_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 5,
    sample_mod: int = 1,
) -> DataFrame:
    """Complete containment detection: rarest-fingerprint probe vs inverted
    index.

    ``sample_mod = 1``: index = every distinct shingle hash; probe = one of
    the doc's own shingle hashes. Complete because short ⊆ long implies
    every shingle of short is a shingle of long.

    ``sample_mod = m > 1`` (the scale path for FULL-string containment):
    keep only fingerprints with hash % m == 0. Value-based sampling is
    trivially containment-closed — short ⊆ long means every (sampled)
    shingle of short is a (sampled) shingle of long — so it needs no window
    argument, and it is a pure filter: no extra groupBy, no higher-order
    functions (measured: positional winnowing w=4 cost +40s on an
    11M-shingle corpus at 4 cores for the same shrink; mod-sampling is
    free). Docs whose sample comes out empty fall back to the brute path,
    keeping completeness exact.

    Docs shorter than k take the brute-force broadcast path; empty strings
    are excluded by contract. ``contains()`` verification makes precision
    exact either way.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        text.norm_text(text_col).alias("_norm"),
    )
    long_enough = base.filter(F.length("_norm") >= k)
    hashes = _exploded_hashes(long_enough, "_id", "_norm", k, normalized=True)
    kept = hashes.select("_id", "_h").dropDuplicates(["_id", "_h"])
    if sample_mod > 1:
        kept = kept.filter(F.pmod("_h", F.lit(sample_mod)) == 0)

    # Materialized once: kept feeds the DF aggregate, the probe join, and
    # the index side — without this the explode+dedup DAG re-executes
    # three times (round-1 lesson).
    kept = kept.localCheckpoint()

    # probe = the doc's RAREST fingerprint (min document frequency, hash as
    # tie-break), NOT the min-by-value fingerprint. Completeness is the same
    # (ANY single kept fingerprint of the contained doc appears in the
    # container's index), but fan-out is minimal: probing by min hash VALUE
    # is adversarial on real vocabularies — the globally-smallest-hashed
    # common substring (one syllable, measured: crc32('rika ')) becomes the
    # probe of hundreds of docs AND sits in thousands of indexes at once,
    # a quadratic hidden bucket (measured 2.27M candidates from 8k docs).
    # Rarest-first is the same economics as prefix filtering (setsim.py).
    df_rel = kept.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    probe = (
        kept.join(df_rel, "_h")
        .groupBy("_id")
        .agg(F.min(F.struct("_df", "_h")).alias("_m"))
        .select(F.col("_id").alias("short_id"), F.col("_m._h").alias("_mh"))
    )
    index = kept.select(F.col("_id").alias("long_id"), F.col("_h").alias("_mh"))
    cand = probe.join(index, "_mh").filter(F.col("short_id") != F.col("long_id")).select(
        "short_id", "long_id"
    )
    pairs = _verified_pairs(cand, base)
    brute = base.filter((F.length("_norm") < k) & (F.length("_norm") >= 1))
    if sample_mod > 1:
        # docs long enough to index whose sample came out empty: exact
        # completeness demands they probe brute-force (rare: P ~ (1-1/m)^s)
        no_sample = long_enough.join(kept.select("_id").distinct(), "_id", "left_anti")
        brute = brute.unionByName(no_sample)
    if k > 1 or sample_mod > 1:
        pairs = pairs.unionByName(_brute_pairs(brute, base)).dropDuplicates(["a_id", "b_id"])
    return pairs


# --- suffix-array variant -----------------------------------------------------

_SA_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.StringType()),
        T.StructField("b_id", T.StringType()),
        T.StructField("detector", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _sa_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Generalized suffix array over one bucket's docs (numpy argsort of all
    suffixes of the concatenated text); binary-search each doc's full string
    to find enclosing docs. O(total_len log total_len) per bucket."""
    ids = pdf["_id"].tolist()
    norms = pdf["_norm"].tolist()
    sep = "\x00"
    concat = sep.join(norms) + sep
    # doc-id per character position
    owner = np.empty(len(concat), dtype=np.int32)
    starts = []
    pos = 0
    for i, s in enumerate(norms):
        starts.append(pos)
        owner[pos : pos + len(s) + 1] = i
        pos += len(s) + 1
    # suffix array via numpy lexsort on rank-doubling (simple O(n log^2 n))
    n = len(concat)
    arr = np.frombuffer(concat.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    rank = arr.copy()
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.where(np.arange(n) + k < n, np.roll(rank, -k), -1)
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev_same = (rank[sa[1:]] == rank[sa[:-1]]) & (key2[sa[1:]] == key2[sa[:-1]])
        tmp[sa[1:]] = np.cumsum(~prev_same)
        rank = tmp.copy()
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    # for each doc, binary-search its string among suffixes; any suffix with a
    # different owner whose prefix equals the doc string => containment
    suffix_at = lambda i: concat[i:]
    out = []
    sa_list = sa.tolist()
    for di, s in enumerate(norms):
        if not s:
            continue
        target = s
        lo, hi = 0, n
        # lower bound of suffixes >= target
        while lo < hi:
            mid = (lo + hi) // 2
            if concat[sa_list[mid] : sa_list[mid] + len(target)] < target:
                lo = mid + 1
            else:
                hi = mid
        j = lo
        seen = set()
        while j < n:
            p = sa_list[j]
            if concat[p : p + len(target)] != target:
                break
            oj = int(owner[p])
            if oj != di and oj not in seen and norms[oj] != s:
                seen.add(oj)
                a, b = sorted((ids[di], ids[oj]))
                out.append((a, b, "substr", 1.0))
            j += 1
    if not out:
        return pd.DataFrame(columns=["a_id", "b_id", "detector", "score"])
    return pd.DataFrame(out, columns=["a_id", "b_id", "detector", "score"]).drop_duplicates()


def containment_pairs_sa(
    df: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    k: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Suffix-array containment within buckets via applyInPandas.

    Buckets by the min-shingle hash — short ⊆ long no longer guarantees
    same min-shingle *bucket* unless the long doc is indexed under every
    shingle, so for completeness this variant buckets by probe semantics:
    each doc contributes its full row to every bucket keyed by its bottom-1
    hash AND long docs are replicated to candidate buckets.
    For simplicity and exactness we replicate longs by all their shingle
    hashes that are some doc's bottom-1 (semi-join), keeping bucket contents
    small. Identical output to ``containment_pairs``.

    ``max_bucket`` (review catch): the bucket key is a min-shingle hash —
    the same adversarial hot key ``containment_pairs`` documents (a
    globally-min-hashed stop syllable) — and each whole bucket is ONE
    pandas task (O(total_len) concat + O(n log^2 n) suffix ranking), so a
    mega-bucket is a single-task OOM/straggler. Setting a cap DROPS
    oversized buckets (recall loss on their members); the default ``None``
    keeps the exact-output contract. At scale prefer the primary
    ``containment_pairs``, whose skew ladder handles this without loss.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        text.norm_text(text_col).alias("_norm"),
    )
    long_enough = base.filter(F.length("_norm") >= k)
    hashes = _exploded_hashes(long_enough, "_id", "_norm", k, normalized=True)
    probe = (
        hashes.groupBy("_id").agg(F.min("_h").alias("_bkt")).join(base, "_id")
        .select("_id", "_norm", "_bkt")
    )
    probe_keys = probe.select(F.col("_bkt")).distinct()
    longs = (
        hashes.select("_id", F.col("_h").alias("_bkt")).dropDuplicates(["_id", "_bkt"])
        .join(probe_keys, "_bkt", "left_semi")
        .join(base, "_id")
        .select("_id", "_norm", "_bkt")
    )
    members, _ = cap_hot_keys(
        probe.unionByName(longs).dropDuplicates(["_bkt", "_id"]), ["_bkt"], max_bucket
    )
    sa_pairs = (
        members.groupBy("_bkt")
        .applyInPandas(lambda pdf: _sa_bucket(pdf), schema=_SA_SCHEMA)
        .dropDuplicates(["a_id", "b_id"])
    )
    # sub-k docs share the same contract as containment_pairs: brute path
    return sa_pairs.unionByName(_short_doc_pairs(base, k)).dropDuplicates(["a_id", "b_id"])
