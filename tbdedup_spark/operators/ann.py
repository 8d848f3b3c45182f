"""Similarity search over embedding columns (array<float>).

Two paths, per the large-scale-training-pipeline contract:

* ``topk_bruteforce`` — exact cosine top-k for a (small) probe set against
  the full corpus: broadcast the probes, one pass over the corpus, window
  top-k. The baseline and the verifier for the approximate path. All
  built-in higher-order functions (functions/vectors.py), no UDFs.
* ``topk_lsh`` — random-hyperplane LSH bucketing (seeded deterministic
  projections baked as literals): probe and corpus rows meet only within
  matching signature buckets (optionally multi-probe over Hamming-1
  neighbors), cosine computed only inside buckets. The scale path: the
  cross product never materializes.
* ``neardup_pairs`` — embedding-cosine NEAR-DUP detection (all pairs with
  cosine >= tau), the fifth dedup detector: a 16-bit hyperplane signature
  (SimHash over the embedding) is banded with the pigeonhole machinery of
  ``operators.simhash``, so candidates come only from shared band buckets —
  complete for pairs within the contract's Hamming bound, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..plans.partitioning import bucket_self_join
from . import simhash


def topk_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(probe_id, neighbor_id, score, rank): exact cosine top-k per probe.

    Probes are broadcast (they are small by contract — ANN with a huge probe
    side should use ``topk_lsh``). Deterministic tie-break on neighbor id.
    """
    # norms precomputed ONCE PER ROW (r6): cosine = dot / (norm_a * norm_b)
    # with the identical norm expression evaluated in the row projection
    # instead of once per candidate pair — bit-identical score, ~60% fewer
    # per-pair flops (the norm is 2/3 of the naive per-pair work)
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv"),
        vectors.norm(vec_col).alias("_pn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        vectors.norm(vec_col).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("score", vectors.dot("_pv", "_cv") / (F.col("_pn") * F.col("_cn")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 12,
    dim: int = 64,
    seed: int = 42,
    multiprobe_hamming1: bool = True,
) -> DataFrame:
    """Approximate top-k: bucket on an n_bits hyperplane signature.

    ``multiprobe_hamming1`` also probes the n_bits signatures at Hamming
    distance 1 (flip each bit) — the standard recall boost that costs
    n_bits probe rows instead of a bigger index. Candidates are then scored
    exactly; output schema matches ``topk_bruteforce`` (rank within found
    candidates — recall < 1 by design, measured in tests vs brute force).
    """
    proj = vectors.seeded_projections(n_bits, dim, seed)
    # per-row norms precomputed (r6, see topk_bruteforce): bit-identical
    # score at ~1/3 the per-candidate flops
    sig = lambda df, idn, vn, nn: df.select(
        F.col(id_col).alias(idn), F.col(vec_col).alias(vn),
        vectors.norm(vec_col).alias(nn),
        vectors.lsh_signature(vec_col, proj).alias("_sig"),
    )
    c = sig(corpus, "neighbor_id", "_cv", "_cn")
    p = sig(probes, "probe_id", "_pv", "_pn")
    if multiprobe_hamming1:
        flips = F.array(*[F.lit(0)] + [F.lit(1 << j) for j in range(n_bits)])
        p = p.select(
            "probe_id", "_pv", "_pn", F.explode(flips).alias("_flip"), "_sig"
        ).select(
            "probe_id", "_pv", "_pn",
            F.col("_sig").bitwiseXOR(F.col("_flip")).alias("_sig"),
        )
    cand = (
        c.join(p, "_sig")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
        .withColumn("score", vectors.dot("_pv", "_cv") / (F.col("_pn") * F.col("_cn")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.9,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 42,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
    uncapped_max_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (a_id, b_id, score) with a < b,
    hamming(sig(a), sig(b)) <= max_hamming AND cosine(a, b) >= tau.

    SCALE WARNING — narrow signature + no cap is a quadratic footgun: with
    ``n_bits=16`` and 4 bands the band key has only 16 values, so uncapped
    bucket sizes grow ~n/16 and the band self-join goes O(n²) (measured: 14x
    time at 10x data, BENCH/BASELINE.md round 4). The production shape widens
    ``n_bits`` with corpus size AND sets ``max_bucket`` (dropped buckets are
    reported by the underlying ``simhash_pairs``). ``uncapped_max_rows``
    makes the footgun loud instead of slow: when ``max_bucket is None`` and
    the input exceeds it, raise before planning the join (costs one count()
    of the narrow signature relation — only on guarded uncapped calls).

    The Hamming bound over the ``n_bits`` hyperplane signature IS part of the
    detector contract (the classic SimHash near-dup semantics), which is what
    makes the plan exact AND bucketed: pigeonhole banding (simhash.simhash_pairs,
    complete for max_hamming <= n_bands - 1) generates candidates from shared
    band buckets only — never an all-pairs join — and the cosine verify joins
    the two vectors back BY ID, so embeddings never ride through the band
    explode shuffle. ``max_bucket=None`` for oracle-exact queries; set a cap
    in pipelines (dropped buckets are the documented skew valve).

    This is the reference's canonical-signature match (hash-equality,
    tbdedup/dedup/__init__.py:109-118) relaxed to approximate vector equality;
    at 10^12 rows the bucketed self-join is the only viable shape.
    """
    proj = vectors.seeded_projections(n_bits, dim, seed)
    sigs = df.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        # per-row norm precomputed once (r6): the cosine verify then pays
        # only the dot per candidate pair — bit-identical score
        vectors.norm(vec_col).alias("_nrm"),
        vectors.lsh_signature(vec_col, proj).alias("_esig"),
    )
    # signature relation is tiny (id + vec + long); reuse it for banding and
    # both verify joins without recomputing the n_bits dot products
    sigs = sigs.localCheckpoint()
    if max_bucket is None and uncapped_max_rows is not None:
        n = sigs.count()  # the checkpoint is already materialized — cheap
        if n > uncapped_max_rows:
            raise ValueError(
                f"neardup_pairs: {n} rows exceeds uncapped_max_rows="
                f"{uncapped_max_rows} with max_bucket=None — the uncapped "
                f"{n_bits}-bit banded self-join saturates quadratically at "
                "this size; set max_bucket (and widen n_bits) for the "
                "production path, e.g. embedding_neardup_capped's config"
            )
    cand, _dropped = simhash.simhash_pairs(
        sigs.select("_vid", "_esig"),
        id_col="_vid",
        sig_col="_esig",
        max_hamming=max_hamming,
        n_bands=n_bands,
        width=n_bits,
        max_bucket=max_bucket,
        detector_name="embedding",
    )
    va = sigs.select(
        F.col("_vid").alias("a_id"), F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
    )
    vb = sigs.select(
        F.col("_vid").alias("b_id"), F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb")
    )
    return (
        cand.select("a_id", "b_id")
        .join(va, "a_id")
        .join(vb, "b_id")
        .withColumn(
            "score",
            F.round(vectors.dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("score") >= tau)
        .select("a_id", "b_id", "score")
    )


def _kmeans_centroids(
    samples, n_centroids: int, iters: int, seed: int
):
    """Driver-side spherical k-means over a bounded sample (numpy, BLAS
    matmuls). Deterministic: seeded farthest-point-ish init (kmeans++ with a
    seeded RNG), fixed iteration count, ties broken by index. Returns
    L2-normalized centroids shaped (K, dim)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0][:, None]
    rng = np.random.RandomState(seed)
    k = min(n_centroids, x.shape[0])
    # kmeans++ seeding
    idx = [int(rng.randint(x.shape[0]))]
    d2 = np.full(x.shape[0], np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, 1.0 - x @ x[idx[-1]])
        p = np.clip(d2, 1e-12, None)
        idx.append(int(rng.choice(x.shape[0], p=p / p.sum())))
    c = x[idx].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        # scatter-add update: O(sample) per iter instead of O(K * sample)
        # per-centroid masks — K now grows with the corpus (semdedup auto-K)
        sums = np.zeros_like(c)
        np.add.at(sums, assign, x)
        norms_c = np.linalg.norm(sums, axis=1)
        nz = norms_c > 0  # empty cluster (or zero-sum) keeps its centroid
        c[nz] = sums[nz] / norms_c[nz][:, None]
    return c


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
    sample_n: int = 20_000,
    kmeans_iters: int = 8,
    seed: int = 42,
    assignments_out_path: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path next to ``topk_lsh``: vectors are partitioned into ``n_centroids``
    Voronoi cells of a spherical-k-means codebook; each probe scores only
    the rows of its ``n_probe`` nearest cells.

    Scale shape: the codebook trains on a driver-side sample taken with
    ``orderBy(xxhash64(id)).limit(sample_n)`` — Spark executes that as
    TakeOrderedAndProject (map-side partial top-k, no global sort
    materialization), so the sample cost is one narrow pass regardless of
    corpus size. Cell assignment is ONE Arrow-batched pandas UDF doing a
    BLAS matmul per batch (batch x dim @ dim x K — the documented
    vectorized-UDF exception to the built-ins-only rule), the cell join is
    an equi-join on a small int key, and the embeddings never leave their
    rows. Recall is approximate by construction (measured vs brute force in
    tests); output schema matches ``topk_bruteforce``, ranks within found
    candidates."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    sample_rows = (
        corpus.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_sid"))
        .orderBy(F.xxhash64(F.col("_sid")))
        .limit(sample_n)
        .collect()
    )
    cents = _kmeans_centroids([r._v for r in sample_rows], n_centroids, kmeans_iters, seed)
    ct = cents.T.copy()  # dim x K, closed over (broadcast with the UDF)
    n_pr = min(n_probe, cents.shape[0])

    # no type hints: pandas_udf would try to resolve the stringified
    # annotations (__future__.annotations) against module globals
    def _cells_fn(vs):
        m = np.stack(vs.to_numpy())  # B x dim
        scores = m @ ct  # B x K
        top = np.argsort(-scores, axis=1)[:, :n_pr]  # ties: lower index wins
        return pd.Series(list(top.astype(np.int32)))

    cells_udf = pandas_udf(_cells_fn, T.ArrayType(T.IntegerType()))

    # coalesce makes the join key provably non-null, so the equi-join's
    # IsNotNull(_cell) null-rejection folds away instead of being pushed
    # below the projection — where it forced a SECOND ArrowEvalPython
    # evaluation of the matmul over every corpus row (UDF extraction does
    # not CSE a Python UDF referenced by both a Filter and a Project).
    # -1 is outside the codebook range, so semantics are unchanged.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        vectors.norm(vec_col).alias("_cn"),  # per-row norm (r6)
        F.coalesce(
            F.element_at(cells_udf(F.col(vec_col)), 1), F.lit(-1)
        ).alias("_cell"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pv"),
        vectors.norm(vec_col).alias("_pn"),  # per-row norm (r6)
        F.explode(cells_udf(F.col(vec_col))).alias("_cell"),
    )
    if assignments_out_path is not None:
        # Land the Voronoi assignments (plain int cells, no vectors) so an
        # external oracle can re-derive the cell join + exact cosine + rank
        # from files. The matmul UDF re-runs once for each write — it is
        # deterministic (fixed codebook from a deterministic sample; argsort
        # ties break on lower index), so these files equal the join's own
        # assignments; the main plan is untouched.
        import os as _os

        c.select("neighbor_id", F.col("_cell").alias("cell")).write.mode(
            "overwrite"
        ).parquet(_os.path.join(assignments_out_path, "corpus"))
        p.select("probe_id", F.col("_cell").alias("cell")).write.mode(
            "overwrite"
        ).parquet(_os.path.join(assignments_out_path, "probes"))
    cand = (
        c.join(p, "_cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
        .withColumn("score", vectors.dot("_pv", "_cv") / (F.col("_pn") * F.col("_cn")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    tau: float = 0.9,
    sample_n: int = 20_000,
    kmeans_iters: int = 8,
    seed: int = 42,
    assignments_out_path: str | None = None,
    target_cell_rows: int = 512,
    min_centroids: int = 16,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public method):
    semantic deduplication by k-means-partitioning the embedding space and
    pruning within-cluster cosine near-duplicates. Returns one row per input
    — ``(id_col, cell, kept)`` — so the caller keeps the survivors AND sees
    the partition.

    Keep rule (one-shot, deterministic, the paper's "keep one per dup set"
    made order-stable): a row is PRUNED iff some smaller-id member of its
    cell has cosine >= tau with it. Not transitive — exactly the pairs the
    within-cell join sees, which is what makes the rule mirrorable in SQL.

    Scale shape: the codebook trains on a bounded TakeOrdered sample and the
    assignment is one Arrow-batched BLAS matmul per batch (both exactly as
    ``ivf_topk``); the only join is the within-cell self-join, and the
    paper's regime GROWS n_centroids with the corpus so expected cell size
    stays constant — the join never goes quadratic in n. That growth is now
    enforced, not just documented: with ``n_centroids=None`` (the default) K
    = clamp(ceil(n / target_cell_rows), min_centroids, sample_n // 8) — the
    r5 sf-curve caught the fixed-K=16 shape at 17.6x time for 10x data (the
    within-cell join is O(n^2 / K)), the same class of fault the curve
    caught in the 16-bit embedding bands in r4. ``n_rows`` lets the caller
    supply a cheap count (e.g. parquet metadata of the base table) so the
    auto-K path does not re-run an expensive upstream just to count it; the
    upper clamp keeps >=8 sample points per centroid, and a corpus big
    enough to hit it (sample_n//8 = 2500 cells by default) wants a larger
    codebook sample or a two-level codebook, which is the published regime
    at 10^9+ rows (SemDeDup used ~110k clusters for LAION). Cells are the
    semantic partition, so no cap/drop valve applies here (dropping a cell
    would silently skip its duplicates); a corpus with degenerate embedding
    mass should dedup those rows with ``neardup_pairs``'s capped bands
    first. The assigned relation is localCheckpointed once — it feeds the
    assignment write, both self-join sides, and the output join, and the
    matmul must not re-run four times.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if n_centroids is None:
        if n_rows is None:
            n_rows = df.count()
        n_centroids = min(
            max(min_centroids, -(-n_rows // target_cell_rows)),
            max(min_centroids, sample_n // 8),
        )
    sample_rows = (
        df.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_sid"))
        .orderBy(F.xxhash64(F.col("_sid")))
        .limit(sample_n)
        .collect()
    )
    cents = _kmeans_centroids([r._v for r in sample_rows], n_centroids, kmeans_iters, seed)
    ct = cents.T.copy()  # dim x K, closed over (broadcast with the UDF)

    # no type hints: see ivf_topk's _cells_fn
    def _cell_fn(vs):
        m = np.stack(vs.to_numpy())  # B x dim
        return pd.Series(np.argmax(m @ ct, axis=1).astype(np.int32))  # ties: lower index

    cell_udf = pandas_udf(_cell_fn, T.IntegerType())
    asg = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        vectors.norm(vec_col).alias("_nrm"),  # per-row norm (r6)
        # coalesce: provably non-null join key, same reason as ivf_topk
        F.coalesce(cell_udf(F.col(vec_col)), F.lit(-1)).alias("cell"),
    ).localCheckpoint()
    if assignments_out_path is not None:
        # land (id, cell) so an external oracle can re-derive the
        # within-cell pairs + exact cosine + keep rule from files (the
        # k-means itself is the one non-SQL stage)
        asg.select(F.col("_id").alias(id_col), "cell").write.mode(
            "overwrite"
        ).parquet(assignments_out_path)
    pairs, _, _ = bucket_self_join(asg, ["cell"], None, carry=("_v", "_nrm"))
    dropped = (
        pairs.filter(vectors.dot("_va", "_vb") / (F.col("_nrma") * F.col("_nrmb")) >= tau)
        .select(F.col("b_id").alias("_id"))
        .distinct()
    )
    return asg.join(
        F.broadcast(dropped.withColumn("_d", F.lit(True))), "_id", "left"
    ).select(F.col("_id").alias(id_col), "cell", F.col("_d").isNull().alias("kept"))
