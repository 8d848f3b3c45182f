"""Exact token-set Jaccard similarity join via prefix filtering.

The round-1 implementation was a within-block all-pairs self-join — O(n²/L)
candidate rows each carrying two full token arrays through the shuffle;
correct at sf0.1 (36.6s, the #2 bench query), dead at 100×. This is the
classic replacement (Chaudhuri et al. SSJoin / Bayardo et al. "Scaling Up
All Pairs" / PPJoin): under ANY global total order on tokens, if
J(A, B) ≥ τ then A and B must share a token within their *prefixes* of
length |X| − ⌈τ·|X|⌉ + 1 (proof: |A∩B| ≥ τ·|A∪B| ≥ ⌈τ·|X|⌉ for each side;
if the prefixes were disjoint, every common token would have to sit in one
suffix of size ⌈τ|X|⌉ − 1 — pigeonhole contradiction). So:

    tokens → document-frequency total order (rarest first: smallest
    prefixes-postings lists) → rank within doc, keep only prefix rows →
    equi-join on (block, token) → exact |∩|/|∪| verify on candidates only.

Candidates are a provable superset of the τ-pairs; the exact verify makes
the result IDENTICAL to the brute-force oracle. The prefix is extracted with
a per-doc ``row_number`` window, NOT a sorted ``collect_list`` array: the
old aggregate re-materialized EVERY token of every doc into one sorted array
per doc and then sliced it — O(|doc| log |doc|) is unavoidable either way
(the rank needs a per-doc sort) but the window form never builds the array
and only prefix rows leave the stage, so the downstream join input shrinks
by the suffix mass (~(1−τ)·|tokens| fewer rows at τ=0.5, more at higher τ).
The window partition key is the doc id — bounded by doc length, so no
hot-key risk (the repo's window convention, operators/asof.py:10-12).

Skew valve (the shared bucketed self-join,
plans/partitioning.bucket_self_join): a universal prefix token (stopword
that survives into prefixes of short docs) creates a quadratic postings
join. ``prefix_cap`` drops tokens whose postings list exceeds the cap from
the candidate join — dropped AND reported via the second returned relation,
never silent — and salts the kept lists above ``SALT_ABOVE``. Recall is only
lost for pairs whose EVERY shared prefix token is hot; precision is
untouched (the exact verify runs regardless).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.partitioning import bucket_self_join


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    tau: float,
    block_cols: tuple[str, ...] = (),
    prefix_cap: int | None = None,
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped_tokens): all (a_id, b_id, score) with token-set
    Jaccard ≥ tau (a_id < b_id), optionally restricted to pairs agreeing on
    ``block_cols`` (the oracle's same-lang semantic). ``tokens_col`` must
    already be distinct tokens.

    ``prefix_cap``: max postings-list length per (token, block) in the
    candidate join; hotter tokens are dropped and reported in
    ``dropped_tokens`` (token, *block_cols, postings). ``None`` = exact
    (oracle) mode, empty report.

    ``checkpoint``: materialize the prefix relation before it fans out
    (mirrors simhash_pairs' knob, ADVICE r4). Default True — the prefix
    subtree is consumed twice (both candidate self-join sides, or in capped
    mode the cap's size groupBy and join) without exchange reuse. Set False
    on uncapped single-shot paths where the upstream is a plain table scan:
    the repo's own audit measured the eager materialization as ~5% pure
    overhead at sf0.1 there (BENCH/PLANS.md round-4 self-review).
    """
    blocks = list(block_cols)
    docs = df.select(
        F.col(id_col).alias("_id"), *blocks, F.col(tokens_col).alias("_toks")
    )

    # global order: (document frequency asc, token) — rare-first minimizes
    # candidate postings; any total order preserves the guarantee
    ex = docs.select("_id", *blocks, F.size("_toks").alias("_sz"), F.explode("_toks").alias("_tok"))
    freq = ex.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    # prefix length p = n - ceil(tau*n) + 1 (1e-9: don't let float noise
    # round an exact tau*n UP, which would shrink the prefix below the bound)
    p_len = (F.col("_sz") - F.ceil(F.lit(tau) * F.col("_sz") - F.lit(1e-9)) + 1).cast("int")
    w = Window.partitionBy("_id").orderBy("_df", "_tok")
    # _sz and _rn ride the prefix rows (two ints): they power the PPJoin
    # length + positional prunes inside the candidate join below
    prefix = (
        ex.join(freq, "_tok")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= p_len)
        .select("_id", *blocks, "_tok", "_sz", "_rn")
    )
    # the prefix subtree (explode + freq join + per-doc window) is consumed
    # twice — by both candidate self-join sides, or by the cap's size
    # groupBy and join in prefix_cap mode — and Spark does not reuse
    # exchanges across those consumers (the measured premise of
    # simhash_pairs' checkpoint): one narrow materialization runs the
    # tokenize/window stage once
    if checkpoint:
        prefix = prefix.localCheckpoint()

    cand, _, dropped = bucket_self_join(
        prefix, ["_tok", *blocks], prefix_cap, carry=("_sz", "_rn")
    )
    dropped = dropped.select(
        F.col("_tok").alias("token"), *blocks, F.col("bucket_size").alias("postings")
    )

    # PPJoin prunes INSIDE the candidate join (Xiao et al. 2008, public —
    # both are necessary conditions for J >= tau, so candidates stay an
    # exact superset and the verify keeps the result identical):
    #
    # * length filter: J >= tau forces tau*|A| <= |B| and tau*|B| <= |A| —
    #   instance-independent, prunes cross-size junk.
    # * positional filter: for the FIRST token shared by both prefixes, no
    #   common token precedes it in the global (df, tok) order (an earlier
    #   common token would rank earlier in BOTH docs, hence sit in both
    #   prefixes — contradiction), so the true overlap o satisfies
    #   o <= 1 + min(|A| - rn_a, |B| - rn_b); J >= tau forces
    #   o >= tau/(1+tau) * (|A| + |B|). An instance failing the test cannot
    #   be that first-shared instance of a true pair, and the first-shared
    #   instance of every true pair passes — keep-if-ANY-instance-passes is
    #   therefore complete. The 1e-9 guards float noise from rounding an
    #   exact boundary UP (same discipline as p_len).
    #
    # Junk pairs die before the dropDuplicates exchange — the hot-stopword
    # postings self-join was the dominant candidate mass (guide §2.3).
    _req = F.ceil(
        F.lit(tau / (1.0 + tau)) * (F.col("_sza") + F.col("_szb")) - F.lit(1e-9)
    )
    _ub = F.lit(1) + F.least(
        F.col("_sza") - F.col("_rna"), F.col("_szb") - F.col("_rnb")
    )
    cand = (
        cand.filter(F.col("_szb") >= F.ceil(F.lit(tau) * F.col("_sza") - F.lit(1e-9)))
        .filter(F.col("_sza") >= F.ceil(F.lit(tau) * F.col("_szb") - F.lit(1e-9)))
        .filter(_ub >= _req)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )

    # |A ∪ B| = |A| + |B| - |A ∩ B| (tokens_col is distinct by contract): one
    # array_intersect instead of intersect + union — half the per-pair
    # hash-set work, bit-identical score (r6, same as minhash.verify_jaccard)
    toks = docs.select("_id", "_toks", F.size("_toks").alias("_n"))
    pairs = (
        cand.join(
            toks.select(
                F.col("_id").alias("a_id"), F.col("_toks").alias("_ta"),
                F.col("_n").alias("_na"),
            ),
            "a_id",
        )
        .join(
            toks.select(
                F.col("_id").alias("b_id"), F.col("_toks").alias("_tb"),
                F.col("_n").alias("_nb"),
            ),
            "b_id",
        )
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn(
            "score",
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("score") >= tau)
        .select("a_id", "b_id", "score")
    )
    return pairs, dropped
