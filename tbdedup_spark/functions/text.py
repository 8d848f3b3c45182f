"""Text primitives: normalization, shingles, MinHash, SimHash, token stats.

Everything in this module is **pure built-in Spark SQL expressions** — they
compile to whole-stage-codegen'd JVM code, shuffle nothing by themselves, and
have exact DuckDB mirrors (used by ``__spark_entry__.oracle_sql``). The
pandas-UDF MinHash variant (numpy, for very long captions) lives in
``operators/minhash.py``; this expression path is the default because it keeps
the entire signature stage JVM-side.

Hash design (shared constants, see ``perm_coeffs``):

* shingle/token base hash: first 15 hex chars of md5 → 60-bit positive int —
  md5 is available and bit-identical in Spark (``md5``) and DuckDB (``md5``),
  which is what makes the correctness oracle exact.
* MinHash permutations: ``(a_j * (h % P) + b_j) % P`` with P = 2^31 - 1
  (Mersenne prime). ``h % P < 2^31`` and ``a_j < 2^31`` keep the product
  < 2^62 — no int64 overflow on either engine.

The reference's analog of all of this is the single canonicalized SHA-256
(tbdedup/mbox/mboxmessage.py:94-117); MinHash/SimHash generalize "one exact
signature" to "a locality-sensitive family of signatures".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1


def perm_coeffs(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for MinHash permutations.

    Plain LCG (constants from Numerical Recipes), not numpy, so the exact
    integers are trivially embeddable in the DuckDB oracle SQL.
    """
    state = seed & 0xFFFFFFFF
    out = []
    for _ in range(n_perm):
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        a = (state % (MERSENNE_P - 1)) + 1  # a in [1, P-1]
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        b = state % MERSENNE_P  # b in [0, P-1]
        out.append((a, b))
    return out


def norm_text(col: str | Column) -> Column:
    """lower + whitespace collapse + trim — the canonicalization step
    (the analog of the reference's latin1/utf-8 normalization pre-hash,
    tbdedup/utils/encoder.py:18-28). Accepts a column name or Column
    expression (the hash60/hash32 convention). Idempotent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def shingles(norm_col: str, k: int = 5) -> Column:
    """Distinct k-char shingles of an already-normalized string column.

    Whole string when shorter than k. Pure expression: sequence + transform +
    substring, no explode yet — the caller decides when to explode.

    PERFORMANCE WARNING: if ``norm_col`` is itself an expression (e.g.
    ``norm_text``), projection collapse inlines it into the transform lambda
    and re-evaluates it once PER SHINGLE (~200x per row; ICU ``lower`` makes
    this brutal). Hot paths must use ``operators.minhash.exploded_shingles``
    (explode positions first — the Generate node is a collapse boundary).
    This expression form is kept for small relations and because it mirrors
    the DuckDB oracle SQL one-to-one.
    """
    return F.expr(
        f"array_distinct(transform(sequence(0, greatest(length({norm_col}) - {k}, 0)),"
        f" i -> substring({norm_col}, i + 1, {k})))"
    )


def hash60(col: str | Column) -> Column:
    """60-bit positive int from md5 — the ORACLE-GRADE base hash: available
    bit-identically in DuckDB, used wherever a query must match oracle SQL.
    Costs ~30us/row JVM-side (MessageDigest + hex + conv) — use ``hash32``
    in throughput paths."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash32(col: str | Column) -> Column:
    """crc32 base hash — the THROUGHPUT-GRADE variant (~100x cheaper than
    md5+conv). Python mirror: ``zlib.crc32(s.encode())`` (same IEEE
    polynomial), so driver-side oracles can recompute it. 32-bit domain:
    collisions only ever ADD candidates, which the verify stages filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.crc32(F.encode(c, "utf-8"))


def minhash_agg_cols(h_col: str, n_perm: int, seed: int = 42) -> list[Column]:
    """n_perm ``min((a*(h%P)+b)%P)`` aggregate columns over an exploded
    shingle-hash column — one groupBy pass computes the whole signature
    (map-side partial aggregation keeps the shuffle narrow)."""
    p = MERSENNE_P
    return [
        F.min(((F.lit(a) * (F.col(h_col) % p) + F.lit(b)) % p)).alias(f"mh{j}")
        for j, (a, b) in enumerate(perm_coeffs(n_perm, seed))
    ]


# --- SimHash over tokens (W-bit) --------------------------------------------


def simhash_bit_sums(h_col: str, width: int = 32) -> list[Column]:
    """Per-bit +-1 sums of token hashes; aggregate columns for a groupBy."""
    return [
        F.sum(
            F.when((F.shiftright(F.col(h_col), b).bitwiseAND(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(width)
    ]


def simhash_assemble(width: int = 32) -> Column:
    """Fold s0..s{W-1} sums into the W-bit SimHash value."""
    expr = None
    for b in range(width):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        expr = term if expr is None else expr + term
    return expr


def simhash_sql(width: int = 32) -> tuple[list[str], str]:
    """DuckDB mirrors: (bit-sum aggregate exprs, assemble expr)."""
    sums = [
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(width)
    ]
    assemble = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(width)
    )
    return sums, assemble


# --- text-analysis extras (all built-in expressions) -------------------------

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with for on "
    "as at by from not"
).split()


def token_count(col: str, normalized: bool = False) -> Column:
    """Whitespace token count (0 for empty). ``normalized=True`` when ``col``
    already holds norm_text output (skips re-normalizing — norm_text is
    idempotent, so results are identical, but the lower+regex pass is paid
    once upstream instead of once per reference)."""
    n = F.col(col) if normalized else norm_text(col)
    return F.when(F.length(n) == 0, 0).otherwise(F.size(F.split(n, " "))).cast("long")


def bpe_ish_token_count(col: str) -> Column:
    """BPE-ish subword proxy: count alternating letter/digit/punct runs.

    regexp: words, numbers, or single non-space symbols — a deterministic
    approximation of tokenizer segment counts, good enough for length-based
    corpus filtering at scale."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)).cast("long")


def quality_features(col: str, normalized: bool = False) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio features for corpus QC.

    ``normalized=True``: ``col`` is already norm_text output — every feature
    then references the attribute instead of inlining the lower+regex
    normalization once PER FEATURE (and, under filter pushdown, once per
    CASE branch of the filter chain — the r6 crawl-plan finding)."""
    n = F.col(col) if normalized else norm_text(col)
    toks = F.split(n, " ")
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return {
        "n_chars_norm": F.length(n).cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": (F.length(F.concat_ws("", toks)) / F.greatest(n_tok, F.lit(1.0))),
        "punct_ratio": (
            F.length(F.regexp_replace(n, r"[a-z0-9\s]", "")) / F.greatest(F.length(n).cast("double"), F.lit(1.0))
        ),
        "stopword_ratio": (
            F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("double")
            / F.greatest(F.size(F.array_distinct(toks)).cast("double"), F.lit(1.0))
        ),
    }


def quality_filter_reason(
    col: str,
    *,
    min_tokens: int,
    max_tokens: int,
    min_mean_tok: float,
    max_mean_tok: float,
    max_punct: float,
    min_stopword: float,
    normalized: bool = False,
) -> Column:
    """Gopher/C4-style quality filter CHAIN: the ordered rule list every LLM
    data pipeline applies before training (Rae et al. 2021 Table A1; Raffel
    et al. 2020 §2.2 — both public), expressed as ONE first-fail CASE over
    the ``quality_features`` columns so a rejected document carries an
    auditable reason code instead of silently vanishing.

    Rule order is part of the contract (first failing rule wins):
    too_short -> too_long -> short_tokens -> long_tokens -> punct_heavy ->
    low_stopword -> 'pass'. All predicates compare the 6-dp-rounded features
    (the same rounding ``quality_scores`` hash-matches the DuckDB oracle on),
    so both engines take identical branches.

    Reference analog: the planner's include/exclude predicate chain
    (/root/reference/tbdedup/planner/plan.py:96-102) generalized from regex
    match to feature thresholds. Scale shape: a single whole-stage-codegen
    projection over the scan — zero shuffles, zero Python, pure map at
    10^12 docs."""
    feats = quality_features(col, normalized=normalized)
    n_tok = feats["n_tokens"]
    mtl = F.round(feats["mean_token_len"], 6)
    punct = F.round(feats["punct_ratio"], 6)
    stop = F.round(feats["stopword_ratio"], 6)
    return (
        F.when(n_tok < min_tokens, "too_short")
        .when(n_tok > max_tokens, "too_long")
        .when(mtl < min_mean_tok, "short_tokens")
        .when(mtl > max_mean_tok, "long_tokens")
        .when(punct > max_punct, "punct_heavy")
        .when(stop < min_stopword, "low_stopword")
        .otherwise("pass")
    )


def lang_id_heuristic(col: str) -> Column:
    """Deterministic n-gram-frequency language guess (en/de/es/fr/other).

    A real model is out of scope (no ML libs); this is the standard
    stopword-evidence heuristic expressed as pure SQL so it runs JVM-side at
    scale and is oracle-checkable. Scores = number of language-marker tokens.
    """
    n = norm_text(col)
    toks = F.array_distinct(F.split(n, " "))
    markers = {
        "en": ["the", "and", "of", "to", "is"],
        "de": ["der", "die", "und", "ist", "nicht"],
        "es": ["el", "la", "los", "que", "es"],
        "fr": ["le", "la", "les", "est", "une"],
    }
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in markers.items()
    }
    best = F.greatest(*scores.values())
    out = F.when(best <= 0, "other")
    for lang in ("de", "en", "es", "fr"):  # deterministic tie-break: alpha order
        out = out.when(scores[lang] == best, lang)
    return out.otherwise("other")


# --- hashed bag-of-words document embeddings ---------------------------------


def hashed_bow_sums(h_col: str, dim: int = 64) -> list[Column]:
    """Per-dimension token-count sums for a feature-hashed bag-of-words
    embedding: dimension of a token = hash % dim, value = occurrence count.
    Aggregate columns for one groupBy(doc) pass over exploded token hashes —
    the same map-side-combined shape as ``simhash_bit_sums``, so the shuffle
    carries ``dim`` partial sums per doc, never token rows."""
    return [
        F.sum(F.when(F.pmod(F.col(h_col), F.lit(dim)) == j, 1).otherwise(0))
        .cast("double")
        .alias(f"e{j}")
        for j in range(dim)
    ]


def hashed_bow_assemble(dim: int = 64) -> Column:
    """Fold e0..e{dim-1} sums into the ``array<double>`` embedding column."""
    return F.array(*[F.col(f"e{j}") for j in range(dim)])


def hashed_bow_sql(h_expr: str, dim: int = 64) -> tuple[list[str], str]:
    """DuckDB mirrors of (``hashed_bow_sums``, ``hashed_bow_assemble``)."""
    sums = [
        f"CAST(sum(CASE WHEN ({h_expr}) % {dim} = {j} THEN 1 ELSE 0 END) AS DOUBLE) AS e{j}"
        for j in range(dim)
    ]
    assemble = "list_value(" + ", ".join(f"e{j}" for j in range(dim)) + ")"
    return sums, assemble


# NOTE: an expression-form `fingerprint(src_col)` used to live here (bottom-1
# sketch via array-transform with the normalization inlined). Deleted: it was
# this module's own documented projection-collapse trap (see the warning at
# `shingles` above — Catalyst re-evaluates lower+regexp_replace once per
# shingle) and dead code. The live path is the exploded form in
# __spark_entry__._q_fingerprint (explode positions → hash → groupBy min).
