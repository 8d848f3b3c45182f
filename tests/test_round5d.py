"""Round-5 fourth wave: winnowing fingerprints, BM25 retrieval, and the
bigram-LM quality score — semantic invariants beyond the sf0.01 oracle
equality of test_entry_oracle.py."""

from __future__ import annotations

import math
from collections import defaultdict

import __spark_entry__ as entry_mod
from __spark_entry__ import (
    BM25_QUERIES,
    BM25_TOPK,
    WINNOW_K,
    WINNOW_W,
    _q_bigram_lm_nll,
    _q_bm25_topk,
    _q_winnowing_fingerprints,
)

SF = "/root/testdata/sf0.001"


# --- winnowing -----------------------------------------------------------------


def test_winnowing_density_guarantee(spark):
    """The winnowing theorem (Schleimer et al. 2003): every window of W
    consecutive k-grams contains a selected fingerprint — i.e. the gap
    between consecutive selected positions within a document is <= W, and
    the first selection is within the first complete window."""
    rows = _q_winnowing_fingerprints(spark, SF).collect()
    assert rows, "corpus produced no fingerprints"
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r.pos)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    norm = {
        d.doc_id: " ".join(d.text.lower().split()) for d in docs
    }
    for doc_id, ps in by_doc.items():
        ps.sort()
        assert ps[0] <= WINNOW_W - 1, "first window uncovered"
        for a, b in zip(ps, ps[1:]):
            assert b - a <= WINNOW_W, f"doc {doc_id}: gap {b - a} > W"
        n_grams = len(norm[doc_id]) - WINNOW_K + 1
        assert ps[-1] >= n_grams - WINNOW_W, "last window uncovered"


def test_winnowing_shared_substring_shares_fingerprint(spark):
    """The match guarantee: two documents sharing a substring of length
    >= K + W - 1 share at least one fingerprint VALUE. Planted: two docs
    with a long common middle and different ends."""
    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"alpha beta {common} gamma delta"),
        (2, f"zeta eta {common} theta iota"),
        (3, "completely unrelated text about database query planners"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_winnow_planted")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = _q_winnowing_fingerprints(spark, td).collect()
    fps = defaultdict(set)
    for r in out:
        fps[r.doc_id].add(r.fp)
    assert len(common) >= WINNOW_K + WINNOW_W - 1
    assert fps[1] & fps[2], "long shared substring must share a fingerprint"


def test_winnowing_keeps_guarantees(spark):
    """The structural guarantees hold on the whole corpus: gap <= W within
    each doc, first/last windows covered, and density within the
    theoretical band. None of them depends on the hash."""
    from tbdedup_spark.operators.winnow import winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS norm"
    )
    rows = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W).collect()
    assert rows
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r.pos)
    n_sel = 0
    n_grams_total = 0
    norm = {d.doc_id: d.norm for d in docs.collect()}
    for doc_id, ps in by_doc.items():
        ps.sort()
        assert ps[0] <= WINNOW_W - 1
        for a, b in zip(ps, ps[1:]):
            assert b - a <= WINNOW_W
        n_grams = len(norm[doc_id]) - WINNOW_K + 1
        assert ps[-1] >= n_grams - WINNOW_W
        n_sel += len(ps)
        n_grams_total += n_grams
    density = n_sel / n_grams_total
    # theory: expected 2/(w+1) = 0.4; hard bounds are (1/w, 1]
    assert 1 / WINNOW_W <= density <= 0.75


# --- bm25 ----------------------------------------------------------------------


def test_bm25_ranks_dense_and_scores_monotone(spark):
    """Per query: ranks are exactly 1..min(k, matches), scores are
    non-increasing in rank, every score is positive, and ties on the
    integer micro-nat score broke by doc_id ascending."""
    rows = _q_bm25_topk(spark, SF).collect()
    assert rows
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    assert set(by_q) == {qid for qid, _ in BM25_QUERIES}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= BM25_TOPK
        for a, b in zip(rs, rs[1:]):
            assert a.score > b.score or (
                a.score == b.score and a.doc_id < b.doc_id
            )
        assert all(r.score > 0 for r in rs)


def test_bm25_term_stuffed_doc_wins(spark):
    """A planted doc that is mostly the query's terms outranks a doc with a
    single mention padded with filler (tf saturation still orders them)."""
    q_terms = dict(BM25_QUERIES)[1]  # ("slow", "hash", "join")
    filler = "alpha beta gamma delta epsilon " * 6
    rows = [
        (1, ("slow hash join " * 5).strip()),
        (2, (filler + "slow " + filler).strip()),
        (3, filler.strip()),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = _q_bm25_topk(spark, td).collect()
    q1 = sorted((r for r in out if r.query_id == 1), key=lambda r: r.rank)
    assert [r.doc_id for r in q1[:2]] == [1, 2]
    assert all(r.doc_id != 3 for r in q1), str(q_terms)


# --- bigram LM -----------------------------------------------------------------


def test_bigram_lm_duplicate_docs_score_identically(spark):
    """Exact duplicates have identical avg_nll (the score is a pure
    function of content), and a doc made of the corpus's most common
    bigram scores strictly lower than a doc of corpus-unique bigrams."""
    rows = [
        (1, "slow hash slow hash slow hash slow hash"),
        (2, "slow hash slow hash slow hash slow hash"),
        (3, "zeppelin quark mango sphinx velvet cactus"),
        (4, "slow hash " * 2 + "zeppelin quark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {r.doc_id: r for r in _q_bigram_lm_nll(spark, td).collect()}
    assert out[1].avg_nll == out[2].avg_nll
    assert out[1].n_bigrams == 7
    assert out[1].avg_nll < out[3].avg_nll


def test_bigram_lm_bounds_on_corpus(spark):
    """Every scored doc: 0 < avg_nll <= ln(total_bigrams + V) + 1e-6 (the
    add-1 lower bound on p), and n_bigrams == max(0, tokens - 1)."""
    out = _q_bigram_lm_nll(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks = {d.doc_id: " ".join(d.text.lower().split()).split(" ") for d in docs}
    vocab = {w for ws in toks.values() for w in ws}
    total = sum(max(0, len(ws) - 1) for ws in toks.values())
    bound = math.log(total + len(vocab)) + 1e-6
    for r in out:
        assert r.n_bigrams == max(0, len(toks[r.doc_id]) - 1)
        if r.n_bigrams:
            assert 0 < r.avg_nll <= bound
        else:
            assert r.avg_nll == 0.0


def test_new_queries_registered_with_oracles():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    for name in (
        "winnowing_fingerprints",
        "bm25_topk",
        "bigram_lm_nll",
        "winnow_dup_pairs",
    ):
        assert name in qs and name in os_


# --- winnow_dup_pairs ------------------------------------------------------


def test_winnow_dup_pairs_planted_span(spark):
    """Two documents that differ everywhere EXCEPT one long shared span are
    paired (the partial-overlap case whole-document hashing misses), while
    unrelated documents are not; boilerplate present in EVERY doc is
    suppressed by the df cap and creates no pairs on its own."""
    from tbdedup_spark.operators.winnow import winnow_dup_pairs

    span = "the quick brown fox jumps over the lazy dog again and again"
    boiler = "all rights reserved contact us at example dot com"
    rows = [
        (1, f"alpha bravo charlie delta echo {span} foxtrot golf {boiler}"),
        (2, f"hotel india juliet kilo lima {span} mike november {boiler}"),
        (3, f"oscar papa quebec romeo sierra tango uniform victor {boiler}"),
        (4, f"whiskey xray yankee zulu one two three four five {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, norm string")
    got = {
        (r.id_a, r.id_b): r
        for r in winnow_dup_pairs(df, df_cap=3, min_shared=3, tau=0.15).collect()
    }
    assert (1, 2) in got, "shared-span pair must be detected"
    assert all(p == (1, 2) for p in got), f"false pairs: {set(got) - {(1, 2)}}"
    r = got[(1, 2)]
    assert r.n_shared >= 3 and 0.15 <= r.fp_jaccard <= 1.0


def test_winnow_dup_pairs_df_cap_suppresses_hot_fps(spark):
    """With df_cap=1 every shared fingerprint is dropped, so NO pairs
    survive regardless of similarity — the cap is semantic, not advisory."""
    from tbdedup_spark.operators.winnow import winnow_dup_pairs

    rows = [(1, "identical twin document text"), (2, "identical twin document text")]
    df = spark.createDataFrame(rows, "doc_id long, norm string")
    assert winnow_dup_pairs(df, df_cap=1, min_shared=1, tau=0.01).count() == 0
    # and with a permissive cap the identical pair IS found at jaccard 1.0
    full = winnow_dup_pairs(df, df_cap=2, min_shared=1, tau=0.99).collect()
    assert len(full) == 1 and full[0].fp_jaccard == 1.0


# --- tier_attribution ------------------------------------------------------


def test_tier_attribution_partitions_corpus(spark):
    """Always exactly the 4 spine rows; n_docs sums to the corpus size
    (first-tier-wins => the tiers partition the docs); counts agree with
    the standalone detector queries' caught sets."""
    from __spark_entry__ import _q_simhash, _q_tier_attribution

    rows = {r.tier: r for r in _q_tier_attribution(spark, SF).collect()}
    assert set(rows) == {"exact", "simhash", "minhash", "unique"}
    assert [rows[t].tier_rank for t in ("exact", "simhash", "minhash", "unique")] == [1, 2, 3, 4]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows.values()) == n_docs
    # no exact dups in the synthetic corpus; simhash count == its distinct
    # caught set (nothing for exact to shadow)
    sh_caught = {r.b_id for r in _q_simhash(spark, SF).collect()}
    assert rows["exact"].n_docs == 0
    assert rows["simhash"].n_docs == len(sh_caught)


def test_tier_attribution_planted_exact_dup(spark, tmp_path):
    """A planted exact duplicate lands in tier 'exact' and is NOT counted
    again by the near tiers, even though simhash would also catch it."""
    from __spark_entry__ import _q_tier_attribution

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different and unrelated document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    td = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
    out = {r.tier: r.n_docs for r in _q_tier_attribution(spark, td).collect()}
    assert out == {"exact": 1, "simhash": 0, "minhash": 0, "unique": 2}


def test_winnow_dup_pairs_param_guards(spark):
    from tbdedup_spark.operators.winnow import winnow_dup_pairs

    df = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, norm string")
    for kwargs in ({"tau": 0.0}, {"tau": 1.5}, {"df_cap": 0}, {"min_shared": 0}):
        try:
            winnow_dup_pairs(df, **kwargs)
            assert False, f"expected ValueError for {kwargs}"
        except ValueError:
            pass


# --- html_to_text -----------------------------------------------------------


def test_html_to_text_strips_boilerplate_and_unescapes(spark):
    """Script/style/head/nav/footer/comments vanish; tags become spaces;
    entities unescape (&amp; last, so &amp;lt; -> literal '&lt;' text);
    whitespace collapses."""
    from tbdedup_spark.functions.html import html_to_text

    html = (
        "<html><head><title>T</title><script>var a = 1 < 2;</script>"
        "<style>p { color: red }</style></head><body>"
        "<nav><a href='/'>Home</a></nav><!-- hidden -->"
        "<h1>Hello</h1>\n\n<p>Fish &amp; chips &lt;b&gt; &amp;lt;raw</p>"
        "<footer>foot</footer></body></html>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    out = df.select(html_to_text("html").alias("t")).collect()[0].t
    assert out == 'Hello Fish & chips <b> &lt;raw'


def test_html_to_text_multiline_blocks(spark):
    """(?s) dotall: blocks spanning newlines still die; header element
    survives the <head> pattern (the \\b boundary)."""
    from tbdedup_spark.functions.html import html_to_text

    html = "<script>\nline1\nline2\n</script><header>site menu</header><p>body text</p>"
    df = spark.createDataFrame([(html,)], "html string")
    out = df.select(html_to_text("html").alias("t")).collect()[0].t
    assert out == "body text"


def test_html_synth_null_text_cross_engine(spark):
    """_HTML_SYNTH must agree across engines when documents.text is NULL:
    Spark concat() is NULL-propagating while DuckDB concat() SKIPS NULL
    arguments, so without coalesce(text,'') Spark synthesizes NULL markup
    and DuckDB synthesizes boilerplate-only markup — the one NULL-asymmetric
    expression the oracle pair would have had. Guarded by coalesce in the
    shared snippet; this pins both engines to the same non-NULL output."""
    import duckdb

    from __spark_entry__ import _HTML_SYNTH

    df = spark.createDataFrame([(7, None)], "doc_id int, text string")
    spark_out = df.selectExpr(f"{_HTML_SYNTH} AS html").collect()[0].html
    duck_out = duckdb.sql(
        f"SELECT {_HTML_SYNTH} AS html FROM (SELECT 7 AS doc_id, NULL AS text)"
    ).fetchone()[0]
    assert spark_out is not None
    assert spark_out == duck_out


# --- crawl_dedup_pipeline ---------------------------------------------------


def test_crawl_dedup_collapses_mirrors(spark, tmp_path):
    """Each page fetched from doc_id%3+1 mirror URLs collapses to ONE
    representative with first-fetch-wins rep_crawl_id = doc_id*4 and
    n_fetches = the mirror count; quality-failing pages vanish entirely."""
    from __spark_entry__ import CRAWL_STRIDE, _q_crawl_dedup_pipeline

    passing = (
        "the quick brown fox jumps over the lazy dog and then the small "
        "cat sat by the door while a bird flew past the open window today"
    )
    rows = [(1, passing), (2, passing + " extra words here now"), (5, "too short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    td = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
    out = {r.rep_crawl_id: r for r in _q_crawl_dedup_pipeline(spark, td).collect()}
    # doc 5 fails too_short; docs 1 and 2 pass with distinct clean text
    assert set(out) == {1 * CRAWL_STRIDE, 2 * CRAWL_STRIDE}
    assert out[4].n_fetches == 1 % 3 + 1 == 2
    assert out[8].n_fetches == 2 % 3 + 1 == 3
    assert out[4].n_tokens_clean > 16


def test_crawl_dedup_single_shuffle_plan(spark):
    """The composition's scale contract: everything upstream of the dedup
    groupBy fuses into codegen map stages — exactly ONE hash-partitioned
    Exchange (the dedup groupBy), zero Python nodes. Since r6 an OPTIONAL
    round-robin repartition may precede it: the small-scan fan-out
    (plans/partitioning.py) engages only when the scan under-splits (the
    test corpus is one parquet split), and is a structural no-op at real
    corpus scale — so it is allowed but never required, and no OTHER
    hash exchange may appear (BENCH/PLANS.md crawl_dedup_pipeline)."""
    from __spark_entry__ import _q_crawl_dedup_pipeline

    plan = _q_crawl_dedup_pipeline(spark, SF)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    n_roundrobin = plan.count("RoundRobinPartitioning")
    assert n_exchanges - n_roundrobin == 1, plan
    assert n_roundrobin <= 1, plan
    assert "Python" not in plan and "BatchEval" not in plan
