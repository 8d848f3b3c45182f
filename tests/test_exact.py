"""Exact-signature dedup vs the trusted oracle (FIXTURES F2/F3 'exact')."""

import hashlib

from tbdedup_spark import codecs, schema, synth
from tbdedup_spark.operators import exact


def _partition(pairs):
    """Union-find partition induced by a pair set (for connectivity compare)."""
    p = {}

    def find(x):
        p.setdefault(x, x)
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            p[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(p)}


def test_signatures_schema_and_values(spark, images, corpus_rows):
    sigs = exact.signatures(images)
    assert set(sigs.columns) >= {"image_id", "sig", "disk_sig", "caption_sig", "phash"}
    rows = {r.image_id: r for r in sigs.collect()}
    assert not any(r.sig.startswith("DECODE_ERROR") for r in rows.values())
    # canonical sig matches an independent recomputation (the reference's
    # hash-semantics double-check pattern, tests/mbox/test_message.py:178-229)
    for raw in corpus_rows[:20]:
        expected = hashlib.sha256(
            codecs.canonical_pixel_bytes(raw.data) + ("\x00" + raw.caption).encode()
        ).hexdigest()
        assert rows[raw.image_id].sig == expected
    # disk sig = sha256 of the raw bytes
    for raw in corpus_rows[:5]:
        assert rows[raw.image_id].disk_sig == hashlib.sha256(raw.data).hexdigest()


def test_exact_pairs_match_oracle(spark, images, golden):
    sigs = exact.signatures(images)
    got = {(r.a_id, r.b_id) for r in exact.exact_pairs(sigs).collect()}
    oracle = [(a, b) for a, b, d, _ in golden["pairs"] if d == "exact"]
    assert _partition(got) == _partition(oracle)


def test_dual_hash_sanity_diverges_on_metadata_variant(spark, corpus_rows):
    """F4: metadata-only byte difference ⇒ canonical groups < disk groups ⇒
    the reference's warning fires (tbdedup/dedup/__init__.py:120-123)."""
    seen, base = set(), []
    for r in corpus_rows:
        if r.fmt == "png" and r.data not in seen:
            seen.add(r.data)
            base.append(r)
        if len(base) == 5:
            break
    variants = [synth.metadata_variant(r) for r in base]
    df = spark.createDataFrame(synth.to_spark_rows(base + variants), schema.IMAGES)
    sanity = exact.dual_hash_sanity(exact.signatures(df)).collect()[0]
    assert sanity.unique_disk == 10   # all byte streams distinct
    assert sanity.unique_canonical == 5  # pixel+caption identity collapses pairs
    assert sanity.counts_diverge
