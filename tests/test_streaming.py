"""Structured-Streaming ingest: files arriving → first-seen signature rows.
Exercises the incremental analog of the reference's per-file asyncio fan-out
(tbdedup/dedup/__init__.py:109-119)."""

import glob
import os
import shutil

from tbdedup_spark import schema, synth


def _land(spark, rows, inp, tag):
    """Write a batch as FLAT parquet files in the watch dir — the file
    stream source does not recurse into subdirectories."""
    tmp = inp + f"_{tag}_staging"
    spark.createDataFrame(rows, schema.IMAGES).coalesce(1).write.mode("overwrite").parquet(tmp)
    for i, f in enumerate(glob.glob(tmp + "/part-*.parquet")):
        shutil.move(f, os.path.join(inp, f"{tag}_{i}.parquet"))
    shutil.rmtree(tmp)


def test_stream_dedup_first_seen(spark, corpus_rows, tmp_path):
    """Custom stateful operator (applyInPandasWithState): only the first row
    per canonical signature is emitted, across micro-batches."""
    from tbdedup_spark.streaming.ingest import stream_dedup_first_seen

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    rows = synth.to_spark_rows(corpus_rows[:30])
    _land(spark, rows, inp, "b1")
    q = stream_dedup_first_seen(spark, inp, outp, ckpt, include_canonical=False, state_ttl_hours=None)
    try:
        q.processAllAvailable()
        got1 = spark.read.parquet(outp)
        n_sigs_b1 = got1.select("sig").distinct().count()
        assert got1.count() == n_sigs_b1  # exactly one row per signature
        # batch 2 replays the same rows -> their sigs are in state, nothing
        # new lands; plus genuinely new rows -> only their first occurrences
        _land(spark, rows + synth.to_spark_rows(corpus_rows[30:40]), inp, "b2")
        q.processAllAvailable()
        got2 = spark.read.parquet(outp)
        assert got2.count() == got2.select("sig").distinct().count()
        assert got2.count() >= n_sigs_b1  # monotone, no replayed dupes
        sigs_b1 = {r.sig for r in got1.collect()}
        # every batch-1 signature appears exactly once in the final output
        from collections import Counter

        final = Counter(r.sig for r in got2.collect())
        assert all(final[s] == 1 for s in sigs_b1)
    finally:
        q.stop()


def test_driver_streaming_entry_first_seen_invariants(spark):
    """The driver-contract streaming entry: one emit per canonical sig,
    re-delivered rows suppressed, batch-2 novelty admitted."""
    import __spark_entry__ as M

    from tbdedup_spark import synth

    out = M.queries()["streaming_first_seen_dedup"](spark, "").collect()
    sigs = [r.sig for r in out]
    assert len(sigs) == len(set(sigs))  # exactly one emit per signature

    # ground truth: unique canonical sigs over the union of both batches =
    # unique normalized (pixels, caption) pairs of bases 0..159
    rows = [r for b in range(160) for r in synth.rows_for_base(b, 42)]
    import hashlib

    def canon(r):
        return hashlib.sha256(
            r.pixels.tobytes() + b"|" + " ".join(r.caption.lower().split()).encode()
        ).hexdigest()

    n_unique = len({canon(r) for r in rows})
    # the operator's sig definition may differ in detail from this sketch;
    # compare against the batch operator instead for exactness
    from tbdedup_spark.operators import exact

    img_rows = synth.to_spark_rows(rows)
    from tbdedup_spark import schema as _schema

    df = spark.createDataFrame(img_rows, _schema.IMAGES)
    want = exact.signatures(df).select("sig").distinct().count()
    assert len(sigs) == want, (len(sigs), want, n_unique)


def test_streaming_windowed_counts_watermark_invariants(spark):
    """Append-mode watermark semantics: every window whose END precedes
    (max event time - 1h delay) is emitted exactly once; the trailing
    partial day stays withheld in state; emitted counts reconcile exactly
    with a batch aggregation of the same finalized region."""
    import datetime

    import __spark_entry__ as M
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = M.queries()["streaming_windowed_counts"](spark, sf)
    got = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in out.collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cut = max_ts - datetime.timedelta(hours=1)
    batch = (
        ev.withColumn("window_start", F.date_trunc("day", "ts").cast("timestamp_ntz"))
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    )
    want = {
        (r.window_start, r.event_type): (r.n, r.s)
        for r in batch
        if r.window_start + datetime.timedelta(days=1) <= cut
    }
    withheld = {
        (r.window_start, r.event_type)
        for r in batch
        if r.window_start + datetime.timedelta(days=1) > cut
    }
    assert got == want
    assert withheld, "corpus should have a trailing partial day"
    assert not (withheld & set(got)), "trailing windows must NOT be emitted"
