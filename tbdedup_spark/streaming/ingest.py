"""Streaming first-seen exact dedup via Structured Streaming.

The signature stage (operators/exact.signatures) is stateless per row, so it
streams trivially: ``readStream`` over an arriving-files directory (stand-in
for a Kafka/Iceberg CDC source), the same projection, then one stateful
operator that keeps the first row per canonical signature, append-mode sink.
Candidate generation and clustering remain periodic batch jobs over the
accumulated table — the standard lambda split for dedup at scale
(clustering is a global fixpoint; streaming it would need
applyInPandasWithState and approximate merges, out of the north_rule scope).

The reference's analog is the per-file asyncio fan-out
(tbdedup/dedup/__init__.py:109-119): files arrive, each is parsed and its
hashes appended to the shared table, and the reduce phase runs after.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import schema
from ..operators import exact


def stream_dedup_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    include_canonical: bool = True,
    state_ttl_hours: int | None = 24,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Streaming exact-dedup: emit only the FIRST row ever seen per canonical
    signature; later arrivals of the same signature are dropped — the
    streaming analog of the reference's take-first-per-hash rule
    (tbdedup/dedup/__init__.py:156-157) with explicit bounded state.

    Custom stateful operator via ``applyInPandasWithState`` (the documented
    path for semantics ``dropDuplicates`` can't express): state per signature
    group is ONE small row (first image_id + count), Arrow-batched, and aged
    out by a processing-time TTL — at web scale an unbounded seen-set is the
    thing that kills streaming dedup, so the TTL is part of the contract
    (after expiry a re-arriving signature is emitted again; the periodic
    batch dedup over the accumulated table reconciles, same lambda split as
    the module docstring describes).

    ``state_ttl_hours=None`` disables the timeout (NoTimeout): state lives
    for the query's lifetime. Use it for bounded replays and in tests —
    with a processing-time timeout Spark schedules perpetual state-cleanup
    micro-batches, so ``processAllAvailable()`` (a test/backfill utility)
    never observes a quiescent stream and blocks forever; a production
    24/7 query wants exactly those cleanup batches, a finite run does not."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(schema.IMAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )
    sigs = exact.signatures(stream, include_canonical=include_canonical)
    out_cols = [f.name for f in schema.SIGNATURES.fields]

    def first_seen(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        emit_here = seen == 0  # this trigger owns the group's first emit
        best = None
        for pdf in pdfs:
            if emit_here and len(pdf):
                # deterministic within the trigger: smallest image_id wins,
                # scanned across ALL of the group's chunks before emitting
                m = pdf.loc[[pdf["image_id"].idxmin()]]
                if best is None or m.iloc[0]["image_id"] < best.iloc[0]["image_id"]:
                    best = m
            seen += len(pdf)
        if best is not None:
            yield best[out_cols]
        state.update((seen,))
        if state_ttl_hours is not None:
            state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)

    deduped = sigs.groupBy("sig").applyInPandasWithState(
        first_seen,
        outputStructType=schema.SIGNATURES,
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_hours is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
