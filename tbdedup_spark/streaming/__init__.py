"""Streaming ingest (Structured Streaming).

The north_rule pipeline is batch; this module exists because a 10^12-row
corpus is never loaded in one shot — new images arrive continuously and the
signature stage is incremental by nature (per-row, stateless). See
``ingest.py`` for the readStream → signatures → first-seen dedup wiring.
"""
