"""Table sources & sinks: the run catalog (lineage/metrics/resume)."""
