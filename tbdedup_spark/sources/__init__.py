"""Table sources & sinks: the run catalog (lineage/metrics/resume) and the
image container readers."""
