"""tbdedup_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch generalization of the semantics of BenjamenMeyer/tbdedup
(reference at /root/reference; all citations in docstrings are file:line into
that tree) to web-scale near-duplicate detection over tables of image+caption
pairs:

* exact-signature dedup — the direct analog of tbdedup's dual identity:
  a *canonical* hash over content minus volatile container metadata
  (reference: tbdedup/mbox/mboxmessage.py:94-117) and a *disk* hash over the
  raw on-disk bytes (tbdedup/mbox/mboxmessage.py:96-98);
* three approximate candidate generators — caption-shingle MinHash with LSH
  banding, phash SimHash Hamming bucketing, and exact caption containment
  (rarest-shingle probe against an inverted shingle index; README's
  "Deviations from the north_rule" says why it is not a suffix array);
* a distributed union-find (iterative smallest-id label propagation) that
  merges all detector edges into clusters with deterministic representatives
  (a strict refinement of the reference's "take the first entry" rule,
  tbdedup/dedup/__init__.py:140-157).

Everything is DataFrame-native: built-in pyspark.sql.functions in the hot
path, Arrow-vectorized pandas UDFs where Python is unavoidable (image decode),
zero per-row Python. Designed for 10^12-row tables on a multi-executor
cluster; tested on local[N].
"""

__version__ = "0.1.0"
