"""Shared fixtures: one session for the whole test run (JVM startup is ~10s),
a small deterministic corpus, and its trusted oracle outputs."""

from __future__ import annotations

import os

import pytest

from tbdedup_spark import schema, synth
from tbdedup_spark.session import get_spark

# get_spark's 32g default lets G1 grow the heap to the host's RAM: over
# test_pipeline + test_entry_oracle the heap committed 13.5 GB and the JVM
# peaked at 14.3 GB RSS of a 16 GB host, while the most the old and
# humongous regions held after any collection was 3.6 GB (2.7 GB after a
# mixed one). 8g is 2.2x that peak and leaves the host room.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tbdedup_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_rows():
    return synth.generate_corpus(n_bases=80, seed=42)


@pytest.fixture(scope="session")
def golden(corpus_rows):
    pairs = synth.golden_pairs(corpus_rows)
    clusters = synth.golden_clusters(corpus_rows, pairs)
    return {"pairs": pairs, "clusters": clusters}


@pytest.fixture(scope="session")
def images(spark, corpus_rows):
    df = spark.createDataFrame(synth.to_spark_rows(corpus_rows), schema.IMAGES)
    df.persist()
    df.count()
    return df


@pytest.fixture
def both_uf_regimes(monkeypatch):
    """``run_both(run)`` calls ``run()`` under each union-find regime — the
    driver finish (default threshold), then the distributed loop
    (``LOCAL_FINISH_EDGES`` = 0) — asserts the results are equal and
    returns them."""
    from tbdedup_spark.operators import unionfind

    def run_both(run):
        local = run()
        with monkeypatch.context() as m:
            m.setattr(unionfind, "LOCAL_FINISH_EDGES", 0)
            distributed = run()
        assert local == distributed
        return local

    return run_both
