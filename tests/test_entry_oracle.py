"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 on Spark AND its oracle_sql() on DuckDB; compare row count, column
names, and order-insensitive values. This is the test that makes
CORRECTNESS_r{N}.json green before the driver ever runs."""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(rows, cols):
    """Sort columns by name, then rows; round floats to 6 dp for compare."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def fix(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        return v

    return sorted(tuple(fix(r[i]) for i in idx) for r in rows)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        assert len(srows) >= 0  # rows-only check
        return
    res = ddb.sql(sql)
    dcols = res.columns
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    a = _normalize(srows, scols)
    b = _normalize(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")


def test_every_query_has_an_oracle():
    """Since round 5 every contract query is oracle-mirrored (the non-SQL
    stages land their outputs as parquet for DuckDB). Lock that in: a new
    queries() entry without an oracle_sql() mirror is a regression."""
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_oracle_sql_and_query_order_pinned():
    """The oracle SQL and the queries() order are fixed: a refactor of the
    query builders must leave both byte-identical. The SQL embeds the
    per-checkout ``_ORACLE_NS``, replaced here so the md5 does not depend
    on the checkout path."""
    sql = json.dumps(entry_mod.oracle_sql(), sort_keys=True)
    sql = sql.replace(entry_mod._ORACLE_NS, "NS")
    assert hashlib.md5(sql.encode()).hexdigest() == "5da2441ecd2ae8c92157120e968a643a"
    order = "\n".join(entry_mod.queries())
    assert hashlib.md5(order.encode()).hexdigest() == "18aa381124c4b31ddef2d77f3968ae10"


def test_query_index_is_in_sync(tmp_path):
    """QUERIES.md is generated from queries()/oracle_sql()/bench; a query
    change that skips the regeneration is a stale index."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "QUERIES.md"
    subprocess.run(
        [sys.executable, os.path.join(root, "make_query_index.py"), str(out)],
        check=True, cwd=tmp_path, capture_output=True,
    )
    with open(os.path.join(root, "QUERIES.md")) as committed:
        assert out.read_text() == committed.read(), "run: python make_query_index.py"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["doc_id", "cluster_id"]
