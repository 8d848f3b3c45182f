"""Generate QUERIES.md: one row per driver-contract query, derived FROM the
code (queries(), oracle_sql(), bench.BENCH_QUERIES) so it cannot drift.

    python make_query_index.py [OUT]   # default OUT: QUERIES.md beside this file
"""
import inspect
import os
import re
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
import __spark_entry__ as M  # noqa: E402
import bench  # noqa: E402


def main(out: str = os.path.join(ROOT, "QUERIES.md")) -> None:
    qs, os_ = M.queries(), M.oracle_sql()
    rows = []
    for name in sorted(qs):
        fn = qs[name]
        src = inspect.getsource(fn)
        doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip(".")
        mods = sorted(set(re.findall(r"from tbdedup_spark[.\w]* import (\w+)", src))
                      | set(re.findall(r"operators import (\w+)", src)))
        sql = os_[name]
        landed = "landed-stage" if "/tmp/tbdedup" in sql else "direct SQL"
        benched = "yes" if name in bench.BENCH_QUERIES else "-"
        rows.append((name, ", ".join(mods) or "__spark_entry__", landed, benched, doc))

    with open(out, "w") as f:
        f.write(
            "# Driver-contract query index\n\n"
            "GENERATED by `python make_query_index.py` from `queries()` / "
            "`oracle_sql()` / `bench.BENCH_QUERIES` — regenerate after adding a "
            "query; do not hand-edit. Oracle kind: *direct SQL* = DuckDB "
            "restates the whole computation over the shared parquet tables; "
            "*landed-stage* = the one non-SQL stage (decode/k-means/streaming "
            "delivery/snapshot commit) lands its output as parquet and DuckDB "
            "re-derives everything relational downstream of it. Unbenched "
            "queries fall into the four classes documented at the top of "
            "`bench.py`.\n\n"
            f"**{len(rows)} queries, {len(rows)} oracles, "
            f"{sum(1 for r in rows if r[3] == 'yes')} benched at two SFs.**\n\n"
            "| query | modules | oracle | benched | one-liner |\n|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| `%s` | %s | %s | %s | %s |\n" % r)
    print(f"wrote {out}: {len(rows)} rows")


if __name__ == "__main__":
    main(*sys.argv[1:2])
