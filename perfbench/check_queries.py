"""Checks each query result of the cold pass against its DuckDB oracle
(`SparkEntry.oracleSql`) on the same parquet tables, with the comparison
rules of tools/check.py: same column names, same row count, and equal
values after sorting the columns by name, row order included (both sides
ORDER BY).

    python3 perfbench/check_queries.py <tables_dir> <results_dir> <oracle_sql.json>
"""
import glob
import json
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, exp):
    """None when equal, else a one-line reason."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"schema mismatch: got {gc} vs oracle {ec}"
    g = got[gc].reset_index(drop=True)
    e = exp[ec].reset_index(drop=True)
    if len(g) != len(e):
        return f"row count: got {len(g)} vs oracle {len(e)}"
    if g.equals(e):
        return None
    for c in gc:
        if not g[c].equals(e[c]):
            bad = (g[c] != e[c])
            i = bad[bad].index[0] if bad.any() else None
            return f"value mismatch in {c} at row {i}: got {None if i is None else g[c][i]!r}" \
                   f" vs oracle {None if i is None else e[c][i]!r}"
    return "value mismatch"


def check(tables_dir, results_dir, oracle_file):
    """Return a list of problems; empty when every result matches."""
    import duckdb
    with open(oracle_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS FROM '{p}'")
    problems = []
    for name, sql in sorted(oracle.items()):
        if sql is None:
            problems.append(f"{name}: no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = con.sql(f"SELECT * FROM '{files[0]}'").fetchdf()
        try:
            exp = con.sql(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{name}: oracle SQL error: {e}")
            continue
        why = compare(got, exp)
        if why:
            problems.append(f"{name}: {why}")
    return problems


if __name__ == "__main__":
    found = check(*sys.argv[1:4])
    for p in found:
        print("FAIL:", p)
    sys.exit(1 if found else 0)
