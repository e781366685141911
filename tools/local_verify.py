#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the Verify output dir (spark result parquet per query +
oracle_sql.json), replays each oracle SQL in DuckDB against views over
the sf parquet tables, and compares: schema (column names), row count,
and values after sorting columns by name and rows by all columns.
Every entry Verify recorded in _errors.json fails with its Spark
exception. Exits 1 on any failure, and when nothing was compared (an
empty or missing Verify output must not read as a pass).

Usage: python3 tools/local_verify.py [sf_dir] [out_dir]
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors_path = f"{out_dir}/_errors.json"
    errors = (json.load(open(errors_path))
              if os.path.exists(errors_path) else {})
    n_pass = n_fail = n_rows = 0
    # a query that threw in Verify wrote no output: report Verify's
    # exception, not DuckDB's "output unreadable" (and not nothing, for
    # an entry without an oracle)
    for name, err in sorted(errors.items()):
        print(f"FAIL {name}: {err}")
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        # skip sidecar files (oracle_sql.json, _errors.json) — only
        # query output DIRECTORIES are rows-only candidates
        if (name != "oracle_sql.json" and not name.startswith("_")
                and name not in oracle and name not in errors):
            try:
                n = con.execute(
                    f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'"
                ).fetchone()[0]
                print(f"ROWS {name}: {n} rows (no oracle)")
                n_rows += 1
            except Exception as e:
                print(f"FAIL {name}: rows-only output unreadable: {e}")
                n_fail += 1
    for name, sql in sorted(oracle.items()):
        if name in errors:
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_fail += 1
            continue
        # dtype-exact gate: DESCRIBE both sides at the SQL-type level.
        # DuckDB SUM(BIGINT) widens to HUGEINT — a value-identical result
        # with a HUGEINT column hash-mismatches the driver's dtype-
        # sensitive comparator, and pandas (check_dtype=False) hides it.
        spark_types = dict(con.execute(
            f"SELECT column_name, column_type FROM "
            f"(DESCRIBE SELECT * FROM '{out_dir}/{name}/*.parquet')"
        ).fetchall())
        oracle_types = dict(con.execute(
            f"SELECT column_name, column_type FROM (DESCRIBE {sql})"
        ).fetchall())
        type_mismatch = {c: (spark_types.get(c), oracle_types.get(c))
                         for c in g.columns
                         if spark_types.get(c) != oracle_types.get(c)}
        if type_mismatch:
            print(f"FAIL {name}: column dtype mismatch "
                  f"(spark vs oracle): {type_mismatch}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        except AssertionError as e:
            msg = str(e).splitlines()
            print(f"FAIL {name}: values differ: " + " | ".join(msg[:4]))
            # show first differing cells
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            print(g[bad].head(3).to_string())
            print(w[bad].head(3).to_string())
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    if n_pass + n_fail + n_rows == 0:
        print("FAIL: no entries compared")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
