#!/usr/bin/env python3
"""Self-check: replicate the driver's DuckDB-oracle compare locally.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [name-substring ...]
(optional filters restrict which queries are checked)

For each query in <verifyOutDir>/oracle_sql.json:
  - register each parquet table in <sfDir> as a DuckDB view
  - run the oracle SQL
  - read the Spark result parquet from <verifyOutDir>/<name>/
  - compare row count, column names (sorted), and values
    (columns sorted by name, rows sorted, doubles compared exactly
    after both sides round — mimicking a hash compare).
"""
import json, sys, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(rows):
    def key(r):
        return tuple((str(type(v)), str(v)) for v in r)
    return sorted([tuple(r) for r in rows], key=key)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    filters = sys.argv[3:]
    if filters:
        oracle = {k: v for k, v in oracle.items()
                  if any(f in k for f in filters)}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output", flush=True)
            n_fail += 1
            continue
        try:
            orows = con.execute(sql).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}", flush=True)
            n_fail += 1
            continue
        srel = con.execute(
            f"SELECT * FROM read_parquet({spark_files!r})")
        srows = srel.fetchall()
        scols = [d[0] for d in con.description]
        if sorted(ocols) != sorted(scols):
            print(f"FAIL {name}: cols oracle={sorted(ocols)} spark={sorted(scols)}", flush=True)
            n_fail += 1
            continue
        # reorder both to sorted column order
        oidx = [ocols.index(c) for c in sorted(ocols)]
        sidx = [scols.index(c) for c in sorted(scols)]
        o = canon([[r[i] for i in oidx] for r in orows])
        s = canon([[r[i] for i in sidx] for r in srows])
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}", flush=True)
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(o, s) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(o)} mismatched rows; first: oracle={bad[0][0]} spark={bad[0][1]}", flush=True)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(o)} rows)", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
