#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify output vs
DuckDB oracle SQL on the same parquet tables. Usage:
  python3 tools/oracle_check.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df[sorted(df.columns)]
    # canonicalize: stringify every value the same way
    return sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table: a DIRECTORY of parts
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # a misspelt query argument would otherwise select nothing and pass
    unknown = sorted(only - oracle.keys())
    if unknown:
        print(f"unknown queries (not in oracle_sql.json): {', '.join(unknown)}")
        sys.exit(1)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({spark_files!r})").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: cols spark={sorted(got.columns)} oracle={sorted(want.columns)}")
            n_fail += 1
            continue
        g, w = norm(got), norm(want)
        if g == w:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(w)}")
            sg, sw = set(g), set(w)
            for r in list(sg - sw)[:3]:
                print(f"  spark-only: {r}")
            for r in list(sw - sg)[:3]:
                print(f"  oracle-only: {r}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
