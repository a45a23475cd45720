#!/usr/bin/env python3
"""Bytes per table and per column of a parquet lake, from the footers.

    python3 tools/lake_bytes.py <lake dir> [--json]

Every subdirectory of <lake dir> that holds parquet files is a table (a
directory that holds parquet files itself is one table). For each table it
prints the rows, the files' bytes on disk and, per column chunk path, the
codec(s), the compressed and uncompressed bytes and the column's share of
the table's compressed bytes, read with DuckDB's `parquet_metadata`.
Partition columns live in directory names, not in the files, so they take
no bytes here. Files and directories whose name starts with "." are
skipped (checksums, staged rewrites). `--json` prints the same numbers as
one JSON object instead.

For example, the lake that a perfbench lake_backfill run leaves behind:

    python3 tools/lake_bytes.py .bench_build/work/lake_backfill/lake
"""
import json
import os
import sys

import duckdb

MB = 1e6


def parquet_files(root):
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        out += [os.path.join(d, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(".")]
    return out


def tables(lake):
    """(name, files) per table under `lake`."""
    own = [os.path.join(lake, f) for f in sorted(os.listdir(lake))
           if f.endswith(".parquet") and not f.startswith(".")]
    if own:
        return [(os.path.basename(os.path.normpath(lake)), parquet_files(lake))]
    out = []
    for name in sorted(os.listdir(lake)):
        p = os.path.join(lake, name)
        if os.path.isdir(p) and not name.startswith("."):
            files = parquet_files(p)
            if files:
                out.append((name, files))
    return out


def table_report(con, files):
    con.execute("CREATE OR REPLACE TEMP TABLE m AS "
                "SELECT * FROM parquet_metadata(?)", [files])
    rows = con.execute("SELECT coalesce(sum(n), 0) FROM (SELECT DISTINCT file_name, "
                       "row_group_id, row_group_num_rows AS n FROM m)").fetchone()[0]
    cols = con.execute("""
        SELECT path_in_schema,
               string_agg(DISTINCT compression, ',' ORDER BY compression),
               sum(total_compressed_size), sum(total_uncompressed_size)
        FROM m GROUP BY path_in_schema ORDER BY sum(total_compressed_size) DESC
    """).fetchall()
    return {
        "files": len(files),
        "rows": int(rows),
        "file_bytes": sum(os.path.getsize(f) for f in files),
        "columns": [{"column": c, "codec": codec, "compressed": int(cz),
                     "uncompressed": int(uz)} for c, codec, cz, uz in cols],
    }


def main(argv):
    args = [a for a in argv[1:] if a != "--json"]
    if len(args) != 1 or not os.path.isdir(args[0]):
        sys.exit(__doc__.strip())
    con = duckdb.connect()
    report = {name: table_report(con, files) for name, files in tables(args[0])}
    if "--json" in argv:
        print(json.dumps(report, indent=1))
        return
    total = 0
    for name, t in report.items():
        cz = sum(c["compressed"] for c in t["columns"])
        total += t["file_bytes"]
        print(f"{name}: {t['rows']} rows, {t['files']} files, "
              f"{t['file_bytes'] / MB:.3f} MB on disk, {cz / MB:.3f} MB in column chunks")
        print(f"  {'column':28s} {'codec':8s} {'compressed MB':>13s} "
              f"{'uncompressed MB':>15s} {'share':>6s}")
        for c in t["columns"]:
            share = 100.0 * c["compressed"] / cz if cz else 0.0
            print(f"  {c['column']:28s} {c['codec']:8s} {c['compressed'] / MB:13.3f} "
                  f"{c['uncompressed'] / MB:15.3f} {share:5.1f}%")
    print(f"lake: {total / MB:.3f} MB on disk in {len(report)} tables")


if __name__ == "__main__":
    main(sys.argv)
