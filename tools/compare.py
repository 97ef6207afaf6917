#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare.py /tmp/verify_out /root/testdata/sf0.01

For each query result parquet under outDir, runs the matching oracle
SQL (outDir/oracle_sql.json) in DuckDB against the sf parquet tables,
sorts columns by name and rows by value, and compares cell-by-cell
(floats to 1e-9 relative, everything else exact). An oracle entry with
no result directory (its query threw before writing) is MISSING, a
fail. Exits 1 on any fail.
"""
import json, math, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def cells(rows):
    return [tuple(norm(v) for v in r) for r in rows]


def main(out_dir, sf_dir):
    out = Path(out_dir)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = fail = skip = 0
    qdirs = sorted(p for p in out.iterdir() if p.is_dir())
    for qdir in qdirs:
        name = qdir.name
        files = list(qdir.glob("*.parquet"))
        if not files:
            print(f"MISSING  {name} (no parquet written)")
            fail += 1
            continue
        tbl = pq.read_table(files[0])
        if name not in oracle:
            print(f"rows-only {name}: {tbl.num_rows} rows")
            skip += 1
            continue
        try:
            res = con.sql(oracle[name])
        except Exception as e:
            print(f"ORACLE-ERR {name}: {e}")
            fail += 1
            continue
        # driver contract: sort columns by name, then compare values
        spark_cols = sorted(tbl.column_names)
        duck_cols = sorted(res.columns)
        if spark_cols != duck_cols:
            print(f"SCHEMA   {name}: spark={spark_cols} duck={duck_cols}")
            fail += 1
            continue
        sdf = tbl.to_pylist()
        srows = sorted(cells([[r[c] for c in spark_cols] for r in sdf]))
        ddf = res.fetchall()
        didx = [res.columns.index(c) for c in duck_cols]
        drows = sorted(cells([[r[i] for i in didx] for r in ddf]))
        if len(srows) != len(drows):
            print(f"ROWS     {name}: spark={len(srows)} duck={len(drows)}")
            fail += 1
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"VALUES   {name}: {len(bad)}/{len(srows)} differing; first: {bad[0][0]} vs {bad[0][1]}")
            fail += 1
        else:
            print(f"OK       {name} ({len(srows)} rows)")
            ok += 1
    for name in sorted(set(oracle) - {p.name for p in qdirs}):
        print(f"MISSING  {name} (no result directory)")
        fail += 1
    print(f"\n{ok} ok, {fail} fail, {skip} rows-only")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
