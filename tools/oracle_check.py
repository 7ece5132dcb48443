#!/usr/bin/env python3
"""Dev-only harness mirroring the driver's correctness gate (SURVEY §5.4).

Runs graft.Verify (must already be done, or pass --run), then executes each
oracle_sql.json entry in DuckDB over the same sf dir and compares against
the Spark parquet output: schema (column names), row count, and exact
values (columns sorted by name, rows sorted by all columns).

Usage: python3 tools/oracle_check.py [--sf /root/testdata/sf0.01] [--run] [names...]

With --run and names, Verify dumps only those queries, so a subset check
is one command. Verify runs in the checkout that holds this script.
"""
import argparse
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

# the checkout this script lives in: Verify compiles and runs this tree
ROOT = Path(__file__).resolve().parent.parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def fetch_sorted(rel):
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=str(ROOT / "tmp" / "verify"))
    ap.add_argument("--run", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # Verify runs in ROOT: hand it paths that mean the same from there
    args.sf, args.out = (str(Path(p).resolve()) for p in (args.sf, args.out))

    if args.run:
        # graft.Verify takes the subset as one comma-joined argument
        only = f" {','.join(args.names)}" if args.names else ""
        cmd = ["sbt", "-batch", f"runMain graft.Verify {args.sf} {args.out}{only}"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], r.stderr[-4000:])
            sys.exit(1)
        for line in r.stdout.splitlines():
            if "[verify]" in line:
                print(line)

    out = Path(args.out)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    names = args.names or sorted(oracle.keys())
    n_ok = n_fail = 0
    for name in names:
        spark_dir = out / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle sql"); continue
        try:
            ocols, orows = fetch_sorted(con.sql(oracle[name]))
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        try:
            scols, srows = fetch_sorted(con.sql(
                f"SELECT * FROM '{spark_dir}/*.parquet'"))
        except Exception as e:
            print(f"FAIL {name}: spark read error: {e}"); n_fail += 1; continue
        if ocols != scols:
            print(f"FAIL {name}: cols oracle={ocols} spark={scols}"); n_fail += 1; continue
        if len(orows) != len(srows):
            print(f"FAIL {name}: rows oracle={len(orows)} spark={len(srows)}")
            for i, (a, b) in enumerate(zip(orows[:2000], srows[:2000])):
                if a != b:
                    print(f"  first diff at {i}:\n   oracle={a}\n   spark ={b}")
                    break
            n_fail += 1; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(orows, srows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(orows)} rows differ; first at {i}:")
            print(f"   cols  ={ocols}")
            print(f"   oracle={a}")
            print(f"   spark ={b}")
            n_fail += 1
        else:
            print(f"OK   {name} ({len(orows)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_fail} fail, {len(names)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
