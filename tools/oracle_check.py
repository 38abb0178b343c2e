#!/usr/bin/env python3
"""Replicate the driver's correctness gate locally.

Usage:
    sbt -batch "runMain graft.Verify <sfDir> <outDir>"
    python3 tools/oracle_check.py <sfDir> <outDir>
    python3 tools/oracle_check.py <sfDir> <outDir> --against <otherOutDir>

For every query dumped by graft.Verify: if it has an entry in
oracle_sql.json, run the SQL in DuckDB over the sf parquet tables and compare
rows / schema / hash exactly like the driver (columns sorted by name, rows
lexsorted, csv-hash); otherwise assert the parquet output is non-empty.

With --against, compare the two dumps instead (no DuckDB): each query's rows
after the same canonical sort, at full float precision (repr, not %.6g), so
a change meant to keep the output must leave every double bit-identical; and
the two oracle_sql.json files must be byte-equal once each file's own dump
directory (the derived oracles read the dump back by absolute path) is
replaced by one placeholder.
"""
import sys, os, json, glob, hashlib, argparse
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def h(df: pd.DataFrame, float_format: str | None = "%.6g") -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format=float_format).encode()).hexdigest()


def read_dump(out: str, name: str) -> pd.DataFrame:
    return pd.concat(
        [pd.read_parquet(f) for f in glob.glob(os.path.join(out, name, "*.parquet"))])


def dump_names(out: str) -> set:
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def against(out: str, other: str) -> int:
    fails = []
    sqls = [open(os.path.join(d, "oracle_sql.json"), "rb").read()
            .replace(os.path.abspath(d).encode(), b"<OUT>") for d in (out, other)]
    if sqls[0] != sqls[1]:
        print("oracle_sql.json: DIFFERS")
        fails.append("oracle_sql.json")
    names = sorted(dump_names(out) | dump_names(other))
    for name in names:
        try:
            a, b = canon(read_dump(out, name)), canon(read_dump(other, name))
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"{name}: ERR {str(e)[:200]}")
            fails.append(name)
            continue
        if list(a.columns) != list(b.columns) or list(a.dtypes) != list(b.dtypes):
            print(f"{name}: SCHEMA {list(a.dtypes.items())} vs {list(b.dtypes.items())}")
            fails.append(name)
        elif len(a) != len(b) or h(a, None) != h(b, None):
            print(f"{name}: ROWS DIFFER ({len(a)} vs {len(b)} rows)")
            fails.append(name)
        else:
            print(f"{name}: IDENTICAL ({len(a)} rows)")
    print(f"compared: {len(names)}, FAILS: {fails}")
    return 1 if fails else 0


def main(sf: str, out: str) -> int:
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    fails = []
    n_queries = 0
    for name in sorted(os.listdir(out)):
        d = os.path.join(out, name)
        if not os.path.isdir(d):
            continue
        n_queries += 1
        spark_df = read_dump(out, name)
        if name not in oracle:
            if len(spark_df) == 0:
                print(f"{name}: ZERO ROWS (rows-only query)")
                fails.append(name)
            continue
        try:
            sdf = canon(spark_df)
            odf = canon(con.execute(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"{name}: ERR {str(e)[:200]}")
            fails.append(name)
            continue
        ok = (len(sdf) == len(odf)
              and list(sdf.columns) == list(odf.columns)
              and h(sdf) == h(odf))
        if not ok:
            print(f"{name}: MISMATCH rows {len(sdf)}/{len(odf)} "
                  f"schema={list(sdf.columns) == list(odf.columns)}")
            fails.append(name)
    print(f"queries: {n_queries}, oracles: {len(oracle)}, FAILS: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="graft.Verify dump checks")
    ap.add_argument("sf")
    ap.add_argument("out")
    ap.add_argument("--against", metavar="OTHER_OUT",
                    help="compare OUT to this dump at full float precision")
    args = ap.parse_args()
    if args.against:
        sys.exit(against(args.out, args.against))
    sys.exit(main(args.sf, args.out))
