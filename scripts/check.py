#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 scripts/check.py [sfdir] [outdir]
For each query in <outdir>/oracle_sql.json (written by graft.Verify), reads
its <outdir>/<name> parquet (a missing one is a failure), runs its oracle
SQL in DuckDB over the same parquet tables, and compares schema + values
(columns sorted by name, rows sorted) the way the driver's hash compare
would.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name in sorted(oracle):
    # a query that threw in Verify left no directory: that is a failure
    if not os.path.isdir(f"{outdir}/{name}"):
        print(f"MISSING {name}"); fails += 1; continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"EMPTY-DIR {name}"); fails += 1; continue
    spark_df = con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetchdf()
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}"); fails += 1; continue
    # The driver's hasher renders DECIMAL columns differently from the
    # engines' BIGINT convention (and pandas astype(str) coerces decimals
    # through float64, masking it) — reject DECIMAL/HUGEINT output types
    # outright so local ALL-OK implies driver green (CLAUDE.md invariant:
    # integer-exact BIGINT outputs only).
    spark_types = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()
    duck_types = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
    badtypes = [(side, cn, ct) for side, cols in
                (("spark", spark_types), ("duck", duck_types))
                for cn, ct, *_ in cols
                if ct.upper().startswith("DECIMAL") or ct.upper() == "HUGEINT"]
    if badtypes:
        print(f"DECIMAL-TYPE {name}: {badtypes} (emit BIGINT instead)")
        fails += 1; continue
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        print(f"COLS {name}: spark={list(s.columns)} duck={list(d.columns)}")
        fails += 1; continue
    if [str(x) for x in s.dtypes] != [str(x) for x in d.dtypes]:
        print(f"DTYPES {name}: spark={list(map(str,s.dtypes))} duck={list(map(str,d.dtypes))}")
        # not necessarily fatal for a value hash; keep checking values
    ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    dd = d.sort_values(by=list(d.columns)).reset_index(drop=True)
    if len(ss) != len(dd):
        print(f"ROWS {name}: spark={len(ss)} duck={len(dd)}"); fails += 1; continue
    eq = ss.astype(str).equals(dd.astype(str))
    if eq:
        print(f"OK {name} rows={len(ss)}")
    else:
        neq = (ss.astype(str) != dd.astype(str))
        badcols = [c for c in ss.columns if neq[c].any()]
        print(f"VALUES {name}: diff cols={badcols}")
        i = neq.any(axis=1).idxmax()
        print("  spark:", dict(ss.iloc[i]))
        print("  duck :", dict(dd.iloc[i]))
        fails += 1
print(("FAILURES: %d" % fails) if fails else "ALL OK")
sys.exit(1 if fails else 0)
