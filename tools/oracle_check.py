#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (builder prompt):
runs graft.Verify output against DuckDB oracles and hash-compares.

Usage: python3 tools/oracle_check.py [sfDir] [outDir]
       python3 tools/oracle_check.py --against OTHER_DIR outDir
(Development aid only — the real gate is driver-side.)

--against compares two Verify dumps (e.g. of a refactor's parent and
its change) query by query with the same canonical row form, printing
IDENTICAL or DIFF per query; exit status 1 on any DIFF or on a query
dumped on one side only.
"""
import duckdb, glob, json, math, os, sys


def canon(df):
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        row = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("NaN")
                else:
                    row.append(repr(v))
            else:
                row.append(str(v))
        rows.append("\x01".join(row))
    rows.sort()
    return cols, rows


def dumps(d):
    return {n for n in os.listdir(d) if os.path.isdir(f"{d}/{n}")}


def against(other, outdir):
    con = duckdb.connect()
    a, b = dumps(other), dumps(outdir)
    bad = 0
    for name in sorted(a | b):
        if name not in a or name not in b:
            print(f"MISSING {name}: only in {outdir if name in b else other}")
            bad += 1
            continue
        x, y = (canon(con.execute(
            f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')").fetchdf())
            for d in (other, outdir))
        if x == y:
            print(f"IDENTICAL {name} ({len(x[1])} rows)")
        else:
            print(f"DIFF {name}: {len(x[1])} vs {len(y[1])} rows")
            bad += 1
    return bad


if len(sys.argv) > 1 and sys.argv[1] == "--against":
    if len(sys.argv) != 4:
        sys.exit("usage: oracle_check.py --against OTHER_DIR outDir")
    sys.exit(1 if against(sys.argv[2], sys.argv[3]) else 0)

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for p in sorted(glob.glob(f"{sfdir}/*.parquet")):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

fails = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{outdir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    gc, gr = canon(got)
    wc, wr = canon(want)
    if gc != wc:
        print(f"FAIL {name}: schema {gc} != {wc}")
        fails += 1
    elif gr != wr:
        diff = [(a, b) for a, b in zip(gr, wr) if a != b][:3]
        print(f"FAIL {name}: rows {len(gr)} vs {len(wr)}; first diffs: {diff}")
        fails += 1
    else:
        print(f"OK   {name} ({len(gr)} rows)")

# queries without an oracle: rows-only check
for name in sorted(os.listdir(outdir)):
    d = f"{outdir}/{name}"
    if os.path.isdir(d) and name not in oracle:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
        print(f"ROWS {name}: {n}")

sys.exit(1 if fails else 0)
