#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the matching oracle SQL in DuckDB over
the same sf dir and compare (rows, schema-by-name, exact values after
sorting columns by name and rows by all columns). Without query names,
every oracle key must have a result directory; a missing one is MISSING
and counts as BAD.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, os, json, glob
import duckdb

args = sys.argv[1:]
skip = set()
if "--skip" in args:
    i = args.index("--skip")
    if i + 1 >= len(args):
        sys.exit("usage: check.py <sfDir> <outDir> [--skip q1,q2] [query ...]")
    skip = set(args[i + 1].split(","))
    args = args[:i] + args[i + 2:]
sfdir, outdir = args[0], args[1]
only = set(args[2:])

with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracles = json.load(f)

con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

results = {}
for qdir in sorted(glob.glob(os.path.join(outdir, "*"))):
    if not os.path.isdir(qdir):
        continue
    q = os.path.basename(qdir)
    if only and q not in only:
        continue
    if q in skip:
        continue
    spark = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf()
    if q not in oracles:
        results[q] = {"status": "no_oracle", "spark_rows": len(spark)}
        continue
    try:
        oracle = con.execute(oracles[q]).fetchdf()
    except Exception as e:
        results[q] = {"status": "oracle_error", "err": str(e)[:200]}
        continue
    s = spark.reindex(sorted(spark.columns), axis=1)
    o = oracle.reindex(sorted(oracle.columns), axis=1)
    entry = {"spark_rows": len(s), "oracle_rows": len(o),
             "schema_match": list(s.columns) == list(o.columns)}
    if len(s) != len(o):
        entry["status"] = "ROWS_MISMATCH"
    elif not entry["schema_match"]:
        entry["status"] = "SCHEMA_MISMATCH"
        entry["spark_cols"] = list(s.columns)
        entry["oracle_cols"] = list(o.columns)
    else:
        ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        oo = o.sort_values(by=list(o.columns)).reset_index(drop=True)
        ss.columns = oo.columns
        try:
            eq = ss.equals(oo.astype(ss.dtypes.to_dict()))
        except Exception:
            eq = False
        if not eq:
            # fall back to per-cell compare for a diff sample
            diffs = []
            for c in ss.columns:
                a, b = ss[c], oo[c]
                try:
                    neq = ~(a.eq(b) | (a.isna() & b.isna()))
                except Exception:
                    neq = a.astype(str) != b.astype(str)
                if neq.any():
                    i = int(neq.idxmax())
                    diffs.append(f"{c}[{i}]: spark={a[i]!r} oracle={b[i]!r} ({int(neq.sum())} cells)")
            if diffs:
                entry["status"] = "VALUE_MISMATCH"
                entry["diffs"] = diffs[:5]
            else:
                entry["status"] = "ok"
        else:
            entry["status"] = "ok"
    results[q] = entry

# a full check covers every oracle: a query without a result directory
# (graft.Verify deletes the directory of a query that throws) is BAD
if not only:
    for q in sorted(set(oracles) - set(results) - skip):
        results[q] = {"status": "MISSING", "spark_rows": None}

bad = {q: e for q, e in results.items() if e.get("status") not in ("ok", "no_oracle")}
for q, e in sorted(results.items()):
    print(f"{q:24s} {e.get('status'):16s} rows={e.get('spark_rows')}", "" if e.get("status") in ("ok", "no_oracle") else json.dumps(e, default=str)[:400])
print(f"\n{len(results) - len(bad)}/{len(results)} ok-or-no-oracle; {len(bad)} BAD")
sys.exit(1 if bad else 0)
