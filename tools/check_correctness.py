#!/usr/bin/env python3
"""Local dev harness ONLY (not part of the Spark library): mimic the driver's
correctness gate. Run graft.Verify first, then this script compares each
dumped parquet result against the DuckDB oracle on the same tables.

Usage: python3 tools/check_correctness.py [sfDir] [outDir] [nameRegex]

nameRegex (optional) checks only the dumped queries whose name it matches
(re.search), e.g. '^(g|dedup_|link_)' or '^g3_kcore$'.

DuckDB is capped at 4 GB of memory and spills to target/duckdb_tmp, so a
large oracle pages to disk instead of running out of memory on a shared
host. g3_kcore's four-round self-join marks each round's edge CTE
`AS MATERIALIZED`: inlined, the rounds re-expanded the whole join tree and
the oracle ran ~22 min at sf0.01 before failing; materialized it takes
under a second.
"""
import sys, glob, os, json, re
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"
only = re.compile(sys.argv[3]) if len(sys.argv) > 3 else None

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
con = duckdb.connect()
con.execute("SET memory_limit = '4GB'")
con.execute(f"SET temp_directory = '{os.path.join(repo, 'target', 'duckdb_tmp')}'")
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
results = {}
for qdir in sorted(glob.glob(f"{out}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    if only and not only.search(name):
        continue
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        results[name] = "NO_OUTPUT"
        continue
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    if name not in oracle:
        results[name] = f"ROWS_ONLY({len(got)})"
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE_ERR: {e}"
        continue
    # mimic driver: sort columns by name, then compare values row-by-row
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        results[name] = f"SCHEMA: got {list(got.columns)} exp {list(exp.columns)}"
        continue
    if len(got) != len(exp):
        results[name] = f"ROWS: got {len(got)} exp {len(exp)}"
        continue
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    es = exp.sort_values(by=list(exp.columns), ignore_index=True)
    mismatch = None
    for c in got.columns:
        gv, ev = gs[c].tolist(), es[c].tolist()
        for i, (a, b) in enumerate(zip(gv, ev)):
            if str(a) != str(b):
                mismatch = f"VAL col={c} row={i}: got {a!r} ({type(a).__name__}) exp {b!r} ({type(b).__name__})"
                break
        if mismatch:
            break
    results[name] = mismatch or "OK"

npass = sum(1 for v in results.values() if v == "OK")
nro = sum(1 for v in results.values() if str(v).startswith("ROWS_ONLY"))
for k in sorted(results):
    status = results[k]
    flag = "PASS" if status == "OK" else ("ro  " if str(status).startswith("ROWS_ONLY") else "FAIL")
    print(f"{flag}  {k}: {status}")
print(f"\n{npass} exact-pass, {nro} rows-only, {len(results)-npass-nro} FAIL of {len(results)}")
sys.exit(0 if npass + nro == len(results) else 1)
