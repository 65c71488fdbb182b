#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
from <outdir>/oracle_sql.json in DuckDB and compare against the Spark
result parquet at <outdir>/<name>/ (rows, schema by sorted column names,
and a hash of the sorted value matrix).

    python3 tools/compare_oracle.py <outdir> [--sf=<scale>] [query ...]

<outdir> is a `runMain graft.Verify <sfDir> <outdir> [query ...]` dump;
naming queries (to Verify, then here) replays a single-query gate.

The oracle SQL bakes the driver gate's sf0.01 fixture paths. To replay
the gate against a Verify run at another scale, pass --sf=sf0.1 (or
sf0.001): the baked paths are rewritten to that scale's fixtures.
Expect the two streaming queries to mismatch under --sf rewrites —
their Spark side feeds a fixed 500-doc stream by design while the
rewritten oracle audits the whole corpus."""
import sys, json, glob, hashlib
import duckdb

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out_r3a"
only = set()  # optional subset of query names
sf_rw = None
for a in sys.argv[2:]:
    if a.startswith("--sf="):
        sf_rw = a[len("--sf="):]
    else:
        only.add(a)

with open(f"{outdir}/oracle_sql.json") as f:
    oracles = json.load(f)

if sf_rw:
    n = {"sf0.001": 2000, "sf0.01": 20000, "sf0.1": 200000}[sf_rw]
    oracles = {q: s
               .replace("/root/testdata/sf0.01/", f"/root/testdata/{sf_rw}/")
               .replace("pages_n20000.parquet", f"pages_n{n}.parquet")
               .replace("tile_cov_cells_n20000.parquet",
                        f"tile_cov_cells_n{n}.parquet")
               for q, s in oracles.items()}

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in mat:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest(), mat

results = {}
con = duckdb.connect()
for name in sorted(glob.glob(f"{outdir}/q_*")):
    q = name.split("/")[-1]
    if only and q not in only:
        continue
    spark_files = glob.glob(f"{name}/*.parquet")
    sd = con.execute(f"SELECT * FROM read_parquet({spark_files!r})").fetchall()
    scols = [d[0] for d in con.description]
    if q not in oracles:
        results[q] = {"err": "no_oracle", "spark_rows": len(sd)}
        continue
    try:
        od = con.execute(oracles[q]).fetchall()
        ocols = [d[0] for d in con.description]
    except Exception as e:
        results[q] = {"err": f"oracle_sql_error: {e}", "spark_rows": len(sd)}
        continue
    sh, smat = canon(sd, scols)
    oh, omat = canon(od, ocols)
    res = {
        "rows_match": len(sd) == len(od),
        "schema_match": sorted(scols) == sorted(ocols),
        "hash_match": sh == oh,
        "spark_rows": len(sd), "oracle_rows": len(od),
    }
    if not res["hash_match"] and res["rows_match"] and res["schema_match"]:
        diffs = [(a, b) for a, b in zip(smat, omat) if a != b][:3]
        res["first_diffs"] = diffs
    if not res["schema_match"]:
        res["spark_cols"], res["oracle_cols"] = sorted(scols), sorted(ocols)
    results[q] = res

# Every query must have a working oracle AND match it: a missing oracle
# or an oracle SQL error is a FAILURE of the gate, not a skip.
ok = bool(results) and all(
    "err" not in r and r.get("hash_match") for r in results.values())
for q, r in sorted(results.items()):
    status = "PASS" if r.get("hash_match") else (r.get("err") or "FAIL")
    print(f"{q:20s} {status}  spark={r.get('spark_rows')} oracle={r.get('oracle_rows')}")
    if "first_diffs" in r:
        for a, b in r["first_diffs"]:
            print(f"   spark:  {a}\n   oracle: {b}")
    if "spark_cols" in r:
        print(f"   spark cols:  {r['spark_cols']}\n   oracle cols: {r['oracle_cols']}")
print("ALL_PASS" if ok else "SOME_FAIL")
