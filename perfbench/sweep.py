"""Oracle side of the sweep (python3 perfbench/run.py --workload sweep --data <sf dir>).

perfbench.Sweep writes each query's result parquet and oracle_sql.json under
an output directory and prints one "[sweep] {...}" JSON line per query. This
module runs every oracle SQL in DuckDB against the same fixtures and compares
row sets: a query fails on an oracle mismatch, an oracle error, a run error or
a failed plan check. Queries known to mismatch still count as failures.
"""
import glob
import hashlib
import json
import os
import re


def rows_for_scale(data_dir):
    """Pages fixture size per scale, as graft.sources.PagesSource.rowsForScale."""
    for tag, n in (("sf0.001", 2000), ("sf0.01", 20000), ("sf0.1", 200000)):
        if tag in data_dir:
            return n
    return 20000


def retarget(sql, data_dir):
    """The oracle SQL bakes the sf0.01 fixtures; point it at `data_dir`."""
    n = rows_for_scale(data_dir)
    sql = re.sub(r"[^'\"\s]*/sf0\.01/", data_dir.rstrip("/") + "/", sql)
    return (sql.replace("pages_n20000.parquet", f"pages_n{n}.parquet")
               .replace("tile_cov_cells_n20000.parquet", f"tile_cov_cells_n{n}.parquet"))


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in mat:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(out_dir, data_dir):
    """{query: None when Spark's output equals the oracle's, else a reason}."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = {q: retarget(s, data_dir) for q, s in json.load(f).items()}
    con = duckdb.connect()
    verdicts = {}
    for q, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            verdicts[q] = "no spark output"
            continue
        sd = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        scols = [d[0] for d in con.description]
        try:
            od = con.execute(sql).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:  # an oracle that cannot run is a failure
            verdicts[q] = f"oracle error: {str(e)[:200]}"
            continue
        if sorted(scols) != sorted(ocols):
            verdicts[q] = f"columns {sorted(scols)} != {sorted(ocols)}"
        elif canon(sd, scols) != canon(od, ocols):
            verdicts[q] = f"rows differ (spark {len(sd)}, oracle {len(od)})"
        else:
            verdicts[q] = None
    return verdicts


def result(lines, out_dir, data_dir):
    """The sweep's result object from the per-query lines and the oracle."""
    verdicts = compare(out_dir, data_dir)
    metrics, failed = {}, 0
    for rec in lines:
        q = rec["query"]
        problems = []
        if "error" in rec:
            problems.append(rec["error"])
        if not rec.get("plan_ok"):
            problems.append(f"plan check: missing {rec.get('missing_operators')}"
                            f" bare_scan={rec.get('bare_scan')}")
        if verdicts.get(q, "no oracle") is not None:
            problems.append(verdicts.get(q, "no oracle"))
        if problems:
            failed += 1
            print(f"[sweep] FAILED {q}: {'; '.join(problems)}")
        if "wall_s" in rec:
            metrics[f"sweep.{q}_s"] = {"value": rec["wall_s"], "unit": "s"}
    total = sum(m["value"] for m in metrics.values())
    metrics = {"sweep_s": {"value": total, "unit": "s"}, **metrics}
    return {"correct": failed == 0, "attempted": len(lines), "failed": failed,
            "metrics": metrics}
