#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: check_oracle.py <sfDir> <verifyOutDir>

For each query dir under <verifyOutDir> (written by graft.Verify):
  - read the Spark result parquet,
  - run the matching oracle SQL (oracle_sql.json) in DuckDB over views of
    the same source parquet tables,
  - compare row count, column names (sorted), and a value hash computed
    over rows sorted by all columns (column order = sorted names).
Queries without oracle SQL get a rows-only report.

DuckDB runs capped (MEMORY_LIMIT, THREADS) and spills to a temporary
directory deleted on exit: with its default limit of 80% of RAM the sweep
over the sf0.01 output grew past 13 GB. A query whose oracle SQL still
exhausts the cap reports ORACLE_SQL_FAIL with DuckDB's out-of-memory error.
"""
import sys, os, json, glob, math, tempfile

import duckdb

MEMORY_LIMIT = "2GB"
THREADS = 2

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_fingerprint(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest(), len(rows)


def main(sf_dir, out_dir):
    with tempfile.TemporaryDirectory(prefix="check_oracle_spill_") as spill:
        return check(sf_dir, out_dir, spill)


def check(sf_dir, out_dir, spill):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT, "threads": THREADS,
                                 "temp_directory": spill})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        try:
            rel = con.execute(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            spark_cols = [d[0] for d in rel.description]
            spark_rows = rel.fetchall()
        except Exception as e:
            results[name] = {"status": "SPARK_READ_FAIL", "err": str(e)}
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(spark_rows)}
            continue
        try:
            orel = con.execute(oracles[name])
            o_cols = [d[0] for d in orel.description]
            o_rows = orel.fetchall()
        except Exception as e:
            results[name] = {"status": "ORACLE_SQL_FAIL", "err": str(e)[:500]}
            continue
        if sorted(spark_cols) != sorted(o_cols):
            results[name] = {"status": "SCHEMA_MISMATCH",
                             "spark": sorted(spark_cols), "oracle": sorted(o_cols)}
            continue
        sh, sn = frame_fingerprint(spark_rows, spark_cols)
        oh, on = frame_fingerprint(o_rows, o_cols)
        if sn != on:
            results[name] = {"status": "ROWCOUNT_MISMATCH", "spark": sn, "oracle": on}
        elif sh != oh:
            # find first differing row for debugging
            order_s = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
            order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
            srows = sorted(tuple(canon(r[i]) for i in order_s) for r in spark_rows)
            orows = sorted(tuple(canon(r[i]) for i in order_o) for r in o_rows)
            diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
            results[name] = {"status": "HASH_MISMATCH", "rows": sn,
                             "first_diff": {"spark": diff[0], "oracle": diff[1]} if diff else None,
                             "cols_sorted": sorted(spark_cols)}
        else:
            results[name] = {"status": "MATCH", "rows": sn}

    ok = sum(1 for r in results.values() if r["status"] == "MATCH")
    rows_only = sum(1 for r in results.values() if r["status"] == "ROWS_ONLY")
    bad = {k: v for k, v in results.items()
           if v["status"] not in ("MATCH", "ROWS_ONLY")}
    print(json.dumps(results, indent=2, default=str))
    print(f"\n== {ok} MATCH, {rows_only} ROWS_ONLY, {len(bad)} PROBLEMS ==")
    # Attestation stamp: mirror the full report to tools/stamps/ so a
    # round's correctness is recorded on the tree itself even when the
    # driver-side CORRECTNESS_r*.json artifact arrives empty (round 16's
    # was `{}`) — the bench_driver_latest.json pattern. Only a FULL
    # sweep stamps: Verify writes _registered.json listing EVERY query
    # name in the engine's map regardless of filters, and the stamp fires
    # only when the result dirs cover that whole set. No magic row-count
    # threshold — a filtered run (even a large one) can never overwrite
    # the full-surface attestation, and a legitimately smaller surface
    # still stamps.
    reg_path = os.path.join(out_dir, "_registered.json")
    full = False
    registered = None
    if os.path.exists(reg_path):
        with open(reg_path) as f:
            registered = json.load(f)
        full = set(registered) <= set(results)
    if full:
        import hashlib, subprocess
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        try:
            sha = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
            dirty = bool(subprocess.run(
                ["git", "-C", repo, "status", "--porcelain"],
                capture_output=True, text=True, timeout=10).stdout.strip())
        except Exception:
            sha, dirty = None, None
        qmap_hash = hashlib.sha256(
            "\n".join(sorted(registered)).encode()).hexdigest()
        with open(f"{out_dir}/oracle_sql.json", "rb") as f:
            oracle_hash = hashlib.sha256(f.read()).hexdigest()
        stamp_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "stamps")
        if os.path.isdir(stamp_dir):
            with open(os.path.join(stamp_dir, "correctness_latest.json"),
                      "w") as f:
                json.dump({"sf_dir": sf_dir, "out_dir": out_dir,
                           "git_sha": sha, "git_dirty": dirty,
                           "n_registered": len(registered),
                           "query_map_sha256": qmap_hash,
                           "oracle_sql_sha256": oracle_hash,
                           "match": ok, "rows_only": rows_only,
                           "problems": len(bad), "results": results},
                          f, indent=1, default=str)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
