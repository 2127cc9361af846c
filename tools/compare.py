#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables and compare (rows, schema-by-sorted-column-name,
values) against the Spark parquet dumps from graft.Verify.

Usage: python3 tools/compare.py <verifyOutDir> <sfDir>

One line per query with its DuckDB oracle seconds, flushed as it goes.
A query is FAIL without a compare when Verify's summary.json has no entry
for it or records an error: its parquet dir, if any, is not this run's.
q_pagerank runs last: its oracle (nested per-iteration CTEs) takes longer
than all the others together. The last line mirrors Verify's summary:
{"compare": {"queries", "ok", "failed", "seconds"}}."""
import json, sys, glob, math, time
import duckdb

# oracles that dominate the run go last, so every other result is out first
SLOW_LAST = ["q_pagerank"]

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_r2"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for t in ["documents", "embeddings", "lineitem", "orders", "customer"]:
    try:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    except Exception:
        pass

oracles = json.load(open(f"{out}/oracle_sql.json"))
try:
    summary = json.load(open(f"{out}/summary.json"))
except FileNotFoundError:
    print(f"{out}/summary.json missing: every query FAIL", flush=True)
    summary = {}
order = sorted(oracles, key=lambda n: (n in SLOW_LAST, n))
fails = 0
t_start = time.monotonic()
for name in order:
    entry = summary.get(name)
    if entry is None or "error" in entry:
        why = "no summary.json entry" if entry is None else f"verify error: {entry['error']}"
        print(f"{name}: FAIL ({why})", flush=True)
        fails += 1
        continue
    sql = oracles[name]
    t0 = time.monotonic()
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        print(f"{name}: ORACLE ERROR {e}", flush=True)
        fails += 1
        continue
    oracle_s = time.monotonic() - t0
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"{name}: NO SPARK OUTPUT", flush=True)
        fails += 1
        continue
    sdf = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    ok = True
    if len(sdf) != len(odf):
        print(f"{name}: ROWS spark={len(sdf)} oracle={len(odf)}", flush=True)
        ok = False
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        print(f"{name}: SCHEMA spark={scols} oracle={ocols}", flush=True)
        ok = False
    if ok:
        s = sdf[scols].reset_index(drop=True)
        o = odf[ocols].reset_index(drop=True)
        def eq(a, b):
            if a is None or b is None:
                return a is None and b is None
            # floats: tolerance — Spark and DuckDB double paths differ in ulps
            if isinstance(a, float) or isinstance(b, float):
                try:
                    fa, fb = float(a), float(b)
                except (TypeError, ValueError):
                    return a == b
                if fa != fa and fb != fb:  # both NaN
                    return True
                return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12)
            return a == b or (a != a and b != b)
        for c in scols:
            sv, ov = s[c].tolist(), o[c].tolist()
            diff = [i for i, (a, b) in enumerate(zip(sv, ov)) if not eq(a, b)]
            if diff:
                i = diff[0]
                print(f"{name}: VALUE col={c} row={i} spark={sv[i]!r} oracle={ov[i]!r} ({len(diff)} diffs)", flush=True)
                ok = False
                break
    print(f"{name}: {'OK' if ok else 'FAIL'} (oracle {oracle_s:.2f} s)", flush=True)
    if not ok:
        fails += 1
summary = {"queries": len(oracles), "ok": len(oracles) - fails, "failed": fails,
           "seconds": round(time.monotonic() - t_start, 3)}
print(json.dumps({"compare": summary}), flush=True)
