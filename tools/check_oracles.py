#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the raw testdata parquet and compare with the Verify dump
(columns sorted by name, rows sorted, exact values). Each query's line
is printed as soon as it is computed, its seconds on stderr:

    python3 tools/check_oracles.py <sf_dir> <verify_out_dir> 2>times.txt"""
import sys, json, glob, duckdb, math, time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-out"

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}


def report(name, verdict, t0):
    """Record a verdict and print its line at once, so a run cut short
    still leaves every line it computed. The seconds go to stderr, which
    keeps stdout comparable line for line with earlier ORACLE_LOCAL files."""
    results[name] = verdict
    print(f"{name:22s} {verdict}", flush=True)
    print(f"{name:22s} {time.time() - t0:.1f}s", file=sys.stderr, flush=True)


for name in sorted(d.split('/')[-1] for d in glob.glob(f"{out_dir}/q_*")):
    t0 = time.time()
    spark = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetch_arrow_table()
    if name not in oracle:
        report(name, f"NO-ORACLE rows={spark.num_rows}", t0)
        continue
    try:
        duck = con.execute(oracle[name]).fetch_arrow_table()
    except Exception as e:
        report(name, f"ORACLE-ERROR {e}", t0)
        continue
    s_cols, d_cols = sorted(spark.column_names), sorted(duck.column_names)
    if s_cols != d_cols:
        report(name, f"COLS-MISMATCH spark={s_cols} duck={d_cols}", t0)
        continue
    s_types = {c: str(spark.schema.field(c).type) for c in s_cols}
    d_types = {c: str(duck.schema.field(c).type) for c in d_cols}
    sp = spark.select(s_cols).to_pylist()
    dp = duck.select(d_cols).to_pylist()
    key = lambda r: tuple((str(type(v)), str(v)) for v in (r[c] for c in s_cols))
    sp.sort(key=key); dp.sort(key=key)
    if len(sp) != len(dp):
        report(name, f"ROWS-MISMATCH spark={len(sp)} duck={len(dp)}", t0)
        continue
    bad = None
    for i, (a, b) in enumerate(zip(sp, dp)):
        for c in s_cols:
            va, vb = a[c], b[c]
            if isinstance(va, float) and isinstance(vb, float):
                ok = (va == vb) or (math.isnan(va) and math.isnan(vb))
            else:
                ok = va == vb
            if not ok:
                bad = (i, c, va, vb); break
        if bad: break
    if bad:
        report(name, f"VALUE-MISMATCH row{bad[0]} col={bad[1]} spark={bad[2]!r} duck={bad[3]!r}", t0)
    elif s_types != d_types:
        diff = {c: (s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]}
        report(name, f"OK-VALUES TYPE-DIFF {diff} rows={len(sp)}", t0)
    else:
        report(name, f"OK rows={len(sp)}", t0)

n_ok = sum(1 for v in results.values() if v.startswith("OK"))
print(f"== {n_ok}/{len(results)} ok")
