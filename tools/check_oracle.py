import duckdb, json, glob, os, resource, sys, time
sfdir = "/root/testdata/sf0.01"
out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
# with an explicit outdir (dev subset runs), only check queries whose
# dump exists instead of erroring on the full oracle map
subset = len(sys.argv) > 1
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
oracle = json.load(open(f"{out}/oracle_sql.json"))
status = {}  # name -> OK or the first failing check, written to CORRECTNESS_SELF.json
# queries that share one twin text (tg_gie_2hop / tg_gremlin_2hop) are
# checked against a single evaluation of it; each result line ends with
# that evaluation's wall seconds and the process's peak RSS so far
# (ru_maxrss), so the twin that raises the peak is the line where it jumps
by_sql = {}
for name, sql in sorted(oracle.items()):
    if subset and not os.path.isdir(f"{out}/{name}"):
        continue
    by_sql.setdefault(sql, []).append(name)
for sql, names in sorted(by_sql.items(), key=lambda kv: kv[1]):
    t0 = time.time()
    try:
        o = con.execute(sql).fetchdf()
    except Exception as e:
        o = e
    cost = (f" [{time.time() - t0:.1f} s, "
            f"maxrss {resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024} MB]")
    if isinstance(o, Exception):
        for name in names:
            print(f"{name}: ORACLE SQL ERROR: {str(o)[:200]}{cost}"); status[name] = "ORACLE SQL ERROR"
        continue
    o = o.reindex(sorted(o.columns), axis=1)
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    for name in names:
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"{name}: SPARK OUT READ ERROR: {e}{cost}"); status[name] = "SPARK OUT READ ERROR"; continue
        s = s.reindex(sorted(s.columns), axis=1)
        if list(o.columns) != list(s.columns):
            print(f"{name}: SCHEMA MISMATCH oracle={list(o.columns)} spark={list(s.columns)}{cost}")
            status[name] = "SCHEMA MISMATCH"; continue
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        if len(o) != len(s):
            print(f"{name}: ROWCOUNT MISMATCH oracle={len(o)} spark={len(s)}{cost}")
            status[name] = "ROWCOUNT MISMATCH"; continue
        if o.equals(s):
            print(f"{name}: OK ({len(o)} rows){cost}"); status[name] = "OK"
        else:
            neq = (o != s) & ~(o.isna() & s.isna())
            bad = neq.any(axis=1)
            print(f"{name}: VALUE MISMATCH in {bad.sum()}/{len(o)} rows{cost}")
            print(o[bad].head(3)); print(s[bad].head(3))
            status[name] = "VALUE MISMATCH"
with open(f"{out}/CORRECTNESS_SELF.json", "w") as f:
    json.dump(status, f, indent=1, sort_keys=True)
bad_rows = [n for n, st in sorted(status.items()) if st != "OK"]
print(f"{len(status) - len(bad_rows)}/{len(status)} OK")
if bad_rows:
    print(f"{len(bad_rows)} not OK: {', '.join(bad_rows)}")
    sys.exit(1)
