#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness compare: for each query
result parquet written by graft.Verify, run the corresponding oracle SQL in
DuckDB over the same testdata tables and compare schema + values (columns
sorted by name, rows compared as sorted multisets).

    python3 tools/check_oracle.py <sfDir> <Verify outDir>

Oracle SQL that reads graft.Verify's fixture parquet
(/tmp/graft-verify-fixtures/<name>-<sf>/) is pointed at the fixtures of
<sfDir>'s scale (its directory name), so a compare never reads another
scale's oracle. Verify writes fixtures only for -Dgraft.verify.fixtureSf
(default sf0.01); a key whose fixtures are missing fails."""
import sys, json, glob, os, re
import duckdb
import pyarrow.parquet as pq

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify-out"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fixture_sf = os.path.basename(os.path.normpath(sfdir))
fixture_dir = re.compile(r"(/tmp/graft-verify-fixtures/[A-Za-z0-9_]+)-[^/']+/")
ok = fail = 0
rows_only = []
for d in sorted(glob.glob(f"{outdir}/*/")):
    key = d.rstrip("/").split("/")[-1]
    t = pq.read_table(d)
    if key not in oracle:
        rows_only.append((key, t.num_rows))
        continue
    try:
        sql = fixture_dir.sub(lambda m: f"{m.group(1)}-{fixture_sf}/", oracle[key])
        duck = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {key}: duckdb error: {e}")
        fail += 1
        continue
    scols = sorted(t.schema.names)
    dcols = sorted(duck.schema.names)
    if scols != dcols:
        print(f"FAIL {key}: columns spark={scols} duck={dcols}")
        fail += 1
        continue
    sp = t.select(scols).to_pylist()
    dk = duck.select(scols).to_pylist()
    def norm(rows):
        return sorted([tuple(str(r[c]) for c in scols) for r in rows])
    if len(sp) != len(dk):
        print(f"FAIL {key}: rows spark={len(sp)} duck={len(dk)}")
        fail += 1
    elif norm(sp) != norm(dk):
        n = norm(sp); m = norm(dk)
        diff = [(a, b) for a, b in zip(n, m) if a != b][:3]
        print(f"FAIL {key}: value mismatch, first diffs: {diff}")
        fail += 1
    else:
        ok += 1
        print(f"ok   {key}: {len(sp)} rows")
print(f"\nchecked={ok+fail} ok={ok} fail={fail}")
print("rows-only (no oracle): " + ", ".join(f"{k}({n})" for k, n in rows_only))
missing = set(oracle) - {d.rstrip('/').split('/')[-1] for d in glob.glob(f'{outdir}/*/')}
if missing:
    print("MISSING RESULTS (query failed in Verify):", sorted(missing))
