#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate:
run graft.Verify (sbt) at a given SF dir, then execute each oracle SQL in
DuckDB over the same parquet tables and compare (columns sorted by name,
rows sorted, exact values). Usage:
    python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark] [query ...]
"""
import sys, os, json, glob, subprocess
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
flags = [a for a in sys.argv[3:] if a.startswith("--")]
only = [a for a in sys.argv[3:] if not a.startswith("--")]

if "--skip-spark" not in flags:
    # named queries: Verify runs only those (its third argument)
    subset = f' {",".join(only)}' if only else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{subset}'],
        capture_output=True, text=True,
        # the checkout this script belongs to, not a fixed path: a copy of
        # the repo runs the gate against its own sources
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.stdout.write(r.stdout[-3000:])
    sys.stderr.write(r.stderr[-2000:])
    if r.returncode != 0:
        sys.exit("sbt run failed")

con = duckdb.connect()
# In-memory DuckDB cannot spill without a temp_directory; the sf1 heavy
# oracles (gr1's 3-iteration PageRank CTE chain) OOM without one.
spill = os.environ.get("GRAFT_DUCK_SPILL")
if spill:
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCK_MEM', '48GB')}'")
for p in glob.glob(f"{SF}/*.parquet"):
    name = os.path.basename(p)[:-8]
    # testdata tables are single files; ScaleUp-synthesized slices are
    # Spark-written DIRECTORIES of part files — glob those
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize all values to strings for robust compare
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) or pd.isna(v) else repr(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)

fails = []
names = only if only else sorted(oracle.keys())
for name in names:
    spark_dir = f"{OUT}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"MISSING  {name} (no spark output)")
        fails.append(name)
        continue
    sdf = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{spark_dir}/*.parquet")],
                    ignore_index=True)
    if name not in oracle:
        print(f"ROWSONLY {name}: {len(sdf)} rows")
        continue
    try:
        ddf = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"ORAFAIL  {name}: {e}")
        fails.append(name)
        continue
    a, b = canon(sdf), canon(ddf)
    if list(a.columns) != list(b.columns):
        print(f"COLS     {name}: spark={list(a.columns)} duck={list(b.columns)}")
        fails.append(name); continue
    if len(a) != len(b):
        print(f"ROWS     {name}: spark={len(a)} duck={len(b)}")
        fails.append(name); continue
    if len(a) > 0 and not a.equals(b):
        neq = (a != b).any(axis=1)
        print(f"VALUES   {name}: {neq.sum()}/{len(a)} rows differ; first diff:")
        i = neq.idxmax()
        for c in a.columns:
            if a.at[i, c] != b.at[i, c]:
                print(f"   col={c} spark={a.at[i, c]} duck={b.at[i, c]}")
        fails.append(name); continue
    print(f"OK       {name}: {len(a)} rows")

# rows-only entries without oracle (skip ones already reported above)
for name in sorted(set(os.listdir(OUT)) - set(oracle.keys()) - set(names)):
    if os.path.isdir(f"{OUT}/{name}") and (not only or name in only):
        try:
            n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{OUT}/{name}/*.parquet"))
            print(f"ROWSONLY {name}: {n} rows")
        except Exception as e:
            print(f"ROWSONLY {name}: unreadable {e}")

print(f"\n{len(fails)} failures" + (": " + ", ".join(fails) if fails else ""))
sys.exit(1 if fails else 0)
