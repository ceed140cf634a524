#!/usr/bin/env python3
"""Local differential check: run each oracle SQL in DuckDB over the sf dir
tables and compare against the Spark result parquet dumped by graft.Verify.
Mimics the driver's gate (row count / schema / values, columns sorted by
name) but stricter: exact value equality in result order."""
import sys, json, glob, os
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "target/verify_out"

# every <table>.parquet of the sf dir is registered as a view of that name
TABLES = sorted(os.path.basename(p)[:-len(".parquet")]
                for p in glob.glob(f"{SF}/*.parquet"))

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails, passes, skipped = [], [], []

# a query that failed before writing produces no output dir — that must be
# a FAIL, not a silent omission
produced = {n for n in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, n))}
for missing in sorted(set(oracle) - produced):
    fails.append((missing, "no spark output directory (query failed in Verify?)"))

for name in sorted(os.listdir(OUT)):
    d = os.path.join(OUT, name)
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        fails.append((name, "no spark output"))
        continue
    spark_df = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf()
    if name not in oracle:
        skipped.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}"))
        continue
    sc = sorted(spark_df.columns); dc = sorted(duck_df.columns)
    if sc != dc:
        fails.append((name, f"schema mismatch: spark={sc} duck={dc}"))
        continue
    if len(spark_df) != len(duck_df):
        fails.append((name, f"rows mismatch: spark={len(spark_df)} duck={len(duck_df)}"))
        continue
    a = spark_df[sc].reset_index(drop=True)
    b = duck_df[dc].reset_index(drop=True)
    diffs = []
    for c in sc:
        av, bv = a[c], b[c]
        try:
            eq = (av.values == bv.values) | (av.isna().values & bv.isna().values)
        except Exception:
            eq = av.astype(str).values == bv.astype(str).values
        if not eq.all():
            idx = (~eq).nonzero()[0][:3]
            diffs.append((c, [(int(i), av.iloc[i], bv.iloc[i]) for i in idx]))
    if diffs:
        fails.append((name, f"value mismatch: {diffs[:2]}"))
    else:
        passes.append((name, len(a)))

print(f"PASS {len(passes)}: " + ", ".join(f"{n}({r})" for n, r in passes))
print(f"\nNO-ORACLE {len(skipped)}: " + ", ".join(f"{n}({r})" for n, r in skipped))
print(f"\nFAIL {len(fails)}:")
for n, why in fails:
    print(f"  {n}: {why}")
sys.exit(1 if fails else 0)
