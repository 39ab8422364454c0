#!/usr/bin/env python3
"""Local pre-validation harness mimicking the driver's correctness gate:
runs Verify's parquet dumps against the DuckDB oracle SQL and compares
values with columns sorted by name and rows sorted. Dev-only tool (the
engine itself has no Python dependency)."""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
names = sorted(os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p))
n_pass = n_fail = n_rows_only = 0
# A query with an oracle but no dump (it threw in Verify, or was never
# dumped) is a failure, not a silent omission.
for name in sorted(set(oracle) - set(names)):
    print(f"[FAIL-miss] {name}: no dump directory"); n_fail += 1
for name in names:
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracle:
        print(f"[rows-only] {name}: {len(got)} rows"); n_rows_only += 1
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"[FAIL-sql ] {name}: {e}"); n_fail += 1; continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return df
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        print(f"[FAIL-cols] {name}: got {list(g.columns)} vs {list(e.columns)}"); n_fail += 1; continue
    if len(g) != len(e):
        print(f"[FAIL-rows] {name}: got {len(g)} vs {len(e)}"); n_fail += 1; continue
    # Integer-vs-float/object dtype drift is exactly what the driver's value
    # hash trips on (DuckDB HUGEINT window sums surface as float64/object
    # while Spark emits int64 — t14 round 3, t17 round 5). check_dtype=False
    # below would mask it, so check that class explicitly first.
    bad_dtypes = []
    for c in g.columns:
        gk, ek = g[c].dtype.kind, e[c].dtype.kind
        one_int = {gk, ek} & set("iu")
        other_loose = {gk, ek} & set("fO")
        if gk != ek and one_int and other_loose:
            bad_dtypes.append(f"{c}: spark={g[c].dtype} oracle={e[c].dtype}")
    if bad_dtypes:
        print(f"[FAIL-dtyp] {name}: {'; '.join(bad_dtypes)} "
              f"(cast the oracle column, e.g. CAST(... AS BIGINT))")
        n_fail += 1; continue
    # Lint: an oracle column DuckDB returns as object-of-int is an uncast
    # HUGEINT (windowed/plain sum over BIGINT) — it may compare equal here
    # yet hash differently under the driver. Flag it even if values match.
    for c in e.columns:
        col = e[c]
        if col.dtype.kind == "O" and len(col) and all(
                isinstance(v, int) for v in col.dropna().head(20)):
            print(f"[FAIL-dtyp] {name}: oracle column {c} is uncast HUGEINT "
                  f"(object-of-int); add CAST(... AS BIGINT)")
            bad_dtypes.append(c)
    if bad_dtypes:
        n_fail += 1; continue
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        print(f"[PASS     ] {name}: {len(g)} rows"); n_pass += 1
    except AssertionError as ex:
        print(f"[FAIL-vals] {name}: {str(ex).splitlines()[-1] if str(ex) else ex}")
        n_fail += 1
print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
sys.exit(1 if n_fail else 0)
