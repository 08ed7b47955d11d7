#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each
oracle_sql.json statement in DuckDB over the same parquet tables and
compare against the Verify parquet dumps (columns sorted by name,
rows sorted, exact value compare with a bit-exactness report for
floats). Usage: compare_oracle.py <sfDir> <verifyOutDir>

With --against, compare two Verify runs instead of one run and the
oracle: every dump present in both directories (rows-only queries
included) is canonicalized the same way and compared exactly, printing
IDENTICAL or DIFF per query; a dump only one run wrote is a DIFF.
Exit status 1 on any DIFF. Usage:
compare_oracle.py <verifyOutDir> --against <otherVerifyOutDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The driver's hash is physical-type-sensitive: DuckDB widening (e.g.
# window sum(BIGINT) -> HUGEINT) fails there even when pandas-canonical
# values match. Map DuckDB type names to arrow names and fail on any
# numeric kind/width mismatch so the local gate agrees with the driver.
DUCK_TO_ARROW = {
    "TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
    "BIGINT": "int64", "HUGEINT": "int128",
    "UTINYINT": "uint8", "USMALLINT": "uint16", "UINTEGER": "uint32",
    "UBIGINT": "uint64", "UHUGEINT": "uint128",
    "FLOAT": "float", "DOUBLE": "double", "BOOLEAN": "bool",
}

def type_mismatches(spark_schema, duck_cols, duck_types):
    bad = []
    arrow = {f.name: str(f.type) for f in spark_schema}
    for c, t in zip(duck_cols, duck_types):
        dt = DUCK_TO_ARROW.get(str(t).upper())
        st = arrow.get(c)
        if dt is None or st is None:
            continue  # non-numeric / struct / missing col handled elsewhere
        if dt != st:
            bad.append(f"{c} (type: spark={st} duck={str(t).upper()}->{dt})")
    return bad

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # stringify for a stable sort; keep originals for value compare
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def read_dump(pdir):
    return pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{pdir}/*.parquet"))],
                     ignore_index=True)

def diff_cols(s, d):
    """Per-column differences of two canon()ed frames of equal shape."""
    bad_cols = []
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if sv.dtype.kind == 'f' or dv.dtype.kind == 'f':
            sv = sv.astype(np.float64); dv = dv.astype(np.float64)
            eq = (sv == dv) | (np.isnan(sv) & np.isnan(dv))
            if not eq.all():
                mx = np.nanmax(np.abs(sv - dv))
                bad_cols.append(f"{c} (float, {np.sum(~eq)} diffs, maxabs={mx:.3e})")
        else:
            sv = sv.astype(object); dv = dv.astype(object)
            neq = np.array([a != b for a, b in zip(sv, dv)])
            if neq.any():
                i = int(np.argmax(neq))
                bad_cols.append(f"{c} ({np.sum(neq)} diffs, first@{i}: {sv[i]!r} vs {dv[i]!r})")
    return bad_cols

def dumps(out_dir):
    return {n for n in os.listdir(out_dir) if glob.glob(f"{out_dir}/{n}/*.parquet")}

def compare_runs(out_dir, other_dir):
    mine, other = dumps(out_dir), dumps(other_dir)
    n_same = 0
    # a dump only one run wrote (a query that failed or is new) is a DIFF
    for name in sorted(mine ^ other):
        print(f"DIFF      {name}: only in {out_dir if name in mine else other_dir}")
    n_diff = len(mine ^ other)
    for name in sorted(mine & other):
        a = canon(read_dump(f"{out_dir}/{name}"))
        b = canon(read_dump(f"{other_dir}/{name}"))
        if list(a.columns) != list(b.columns):
            why = [f"columns {list(a.columns)} vs {list(b.columns)}"]
        elif len(a) != len(b):
            why = [f"rows {len(a)} vs {len(b)}"]
        else:
            why = diff_cols(a, b)
        if why:
            print(f"DIFF      {name}: {'; '.join(why)}"); n_diff += 1
        else:
            print(f"IDENTICAL {name}: {len(a)} rows"); n_same += 1
    print(f"\n{n_same} identical, {n_diff} diff")
    return 1 if n_diff else 0

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        pdir = f"{out_dir}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: spark output missing"); n_bad += 1; continue
        try:
            spark_df = read_dump(pdir)
        except Exception as e:
            print(f"FAIL {name}: cannot read spark parquet: {e}"); n_bad += 1; continue
        try:
            rel = con.sql(sql)
            duck_cols, duck_types = list(rel.columns), list(rel.types)
            duck_df = rel.fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}"); n_bad += 1; continue
        spark_schema = pq.read_schema(sorted(glob.glob(f"{pdir}/*.parquet"))[0])
        tbad = type_mismatches(spark_schema, duck_cols, duck_types)
        if tbad:
            print(f"FAIL {name}: {'; '.join(tbad)}"); n_bad += 1; continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}"); n_bad += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}"); n_bad += 1; continue
        bad_cols = diff_cols(s, d)
        if bad_cols:
            print(f"FAIL {name}: {'; '.join(bad_cols)}"); n_bad += 1
        else:
            print(f"OK   {name}: {len(s)} rows"); n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0

if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 3 and args[1] == "--against":
        sys.exit(compare_runs(args[0], args[2]))
    if len(args) != 2:
        sys.exit(__doc__)
    sys.exit(main(args[0], args[1]))
