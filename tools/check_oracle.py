#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
Reads <out>/<query>/ parquet (Spark results) + <out>/oracle_sql.json,
registers each <sf_dir>/*.parquet as a bare-named DuckDB view, runs the
oracle SQL, and compares: row count, column names, and values (columns
sorted by name, rows sorted by all columns, floats rounded to 9 sig
digits before hashing). Every oracle_sql.json query counts: one with no
output dir (Verify writes none for a query that failed) is a FAIL.
"""
import json, os, sys, math
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.9g}"
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            name = f[:-8]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{f}'")
    n_pass = n_fail = 0
    queries = set(oracle) | {d for d in os.listdir(out_dir)
                             if os.path.isdir(os.path.join(out_dir, d))}
    for q in sorted(queries):
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir):
            print(f"FAIL {q}: no output")
            n_fail += 1
            continue
        try:
            spark_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
            s_cols = [c.lower() for c in spark_rel.columns]
            s_rows = canon(spark_rel.fetchall(), s_cols)
        except Exception as e:
            print(f"FAIL {q}: cannot read spark result: {e}")
            n_fail += 1
            continue
        if q not in oracle:
            print(f"SKIP {q}: no oracle (rows={len(s_rows)})")
            continue
        try:
            o_rel = con.sql(oracle[q])
            o_cols = [c.lower() for c in o_rel.columns]
            o_rows = canon(o_rel.fetchall(), o_cols)
        except Exception as e:
            print(f"FAIL {q}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(s_cols) != sorted(o_cols):
            print(f"FAIL {q}: cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
            n_fail += 1
        elif s_rows != o_rows:
            diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
            print(f"FAIL {q}: rows spark={len(s_rows)} oracle={len(o_rows)} "
                  f"first_diffs={diff[:3]}")
            n_fail += 1
        else:
            print(f"PASS {q} ({len(s_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
