#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify output
against DuckDB oracles on the same parquet tables and diff.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Every PASS/ROWS line ends with `sha1=<hex>`: the sha1 of the lane's
canonical sorted rows (see canon()), so two runs' outputs — e.g. before
and after a change — compare lane by lane with a plain `diff`.
"""
import glob
import hashlib
import json
import math
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and print with enough digits
        if v == 0.0:
            v = 0.0
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x01".join(norm_cell(r[i]) for i in order))
    out.sort()
    return out, [cols[i] for i in order]


def digest(c_rows, c_cols):
    """sha1 of a result in its canonical form (what canon() returns)."""
    h = hashlib.sha1("\x02".join(c_cols).encode())
    for r in c_rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures, passes, rows_only = [], [], []
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            failures.append((name, "no spark output written"))
            continue
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        g_rows, g_cols = canon(got.fetchall(), got.columns)
        try:
            want = con.sql(oracle[name])
            w_rows, w_cols = canon(want.fetchall(), want.columns)
        except Exception as e:
            failures.append((name, f"oracle SQL failed: {e}"))
            continue
        if g_cols != w_cols:
            failures.append((name, f"schema mismatch: spark={g_cols} oracle={w_cols}"))
        elif g_rows != w_rows:
            diff_g = [r for r in g_rows if r not in set(w_rows)][:3]
            diff_w = [r for r in w_rows if r not in set(g_rows)][:3]
            failures.append((name,
                f"rows differ: spark={len(g_rows)} oracle={len(w_rows)}\n"
                f"    spark-only: {diff_g}\n    oracle-only: {diff_w}"))
        else:
            passes.append((name, len(g_rows), digest(g_rows, g_cols)))
    # queries without oracles: rows-only check
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name not in oracle:
            files = glob.glob(f"{d}/*.parquet")
            if files:
                got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
                raw = got.fetchall()
                rows_only.append((name, len(raw), digest(*canon(raw, got.columns))))
            else:
                rows_only.append((name, -1, "-"))
    for name, n, sha in passes:
        print(f"PASS  {name} ({n} rows) sha1={sha}")
    for name, n, sha in rows_only:
        status = "ROWS" if n > 0 else "EMPTY(!)"
        print(f"{status}  {name} ({n} rows) sha1={sha}")
    for name, msg in failures:
        print(f"FAIL  {name}: {msg}")
    print(f"\n{len(passes)} pass, {len(rows_only)} rows-only, {len(failures)} fail")
    sys.exit(1 if failures or any(n <= 0 for _, n, _ in rows_only) else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
