#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, registers each parquet table from
<sfDir> as a DuckDB view, runs every oracle SQL, and compares against the
Spark result parquet at <verifyOutDir>/<name>/. Columns are sorted by name
before compare (driver behavior per the builder prompt). Reports per-query
PASS/FAIL with the first differing cell.

DuckDB is bounded to half of the machine's memory and one thread per
usable core, and spills to <verifyOutDir>/duckdb_tmp, so an oracle too
large for the box spills or fails on its own instead of starving it.
"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def bounded_connection(out_dir: str) -> duckdb.DuckDBPyConnection:
    mem_kib = next(int(line.split()[1]) for line in open("/proc/meminfo")
                   if line.startswith("MemTotal:"))
    return duckdb.connect(config={
        "memory_limit": f"{mem_kib // 2 // 1024}MiB",
        "threads": len(os.sched_getaffinity(0)),
        "temp_directory": os.path.join(out_dir, "duckdb_tmp"),
    })


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = bounded_connection(out_dir)
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            exp = norm(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        ok_shape = got.shape == exp.shape
        ok_cols = list(got.columns) == list(exp.columns)
        status, detail = "PASS", ""
        if not ok_cols:
            status, detail = "FAIL", f"cols spark={list(got.columns)} oracle={list(exp.columns)}"
        elif not ok_shape:
            status, detail = "FAIL", f"shape spark={got.shape} oracle={exp.shape}"
        else:
            # exact value compare, in row order (queries must ORDER BY)
            for c in got.columns:
                a, b = got[c], exp[c]
                try:
                    eq = (a.values == b.values) | (a.isna().values & b.isna().values)
                except Exception:
                    eq = a.astype(str).values == b.astype(str).values
                if not eq.all():
                    i = int((~eq).argmax())
                    status = "FAIL"
                    detail = f"col {c} row {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
                    break
            # dtype sanity (schema-ish check)
            if status == "PASS":
                for c in got.columns:
                    if str(got[c].dtype) != str(exp[c].dtype):
                        detail = f"(dtype warn: {c} spark={got[c].dtype} oracle={exp[c].dtype})"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name} {detail}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
