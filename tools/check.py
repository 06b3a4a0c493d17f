#!/usr/bin/env python3
"""Local oracle self-check (SURVEY.md §5.4): run each oracle SQL in DuckDB
against the sf-dir tables and compare exactly with the Spark parquet output
written by graft.Verify. Mimics the driver: columns sorted by name, rows in
query order, exact value equality (bit-exact for floats).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf, outdir):
    con = duckdb.connect()
    spill = tempfile.mkdtemp(prefix="duckdb_check_spill_")
    try:
        return check(con, spill, sf, outdir)
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def check(con, spill, sf, outdir):
    con.execute("SET TimeZone='UTC'")
    # r18: an in-memory DuckDB connection cannot offload past its memory
    # limit without a temp_directory, and the trained-index CTE chains at
    # the 10x/20x PROBE fixtures (20k+ vectors) legitimately exceed RAM —
    # they hit "Out of Memory Error: Failed to allocate" instead of
    # spilling. A spill dir changes resource behavior only, never results;
    # the driver's own graded check (sf <= 0.1) never comes near the limit
    # (r19: re-verified unpatched at sf0.01 — see OPTIMIZATION_r19.md).
    # r19 (r18 ADVICE): per-process dir, so concurrent check.py runs (e.g.
    # parallel PROBE fixtures) cannot contend on one shared spill path.
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        # testdata ships single parquet FILES; ScaleProbe fixtures are
        # Spark-style parquet DIRECTORIES — glob the parts in that case
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle SQL error: {e}")
            continue
        try:
            got = pd.read_parquet(f"{outdir}/{name}")
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: no spark output: {e}")
            continue
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            failures.append(name)
            print(f"FAIL {name}: columns oracle={list(exp.columns)} spark={list(got.columns)}")
            continue
        if len(exp) != len(got):
            failures.append(name)
            print(f"FAIL {name}: rows oracle={len(exp)} spark={len(got)}")
            continue
        bad_cols = []
        for c in exp.columns:
            e_v, g_v = exp[c].to_numpy(), got[c].to_numpy()
            if e_v.dtype.kind == "f" or g_v.dtype.kind == "f":
                e_f, g_f = e_v.astype(float), g_v.astype(float)
                eq = (e_f == g_f) | (np.isnan(e_f) & np.isnan(g_f))
            else:
                e_o = exp[c].astype(object).where(exp[c].notna(), None)
                g_o = got[c].astype(object).where(got[c].notna(), None)

                def norm(v):
                    # list-typed cells (duckdb lists / pyarrow arrays) break
                    # scalar ==; compare as tuples
                    if isinstance(v, (list, np.ndarray)):
                        return tuple(v)
                    return v
                eq = np.array([norm(a) == norm(b) or (a is None and b is None)
                               for a, b in zip(e_o, g_o)])
            if not eq.all():
                i = int(np.argmin(eq))
                bad_cols.append((c, i, exp[c].iloc[i], got[c].iloc[i], int((~eq).sum())))
        # dtype advisory (driver may hash typed values)
        dt = [(c, str(exp[c].dtype), str(got[c].dtype)) for c in exp.columns
              if str(exp[c].dtype) != str(got[c].dtype)]
        if bad_cols:
            failures.append(name)
            for c, i, ev, gv, n in bad_cols:
                print(f"FAIL {name}: col {c} row {i}: oracle={ev!r} spark={gv!r} ({n} diffs)")
        else:
            note = f"  [dtype note: {dt}]" if dt else ""
            print(f"PASS {name} ({len(exp)} rows){note}")
    print(f"\n{len(oracle) - len(failures)}/{len(oracle)} oracled queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
