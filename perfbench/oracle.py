#!/usr/bin/env python3
"""Record perfbench/fingerprints.json and confirm it against DuckDB.

Runs every workload query once in a fresh JVM (PerfBench --mode dump):
each result is fingerprinted (row count + order-insensitive hash) and
written as parquet. For every query that carries a DuckDB oracle SQL, the
parquet is compared with DuckDB's answer over the same fixture (columns
sorted by name, rows sorted by value, exact match). Writes the
fingerprints with the verdict per query and exits non-zero on any error
or oracle mismatch.

Usage (from the repository root): python3 perfbench/oracle.py
"""
import decimal
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals) and isinstance(vals.iloc[0], decimal.Decimal):
                df[c] = df[c].astype("float64")
                continue
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def same(exp: pd.DataFrame, got: pd.DataFrame) -> str:
    e, g = canon(exp), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns {list(e.columns)} != {list(g.columns)}"
    if len(e) != len(g):
        return f"rows {len(e)} != {len(g)}"
    for c in e.columns:
        a, b = e[c], g[c]
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            ok = np.allclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-9, atol=1e-9,
                             equal_nan=True)
        else:
            ok = a.astype(str).tolist() == b.astype(str).tolist()
        if not ok:
            return f"column {c} differs"
    return ""


def main():
    cp = run.build.build()
    names = sorted({q for qs in run.WORKLOADS.values() for q in qs})
    tmp = os.path.join(run.build.BUILD, "oracle")
    shutil.rmtree(tmp, ignore_errors=True)
    dump = os.path.join(tmp, "dump")
    try:
        raw, _ = run.run_jvm(cp, ["--mode", "dump", "--fixture", run.FIXTURE,
                                  "--queries", ",".join(names), "--dump", dump,
                                  "--cpus", str(run.nproc())], tmp)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.FIXTURE}/{t}.parquet')")
        out, bad = {}, 0
        for name in names:
            r = raw[name]
            if "error" in r:
                print(f"FAIL {name}: {r['error']}")
                bad += 1
                continue
            verdict = "no oracle"
            if r["oracle"]:
                got = pd.read_parquet(os.path.join(dump, name))
                why = same(con.sql(r["oracle"]).df(), got)
                verdict = "duckdb match" if not why else "duckdb MISMATCH: " + why
                bad += bool(why)
            print(f"{name}: rows={r['rows']} {verdict}")
            out[name] = {"rows": r["rows"], "hash": r["hash"], "oracle": verdict}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(run.FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if bad:
        raise SystemExit(f"{bad} queries failed")


if __name__ == "__main__":
    main()
