#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
(after: sbt "runMain graft.Verify <sfDir> <outDir>")

For each query in <outDir>/oracle_sql.json: registers the sf tables as
DuckDB views, runs the oracle SQL, loads the Spark parquet result, sorts
columns by name and rows by all columns, and compares cell-by-cell.
Exact match required for non-floats; floats report max abs diff and fail
when any bit differs (strictest interpretation of a hash compare).

Each result line ends with the query's seconds in three steps: `oracle`
(DuckDB runs the oracle SQL), `load` (the Spark parquet result is read)
and `compare` (canonical sort plus the cell compare). The last lines
name the five slowest queries.
"""
import json
import math
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.map(lambda v: str(v)))
    return df


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    timings = []
    for name, sql in sorted(oracle.items()):
        secs = {}
        t0 = time.perf_counter()

        def step(label):
            nonlocal t0
            t1 = time.perf_counter()
            secs[label] = t1 - t0
            t0 = t1

        def took():
            timings.append((sum(secs.values()), name, dict(secs)))
            return " [" + " ".join(f"{k} {v:.2f}s" for k, v in secs.items()) + "]"

        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            step("load")
            want = con.execute(sql).df()
            step("oracle")
        except Exception as exc:
            step("error")
            print(f"FAIL {name}: load/exec error: {exc}{took()}")
            n_fail += 1
            continue
        got, want = canon(got), canon(want)
        if list(got.columns) != list(want.columns):
            step("compare")
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}{took()}")
            n_fail += 1
            continue
        if len(got) != len(want):
            step("compare")
            print(f"FAIL {name}: rows {len(got)} != {len(want)}{took()}")
            n_fail += 1
            continue
        bad = []
        max_diff = 0.0
        for col in got.columns:
            g, w = got[col], want[col]
            for i in range(len(g)):
                gv, wv = g.iloc[i], w.iloc[i]
                if isinstance(gv, float) or isinstance(wv, float):
                    gn = gv is None or (isinstance(gv, float) and math.isnan(gv))
                    wn = wv is None or (isinstance(wv, float) and math.isnan(wv))
                    if gn and wn:
                        continue
                    if gn != wn or float(gv) != float(wv):
                        d = abs(float(gv) - float(wv)) if not (gn or wn) else float("inf")
                        max_diff = max(max_diff, d)
                        if len(bad) < 3:
                            bad.append(f"{col}[{i}]: {gv!r} != {wv!r}")
                else:
                    if str(gv) != str(wv):
                        if len(bad) < 3:
                            bad.append(f"{col}[{i}]: {gv!r} != {wv!r}")
        step("compare")
        if bad:
            print(f"FAIL {name}: {len(bad)}+ cell diffs, max_float_diff={max_diff:g}; e.g. {bad}{took()}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows){took()}")
            n_pass += 1
    slowest = sorted(timings, reverse=True)[:5]
    print("slowest: " + ", ".join(
        f"{name} {total:.1f}s (" + " ".join(f"{k} {v:.1f}" for k, v in secs.items()) + ")"
        for total, name, secs in slowest))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
