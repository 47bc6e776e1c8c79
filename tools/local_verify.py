#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped
by graft.Verify, run the oracle SQL in DuckDB over the same sf dir and
compare rows / schema / value-hash (columns sorted by name, rows sorted,
values stringified) — so oracle bugs surface before the driver runs.

Usage: python3 tools/local_verify.py <verify_out_dir> <sf_dir> [query ...]

Exits 1 when a query fails its compare, and when a requested query has
no dump or no oracle entry.
"""
import sys, os, json, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    # DuckDB date_trunc returns TIMESTAMP where Spark to_date gives DATE;
    # the driver's comparator coerces — mirror it for all-midnight cols.
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            if (s.dt.time.astype(str) == "00:00:00").all():
                df[c] = s.dt.date
    rows = df.astype(str).values.tolist()
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    # A requested name must have both a dump and an oracle entry: a
    # misspelt or oracle-less name would otherwise read as a clean pass.
    for name in sorted(only):
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"{name:28s} NO DUMP in {out_dir}")
            bad += 1
        elif name not in oracle:
            print(f"{name:28s} NO ORACLE entry in oracle_sql.json")
            bad += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or (only and name not in only):
            continue
        spark_df = pd.concat(
            [pd.read_parquet(os.path.join(d, f)) for f in os.listdir(d)
             if f.endswith(".parquet")], ignore_index=True)
        if name not in oracle:
            if not only:
                print(f"{name:28s} rows={len(spark_df):6d}  (no oracle — rows-only)")
            continue
        try:
            odf = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"{name:28s} ORACLE SQL ERROR: {e}")
            bad += 1
            continue
        rows_ok = len(spark_df) == len(odf)
        schema_ok = sorted(spark_df.columns) == sorted(odf.columns)
        hash_ok = schema_ok and canon(spark_df) == canon(odf)
        status = "OK" if (rows_ok and schema_ok and hash_ok) else "FAIL"
        print(f"{name:28s} rows={len(spark_df):6d}/{len(odf):6d} "
              f"schema={schema_ok} hash={hash_ok}  {status}")
        if status == "FAIL":
            bad += 1
            if not schema_ok:
                print(f"  spark cols: {sorted(spark_df.columns)}")
                print(f"  oracle cols: {sorted(odf.columns)}")
            elif rows_ok:
                a = spark_df.reindex(sorted(spark_df.columns), axis=1)
                b = odf.reindex(sorted(odf.columns), axis=1)
                sc = [c for c in a.columns]
                a = a.sort_values(sc).reset_index(drop=True)
                b = b.sort_values(sc).reset_index(drop=True)
                diff = (a.astype(str) != b.astype(str))
                cells = diff.sum().sum()
                print(f"  mismatched cells: {cells}")
                for c in a.columns:
                    n = diff[c].sum()
                    if n:
                        i = diff[c].idxmax()
                        print(f"    {c}: {n} cells, e.g. row {i}: "
                              f"spark={a[c][i]} oracle={b[c][i]}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
