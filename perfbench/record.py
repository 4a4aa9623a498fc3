#!/usr/bin/env python3
"""Record the batch workload's answer checksums, checked against DuckDB.

    python3 perfbench/record.py

Runs every batch query once on the batch tables, writes each result as
parquet and reduces it to the checksum the benchmark compares against.
Each result is then compared row by row with DuckDB running the query's
``SparkEntry.oracleSql`` rendering over the same parquet tables (columns
sorted by name, rows sorted, values and dtypes exact). Only when every
query matches is ``perfbench/checksums.json`` rewritten. Re-record after a
change that is meant to change an answer, and say why in the commit.
"""

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def compare(con, sql, result_dir):
    """None when the Spark result equals DuckDB's, else the difference."""
    import glob
    import pandas as pd
    odf = con.execute(sql).df()
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result written"
    sdf = pd.concat([pd.read_parquet(f) for f in files])
    o = odf[sorted(odf.columns)].reset_index(drop=True)
    s = sdf[sorted(sdf.columns)].reset_index(drop=True)
    if list(o.columns) != list(s.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(o) != len(s):
        return f"{len(s)} rows vs {len(o)}"
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    for df in (o, s):
        for c in df.columns:
            dt = str(df[c].dtype)
            if dt in ("Int64", "Int32", "int32") and not df[c].isna().any():
                df[c] = df[c].astype("int64")
            elif dt == "Float64" and not df[c].isna().any():
                df[c] = df[c].astype("float64")
    try:
        pd.testing.assert_frame_equal(o, s, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return str(e)[:400]
    return None


def main():
    import duckdb
    classpath, _ = run.build()
    data = run.data_dir(run.BATCH_SF)
    out = os.path.join(run.WORK, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run.run_jvm(classpath, [
        "--workload", "dump", "--data", data, "--work", out,
        "--out", os.path.join(out, "checksums.json"),
        "--queries", ",".join(run.BATCH_QUERIES), "--seconds", "0"],
        out, time.monotonic() + 900)
    with open(os.path.join(out, "checksums.json")) as fh:
        sums = json.load(fh)["checksums"]
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    bad = 0
    for q in run.BATCH_QUERIES:
        if q not in oracle:
            print(f"FAIL {q}: no DuckDB rendering to check against")
            bad += 1
            continue
        diff = compare(con, oracle[q], os.path.join(out, "results", q))
        print(f"{'OK  ' if diff is None else 'FAIL'} {q} {sums[q]} {diff or ''}")
        bad += diff is not None
    if bad:
        sys.exit(f"{bad} queries differ from DuckDB; checksums.json left as it was")
    with open(os.path.join(HERE, "checksums.json"), "w") as fh:
        json.dump({q: sums[q] for q in run.BATCH_QUERIES}, fh, indent=2)
        fh.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"recorded {len(sums)} checksums")


if __name__ == "__main__":
    main()
