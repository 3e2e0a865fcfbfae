"""Output checks for train_pipeline, run after the JVM has exited.

Each catalog query's first output in the run is compared with its DuckDB
oracle SQL from `SparkEntry.oracleSql`, the way tools/check.py compares
the Verify output: columns sorted by name, rows sorted, values equal.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype) in ("int32", "int64", "uint64", "Int64"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _read(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def _same(got, want):
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
        return True
    except AssertionError:
        return False


def check_pipeline(data, checks, res):
    """Charge every timed execution of a query whose output is wrong."""
    ops = json.load(open(os.path.join(checks, "ops.json")))
    sqls = json.load(open(os.path.join(checks, "oracle_sql.json")))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for q, n in ops.items():
        out = _read(os.path.join(checks, q))
        try:
            if out is None:
                ok = False
            else:
                ok = _same(out, con.execute(sqls[q]).fetchdf())
        except Exception as e:  # an oracle error fails the check too
            print(f"check {q}: {e}")
            ok = False
        print(f"check {q}: {'ok' if ok else 'WRONG'}")
        if not ok:
            res["failed"] += n
    con.close()
