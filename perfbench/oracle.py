"""DuckDB twin check for one call's output, with tools/check.py's
canonicalization: columns sorted by name, rows sorted by every column,
values compared exactly (datetimes at ns)."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def canon(df):
    df = df[sorted(df.columns)]
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def values_equal(a, b):
    if a.shape != b.shape:
        return False, f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == object or y.dtype == object:
            xs = x.map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
            ys = y.map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
            if not xs.equals(ys):
                i = int(np.argmax((xs != ys).values))
                return False, f"col {c} row {i}: {xs.iloc[i]!r} vs {ys.iloc[i]!r}"
        elif np.issubdtype(x.dtype, np.floating) or np.issubdtype(y.dtype, np.floating):
            xa, ya = x.astype(float).values, y.astype(float).values
            neq = ~((xa == ya) | (np.isnan(xa) & np.isnan(ya)))
            if neq.any():
                i = int(np.argmax(neq))
                return False, f"col {c} row {i}: {xa[i]!r} vs {ya[i]!r}"
        else:
            if "datetime" in str(x.dtype) or "datetime" in str(y.dtype):
                x = pd.to_datetime(x).astype("datetime64[ns]")
                y = pd.to_datetime(y).astype("datetime64[ns]")
            if not x.reset_index(drop=True).equals(y.reset_index(drop=True)):
                i = int(np.argmax(x.values != y.values))
                return False, f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return True, ""


def check(sql, data_dir, spark_dir):
    """(ok, message): the twin SQL over data_dir's tables against the
    parquet the JVM wrote for the call."""
    try:
        con = duckdb.connect()
        for path in glob.glob(f"{data_dir}/*.parquet"):
            name = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS FROM '{path}'")
        files = glob.glob(f"{spark_dir}/*.parquet")
        s = canon(pq.read_table(files[0]).to_pandas())
        o = canon(con.execute(sql).fetchdf())
        con.close()
        if list(s.columns) != list(o.columns):
            return False, f"columns {list(s.columns)} vs {list(o.columns)}"
        return values_equal(s, o)
    except Exception as e:  # a crash in the comparison is a failed check
        return False, f"check error: {str(e)[:200]}"
