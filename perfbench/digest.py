"""Order-free digests of query results, for the corpus workload's gate.

`canon` is the canonical form of tools/check_oracle.py (columns sorted by
name, rows sorted by every column), copied so that the benchmark does not
change when the tool does. `digest` hashes that form with each
cell rendered by value family, so two results digest alike exactly when
check_oracle would call them equal: int32 3 and int64 3 match, a Decimal
matches the float DuckDB returns for it, and an integer never matches a
float.
"""
import datetime
import decimal
import glob
import hashlib
import math

import numpy as np
import pandas as pd


def canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _cell(v):
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "null" if math.isnan(f) else "f:" + repr(f + 0.0)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return "t:" + v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "t:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(x)}" for k, x in sorted(v.items())) + "}"
    return "s:" + str(v)


def digest(df):
    """(row count, hex digest) of a result's canonical form."""
    df = canon(df)
    h = hashlib.sha256()
    h.update("\x1f".join(df.columns).encode())
    for c in df.columns:
        col = df[c].astype(object).where(pd.notna(df[c]), None)
        for v in col:
            h.update(b"\x1e" + _cell(v).encode())
    return len(df), h.hexdigest()


def parquet_digest(directory):
    files = sorted(glob.glob(f"{directory}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output in {directory}")
    return digest(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
