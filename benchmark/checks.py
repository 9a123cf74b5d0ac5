"""Output checks, run outside every timed region.

Declared queries are compared by an order-insensitive digest of their rows:
each row is rendered to canonical text, hashed, and the row hashes are summed
modulo 2**64, so the digest ignores row order but not row multiplicity.
The expected digest comes from DuckDB running ``registry.ORACLES[name]`` on
the same files. Raster jobs compare bin counts exactly against
``np.histogram`` of the generated valid pixels.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import math
import os

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "null"
    return str(v)


def digest(df: pd.DataFrame) -> dict:
    """``{"rows", "columns", "hash"}`` of a result, independent of row and
    column order."""
    cols = sorted(df.columns)
    total = np.uint64(0)
    if len(df):
        text = df[cols].astype(object).apply(
            lambda r: "\x1f".join(_canon(v) for v in r), axis=1
        )
        h = pd.util.hash_pandas_object(text, index=False).to_numpy(np.uint64)
        with np.errstate(over="ignore"):
            total = h.sum(dtype=np.uint64)
    return {"rows": int(len(df)), "columns": cols, "hash": f"{int(total):016x}"}


def read_parquet_dir(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def histogram_lines(text: str) -> list[int]:
    """Counts from ``"%1.2f, %d"`` lines (the reference CSV format)."""
    out = []
    for line in text.splitlines():
        left, sep, right = line.partition(", ")
        if not sep:
            continue
        try:
            float(left)
            out.append(int(right))
        except ValueError:
            continue
    return out


def read_histogram_csv(path: str) -> list[int]:
    text = ""
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            text += fh.read()
    return histogram_lines(text)
