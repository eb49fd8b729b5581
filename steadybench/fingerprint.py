"""Order-insensitive fingerprints of query results.

Rows are normalised by the engine's parity harness (``tests/parity.py``:
columns sorted by name; datetimes to microseconds; ints to int64; floats to
float64; bools to bool), each row is hashed, and the row hashes are summed
modulo 2**64, so the fingerprint ignores row order but not row
multiplicity. Before that, nested values (arrays, maps, structs) are turned
into a canonical text form so both engines' container types agree; after
it, -0.0 becomes 0.0.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _canon(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "null"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return repr(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    from tests.parity import _normalize

    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_canon)
    df = _normalize(df)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            # -0.0 and 0.0 compare equal; hash them the same
            df[c] = df[c] + 0.0
    return df


def fingerprint(df: pd.DataFrame) -> dict:
    """``{"rows", "columns", "hash"}`` of a result frame."""
    norm = normalize(df)
    schema = "|".join(f"{c}:{norm[c].dtype}" for c in norm.columns)
    if len(norm):
        row_hashes = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
        total = int(row_hashes.sum(dtype=np.uint64))
    else:
        total = 0
    digest = hashlib.sha1(f"{schema}#{total:016x}".encode()).hexdigest()[:20]
    return {"rows": int(len(norm)), "columns": list(norm.columns), "hash": digest}


def check(qid: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the committed expectation, else a reason.

    Hash-checked ids compare the full fingerprint; rows-only ids (no oracle)
    compare the row count.
    """
    want = expected.get(qid)
    if want is None:
        return "no committed expectation"
    if want.get("hash") is not None:
        if got["hash"] != want["hash"]:
            return f"fingerprint {got['hash']} != expected {want['hash']} (rows {got['rows']} vs {want['rows']})"
        return None
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} != expected {want['rows']}"
    return None
