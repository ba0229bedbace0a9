"""Output check: an order-insensitive digest of each timed result, compared
with the digest of the key's DuckDB oracle on the same fixture. A key
without an oracle has no expected digest and counts as failed.

Cells are normalised with ``tools/verify_local.py``'s ``_norm`` (the
comparator behind the repo's local correctness gate), so a digest match
means the same multiset of rows under the same normalisation. Numeric and
timestamp columns take a vectorised path so that results with hundreds of
thousands of rows hash in milliseconds; object columns (dates, decimals,
lists, structs) go through ``_norm`` cell by cell.

Oracle digests depend only on the fixture, so they are computed once per
fixture and cached as JSON in the benchmark's work directory.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from tools.verify_local import _norm, connect_duckdb

_NUMERIC = {"integer", "floating", "mixed-integer-float", "decimal", "boolean", "empty"}


def _cell(v):
    """Bring a pandas/Arrow cell to the Python shape ``_norm`` expects."""
    if isinstance(v, np.ndarray):
        return [_cell(x) for x in v.tolist()]
    if isinstance(v, dict):
        return tuple(_cell(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas stores a null of a numeric column as NaN
    return v


def _column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.astype("datetime64[ns]").astype("int64")
    kind = pd.api.types.infer_dtype(s, skipna=True)
    if kind == "string":
        return s.where(s.notna(), None)
    if kind in _NUMERIC:
        f = pd.to_numeric(s, errors="coerce").astype("float64")
        return f.where(f != 0.0, 0.0)  # -0.0 == 0.0; NaN stays NaN
    return s.map(lambda v: repr(_norm(_cell(v))))


def digest(pdf: pd.DataFrame) -> str:
    """Row count, column names and an order-insensitive sum of row hashes."""
    cols = sorted(pdf.columns)
    if not cols or len(pdf) == 0:
        return f"{len(pdf)}|{','.join(cols)}|0|0"
    frame = pd.DataFrame({c: _column(pdf[c]) for c in cols})
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    with np.errstate(over="ignore"):
        s1 = int(h.sum(dtype=np.uint64))
        s2 = int((h * h).sum(dtype=np.uint64))
    return f"{len(pdf)}|{','.join(cols)}|{s1:016x}|{s2:016x}"


def oracle_digests(keys, sf_dir: str, cache_path: str) -> dict[str, str]:
    """Digest of every key's DuckDB oracle on ``sf_dir``; computed once and
    kept in ``cache_path``."""
    cached: dict[str, str] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    from xml_processor_spark.registry import get_oracles

    oracles = get_oracles()
    todo = [k for k in keys if k in oracles and k not in cached]
    if todo:
        con = connect_duckdb(sf_dir)
        try:
            for k in todo:
                pdf = con.execute(oracles[k]).fetch_arrow_table().to_pandas()
                cached[k] = digest(pdf)
        finally:
            con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
    return {k: cached[k] for k in keys if k in cached}
