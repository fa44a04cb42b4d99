"""Order-insensitive result digests, shared by the DuckDB oracle side
and the Spark side.

Rows are normalized by ``tests/oracle.py`` (the repository's own
oracle comparison: columns sorted by name, floats rounded to 9 places,
timestamps as ISO strings, arrays as tuples rounded to 6 places, NULL
and NaN as None), and its ``duckdb_run`` gives the oracle side. That
comparison uses ``==``, under which ``3 == 3.0``; a hash compares
``repr``, so each value is also put in one canonical Python form
(integral floats as ints, numpy scalars as Python ones) and the rows
are sorted again.
"""

from __future__ import annotations

import decimal
import hashlib
import importlib.util
import math
import os

import numpy as np

_ORACLE_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle.py"
)


def _load_oracle():
    spec = importlib.util.spec_from_file_location("perfbench_repo_oracle", _ORACLE_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


oracle = _load_oracle()


def canonical(v):
    """One Python form per value, so that equal values hash alike."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = round(float(v), 9)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, tuple):
        return tuple(canonical(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canonical(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if type(v).__name__ in ("NaTType", "NAType"):
        return None
    return v


def digest_pandas(df) -> tuple[int, str]:
    """(row count, sha256 hex) of a result, independent of row order and
    of column order."""
    cols = sorted(df.columns)
    rows = [tuple(canonical(x) for x in r) for r in oracle._normalize(df)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()
