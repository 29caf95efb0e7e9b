"""Order-insensitive result digests for the output check.

A result is normalised exactly as ``tests/oracle_util.py`` does for the
exact oracle compare (columns by name, rows sorted, integer widths
unified, no float rounding) and then hashed. Floats hash by their shortest
round-tripping repr, so the digest is as strict as the exact compare.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from tests.oracle_util import _dtype_class, _normalize


def _canon(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float):
        # -0.0 == 0.0 in the exact compare; NaN is a null there too
        return None if math.isnan(v) else (0.0 if v == 0 else v)
    if hasattr(v, "item"):  # numpy scalar -> Python scalar
        return _canon(v.item())
    return v


def frame_digest(pdf: pd.DataFrame) -> str:
    n = _normalize(pdf, exact_floats=True)
    h = hashlib.sha256()
    h.update(repr([(c, _dtype_class(n[c])) for c in n.columns]).encode())
    for row in n.itertuples(index=False, name=None):
        h.update(repr(tuple(_canon(v) for v in row)).encode())
    return h.hexdigest()[:32]
