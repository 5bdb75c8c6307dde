"""Order- and float-noise-insensitive hashes of query results."""

from __future__ import annotations

import datetime as dt
import hashlib
import json


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")  # summation order moves the last digits
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    return v


def value_hash(results: dict[str, list]) -> str:
    """sha256 over every result's rows, canonicalized and sorted."""
    h = hashlib.sha256()
    for key in sorted(results):
        rows = sorted(json.dumps(_canon(list(r)), default=str) for r in results[key])
        h.update(json.dumps([key, rows]).encode())
    return h.hexdigest()
