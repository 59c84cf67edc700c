"""Expected query results: an order-insensitive value hash.

``expected_hashes.json`` holds, for every query of the benchmark's query
modules, the row count, column names and value hash of its DuckDB
oracle over ``perfbench/data``. Regenerate it with
``python3 perfbench/gen_hashes.py`` (it needs only DuckDB, no Spark).
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
EXPECTED_PATH = HERE / "expected_hashes.json"


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else list(v)
        return "[" + ",".join(_norm_cell(x) for x in seq) + "]"
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    """Same algorithm as ``value_hash`` in scripts/driver_sim.py: columns
    sorted by name, cells stringified, rows sorted, sha256."""
    cols = sorted(df.columns)
    rows = sorted(df[cols].map(_norm_cell).itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def summarize(df: pd.DataFrame) -> dict:
    return {"rows": len(df), "cols": sorted(df.columns), "hash": value_hash(df)}


def load_expected() -> dict[str, dict]:
    return json.loads(EXPECTED_PATH.read_text())["queries"]


def mismatch(expected: dict, got: pd.DataFrame) -> str | None:
    """None when ``got`` matches; else which check failed."""
    if len(got) != expected["rows"]:
        return f"rows {len(got)} != {expected['rows']}"
    if sorted(got.columns) != expected["cols"]:
        return "columns differ"
    if value_hash(got) != expected["hash"]:
        return "value hash differs"
    return None
