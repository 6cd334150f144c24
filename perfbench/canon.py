"""Order-insensitive canonical form of a query result, shared by the
Spark side (inside the measured process) and the DuckDB oracle side
(in the orchestrator), so the two can be compared row by row."""

from __future__ import annotations

import datetime
import decimal
import math

import pandas as pd


def canon_value(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"{v:.6f}"
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict, str, bytes)):
        try:
            v = v.item()  # numpy scalar
        except (ValueError, AttributeError):
            pass
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon_value(x) for k, x in sorted(v.items())}
    if hasattr(v, "to_pydatetime"):
        return canon_value(v.to_pydatetime())
    return str(v)


def canon_rows(pdf) -> dict:
    """pandas DataFrame → {"columns": sorted lower-case names, "rows":
    rows with columns in that order, sorted by their repr}."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = [
        [canon_value(v) for v in r]
        for r in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return {"columns": [c.lower() for c in cols], "rows": rows}


def first_difference(a: dict, b: dict) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if a["columns"] != b["columns"]:
        return f"columns {a['columns']} vs {b['columns']}"
    if len(a["rows"]) != len(b["rows"]):
        return f"row count {len(a['rows'])} vs {len(b['rows'])}"
    for i, (x, y) in enumerate(zip(a["rows"], b["rows"])):
        if x != y:
            return f"row {i}: {x} vs {y}"
    return None
