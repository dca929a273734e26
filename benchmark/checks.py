"""Order-insensitive comparison of result rows against DuckDB."""

from __future__ import annotations

import hashlib
import math


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def row_hash(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, sha1 of the column names and the sorted normalised
    rows, with columns taken in name order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha1(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def df_hash(df) -> tuple[int, str]:
    return row_hash([tuple(r) for r in df.collect()], df.columns)


def duckdb_hash(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return row_hash(res.fetchall(), cols)
