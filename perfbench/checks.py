"""Result checks: order-insensitive row hashes and the DuckDB oracles.

A result matches when its column names, row count and the hash of its
sorted, stringified rows all match the oracle's (columns sorted by name,
floats to 10 significant digits, timestamps as naive UTC).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone


def _cell(v) -> str:
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """``<sorted columns>|<row count>|<sha1 of sorted normalized rows>``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha1("\x1e".join(norm).encode()).hexdigest()
    return f"{','.join(sorted(columns))}|{len(rows)}|{digest}"


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def duck_hash(con, sql: str) -> str:
    res = con.execute(sql)
    return result_hash([d[0] for d in res.description], res.fetchall())
