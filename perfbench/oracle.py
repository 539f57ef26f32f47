"""Result comparison against DuckDB: row count, column names and an
order-insensitive hash of the values (floats to 9 significant digits,
the same normalisation the engine's local correctness gate uses)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def digest(cols, rows) -> tuple[int, tuple, str]:
    """(row count, sorted column names, value hash) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return len(rows), tuple(sorted(cols)), h.hexdigest()


def duckdb_digest(con, sql: str) -> tuple[int, tuple, str]:
    res = con.sql(sql)
    return digest(list(res.columns), res.fetchall())


def connect(data_dir: str, tables) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
