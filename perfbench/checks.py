"""Output checks against DuckDB, run outside the timed passes.

``row_digest`` is order-insensitive: it hashes every collected row after
value normalization (columns in name order, doubles rounded to 6 dp, -0.0
folded into 0.0, integral numbers as ints) and sums the hashes mod 2^64.
Both engines' outputs are collected and digested the same way.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

_MASK = (1 << 64) - 1


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        r = round(f, 6) + 0.0
        return int(r) if r.is_integer() and abs(r) < 2 ** 62 else r
    if isinstance(v, int):
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays / scalars
        return _norm(v.tolist())
    return str(v)


def row_digest(columns, rows) -> tuple[tuple[str, ...], int, int]:
    """(sorted lower-case column names, row count, multiset hash)."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    total = 0
    n = 0
    for row in rows:
        key = repr(tuple(_norm(row[i]) for i in order)).encode()
        total = (total + int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "little")) & _MASK
        n += 1
    return tuple(names[i] for i in order), n, total


def duckdb_connect(table_dir: str, tables):
    """In-memory DuckDB with one view per parquet table of ``table_dir``."""
    import duckdb

    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    for t in tables:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_digest(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return row_digest(cols, cur.fetchall())


def spark_digest(df):
    return row_digest(df.columns, df.collect())


def pairs(con, sql: str) -> set:
    """The (id_a, id_b) pairs of an oracle."""
    return {(int(a), int(b)) for a, b in
            con.execute(f"SELECT id_a, id_b FROM ({sql})").fetchall()}
