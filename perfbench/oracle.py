"""DuckDB oracle checks for ``queries()`` keys.

Same canonical form as the repo's driver simulation: columns sorted by
name, rows sorted, floats compared at full ``repr`` precision, and any
oracle output column typed HUGEINT/DECIMAL/unsigned rejected (its
values would hash differently from Spark's even when equal).
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa

BAD_TYPES = ("HUGEINT", "DECIMAL", "UINTEGER", "UBIGINT", "UTINYINT", "USMALLINT")


def canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "[" + ",".join(canon(x) for x in v.values()) + "]"
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result in canonical form."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    h = hashlib.sha256(",".join(sorted(c.lower() for c in columns)).encode())
    for r in sorted(tuple(canon(r[i]) for i in idx) for r in rows):
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def arrow_digest(table) -> str:
    """Digest of a Spark result fetched with ``DataFrame.toArrow()``."""
    cols = table.column_names
    data = []
    for c in cols:
        col = table.column(c)
        # Arrow tags session-time timestamps as UTC; collect() and DuckDB
        # both give the naive wall time, which is what the oracle hashes
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        data.append(col.to_pylist())
    return digest(cols, list(zip(*data)) if data else [])


class Oracle:
    """DuckDB connection with the benchmark's tables registered as views."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def digest(self, sql: str) -> str:
        desc = self.con.execute(f"DESCRIBE ({sql})").fetchall()
        bad = [(d[0], d[1]) for d in desc if any(m in d[1].upper() for m in BAD_TYPES)]
        if bad:
            raise AssertionError(f"oracle output types fail the value hash: {bad}")
        res = self.con.execute(sql)
        return digest([d[0] for d in res.description], res.fetchall())
