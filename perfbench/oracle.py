"""DuckDB oracle check for registered queries.

A query's Spark output and its ``oracle_sql()`` twin, run by DuckDB over
the same parquet files, must agree in row count, column names and an
order-insensitive hash of every value. Floats must agree bit for bit,
as in the project's correctness sweep.
"""

from __future__ import annotations

import hashlib
import math

import duckdb


def _canon(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, bytes):
        return "y:" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return f"{type(v).__name__[:1]}:{v}"


def table_hash(rows: list[tuple], columns: list[str]) -> str:
    """Hash of a result that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB views over one directory of star-schema parquet tables."""

    def __init__(self, data_dir: str, tables: list[str], oracles: dict[str, str]):
        self._sql = oracles
        self._con = duckdb.connect()
        for name in tables:
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{name}.parquet')"
            )

    def result(self, name: str) -> tuple[list[str], list[tuple]]:
        """(columns, rows) of the query's oracle SQL."""
        res = self._con.execute(self._sql[name])
        return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]

    def mismatch(self, name: str, rows: list[tuple], columns: list[str]) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        ocols, orows = self.result(name)
        if len(rows) != len(orows):
            return f"row count {len(rows)} != oracle {len(orows)}"
        if sorted(columns) != sorted(ocols):
            return f"columns {sorted(columns)} != oracle {sorted(ocols)}"
        if table_hash(rows, columns) != table_hash(orows, ocols):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self._con.close()
