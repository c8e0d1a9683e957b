"""Output checks: every operation's result against its DuckDB oracle.

Results are canonicalized the way ``tests/driver_diff.py`` does it:
columns sorted by name, rows sorted by every column, and each cell
rendered type-strictly (``int`` 5 differs from ``float`` 5.0), so floats
must match exactly. Arrow results (the Flight path) are brought to the
same Python values as ``DataFrame.collect()``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import pickle

import duckdb


def _cell(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, float) and math.isnan(v):
        return (2, "nan")
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return (2, f"{type(v).__name__}:{v!r}")


def canon(columns: list[str], rows) -> tuple:
    """Order-insensitive, type-strict canonical form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = tuple(columns[i].lower() for i in order)
    return cols, tuple(sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def canon_arrow(table) -> tuple:
    return canon(table.column_names, [tuple(r.values()) for r in table.to_pylist()])


class Oracle:
    """DuckDB over the tables, one view per table. Answers are cached in
    ``cache_dir``, keyed by the SQL text, so a later run skips the slow
    oracles (a recursive CTE takes DuckDB tens of seconds)."""

    def __init__(self, data_dir: str, table_names: list[str], cache_dir: str):
        self.cache = cache_dir
        self._views = [
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            for t in table_names
        ]
        self._con = None

    @property
    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for v in self._views:
                self._con.execute(v)
        return self._con

    def expect(self, sql: str) -> tuple:
        path = os.path.join(self.cache, hashlib.sha256(sql.encode()).hexdigest())
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        cur = self.con.execute(sql)
        out = canon([d[0] for d in cur.description], cur.fetchall())
        os.makedirs(self.cache, exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(out, f)
        os.replace(f"{path}.tmp{os.getpid()}", path)
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
