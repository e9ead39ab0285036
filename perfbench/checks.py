"""Output checks, run outside the timed window.

* Query results are compared with the query's DuckDB oracle after the same
  canonicalization the oracle-parity tests use: sorted columns, rows sorted
  by a type-aware key, NaN as NULL, dates and timestamps as datetimes.
  Expected results are cached on disk, keyed by the oracle SQL and the
  fixture file digests, so a stale entry can never be used.
* A migration is checked without the engine's own validator: DuckDB counts
  the published files and sums a hash of every row, and both must equal the
  source's. Derived partition columns are left out, since the source has
  none.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import pickle

import duckdb
import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    if getattr(v, "ndim", 0) > 0:  # numpy array (list column)
        return tuple(_norm_cell(x) for x in v.tolist())
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return cols, rows


def mismatch(actual: pd.DataFrame, expected: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``actual`` equals the expected canonical result."""
    a_cols, a_rows = canon(actual)
    e_cols, e_rows = expected
    if a_cols != e_cols:
        return f"columns {a_cols} != {e_cols}"
    if len(a_rows) != len(e_rows):
        return f"{len(a_rows)} rows != {len(e_rows)}"
    for i, (a, e) in enumerate(zip(a_rows, e_rows)):
        if a != e:
            return f"row {i}: {a} != {e}"
    return None


def _duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


class OracleCache:
    """Expected query results, computed once per (oracle SQL, fixture digests)."""

    def __init__(self, cache_dir: str, sf_dir: str, digests: dict[str, str]) -> None:
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self.digests = digests
        self._con: duckdb.DuckDBPyConnection | None = None

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(
            (sql + "\n" + repr(sorted(self.digests.items()))).encode()
        ).hexdigest()[:24]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:  # written by this class, below
                return pickle.load(f)
        if self._con is None:
            self._con = _duck(self.sf_dir, sorted(self.digests))
        result = canon(self._con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(result, f)
        os.replace(tmp, path)
        return result

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def _content(con, source_sql: str, columns: list[str]) -> tuple[int, int]:
    cols = ", ".join(f'"{c}"' for c in columns)
    n, h = con.execute(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {source_sql}").fetchone()
    return int(n), int(h or 0)


def table_content(src_file: str) -> tuple[list[str], tuple[int, int]]:
    """Columns, row count and order-insensitive row-hash sum of a source table."""
    con = duckdb.connect()
    try:
        rel = f"read_parquet('{src_file}')"
        columns = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        return columns, _content(con, rel, columns)
    finally:
        con.close()


def published_content(dest_dir: str, columns: list[str]) -> tuple[int, int]:
    """Row count and row-hash sum of a published table, over ``columns`` only.

    Partition values come back from the directory names, so a partition
    column that is also a source column is still compared."""
    con = duckdb.connect()
    try:
        rel = f"read_parquet('{dest_dir}/**/*.parquet', hive_partitioning = true)"
        return _content(con, rel, columns)
    finally:
        con.close()


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
