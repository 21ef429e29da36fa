"""Output checks: canonical result digests and the cached DuckDB oracle.

A query result is reduced to a digest that ignores column order and row
order (columns sorted by name, rows sorted by value) and normalizes the
representation differences between Arrow producers: int widths, integral
decimals, list columns and timestamps. Spark's result is checked against
the registry's DuckDB oracle SQL run over the same generated files. The
oracle's digest is cached per seed next to the inputs, because some
oracles (the unrolled iterative replays) take far longer than the query.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import pyarrow as pa

from gen import TABLES


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else repr(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return ",".join(str(_norm(x)) for x in v)
    return str(v)


def digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result table."""
    cols = sorted(table.column_names)
    data = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    rows = sorted(zip(*data), key=lambda r: tuple("" if x is None else x for x in r))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def duckdb_conn(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}/*.parquet')"
        )
    return con


class OracleCache:
    """Expected digests per query for one input directory, computed once
    with DuckDB and kept in ``oracle.json`` beside the inputs."""

    def __init__(self, data_dir: str):
        self.path = os.path.join(data_dir, "oracle.json")
        self.data_dir = data_dir
        self._con = None
        try:
            with open(self.path) as fh:
                self._digests = json.load(fh)
        except FileNotFoundError:
            self._digests = {}

    def expected(self, name: str, sql: str) -> str:
        if name not in self._digests:
            if self._con is None:
                self._con = duckdb_conn(self.data_dir)
            self._digests[name] = digest(self._con.sql(sql).arrow())
            tmp = self.path + f".tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self._digests, fh, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return self._digests[name]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
