"""Output checks: an order-insensitive value hash over result rows, and
the DuckDB oracle's hash for a registry slot, cached on disk.

The cache key covers the slot name, the oracle SQL and the bytes of every
data file, so a changed oracle or corpus is recomputed. Only DuckDB's
answer is cached, never the program's.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES


def _cell(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "N"
        if v == int(v) and abs(v) < 2**53:
            return f"i{int(v)}"
        return f"f{v!r}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, decimal.Decimal):
        return _cell(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"t{datetime.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s{v}"


def _py(v):
    """pandas/numpy value -> plain Python value (arrays become lists)."""
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if hasattr(v, "tolist") and not isinstance(v, pd.Timestamp):
        return v.tolist()
    return v


def rows_hash(columns, rows) -> str:
    """Hash of a row multiset: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return f"{len(canon)}:{h.hexdigest()}"


def frame_hash(pdf) -> str:
    """``rows_hash`` of a pandas frame (Spark ``toPandas`` or DuckDB ``df``)."""
    cols = [str(c) for c in pdf.columns]
    values = [[_py(v) for v in pdf[c].tolist()] for c in pdf.columns]
    return rows_hash(cols, list(zip(*values)))


def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle hashes for one data directory, memoized in
    ``cache_dir``."""

    def __init__(self, sf_dir: str, cache_dir: str, tmp_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.tmp_dir = tmp_dir
        self._con = None
        self._data_key = hashlib.sha256(
            "".join(
                f"{t}:{_file_digest(os.path.join(sf_dir, t + '.parquet'))};"
                for t in TABLE_NAMES
            ).encode()
        ).hexdigest()

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.tmp_dir}'")
        # the program's sessions pin UTC too
        con.execute("SET TimeZone='UTC'")
        for t in TABLE_NAMES:
            path = os.path.join(self.sf_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def expected(self, slot: str, sql: str) -> str:
        key = hashlib.sha256(f"{slot}\0{sql}\0{self._data_key}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{slot}-{key[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["hash"]
        if self._con is None:
            self._con = self._connect()
        value = frame_hash(self._con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"slot": slot, "hash": value}, f)
        os.replace(tmp, path)
        return value

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
