"""Output checks: program results against the contract's DuckDB oracles,
and digests of every response so two runs of one seed can be compared."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from typing import Any, Iterable

import numpy as np

from datagen import TABLES


def digest(obj: Any) -> str:
    text = json.dumps(obj, sort_keys=True, default=str)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _norm(v: Any) -> Any:
    """One spelling per value: numbers as int when whole, else rounded to
    9 digits (to absorb repr noise only); NaN as NULL; dates and
    timestamps as ISO text, midnight timestamps as dates."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, str):
        return v[:-9] if v.endswith(" 00:00:00") else v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return round(v, 9)
    if isinstance(v, dt.datetime):
        return _norm(v.isoformat(sep=" "))
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def rows_equal(cols_a: list[str], rows_a: Iterable[Iterable[Any]],
               cols_b: list[str], rows_b: Iterable[Iterable[Any]]) -> str:
    """'' when the two results hold the same columns (by name, any case,
    any order) and the same multiset of rows; else why they differ."""
    la, lb = [c.lower() for c in cols_a], [c.lower() for c in cols_b]
    if sorted(la) != sorted(lb):
        return f"columns {sorted(la)} != {sorted(lb)}"
    order_a = sorted(range(len(la)), key=lambda i: la[i])
    order_b = sorted(range(len(lb)), key=lambda i: lb[i])

    def canon(rows: Iterable[Iterable[Any]], order: list[int]) -> list:
        out = []
        for r in rows:
            r = list(r)
            out.append(tuple(_norm(r[i]) for i in order))
        return sorted(out, key=repr)

    a, b = canon(rows_a, order_a), canon(rows_b, order_b)
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    for x, y in zip(a, b):
        if x != y:
            return f"row {x} != {y}"
    return ""


class Oracle:
    """The contract's oracle SQL, run by DuckDB over one data directory."""

    def __init__(self, data_dir: str):
        import duckdb

        import __spark_entry__
        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def close(self) -> None:
        self.con.close()

    def compare_envelope(self, name: str, envelope: dict) -> str:
        fields = [f["fieldName"] for f in envelope["header"]["fields"]]
        return self._compare(name, fields, envelope["rows"])

    def compare_frame(self, name: str, frame: Any) -> str:
        """``frame`` is a pandas DataFrame of the program's output."""
        return self._compare(name, list(frame.columns),
                             frame.itertuples(index=False, name=None))

    def _compare(self, name: str, cols: list[str],
                 rows: Iterable[Iterable[Any]]) -> str:
        want = self.con.execute(self.sql[name]).df()
        return rows_equal(cols, rows, list(want.columns),
                          want.itertuples(index=False, name=None))
