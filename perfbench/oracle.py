"""DuckDB oracle: the expected answer of each op, and the comparison.

Rows are compared as multisets after normalizing every cell: floats to 6
significant digits (doc-store sources hold some doubles as float32),
timestamps without a time zone, nested lists element-wise. Column names
are compared as sets, and values are matched column by column by name.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import math
import os

import duckdb


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per `<table>.parquet` in `data_dir`."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def normalize(cols: list[str], rows: list[tuple]) -> tuple[tuple, list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = tuple(cols[i] for i in order)
    return names, sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    data = [tbl.column(i).to_pylist() for i in range(len(cols))]
    return cols, list(zip(*data)) if data else []


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def same(got, want) -> bool:
    """`got` and `want` are (cols, rows) pairs."""
    return normalize(*got) == normalize(*want)
