"""Output checks made apart from the program.

Registry queries are checked against their DuckDB oracle twins on the same
parquet files; the hive tables are checked against a DuckDB recomputation
from every generated round. Values compare exactly for integers, strings,
booleans, dates and decimals, and with a relative tolerance for doubles.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    """One comparable form per value: decimals exact, sequences as tuples,
    maps as sorted pairs, aware timestamps as naive UTC."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
            return False
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        try:
            return decimal.Decimal(a) == decimal.Decimal(b)
        except (TypeError, decimal.InvalidOperation):
            return False
    return a == b


def _sort_key(row: tuple) -> tuple:
    # floats sort on 6 significant digits so engines differing in the last
    # bits still pair up the same rows; other numbers sort exactly, and
    # everything else on its repr
    out = []
    for v in row:
        if v is None:
            out.append((0, 0))
        elif isinstance(v, float):
            out.append((1, float(f"{v:.6g}")))
        elif isinstance(v, (int, decimal.Decimal)) and not isinstance(v, bool):
            out.append((1, v))
        else:
            out.append((2, repr(v)))
    return tuple(out)


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i] for i in order], out


def compare(actual, expected) -> str | None:
    """``None`` when two canonical results hold the same rows, otherwise a
    one-line reason."""
    (ca, ra), (ce, re_) = actual, expected
    if ca != ce:
        return f"columns {ca} != {ce}"
    if len(ra) != len(re_):
        return f"{len(ra)} rows != {len(re_)}"
    for i, (x, y) in enumerate(zip(ra, re_)):
        for c, a, b in zip(ca, x, y):
            if not _same(a, b):
                return f"row {i} column {c}: {a!r} != {b!r}"
    return None


def spark_result(df):
    return canonical(df.columns, df.collect())


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str):
    cur = con.execute(sql)
    return canonical([d[0] for d in cur.description], cur.fetchall())
