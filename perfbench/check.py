"""Order-insensitive result comparison against DuckDB."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):      # DuckDB truncates some timestamps to dates
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted rows with cells in that column order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(cell(r[i]) for i in order) for r in rows))


def spark_rows(rows) -> tuple[list[str], list[tuple]]:
    columns = list(rows[0].__fields__) if rows else []
    return canon(columns, rows)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per input table, as the query oracles expect."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return canon(rel.columns, rel.fetchall())


def same(got, want) -> bool:
    """Equal rows; column names are compared only when both sides have
    rows (an empty collect carries no names)."""
    gcols, grows = got
    wcols, wrows = want
    return grows == wrows and (not grows or gcols == wcols)
