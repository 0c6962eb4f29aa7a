"""Output checks: DuckDB twins of catalog entries and order-insensitive
digests of result rows.

A result is summarised as (row count, sorted column names, digest). The
digest is a SHA-256 over the sorted, canonicalised rows, so two results
agree iff they hold the same multiset of rows. Floats are compared to 9
significant digits: engines may sum in different orders. Outputs too
large to collect are digested inside Spark instead (:func:`spark_digest`).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Summary:
    rows: int
    columns: tuple[str, ...]
    digest: str


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def summarize(columns: list[str], rows: list[tuple]) -> Summary:
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return Summary(len(rows), tuple(sorted(cols)), digest)


def summarize_spark(df) -> Summary:
    return summarize(df.columns, [tuple(r) for r in df.collect()])


def spark_digest(df) -> tuple[int, str]:
    """(row count, order-insensitive digest) computed inside Spark, for
    outputs too large to collect: the sum of each row's xxhash64 over
    its columns in name order."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns, key=str.lower)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    rows, total = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return rows, str(total)


def duckdb_summaries(data_dir: str, tables: tuple[str, ...], sqls: dict[str, str]) -> dict[str, Summary]:
    """Run each oracle SQL over the parquet tables in ``data_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            out[name] = summarize(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()
