"""Canonical result form for comparing a Spark result with its DuckDB oracle.

The same form as the repository's oracle-parity tests, kept here as the
benchmark's own copy: columns sorted by name, floats rounded to 9 decimal
places, NaN as a token, and -0.0 distinct from +0.0. A result reduces to
``(sorted column names, row count, sha256 of the sorted canonical rows)``
so the oracle side can run in a child process and hand back a few bytes.

Run as a script it evaluates oracle SQL with DuckDB:
``python3 canon.py <lake_dir>`` reads ``{name: sql}`` as JSON on stdin and
prints ``{name: [columns, rows, digest]}`` as JSON on stdout.
"""

from __future__ import annotations

import hashlib
import json
import math
import sys

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == 0.0 and math.copysign(1.0, value) < 0:
            return "-0.0"
        return round(value, 9)
    if hasattr(value, "isoformat"):  # datetime / date
        return value.isoformat()
    if isinstance(value, (int, str, bool, bytes)):
        return value
    if isinstance(value, (list, tuple)):
        return tuple(normalize(v) for v in value)
    try:  # Decimal and friends
        return round(float(value), 9)
    except (TypeError, ValueError):
        return str(value)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(normalize(r[i]) for i in order) for r in rows), key=repr)


def digest(columns: list[str], rows) -> list:
    """``[sorted columns, row count, sha256 of canonical rows]``."""
    rows = list(rows)
    body = repr(canon_rows(columns, rows)).encode()
    return [sorted(columns), len(rows), hashlib.sha256(body).hexdigest()]


def oracle_digests(lake_dir: str, sql_by_name: dict[str, str]) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'")
        out = {}
        for name, sql in sql_by_name.items():
            rel = con.sql(sql)
            out[name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


if __name__ == "__main__":
    json.dump(oracle_digests(sys.argv[1], json.load(sys.stdin)), sys.stdout)
