"""Local replica of the driver's correctness gate: run every registered
query through Spark AND its DuckDB oracle on the same parquet, compare
row count, column names, and the full multiset of values.

This is stricter than unit tests — it catches dialect drift (rounding,
null semantics, window alignment) before the driver does.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from census_data_pipeline_spark.plans import ORACLE, QUERIES

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(value):
    """Canonical form for cross-engine comparison."""
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # r11: distinguish -0.0 from +0.0 the way the DRIVER's
        # stringified hash does (Python round() keeps them ==, which is
        # exactly how the graph_modularity -0.0 divergence hid from
        # this suite for ten rounds)
        if value == 0.0 and math.copysign(1.0, value) < 0:
            return "-0.0"
        return round(value, 9)
    if hasattr(value, "isoformat"):  # datetime/date
        return value.isoformat()
    if isinstance(value, (int, str, bool, bytes)):
        return value
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    try:  # Decimal and friends
        return round(float(value), 9)
    except (TypeError, ValueError):
        return str(value)


def _canon_rows(columns, rows):
    cols_sorted = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_normalize(r[i]) for i in cols_sorted) for r in rows]
    return sorted(out, key=repr)


_SPARK_TYPE_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "binary": "bytes", "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "ts",
}

_DUCK_TYPE_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BLOB": "bytes", "BOOLEAN": "bool",
    "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "DATE": "ts",
    # HUGEINT / DECIMAL deliberately unmapped: a DuckDB aggregate that
    # widens to int128/decimal will not survive the driver's schema
    # comparison against Spark's bigint/double — cast it in the oracle.
}


def _type_classes(pairs, table):
    out = {}
    for name_, type_ in pairs:
        base = str(type_).split("(")[0].strip()
        cls = table.get(base)
        assert cls is not None, f"unmapped {table is _DUCK_TYPE_CLASS and 'duck' or 'spark'} type {type_!r} for column {name_!r}"
        out[name_] = cls
    return out


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    rel = duck.sql(ORACLE[name])
    duck_cols = list(rel.columns)
    duck_types = _type_classes(zip(rel.columns, rel.types), _DUCK_TYPE_CLASS)
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    spark_types = _type_classes(sdf.dtypes, _SPARK_TYPE_CLASS)
    assert spark_types == duck_types, (
        f"{name}: type-class mismatch {spark_types} vs {duck_types}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = _canon_rows(spark_cols, spark_rows)
    d = _canon_rows(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) == set(e.queries())
