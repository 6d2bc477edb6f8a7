"""Missing-value cleaning (reference: src/transformers.py:30-72).

The reference encodes missing census values as large negative sentinel codes
(transformers.py:30-36) and offers three strategies (transformers.py:42-72):
``nan`` (sentinel -> NaN), ``fill`` (then fillna), ``drop`` (then dropna).
Spark's NULL plays the NaN role; everything compiles to ``CASE WHEN``
expressions so the whole pass stays inside whole-stage codegen — no UDFs,
no extra scan.

The expressions are built as SQL text and handed to the JVM in ONE
``selectExpr`` call: a ``Column`` built per name costs about 13 py4j
round trips each (``F.col`` captures the Python call site), so over the
14 census columns the Column form spends about 1,000 calls where the SQL
form spends about 25.

Scale: a pure narrow transformation — no shuffle, fully pipelined with the
parquet scan; at 100 TB this adds ~zero cost over the scan itself.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Census sentinel codes for missing/suppressed data
# (reference: src/transformers.py:30-36).
MISSING_CODES: tuple[int, ...] = (
    -666666666,
    -999999999,
    -888888888,
    -222222222,
    -333333333,
)

_NUMERIC_TYPES = {"int", "bigint", "double", "float", "decimal", "smallint", "tinyint"}


def _numeric_columns(df: DataFrame) -> list[str]:
    # match on the base type name — a prefix test would also catch
    # interval types ("interval day" startswith "int")
    return [c for c, t in df.dtypes if t.split("(")[0] in _NUMERIC_TYPES]


def _quote(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, inner
    backticks doubled, so spaces, dots and backticks name one column."""
    return "`" + name.replace("`", "``") + "`"


def _with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df.withColumns`` from SQL text, in one JVM call: each column
    named in ``exprs`` (spelled exactly as in ``df.columns``) is replaced
    in place by its expression; a name ``df`` lacks is appended (and
    fails analysis if its expression references a column that does not
    exist)."""
    have = df.columns
    return df.selectExpr(
        *[f"{exprs[c]} AS {_quote(c)}" if c in exprs else _quote(c) for c in have],
        *[f"{e} AS {_quote(c)}" for c, e in exprs.items() if c not in have],
    )


def clean_missing_values(
    df: DataFrame,
    columns: list[str] | None = None,
    strategy: str = "nan",
    fill_value: float = 0.0,
) -> DataFrame:
    """Replicate ``DataTransformer.clean_missing_values``
    (reference: src/transformers.py:42-72) on a lazy DataFrame.

    strategy: ``nan`` -> sentinels become NULL; ``fill`` -> then
    ``fillna(fill_value)`` on those columns; ``drop`` -> then drop rows with
    any NULL in those columns.

    ``fill`` and ``drop`` keep ``DataFrame.na``'s rules but are built as
    SQL text like the sentinel step, so any column name works (``na``
    parses its ``subset`` names, which rejects a backtick and reads a dot
    as a struct field). ``fill``: a number fills the numeric columns, cast
    to each column's type; a string fills string columns, a bool boolean
    ones; a float or double NaN is filled too. ``drop``: a row goes when
    any of the columns is NULL, or NaN for a float or double column.
    """
    if strategy not in ("nan", "fill", "drop"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    cols = columns if columns is not None else _numeric_columns(df)
    codes = ", ".join(map(str, MISSING_CODES))
    # sentinel code -> NULL (reference: transformers.py:62-63)
    out = _with_sql_columns(df, {
        c: f"CASE WHEN {_quote(c)} IN ({codes}) THEN NULL ELSE {_quote(c)} END"
        for c in cols
    })
    if strategy == "fill":
        out = _with_sql_columns(out, _fill_exprs(out, cols, fill_value))
    elif strategy == "drop" and cols:
        out = out.filter(" AND ".join(
            f"({_quote(c)} IS NOT NULL AND NOT isnan({_quote(c)}))"
            if isinstance(out.schema[c].dataType, _FLOATS)
            else f"{_quote(c)} IS NOT NULL"
            for c in cols
        ))
    return out


_FLOATS = (T.DoubleType, T.FloatType)


def _fill_exprs(df: DataFrame, cols: list[str], value) -> dict[str, str]:
    """``df.na.fill(value, subset=cols)`` as SQL text per column: the
    columns of the value's type family become ``coalesce(c, CAST(value
    AS <c's type>))``, a float or double column through ``nanvl(c,
    NULL)`` first; the others are left out."""
    if isinstance(value, bool):
        family, lit = T.BooleanType, "true" if value else "false"
    elif isinstance(value, (int, float)):
        # a double literal (``-0.0D``, ``1e+300D``) is non-null, as
        # ``lit(value)`` is; inf and NaN have no literal form
        v = float(value)
        family = T.NumericType
        lit = f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    elif isinstance(value, str):
        family = T.StringType
        lit = "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        raise TypeError(f"fill_value must be a bool, number or string, "
                        f"not {type(value).__name__}")
    exprs = {}
    for c in cols:
        t = df.schema[c].dataType
        if isinstance(t, family):
            v = f"nanvl({_quote(c)}, NULL)" if isinstance(t, _FLOATS) else _quote(c)
            exprs[c] = f"coalesce({v}, CAST({lit} AS {t.simpleString()}))"
    return exprs


def coerce_numeric(df: DataFrame, columns: list[str]) -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` equivalent
    (reference: src/census_pipeline.py:361-363): unparseable strings become
    NULL. Spark's non-ANSI cast has the same contract; we trim first so
    whitespace-padded API values parse the same way pandas parses them.
    """
    return _with_sql_columns(df, {c: numeric_sql(c) for c in columns})


def numeric_sql(name: str) -> str:
    """``coerce_numeric``'s expression for column ``name``, as SQL text."""
    return f"CAST(TRIM({_quote(name)}) AS DOUBLE)"
