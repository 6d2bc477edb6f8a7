"""Fuzzy record linkage: distance-1 name matching via wildcard blocking.

Census-bureau-flavored extension surface (the reference joins records only
on exact GEOID equality, src/census_pipeline.py:270-272; real linkage work
needs approximate name matching). The all-pairs ``levenshtein(a, b) <= 1``
join is quadratic; the scalable relational form is *neighborhood blocking*:

  1. for every row, generate one variant per character position with that
     position wildcarded (``abc`` -> ``*bc a*c ab*``) — a narrow explode,
  2. self equi-join on (position, variant): two names that differ in
     exactly one substitution share exactly one variant (so the join also
     needs no distinct pass),
  3. verify the survivors: unequal names (see ``edit1_pairs``).

Every stage is a scan or a hash shuffle on a compact key — the same
explode/bucket/verify shape as the minhash LSH dedup (functions/dedup.py).
Substitution-only blocking is exact for equal-length identifiers (census
GEOIDs, fixed-format record ids); insert/delete neighbors would add
deletion variants, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from census_data_pipeline_spark.operators.cleaning import _quote


def edit1_pairs(
    df: DataFrame, id_col: str, name_col: str
) -> DataFrame:
    """All pairs (id_a < id_b) whose names differ by exactly one
    substitution. Output: (id_a, id_b, name_a, name_b)."""
    variants = df.selectExpr(
        f"{_quote(id_col)} AS id", f"{_quote(name_col)} AS name"
    ).selectExpr(
        "id",
        "name",
        "inline(transform(sequence(1, length(name)), i -> named_struct("
        "'pos', i, 'variant', concat(substr(name, 1, i - 1), '*', "
        "substr(name, i + 1, length(name))))))",
    )
    # Verification is ``a.name <> b.name``, which on every joined row is
    # ``levenshtein(a.name, b.name) = 1``: the variant keeps the pos - 1
    # code points before the wildcard and every one after it, so two
    # names sharing (pos, variant) have equal length and differ at most
    # at pos — one substitution when unequal, none when equal. The one
    # exception is the empty name: sequence(1, 0) gives it variant '*'
    # at pos 1 and pos 0, which meet only one-code-point names (one
    # insertion away) and other empty names (equal, dropped). A NULL
    # name makes no variants.
    return (
        variants.alias("a")
        .join(variants.alias("b"), on=["pos", "variant"])
        .where("a.id < b.id AND a.name <> b.name")
        .selectExpr("a.id AS id_a", "b.id AS id_b",
                    "a.name AS name_a", "b.name AS name_b")
    )
