"""Wildcard-blocked edit-distance-1 linkage (functions/linkage.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions.linkage import edit1_pairs


def test_edit1_pairs_substitutions_only(spark):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "abed"), (3, "abcd"), (4, "xyzw"), (5, "abee")],
        "id long, name string",
    )
    out = {(r.id_a, r.id_b) for r in edit1_pairs(df, "id", "name").collect()}
    # 2 is one substitution from both copies of "abcd" (1 and 3) and from
    # 5; the exact-duplicate pair 1-3 is excluded (levenshtein 0); 4
    # matches nothing; 1-5 differ by two substitutions.
    assert out == {(1, 2), (2, 3), (2, 5)}


def test_edit1_pairs_emits_each_pair_once(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab")], "id long, name string"
    )
    rows = edit1_pairs(df, "id", "name").collect()
    assert len(rows) == 1  # pair shares exactly ONE wildcard slot, no dup
    assert rows[0].name_a == "aaaa" and rows[0].name_b == "aaab"


def _levenshtein_form(df):
    """The verification ``edit1_pairs`` replaced, as a reference: the
    same (pos, variant) self-join built from Columns, kept by
    ``levenshtein(a.name, b.name) = 1``."""
    c = F.col("name")
    variants = df.select("id", "name", F.explode(F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.struct(i.alias("pos"), F.concat(
            c.substr(F.lit(1), i - 1), F.lit("*"),
            c.substr(i + 1, F.length(c))).alias("variant")),
    )).alias("v")).select("id", "name", "v.pos", "v.variant")
    a, b = variants.alias("a"), variants.alias("b")
    return a.join(b, on=["pos", "variant"]).filter(
        (F.col("a.id") < F.col("b.id"))
        & (F.levenshtein(F.col("a.name"), F.col("b.name")) == 1)
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
             F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))


def test_edit1_pairs_matches_levenshtein_verification(spark):
    """``a.name <> b.name`` keeps exactly the rows ``levenshtein = 1``
    keeps, on names that hold the wildcard, repeat under other ids, are
    empty or NULL, carry a non-BMP emoji or a combining mark, or share
    a prefix at another length."""
    names = ["a*c", "abc", "*bc", "abc", "**c", "", "", "x", None,
             "a\U0001F600c", "a\U0001F601c", "cafe\u0301", "cafe\u0300",
             "cafe", "ab", "abd", "a"]
    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got, want = edit1_pairs(df, "id", "name"), _levenshtein_form(df)
    assert got.schema == want.schema
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    # the wildcard pairs, one emoji substitution and the empty/one-char
    # insertion are found; equal names and other lengths are not
    assert {(0, 1), (1, 2), (9, 10), (5, 7), (11, 12), (1, 15)} <= {
        r[:2] for r in rows}
    assert not {(1, 3), (5, 6), (11, 13), (1, 14)} & {r[:2] for r in rows}


@pytest.mark.parametrize("prefix", ["my id", "a.b", "x`y"])
def test_edit1_pairs_takes_any_column_name(spark, prefix):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "abed"), (3, "xyzw")], "id long, name string")
    plain = sorted(map(tuple, edit1_pairs(df, "id", "name").collect()))
    named = df.toDF(prefix + "_id", prefix + "_name")
    got = edit1_pairs(named, prefix + "_id", prefix + "_name")
    assert sorted(map(tuple, got.collect())) == plain == [
        (1, 2, "abcd", "abed")]
