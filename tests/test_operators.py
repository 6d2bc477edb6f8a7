"""Edge-semantics unit tests per operator module (SURVEY.md §5 item 4):
sentinel codes -> null, zero-denominator policies, ±inf -> null pct change,
right-join unmatched rows, coerce-to-null casts, GEOID prefix lengths,
tie-breaking, salted-agg exactness.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.operators import (
    change,
    cleaning,
    geoid,
    index,
    joins,
    normalize,
    rates,
    rollup,
    skew,
    topk,
)


# -- cleaning (reference: transformers.py:30-72) -------------------------
def test_sentinel_to_null_and_strategies(spark):
    df = spark.createDataFrame(
        [(1, -666666666.0), (2, -999999999.0), (3, 5.0), (4, None)],
        "id long, v double",
    )
    nan = cleaning.clean_missing_values(df, ["v"], strategy="nan")
    assert [r.v for r in nan.orderBy("id").collect()] == [None, None, 5.0, None]

    fill = cleaning.clean_missing_values(df, ["v"], strategy="fill", fill_value=0.0)
    assert [r.v for r in fill.orderBy("id").collect()] == [0.0, 0.0, 5.0, 0.0]

    drop = cleaning.clean_missing_values(df, ["v"], strategy="drop")
    assert [r.id for r in drop.collect()] == [3]

    with pytest.raises(ValueError):
        cleaning.clean_missing_values(df, ["v"], strategy="bogus")


def test_coerce_numeric_matrix(spark):
    df = spark.createDataFrame(
        [("1.5",), ("  2.5  ",), ("1e3",), ("abc",), ("",), (None,), ("-4",)],
        "v string",
    )
    out = [r.v for r in cleaning.coerce_numeric(df, ["v"]).collect()]
    assert out == [1.5, 2.5, 1000.0, None, None, None, -4.0]


@pytest.mark.parametrize("strategy", ["nan", "fill", "drop"])
def test_sql_built_cleaning_matches_column_form(spark, strategy):
    """Differential: the SQL-text expressions ``clean_missing_values``
    and ``coerce_numeric`` hand to one ``selectExpr`` vs the per-name
    Column form (``F.when(F.col(c).isin(codes), None).otherwise(...)``,
    ``F.trim(F.col(c)).cast("double")``). The reference runs on
    positional names (``toDF``), since ``F.col`` cannot take a name
    holding a backtick or a dot."""
    nan = float("nan")
    codes = cleaning.MISSING_CODES
    rows = [
        *[(float(c), c, str(c), float(c), f" {c} ") for c in codes],
        (nan, 7, "N/A", nan, "NaN"),
        (0.0, 0, "", -0.0, "-0.0"),
        (-0.0, None, "(X)", 0.0, " 12 "),
        (None, -1, "null", None, None),
        (5.5, 2**40, "-", 1e300, "**"),
        (-1.0, -666666667, " 1e3 ", -5.0, "-"),
    ]
    names = ["v", "i", "s", "block group", "we`ird.x"]
    df = spark.createDataFrame(
        rows, "v double, i bigint, s string, bg double, w string").toDF(*names)

    def column_form(frame, build, finish=None):
        pos = [f"c{k}" for k in range(len(frame.columns))]
        renamed = frame.toDF(*pos)
        out = renamed.withColumns({p: build(F.col(p)) for p in pos})
        return (finish(out, pos) if finish else out).toDF(*frame.columns)

    def clean_ref(c):
        return F.when(c.isin(*codes), F.lit(None)).otherwise(c)

    def coerce_ref(c):
        return F.trim(c).cast("double")

    def canon(frame):
        return frame.schema, [repr(tuple(r)) for r in frame.collect()]

    finish = {
        "nan": None,
        "fill": lambda out, pos: out.na.fill(0.0, subset=pos),
        "drop": lambda out, pos: out.na.drop(subset=pos),
    }[strategy]
    got = cleaning.clean_missing_values(df, names, strategy=strategy)
    want = column_form(df, clean_ref, finish)
    assert canon(got) == canon(want)
    if strategy == "nan":
        assert [r["v"] for r in got.collect()][:5] == [None] * 5
    assert canon(cleaning.coerce_numeric(df, names)) == canon(column_form(df, coerce_ref))
    # a name the frame lacks still fails analysis, as withColumns does
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        cleaning.clean_missing_values(df, ["missing"]).schema



@pytest.mark.parametrize("value", [-1, 2.5, "x'\\y", True])
def test_sql_built_fill_matches_na_fill(spark, value):
    """The "fill" strategy against ``na.fill`` (on positional names) for
    each fill-value family: numbers fill the numeric columns cast to
    their type, a string the string columns, and a bool none of these
    (the sentinel step takes no boolean column)."""
    rows = [(None, None, None, None), (float("nan"), 3, "a", 1.5),
            (-666666666.0, -999999999, "-888888888", float("nan"))]
    names = ["v", "i", "s", "we`ird.x"]
    df = spark.createDataFrame(
        rows, "v double, i bigint, s string, f float").toDF(*names)
    pos = [f"c{k}" for k in range(len(names))]
    cleaned = cleaning.clean_missing_values(df, names)
    want = cleaned.toDF(*pos).na.fill(value, subset=pos).toDF(*names)
    got = cleaning.clean_missing_values(df, names, strategy="fill",
                                        fill_value=value)
    assert got.schema == want.schema
    assert [repr(tuple(r)) for r in got.collect()] == [
        repr(tuple(r)) for r in want.collect()]

# -- rates (reference: transformers.py:74-150) ---------------------------
def test_zero_policies(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (10.0, 0.0), (-10.0, 0.0), (0.0, 0.0)], "num double, den double"
    )
    out = df.select(
        rates.safe_rate("num", "den", 100.0, "nan").alias("nan"),
        rates.safe_rate("num", "den", 100.0, "zero").alias("zero"),
        rates.safe_rate("num", "den", 100.0, "inf").alias("inf"),
    ).collect()
    assert out[0].nan == 500.0 and out[0].zero == 500.0 and out[0].inf == 500.0
    assert out[1].nan is None and out[1].zero == 0.0 and out[1].inf == float("inf")
    assert out[2].inf == float("-inf")
    assert math.isnan(out[3].inf)  # 0/0 under raw pandas division
    with pytest.raises(ValueError):
        rates.safe_rate("num", "den", handle_zero="wat")


def test_derive_demographics_presence_check(spark):
    df = spark.createDataFrame(
        [(100.0, 40.0, 10.0)], "total_population double, white_population double, unemployed double"
    )
    out = rates.derive_demographics(df)
    # pct_white applies (both cols present); unemployment_rate does not
    # (labor_force missing) — reference checks presence per recipe.
    assert "pct_white" in out.columns and "unemployment_rate" not in out.columns
    assert out.collect()[0].pct_white == 40.0


def test_sum_columns(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0)], "a double, b double, c double")
    assert rates.sum_columns(df, "s", ["a", "b", "c"]).collect()[0].s == 6.0


# -- normalize / index ---------------------------------------------------
def test_normalize_methods_exact(spark):
    df = spark.createDataFrame([(1, 0.0), (2, 5.0), (3, 10.0)], "id long, v double")
    mm = normalize.normalize_column(df, "v", "minmax", "n").orderBy("id")
    assert [r.n for r in mm.collect()] == [0.0, 0.5, 1.0]
    z = normalize.normalize_column(df, "v", "zscore", "n").orderBy("id").collect()
    assert abs(z[1].n) < 1e-12  # mean element -> 0
    rb = normalize.normalize_column(df, "v", "robust", "n").orderBy("id").collect()
    assert rb[1].n == 0.0  # median element -> 0
    with pytest.raises(ValueError):
        normalize.normalize_column(df, "v", "nope")


def test_create_index_weighted(spark):
    df = spark.createDataFrame([(0.0, 10.0), (10.0, 0.0)], "a double, b double")
    out = index.create_index(df, ["a", "b"], [3.0, 1.0]).collect()
    # row0: a_norm=0*0.75 + b_norm=1*0.25 ; row1: 0.75
    assert [round(r.composite_index, 6) for r in out] == [0.25, 0.75]
    with pytest.raises(ValueError):
        index.create_index(df, ["a", "b"], [1.0])


# -- change (reference: transformers.py:233-277) -------------------------
def test_change_inner_join_and_inf_guard(spark):
    d1 = spark.createDataFrame([("A", 10.0), ("B", 0.0), ("C", 5.0)], "GEOID string, v double")
    d2 = spark.createDataFrame([("A", 15.0), ("B", 3.0), ("D", 9.9)], "GEOID string, v double")
    out = {r.GEOID: r for r in change.calculate_change(d1, d2, "v").collect()}
    assert set(out) == {"A", "B"}  # inner join drops C and D
    assert out["A"].v_change == 5.0 and out["A"].v_pct_change == 50.0
    assert out["B"].v_pct_change is None  # pandas inf -> null


# -- geoid (reference: geography.py:219-269) -----------------------------
def test_geoid_scalar_roundtrip():
    g = geoid.build_geoid("6", "59", "180.12", "3")
    assert g == "06059018012" + "3"
    parts = geoid.parse_geoid(g)
    assert parts == {
        "state": "06", "county": "059", "tract": "018012", "block_group": "3",
    }
    assert geoid.parse_geoid("06059") == {"state": "06", "county": "059"}


def test_geoid_columns_and_prefix(spark):
    df = spark.createDataFrame(
        [("06", "059", "018012", "3")],
        '`state` string, county string, tract string, `block group` string',
    )
    g = geoid.create_geoid(df, "block group")
    row = geoid.parse_geoid_columns(g.select("GEOID")).collect()[0]
    assert (row.state, row.county, row.tract, row.block_group) == (
        "06", "059", "018012", "3",
    )
    pref = g.select(geoid.geoid_prefix("GEOID", "county").alias("p")).collect()[0].p
    assert pref == "06059"
    with pytest.raises(ValueError):
        geoid.geoid_prefix("GEOID", "galaxy")


# -- rollup / topk / skew ------------------------------------------------
def test_aggregate_to_geography(spark):
    df = spark.createDataFrame(
        [("06059018012", 1.0), ("06059018099", 3.0), ("06037000001", 10.0)],
        "GEOID string, v double",
    )
    out = {
        r.GEOID: r.v
        for r in rollup.aggregate_to_geography(df, "county", {"v": "sum"}).collect()
    }
    assert out == {"06059": 4.0, "06037": 10.0}
    state = rollup.aggregate_to_geography(df, "state", {"v": "sum"}).collect()
    assert state[0].GEOID == "06" and state[0].v == 14.0


def test_topk_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 9.0)], "id long, v double"
    )
    out = topk.top_k(df, by="v", k=2, tiebreak=["id"]).collect()
    assert [(r.id, r.v) for r in out] == [(3, 9.0), (1, 5.0)]


def test_salted_agg_matches_direct(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", 1.0)], "k string, v double"
    ).repartition(8)
    salted = {
        r.k: r
        for r in skew.salted_agg(
            df, ["k"],
            [("sum", "v", "s"), ("count", "v", "c"), ("avg", "v", "m"),
             ("min", "v", "lo"), ("max", "v", "hi")],
        ).collect()
    }
    assert salted["a"].s == sum(range(100)) and salted["a"].c == 100
    assert salted["a"].m == sum(range(100)) / 100
    assert (salted["b"].lo, salted["b"].hi) == (1.0, 1.0)
    with pytest.raises(ValueError):
        skew.salted_agg(df, ["k"], [("median", "v", "x")])


# -- joins (reference: census_pipeline.py:237-277) -----------------------
def test_join_boundaries_right_semantics(spark):
    boundaries = spark.createDataFrame(
        [("01", "POINT(1 1)"), ("01", "POINT(1 1) DUP"), ("02", "POINT(2 2)")],
        "GEOID string, geometry string",
    )
    attrs = spark.createDataFrame(
        [("01", 10.0), ("03", 30.0)], "GEOID string, v double"
    )
    out = {r.GEOID: r for r in joins.join_boundaries(attrs, boundaries).collect()}
    # all attribute rows kept; dup boundary key did NOT fan out; miss -> NULL
    assert set(out) == {"01", "03"}
    assert out["01"].geometry is not None
    assert out["03"].geometry is None


def test_resolve_state_fips():
    assert joins.resolve_state_fips("06") == "06"
    assert joins.resolve_state_fips("6") == "06"
    assert joins.resolve_state_fips("CA") == "06"
    assert joins.resolve_state_fips("california") == "06"
    with pytest.raises(ValueError):
        joins.resolve_state_fips("Atlantis")


def test_states_dim_broadcast_lookup(spark):
    dim = joins.states_dim(spark)
    facts = spark.createDataFrame([("06", 1.0), ("48", 2.0)], "fips string, v double")
    out = {r.fips: r.name for r in joins.dim_lookup(facts, dim, on="fips").collect()}
    assert out == {"06": "California", "48": "Texas"}


def test_normalize_by_group(spark):
    df = spark.createDataFrame(
        [("g1", 0.0), ("g1", 10.0), ("g2", 100.0), ("g2", 300.0)],
        "g string, v double",
    )
    mm = normalize.normalize_by_group(df, "v", ["g"], "minmax", "n")
    got = sorted([(r.g, r.v, r.n) for r in mm.collect()])
    assert got == [("g1", 0.0, 0.0), ("g1", 10.0, 1.0),
                   ("g2", 100.0, 0.0), ("g2", 300.0, 1.0)]
    with pytest.raises(ValueError):
        normalize.normalize_by_group(df, "v", ["g"], "robust")


def test_clean_missing_values_default_columns(spark):
    # columns=None must auto-detect numeric columns (incl. decimal) and
    # leave strings/intervals untouched
    df = spark.createDataFrame(
        [(-666666666.0, -666666666, "x")], "d double, i long, s string"
    ).withColumn("dec", F.lit(-999999999).cast("decimal(12,0)"))
    row = cleaning.clean_missing_values(df).collect()[0]
    assert row.d is None and row.i is None and row.dec is None
    assert row.s == "x"


def test_interpolate_linear_matches_pandas(spark):
    """Interior linear, constant tail, leading nulls stay — the pandas
    Series.interpolate('linear') default contract, checked against actual
    pandas output."""
    import pandas as pd

    from census_data_pipeline_spark.operators.interpolate import (
        interpolate_linear,
    )

    series = {
        "a": [None, 1.0, None, None, 7.0, None],
        "b": [2.0, None, 4.0, None, None, None],
    }
    rows = [
        (g, float(i), v) for g, vs in series.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "g string, t double, v double")
    got = {
        (r.g, r.t): r.out
        for r in interpolate_linear(
            df, "t", "v", group_cols=["g"], output_col="out"
        ).collect()
    }
    for g, vs in series.items():
        expect = pd.Series(vs, dtype="float64").interpolate(method="linear")
        for i, e in enumerate(expect):
            got_v = got[(g, float(i))]
            if pd.isna(e):
                assert got_v is None, (g, i)
            else:
                assert got_v == pytest.approx(e), (g, i)


def test_running_sum_scalable_equals_direct_window(spark):
    """Two-phase parallel prefix sum == plain ordered window, including
    hot groups, sparse/negative order keys, and the no-group global case."""
    import random

    from pyspark.sql import Window

    from census_data_pipeline_spark.operators.prefixsum import (
        running_sum_scalable,
    )

    rng = random.Random(11)
    rows = []
    for g, n in (("hot", 500), ("small", 3), ("one", 1)):
        keys = rng.sample(range(-1000, 5000), n)
        rows += [(g, k, rng.randint(-5, 50)) for k in keys]
    df = spark.createDataFrame(rows, "g string, o long, v long")

    w = Window.partitionBy("g").orderBy("o")
    direct = {
        (r.g, r.o): r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    for nb in (1, 4, 32):
        got = {
            (r.g, r.o): r.running_sum
            for r in running_sum_scalable(
                df, "o", "v", group_cols=["g"], n_buckets=nb
            ).collect()
        }
        assert got == direct, f"n_buckets={nb}"

    # global (no groups) form
    wg = Window.orderBy("o")
    direct_g = {
        r.o: r.c
        for r in df.withColumn("c", F.sum("v").over(wg)).collect()
    }
    got_g = {
        r.o: r.running_sum
        for r in running_sum_scalable(df, "o", "v", n_buckets=8).collect()
    }
    assert got_g == direct_g


def test_scd2_intervals_compaction_and_null_safety(spark):
    from census_data_pipeline_spark.operators.change import scd2_intervals

    df = spark.createDataFrame(
        [
            # user 1: a a b b a  -> 3 intervals (a, b, a)
            (1, 10, "a", 1), (1, 20, "a", 2), (1, 30, "b", 3),
            (1, 40, "b", 4), (1, 50, "a", 5),
            # user 2: null null x -> null interval then x (null-safe lag)
            (2, 10, None, 6), (2, 20, None, 7), (2, 30, "x", 8),
            # user 3: timestamp tie broken by event id
            (3, 10, "p", 10), (3, 10, "q", 9),
        ],
        "user_id long, ts long, status string, event_id long",
    )
    out = scd2_intervals(df, "user_id", "ts", ["status"],
                         tiebreak=["event_id"])
    rows = {(r.user_id, r.version): r for r in out.collect()}
    assert len([k for k in rows if k[0] == 1]) == 3
    assert rows[(1, 1)].status == "a" and rows[(1, 1)].valid_to == 30
    assert rows[(1, 2)].status == "b" and rows[(1, 2)].valid_to == 50
    assert rows[(1, 3)].status == "a" and rows[(1, 3)].is_current
    # nulls equal under IS DISTINCT FROM: one null interval, then x
    assert len([k for k in rows if k[0] == 2]) == 2
    assert rows[(2, 1)].status is None and rows[(2, 1)].valid_to == 30
    assert rows[(2, 2)].status == "x" and rows[(2, 2)].is_current
    # tie at ts=10: event_id 9 ("q") first, then 10 ("p")
    assert rows[(3, 1)].status == "q" and rows[(3, 2)].status == "p"
    # both windows share one shuffle on the key (count only the final
    # plan — AQE's plan string repeats nodes in its Initial Plan section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1


def test_apply_changes_merge_semantics(spark):
    from census_data_pipeline_spark.operators.change import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, val double",
    )
    changes = spark.createDataFrame(
        [
            ("U", 1, 2, "a2", 11.0),   # latest update for key 1 (seq 2)
            ("U", 1, 1, "a1", 10.5),   # superseded by seq 2
            ("D", 2, 1, "b", 20.0),    # delete key 2
            ("I", 9, 1, "z", 99.0),    # brand-new key
        ],
        "op string, id long, seq long, name string, val double",
    )
    out = apply_changes(snap, changes, ["id"], seq_col="seq")
    rows = {r.id: (r.name, r.val) for r in out.collect()}
    assert rows == {1: ("a2", 11.0), 3: ("c", 30.0), 9: ("z", 99.0)}
    # the merge is anti-join + union, never a full-outer exchange of the
    # snapshot side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan


def test_merge_aggregates_equals_direct(spark):
    from census_data_pipeline_spark.operators.rollup import merge_aggregates

    facts = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", -1.0), ("c", 9.0)],
        "k string, v double",
    )

    def partial(df):
        return df.groupBy("k").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").alias("s"), F.max("v").alias("mx"),
        )

    snap = partial(facts.filter("v >= 0"))
    delta = partial(facts.filter("v < 0"))
    merged = {r.k: r for r in merge_aggregates(
        snap, delta, ["k"],
        [("sum", "n"), ("sum", "s"), ("max", "mx")]).collect()}
    direct = {r.k: r for r in partial(facts).collect()}
    assert set(merged) == set(direct)
    for k in direct:
        assert (merged[k].n, merged[k].s, merged[k].mx) == (
            direct[k].n, direct[k].s, direct[k].mx)
    with pytest.raises(ValueError, match="non-algebraic"):
        merge_aggregates(snap, delta, ["k"], [("avg", "s")])
