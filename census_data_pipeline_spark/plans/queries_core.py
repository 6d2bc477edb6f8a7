"""Core reference-surface queries (SURVEY.md §2.1-§2.9) on the test lake.

Every query here exercises a specific engine operator and carries a DuckDB
oracle. FIXTURES.md's role mapping applies: region←nation←customer plays
the state←county←tract hierarchy, lineitem/orders are the attribute facts.

Float discipline: aggregate outputs are rounded (4-6 dp) on BOTH sides so
summation-order ulp noise can never flip the driver's value hash; rounding
units sit >=5 orders of magnitude above double noise at these magnitudes.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators import (
    change,
    cleaning,
    geoid,
    index,
    joins,
    normalize,
    rollup,
    skew,
    topk,
)
from census_data_pipeline_spark.operators.rates import derive_demographics, safe_rate
from census_data_pipeline_spark.plans.registry import query
from census_data_pipeline_spark.sources.catalog import load_table, local_frame
from census_data_pipeline_spark.streaming import joins as stream_joins
from census_data_pipeline_spark.streaming import windows


# ---------------------------------------------------------------------------
# M0 flagship (SURVEY.md §7.1): the multi-state-comparison pipeline shape —
# attribute fact ⋈ broadcast dims → grouped multi-agg (A2) → sort (T2).
# Mirrors examples/multi_state_comparison.py:53-127.
# ---------------------------------------------------------------------------
@query(
    "flagship_regional_rollup",
    oracle="""
    SELECT r_name, n_name,
           count(c_custkey) AS n_customers,
           round(sum(c_acctbal), 4) AS total_acctbal,
           round(avg(c_acctbal), 4) AS avg_acctbal,
           round(median(c_acctbal), 4) AS median_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def flagship_regional_rollup(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    enriched = joins.dim_lookup(
        joins.dim_lookup(c, n, on=c.c_nationkey == n.n_nationkey, how="inner"),
        r,
        on=n.n_regionkey == r.r_regionkey,
        how="inner",
    )
    summary = rollup.grouped_summary(
        enriched,
        ["r_name", "n_name"],
        [
            ("count", "c_custkey", "n_customers"),
            ("sum", "c_acctbal", "total_acctbal"),
            ("avg", "c_acctbal", "avg_acctbal"),
            ("median", "c_acctbal", "median_acctbal"),
        ],
    )
    return summary.select(
        "r_name",
        "n_name",
        "n_customers",
        F.round("total_acctbal", 4).alias("total_acctbal"),
        F.round("avg_acctbal", 4).alias("avg_acctbal"),
        F.round("median_acctbal", 4).alias("median_acctbal"),
    ).orderBy(F.desc("total_acctbal"))


# ---------------------------------------------------------------------------
# A2/A3: TPC-H-Q1-shaped pricing summary — filter pushdown + 8-agg groupBy.
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# T1: global top-k with deterministic tiebreak (nlargest semantics).
# ---------------------------------------------------------------------------
@query(
    "top5_customers",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5
    """,
)
def top5_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return topk.top_k(c, by="c_acctbal", k=5, tiebreak=["c_custkey"])


# ---------------------------------------------------------------------------
# P5: case-insensitive substring catalog search
# (reference: census_pipeline.py:444-455 search_variables).
# ---------------------------------------------------------------------------
@query(
    "part_catalog_search",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE contains(lower(p_type), 'econ') OR contains(lower(p_name), 'econ')
    """,
)
def part_catalog_search(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.lower(F.col("p_type")).contains("econ")
        | F.lower(F.col("p_name")).contains("econ")
    ).select("p_partkey", "p_name", "p_type")


# ---------------------------------------------------------------------------
# S9/S10: variable-catalog search (reference: census_pipeline.py:409-457) —
# the catalog is a literal dimension (VALUES on both sides); the search is
# the case-insensitive substring filter over label OR concept.
# ---------------------------------------------------------------------------
_CATALOG = [
    ("B01003_001E", "Estimate!!Total", "TOTAL POPULATION"),
    ("B19013_001E", "Estimate!!Median household income", "INCOME IN THE PAST 12 MONTHS"),
    ("B23025_005E", "Estimate!!Unemployed", "EMPLOYMENT STATUS"),
    ("B25077_001E", "Estimate!!Median value", "VALUE OF OWNER-OCCUPIED HOUSING UNITS"),
    ("B17001_002E", "Estimate!!Income below poverty level", "POVERTY STATUS"),
    ("B15003_022E", "Estimate!!Bachelor's degree", "EDUCATIONAL ATTAINMENT"),
]

_CATALOG_VALUES = ", ".join(
    "(" + ", ".join("'" + v.replace("'", "''") + "'" for v in row) + ")"
    for row in _CATALOG
)


@query(
    "variable_catalog_search",
    oracle=f"""
    WITH catalog(variable, label, concept) AS (VALUES {_CATALOG_VALUES})
    SELECT variable, label, concept FROM catalog
    WHERE contains(lower(label), 'income') OR contains(lower(concept), 'income')
    """,
)
def variable_catalog_search(spark, sf_dir):
    """``search_variables`` semantics (reference: census_pipeline.py:426-457):
    keyword match against label or concept, case-insensitive."""
    catalog = local_frame(
        spark, T.StructType.fromDDL("variable string, label string, concept string"),
        list(zip(*_CATALOG)),
    )
    kw = "income"
    return catalog.filter(
        F.lower(F.col("label")).contains(kw)
        | F.lower(F.col("concept")).contains(kw)
    )


# ---------------------------------------------------------------------------
# M10/P8/P9: sentinel cleaning. The lake has no census sentinels, so they
# are injected deterministically (same CASE on both sides), then cleaned by
# the engine operator (reference: transformers.py:42-72).
# ---------------------------------------------------------------------------
_INJECT_SQL = """
    SELECT l_returnflag,
           CASE WHEN l_orderkey % 7 = 0 THEN -666666666.0
                WHEN l_orderkey % 11 = 0 THEN -999999999.0
                ELSE l_quantity END AS qty_raw
    FROM lineitem
"""


def _inject_sentinels(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(-666666666.0))
        .when(F.col("l_orderkey") % 11 == 0, F.lit(-999999999.0))
        .otherwise(F.col("l_quantity"))
        .alias("qty_raw"),
    )


@query(
    "sentinel_clean_fill",
    oracle=f"""
    WITH t AS ({_INJECT_SQL}),
    c AS (SELECT l_returnflag,
                 CASE WHEN qty_raw IN (-666666666, -999999999, -888888888,
                                       -222222222, -333333333)
                      THEN 0.0 ELSE qty_raw END AS qty_raw
          FROM t)
    SELECT l_returnflag, count(*) AS n_rows,
           round(sum(qty_raw), 4) AS total_qty,
           count(CASE WHEN qty_raw = 0 THEN 1 END) AS n_filled
    FROM c GROUP BY l_returnflag
    """,
)
def sentinel_clean_fill(spark, sf_dir):
    cleaned = cleaning.clean_missing_values(
        _inject_sentinels(spark, sf_dir), columns=["qty_raw"],
        strategy="fill", fill_value=0.0,
    )
    return cleaned.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("qty_raw"), 4).alias("total_qty"),
        F.count(F.when(F.col("qty_raw") == 0, 1)).alias("n_filled"),
    )


@query(
    "sentinel_clean_drop",
    oracle=f"""
    WITH t AS ({_INJECT_SQL})
    SELECT l_returnflag, count(*) AS n_rows,
           round(sum(qty_raw), 4) AS total_qty,
           round(avg(qty_raw), 6) AS avg_qty
    FROM t
    WHERE qty_raw NOT IN (-666666666, -999999999, -888888888,
                          -222222222, -333333333)
    GROUP BY l_returnflag
    """,
)
def sentinel_clean_drop(spark, sf_dir):
    cleaned = cleaning.clean_missing_values(
        _inject_sentinels(spark, sf_dir), columns=["qty_raw"], strategy="drop"
    )
    return cleaned.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("qty_raw"), 4).alias("total_qty"),
        F.round(F.avg("qty_raw"), 6).alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# M1: rate with all three zero-denominator policies
# (reference: transformers.py:74-111; ~5% of l_discount values are 0).
# ---------------------------------------------------------------------------
@query(
    "rates_zero_policy",
    oracle="""
    WITH t AS (
      SELECT l_returnflag, l_discount,
             CASE WHEN l_discount = 0 THEN NULL
                  ELSE l_extendedprice / l_discount * 100 END AS rate_nan,
             CASE WHEN l_discount = 0
                  THEN (CASE WHEN l_extendedprice = 0
                             THEN 'nan'::DOUBLE ELSE 0.0 END)
                  ELSE l_extendedprice / l_discount * 100 END AS rate_zero,
             CASE WHEN l_discount = 0 THEN 'infinity'::DOUBLE
                  ELSE l_extendedprice / l_discount * 100 END AS rate_inf
      FROM lineitem)
    SELECT l_returnflag, count(*) AS n_rows,
           count(CASE WHEN l_discount = 0 THEN 1 END) AS n_zero_denom,
           count(CASE WHEN rate_nan IS NULL THEN 1 END) AS n_null_rate,
           round(avg(rate_zero), 2) AS avg_rate_zero,
           count(CASE WHEN isinf(rate_inf) THEN 1 END) AS n_inf
    FROM t GROUP BY l_returnflag
    """,
)
def rates_zero_policy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_returnflag",
        "l_discount",
        safe_rate("l_extendedprice", "l_discount", 100.0, "nan").alias("rate_nan"),
        safe_rate("l_extendedprice", "l_discount", 100.0, "zero").alias("rate_zero"),
        safe_rate("l_extendedprice", "l_discount", 100.0, "inf").alias("rate_inf"),
    )
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("l_discount") == 0, 1)).alias("n_zero_denom"),
        F.count(F.when(F.col("rate_nan").isNull(), 1)).alias("n_null_rate"),
        F.round(F.avg("rate_zero"), 2).alias("avg_rate_zero"),
        # abs() so BOTH signed infinities count, matching the oracle's
        # isinf() — parity must not depend on the numerator staying positive
        F.count(F.when(F.abs(F.col("rate_inf")) == float("inf"), 1)).alias("n_inf"),
    )


# ---------------------------------------------------------------------------
# M2: derived-demographics recipe batch (reference: transformers.py:113-150)
# — customer columns renamed into the demographic shape; recipes whose
# source columns are absent (pct_black etc.) must NOT be applied.
# ---------------------------------------------------------------------------
@query(
    "derived_demographics",
    oracle="""
    WITH d AS (SELECT c_custkey,
                      round(abs(c_acctbal)) AS total_population,
                      CAST(c_custkey % 50 AS DOUBLE) AS white_population,
                      CAST(c_custkey % 30 AS DOUBLE) AS unemployed,
                      CAST(c_custkey % 60 + 1 AS DOUBLE) AS labor_force
               FROM customer)
    SELECT c_custkey,
           CASE WHEN total_population = 0 THEN NULL
                ELSE round(white_population / total_population * 100, 6)
           END AS pct_white,
           round(unemployed / labor_force * 100, 6) AS unemployment_rate
    FROM d
    """,
)
def derived_demographics_query(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    shaped = c.select(
        "c_custkey",
        F.round(F.abs("c_acctbal")).alias("total_population"),
        (F.col("c_custkey") % 50).cast("double").alias("white_population"),
        (F.col("c_custkey") % 30).cast("double").alias("unemployed"),
        (F.col("c_custkey") % 60 + 1).cast("double").alias("labor_force"),
    )
    out = derive_demographics(shaped)
    assert "pct_black" not in out.columns  # absent sources skipped
    return out.select(
        "c_custkey",
        F.round("pct_white", 6).alias("pct_white"),
        F.round("unemployment_rate", 6).alias("unemployment_rate"),
    )


# ---------------------------------------------------------------------------
# M5/M6/A1: synthetic GEOID hierarchy (region=state, nation=county,
# customer=tract; FIXTURES.md role mapping) + prefix rollups.
# ---------------------------------------------------------------------------
_GEOID_SQL = """
    SELECT lpad(CAST(n_regionkey AS VARCHAR), 2, '0')
           || lpad(CAST(n_nationkey AS VARCHAR), 3, '0')
           || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS GEOID,
           c_acctbal, c_custkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def _geoided_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return df.select(
        F.concat(
            F.lpad(F.col("n_regionkey").cast("string"), 2, "0"),
            F.lpad(F.col("n_nationkey").cast("string"), 3, "0"),
            F.lpad(F.col("c_custkey").cast("string"), 6, "0"),
        ).alias("GEOID"),
        "c_acctbal",
        "c_custkey",
    )


def _rollup_query(target: str, prefix_len: int):
    oracle = f"""
    WITH g AS ({_GEOID_SQL})
    SELECT substr(GEOID, 1, {prefix_len}) AS GEOID,
           round(sum(c_acctbal), 4) AS total_acctbal,
           count(c_custkey) AS n_units
    FROM g GROUP BY 1
    """

    @query(f"geoid_rollup_{target}", oracle=oracle)
    def _q(spark, sf_dir, target=target):
        rolled = rollup.aggregate_to_geography(
            _geoided_customers(spark, sf_dir),
            target,
            {"c_acctbal": "sum", "c_custkey": "count"},
        )
        return rolled.select(
            "GEOID",
            F.round("c_acctbal", 4).alias("total_acctbal"),
            F.col("c_custkey").alias("n_units"),
        )

    return _q


_rollup_query("state", geoid.GEOID_LENGTHS["state"])
_rollup_query("county", geoid.GEOID_LENGTHS["county"])


@query(
    "geoid_parse",
    oracle=f"""
    WITH g AS ({_GEOID_SQL})
    SELECT GEOID,
           CASE WHEN length(GEOID) >= 2 THEN substr(GEOID, 1, 2) END AS state,
           CASE WHEN length(GEOID) >= 5 THEN substr(GEOID, 3, 3) END AS county,
           CASE WHEN length(GEOID) >= 11 THEN substr(GEOID, 6, 6) END AS tract,
           CASE WHEN length(GEOID) >= 12 THEN substr(GEOID, 12, 1) END AS block_group
    FROM g
    """,
)
def geoid_parse(spark, sf_dir):
    df = _geoided_customers(spark, sf_dir)
    return geoid.parse_geoid_columns(df).select(
        "GEOID", "state", "county", "tract", "block_group"
    )


@query(
    "geoid_hierarchy_rollup",
    oracle=f"""
    WITH g AS ({_GEOID_SQL}),
    k AS (SELECT substr(GEOID, 1, 2) AS state, substr(GEOID, 1, 5) AS county,
                 c_acctbal, c_custkey FROM g)
    SELECT state, county,
           round(sum(c_acctbal), 4) AS total_acctbal,
           count(c_custkey) AS n_units,
           CAST(grouping(state) AS INT) AS is_total_state,
           CAST(grouping(county) AS INT) AS is_total_county
    FROM k GROUP BY ROLLUP(state, county)
    """,
)
def geoid_hierarchy_rollup(spark, sf_dir):
    df = _geoided_customers(spark, sf_dir)
    rolled = rollup.hierarchy_rollup_sql(
        df,
        {
            "state": F.substring("GEOID", 1, 2),
            "county": F.substring("GEOID", 1, 5),
        },
        {"c_acctbal": "sum", "c_custkey": "count"},
    )
    return rolled.select(
        "state",
        "county",
        F.round("c_acctbal", 4).alias("total_acctbal"),
        F.col("c_custkey").alias("n_units"),
        F.col("is_total_state").cast("int").alias("is_total_state"),
        F.col("is_total_county").cast("int").alias("is_total_county"),
    )


# ---------------------------------------------------------------------------
# W1-W3: normalizations (agg + broadcast crossJoin — no 1-partition window).
# ---------------------------------------------------------------------------
@query(
    "normalize_minmax",
    oracle="""
    SELECT c_custkey,
           round((c_acctbal - min(c_acctbal) OVER ())
                 / (max(c_acctbal) OVER () - min(c_acctbal) OVER ()), 6)
           AS normalized
    FROM customer
    """,
)
def normalize_minmax(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = normalize.normalize_column(c, "c_acctbal", "minmax", "normalized")
    return out.select("c_custkey", F.round("normalized", 6).alias("normalized"))


@query(
    "normalize_zscore",
    oracle="""
    SELECT c_custkey,
           round((c_acctbal - avg(c_acctbal) OVER ())
                 / stddev(c_acctbal) OVER (), 6) AS normalized
    FROM customer
    """,
)
def normalize_zscore(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = normalize.normalize_column(c, "c_acctbal", "zscore", "normalized")
    return out.select("c_custkey", F.round("normalized", 6).alias("normalized"))


@query(
    "normalize_robust",
    oracle="""
    WITH s AS (SELECT quantile_cont(c_acctbal, 0.5) AS med,
                      quantile_cont(c_acctbal, 0.25) AS q1,
                      quantile_cont(c_acctbal, 0.75) AS q3
               FROM customer)
    SELECT c_custkey, round((c_acctbal - med) / (q3 - q1), 6) AS normalized
    FROM customer, s
    """,
)
def normalize_robust(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = normalize.normalize_column(c, "c_acctbal", "robust", "normalized")
    return out.select("c_custkey", F.round("normalized", 6).alias("normalized"))


# ---------------------------------------------------------------------------
# M3: weighted composite index (reference: transformers.py:190-231).
# ---------------------------------------------------------------------------
@query(
    "weighted_index_parts",
    oracle="""
    WITH s AS (SELECT min(p_retailprice) AS lo1, max(p_retailprice) AS hi1,
                      min(p_size) AS lo2, max(p_size) AS hi2 FROM part)
    SELECT p_partkey,
           round((p_retailprice - lo1) / (hi1 - lo1) * 0.7
                 + (p_size - lo2) / (hi2 - lo2) * 0.3, 6) AS composite_index
    FROM part, s
    """,
)
def weighted_index_parts(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    out = index.create_index(p, ["p_retailprice", "p_size"], [0.7, 0.3])
    return out.select(
        "p_partkey", F.round("composite_index", 6).alias("composite_index")
    )


# ---------------------------------------------------------------------------
# J2/M4: temporal change self-join (reference: transformers.py:233-277) —
# orders 1995 vs 1996 per customer as the two snapshots.
# ---------------------------------------------------------------------------
@query(
    "change_over_time",
    oracle="""
    WITH t1 AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS s
                FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
         t2 AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS s
                FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
    SELECT t1.o_custkey, t1.s AS spend_t1, t2.s AS spend_t2,
           round(t2.s - t1.s, 4) AS spend_change,
           CASE WHEN t1.s = 0 THEN NULL
                ELSE round((t2.s - t1.s) / t1.s * 100, 6) END AS spend_pct_change
    FROM t1 JOIN t2 USING (o_custkey)
    """,
)
def change_over_time(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")

    def period(year: int):
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 4).alias("spend"))
        )

    out = change.calculate_change(period(1995), period(1996), "spend", join_on="o_custkey")
    return out.select(
        "o_custkey",
        "spend_t1",
        "spend_t2",
        F.round("spend_change", 4).alias("spend_change"),
        F.round("spend_pct_change", 6).alias("spend_pct_change"),
    )


# ---------------------------------------------------------------------------
# J1: boundary right-join semantics — all attribute rows kept, NULL geometry
# on miss (reference: census_pipeline.py:270-272).
# ---------------------------------------------------------------------------
@query(
    "boundaries_right_join",
    oracle="""
    SELECT c_custkey, lpad(CAST(c_nationkey AS VARCHAR), 3, '0') AS GEOID,
           CASE WHEN c_nationkey < 15
                THEN 'POINT(' || c_nationkey || ' 0)' END AS geometry
    FROM customer
    """,
)
def boundaries_right_join(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    boundaries = n.filter(F.col("n_nationkey") < 15).select(
        F.lpad(F.col("n_nationkey").cast("string"), 3, "0").alias("GEOID"),
        F.concat(
            F.lit("POINT("), F.col("n_nationkey").cast("string"), F.lit(" 0)")
        ).alias("geometry"),
    )
    attrs = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.lpad(F.col("c_nationkey").cast("string"), 3, "0").alias("GEOID"),
    )
    return joins.join_boundaries(attrs, boundaries).select(
        "c_custkey", "GEOID", "geometry"
    )


# ---------------------------------------------------------------------------
# J3: broadcast dimension lookup chain (reference: the FIPS dict .map()).
# ---------------------------------------------------------------------------
@query(
    "dim_lookup_customer",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def dim_lookup_customer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    out = joins.dim_lookup(c, n, on=c.c_nationkey == n.n_nationkey, how="inner")
    out = joins.dim_lookup(out, r, on=n.n_regionkey == r.r_regionkey, how="inner")
    return out.select("c_custkey", "c_name", "n_name", "r_name")


# ---------------------------------------------------------------------------
# W-ext: top-k per group (row_number window; SURVEY.md §2.5 extension).
# ---------------------------------------------------------------------------
@query(
    "topk_per_nation",
    oracle="""
    WITH r AS (SELECT n_name, c_custkey, c_acctbal,
                      row_number() OVER (PARTITION BY n_name
                                         ORDER BY c_acctbal DESC, c_custkey)
                      AS "rank"
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT n_name, c_custkey, c_acctbal, "rank" FROM r WHERE "rank" <= 3
    """,
)
def topk_per_nation(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "n_name", "c_custkey", "c_acctbal"
    )
    out = topk.top_k_per_group(
        df, ["n_name"], by="c_acctbal", k=3, tiebreak=["c_custkey"]
    )
    return out.select(
        "n_name", "c_custkey", "c_acctbal", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# B1/U1: union of per-partition fetches (reference: census_pipeline.py:319).
# ---------------------------------------------------------------------------
@query(
    "union_batch_states",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 4) AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def union_batch_states(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    halves = [
        c.filter(F.col("c_custkey") % 2 == 0),
        c.filter(F.col("c_custkey") % 2 == 1),
    ]
    from functools import reduce
    from pyspark.sql import DataFrame

    combined = reduce(DataFrame.unionByName, halves)
    return combined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# P3: coerce-to-null numeric cast (reference: census_pipeline.py:361-363).
# ---------------------------------------------------------------------------
@query(
    "numeric_coerce",
    oracle="""
    WITH t AS (SELECT TRY_CAST(CASE WHEN p_partkey % 5 = 0 THEN 'not-a-number'
                                    ELSE CAST(p_retailprice AS VARCHAR) END
                               AS DOUBLE) AS price
               FROM part)
    SELECT count(*) AS n_rows, count(price) AS n_parsed,
           round(sum(price), 4) AS total_price
    FROM t
    """,
)
def numeric_coerce(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    df = p.select(
        F.when(F.col("p_partkey") % 5 == 0, F.lit("not-a-number"))
        .otherwise(F.col("p_retailprice").cast("string"))
        .alias("price")
    )
    coerced = cleaning.coerce_numeric(df, ["price"])
    return coerced.agg(
        F.count("*").alias("n_rows"),
        F.count("price").alias("n_parsed"),
        F.round(F.sum("price"), 4).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Skew: two-phase salted aggregation == plain groupBy (exactness check).
# ---------------------------------------------------------------------------
@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type, count(value) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 6) AS avg_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        ["event_type"],
        [
            ("count", "value", "n_events"),
            ("sum", "value", "sum_value"),
            ("avg", "value", "avg_value"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
        ],
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("avg_value", 6).alias("avg_value"),
        "min_value",
        "max_value",
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT o_orderstatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def skew_salted_join(spark, sf_dir):
    """Salted fact-fact join (operators/skew.salted_join): hot order keys
    spread over 8 reducers, orders side replicated x8 — result identical
    to the plain join (the oracle IS the plain join)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = skew.salted_join(
        li.withColumnRenamed("l_orderkey", "okey"),
        o.withColumnRenamed("o_orderkey", "okey"),
        ["okey"],
        n_salts=8,
    )
    return joined.groupBy("o_orderstatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# §2.9 event-time windows (batch-mode over events; same code runs streaming).
# ---------------------------------------------------------------------------
@query(
    "events_tumbling_1h",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_1h(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = windows.tumbling_window_agg(
        ev, "ts", "1 hour", ["event_type"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "events_sliding_1h_30m",
    oracle="""
    WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b30,
                      event_type, value FROM events),
         w AS (SELECT b30 AS ws, event_type, value FROM b
               UNION ALL
               SELECT b30 - INTERVAL '30 minutes', event_type, value FROM b)
    SELECT epoch_us(ws) AS window_start_us, event_type,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def events_sliding_1h_30m(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = windows.sliding_window_agg(
        ev, "ts", "1 hour", "30 minutes", ["event_type"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "events_hypertable_rollup",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('day', ts) AS day_b,
                      date_trunc('hour', ts) AS hour_b, value
               FROM events)
    SELECT event_type, epoch_us(day_b) AS day_us, epoch_us(hour_b) AS hour_us,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM b
    GROUP BY GROUPING SETS ((event_type, day_b), (event_type, day_b, hour_b))
    """,
)
def events_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: one pass emits BOTH the hourly
    and the daily rollup via GROUPING SETS (hour rows carry hour_us, day
    rows carry hour_us = NULL). At 100 TB this is one shuffle with map-side
    partials instead of two separate aggregation jobs; with the events lake
    partitioned by day the partials are partition-local."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day_b"),
        F.date_trunc("hour", "ts").alias("hour_b"),
        "value",
    )
    out = ev.groupingSets(
        [["event_type", "day_b"], ["event_type", "day_b", "hour_b"]],
        "event_type", "day_b", "hour_b",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return out.select(
        "event_type",
        F.unix_micros("day_b").alias("day_us"),
        F.unix_micros("hour_b").alias("hour_us"),
        "n_events",
        "total_value",
    )


@query(
    "events_session_5m",
    oracle="""
    WITH f AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
               FROM f)
    SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM g GROUP BY user_id, sid
    """,
)
def events_session_5m(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = windows.session_window_agg(
        ev, "ts", "5 minutes", ["user_id"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "streaming_tumbling_1h",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_1h(spark, sf_dir):
    """The tumbling-window aggregation executed through a REAL Structured
    Streaming query (parquet source -> watermark -> window agg -> memory
    sink, drained synchronously), then returned as the sink's batch result —
    so actual streaming execution is held to the same SQL oracle as the
    batch form (events_tumbling_1h). The µs-precision events are staged to
    a temp dir because streaming sources read the raw parquet schema (the
    nanos shim is a batch-read conf)."""
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_events_")
    staged = staged_root + "/events"
    batch = load_table(spark, sf_dir, "events")
    batch.write.mode("overwrite").parquet(staged)

    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema
    )
    agg = windows.tumbling_window_agg(
        windows.with_watermark(stream, "ts", "1 minute"),
        "ts", "1 hour", ["event_type"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    sink = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        # the memory sink holds the results; the staged parquet copy is
        # no longer needed — remove it so repeated invocations don't
        # accumulate full copies of the events table under /tmp
        import shutil

        shutil.rmtree(staged_root, ignore_errors=True)
    out = spark.table(sink)
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "streaming_enriched_rollup",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS n_events,
           round(sum(value * CASE event_type WHEN 'purchase' THEN 2.0
                                             WHEN 'click' THEN 0.5
                                             ELSE 1.0 END), 4)
             AS weighted_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_enriched_rollup(spark, sf_dir):
    """Stream-STATIC join (§2.9): a real Structured Streaming source
    enriched against a broadcast-sized static dimension (event_type ->
    weight) before the watermarked tumbling aggregate — the standard
    streaming-enrichment pattern (no state needed for the join; the dim is
    rebroadcast per micro-batch). Drained through a memory sink and held
    to the batch SQL oracle."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_enrich_")
    staged = staged_root + "/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(staged)

    weights = local_frame(
        spark, T.StructType.fromDDL("event_type string, weight double"),
        [["purchase", "click"], [2.0, 0.5]],
    )
    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema
    )
    enriched = (
        windows.with_watermark(stream, "ts", "1 minute")
        .join(F.broadcast(weights), "event_type", "left")
        .withColumn("wvalue", F.col("value") * F.coalesce("weight", F.lit(1.0)))
    )
    agg = windows.tumbling_window_agg(
        enriched, "ts", "1 hour", ["event_type"],
        [("count", "*", "n_events"), ("sum", "wvalue", "weighted_value")],
    )
    sink = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        F.round("weighted_value", 4).alias("weighted_value"),
    )


@query(
    "streaming_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us,
           round(p.value, 4) AS purchase_value
    FROM events c JOIN events p ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def streaming_interval_join(spark, sf_dir):
    """STREAM-STREAM join (§2.9, streaming/joins.interval_equi_join):
    clicks and purchases as two REAL watermarked streams, inner-joined on
    user with purchase_ts in [click_ts, click_ts + 4h] — the stateful
    StreamingSymmetricHashJoin whose buffered state Spark expires from
    the watermark + range bound. Drained through an append-mode memory
    sink and held to the identical batch SQL oracle."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_join_")
    staged = staged_root + "/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema

    clicks = (
        windows.stream_from_parquet(spark, staged, schema)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id", F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        windows.stream_from_parquet(spark, staged, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = stream_joins.interval_equi_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        lower="0 seconds", upper="4 hours",
    )
    sink = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        "user_id", "click_id", "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, event_type, round(value, 4) AS value
    FROM events
    """,
)
def streaming_dedup_events(spark, sf_dir):
    """Exactly-once repair on a duplicating source, run as a REAL
    stream: the staged feed carries every event TWICE (the classic
    at-least-once replay), and ``dropDuplicatesWithinWatermark`` on the
    event id collapses them with bounded state — the oracle is simply
    the distinct original events. The duplicated copies are staged into
    one directory read at stream start, so replays land inside the
    dedup state's watermark horizon (the operator's documented
    contract: duplicates must arrive within the delay)."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_dedup_")
    staged = staged_root + "/events"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.unionAll(ev).write.mode("overwrite").parquet(staged)

    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema
    )
    deduped = windows.dedup_in_stream(
        stream, ["event_id"], "ts", "1 minute"
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )


@query(
    "streaming_ohlc_hourly",
    oracle="""
    WITH r AS (SELECT date_trunc('hour', ts) AS bucket, event_type, value,
                      row_number() OVER (
                        PARTITION BY date_trunc('hour', ts), event_type
                        ORDER BY ts, event_id) AS rn_a,
                      row_number() OVER (
                        PARTITION BY date_trunc('hour', ts), event_type
                        ORDER BY ts DESC, event_id DESC) AS rn_d
               FROM events)
    SELECT epoch_us(bucket) AS bucket_us, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_samples
    FROM r GROUP BY bucket, event_type
    """,
)
def streaming_ohlc_hourly(spark, sf_dir):
    """OHLC downsampling through a REAL Structured Streaming query —
    min_by/max_by with the deterministic (ts, id) tie key run as a
    stateful windowed aggregation (parquet stream -> watermark ->
    window agg -> complete-mode memory sink), held to the same oracle
    as the batch form (events_ohlc_hourly). Proves the order-sensitive
    open/close aggregates are micro-batch-safe: min_by/max_by merge
    associatively over the struct key, so arrival order across batches
    cannot change the result."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_ohlc_")
    staged = staged_root + "/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(staged)

    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema
    )
    key = F.struct("ts", "event_id")
    agg = (
        windows.with_watermark(stream, "ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_samples"),
        )
    )
    sink = f"stream_ohlc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        F.unix_micros(F.col("window.start")).alias("bucket_us"),
        "event_type", "open", "high", "low", "close", "n_samples",
    )


@query(
    "streaming_interval_join_outer",
    oracle="""
    WITH wm AS (SELECT least(
                  (SELECT max(ts) FROM events WHERE event_type = 'click'),
                  (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
                - INTERVAL 1 MINUTE AS w),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, value
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.user_id, c.click_id, p.purchase_id, c.cts, p.pts, p.value
          FROM c LEFT JOIN p ON c.user_id = p.user_id
            AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 4 HOUR)
    SELECT user_id, click_id, purchase_id,
           epoch_us(cts) AS click_ts_us,
           epoch_us(pts) AS purchase_ts_us,
           round(value, 4) AS purchase_value
    FROM j CROSS JOIN wm
    WHERE purchase_id IS NOT NULL OR cts + INTERVAL 4 HOUR < w
    """,
)
def streaming_interval_join_outer(spark, sf_dir):
    """STREAM-STREAM LEFT-OUTER interval join — the 'clicked but never
    purchased within 4 h' stream. Matched rows emit like the inner
    form; an unmatched click emits its NULL row only once the global
    watermark (min over both inputs of max-event-time − 1 min) passes
    its horizon — so the oracle keeps unmatched clicks ONLY where
    cts + 4 h < watermark, exactly the state-eviction rule Spark
    derives. Boundary-safe on this lake: no click's horizon falls
    within 5 s of the final watermark (verified at sf0.01). The second
    processAllAvailable cycle drains the post-batch eviction."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_loj_")
    staged = staged_root + "/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema

    clicks = (
        windows.stream_from_parquet(spark, staged, schema)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id", F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        windows.stream_from_parquet(spark, staged, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = stream_joins.interval_equi_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        lower="0 seconds", upper="4 hours", how="left_outer",
    )
    sink = f"stream_loj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        q.processAllAvailable()  # drain post-batch outer-row eviction
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        "user_id", "click_id", "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS total_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
           AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("total_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


@query(
    "streaming_session_5m",
    oracle="""
    WITH f AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
               FROM f)
    SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM g GROUP BY user_id, sid
    """,
)
def streaming_session_5m(spark, sf_dir):
    """REFERENCE FORM — NOT the production choice: complete mode keeps
    EVERY session ever seen in the state store (state grows with input;
    measured state_rows_peak ≈ input rows, BENCH_STREAMING_r06). Use
    ``streaming_session_5m_append`` — the append-mode form registered
    beside this one — for anything long-running: closed sessions emit
    once and EVICT, so state is bounded by the open tail.

    This query exists to value-check the merging-session-state operator
    itself (`F.session_window` + watermark: Spark's
    UpdatingSessionsExec / MergingSessionsExec path, where overlapping
    per-key sessions MERGE as events arrive, unlike fixed-window
    tumbling state): complete-mode memory sink drained synchronously,
    held to the same gaps-and-islands SQL oracle as the batch form
    (events_session_5m) — complete mode retains even sessions the
    watermark would evict, which is exactly what makes the full oracle
    comparison possible."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_session_")
    staged = staged_root + "/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(staged)

    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema
    )
    agg = windows.session_window_agg(
        windows.with_watermark(stream, "ts", "1 minute"),
        "ts", "5 minutes", ["user_id"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    sink = f"stream_session_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "streaming_session_5m_append",
    oracle="""
    WITH f AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
               FROM f),
         s AS (SELECT user_id, min(ts) AS session_start,
                      max(ts) AS session_end,
                      count(*) AS n_events, sum(value) AS total_value
               FROM g GROUP BY user_id, sid),
         wm AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events)
    SELECT user_id, epoch_us(session_start) AS session_start_us,
           n_events, round(total_value, 4) AS total_value
    FROM s CROSS JOIN wm
    WHERE session_end + INTERVAL '5 minutes' <= w
    """,
)
def streaming_session_5m_append(spark, sf_dir):
    """The SCALE-SAFE sessionization (VERDICT r5 #2) — the same
    merging-session-state operator as ``streaming_session_5m`` but run
    the way production would: **append output mode** over a
    **time-ordered multi-batch replay** (8 range-disjoint chunks,
    ``maxFilesPerTrigger=1``), so the watermark advances between
    micro-batches and each closed session is emitted ONCE and evicted.
    State holds only sessions still inside the watermark horizon
    (state_rows_peak ≪ input rows in BENCH_STREAMING), where the
    complete-mode form retains every session ever seen and re-emits the
    whole result each trigger.

    Horizon-closed oracle (the ``streaming_interval_join_outer``
    discipline): append mode withholds sessions the final watermark
    (max event time − 1 min) has not passed, so the oracle keeps only
    sessions with session_end + gap ≤ watermark — exactly Spark's
    state-eviction rule. Boundary-safe on this lake: no session horizon
    ties the final watermark at sf0.001-0.1 (min margin ≫ 5 s,
    verified)."""
    import shutil
    import tempfile
    import uuid

    staged_root = tempfile.mkdtemp(prefix="stream_session_app_")
    staged = staged_root + "/events"
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    windows.stage_time_ordered_parquet(ev, "ts", staged, n_chunks=8)

    stream = windows.stream_from_parquet(
        spark, staged, spark.read.parquet(staged).schema,
        max_files_per_trigger=1,
    )
    agg = windows.session_window_agg(
        windows.with_watermark(stream, "ts", "1 minute"),
        "ts", "5 minutes", ["user_id"],
        [("count", "*", "n_events"), ("sum", "value", "total_value")],
    )
    sink = f"stream_session_app_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        q.processAllAvailable()  # drain post-batch window eviction
    finally:
        q.stop()
        shutil.rmtree(staged_root, ignore_errors=True)
    return spark.table(sink).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )
