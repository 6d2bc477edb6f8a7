"""Tract-level demographic analysis — the reference's first end-to-end
example (examples/tract_level_analysis.py:16-143) re-expressed on the
Spark engine: fetch 14 ACS variables for one state's tracts, clean
sentinels, derive rates, join boundaries, export, summarize.

Runs fully offline against the synthetic source; pass your own ``fetch``
(or none, for the live API) to CensusSparkPipeline to run it for real.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from census_data_pipeline_spark import CensusSparkPipeline, get_spark
from census_data_pipeline_spark.operators.rates import calculate_rates, sum_columns
from census_data_pipeline_spark.operators.rollup import global_stats
from census_data_pipeline_spark.sources import tiger
from examples.synthetic_source import synthetic_fetch

VARIABLES = {
    "B01003_001E": "total_population",
    "B01002_001E": "median_age",
    "B02001_002E": "white_alone",
    "B02001_003E": "black_alone",
    "B03003_003E": "hispanic_latino",
    "B19013_001E": "median_household_income",
    "B19301_001E": "per_capita_income",
    "B17001_002E": "below_poverty_level",
    "B25001_001E": "total_housing_units",
    "B25077_001E": "median_home_value",
    "B25002_003E": "vacant_units",
    "B15003_022E": "bachelors_degree",
    "B15003_023E": "masters_degree",
    "B15003_025E": "doctorate_degree",
}

RATES = {
    "pct_white": ("white_alone", "total_population"),
    "pct_black": ("black_alone", "total_population"),
    "pct_hispanic": ("hispanic_latino", "total_population"),
    "poverty_rate": ("below_poverty_level", "total_population"),
    "vacancy_rate": ("vacant_units", "total_housing_units"),
}


def main(out_dir: str | None = None) -> int:
    out_dir = out_dir or tempfile.mkdtemp(prefix="tract_analysis_")
    spark = get_spark(app_name="tract_level_analysis")
    pipeline = CensusSparkPipeline(spark, fetch=synthetic_fetch)

    print("Fetching ACS 5-Year tract data for Ohio (synthetic source)...")
    tracts = pipeline.fetch_acs5(
        VARIABLES, geography="tract", state="39", year=2022
    )
    tracts = pipeline.clean_missing_values(tracts, list(VARIABLES.values()))

    # derived metrics (one lazy plan — nothing has executed yet)
    tracts = calculate_rates(tracts, RATES)
    tracts = sum_columns(
        tracts, "college_educated",
        ["bachelors_degree", "masters_degree", "doctorate_degree"],
    )
    tracts = tracts.withColumn(
        "pct_college", F.col("college_educated") / F.col("total_population") * 100
    )

    print("Joining boundaries...")
    boundaries = tiger.boundaries_from_records(
        spark,
        [(r.GEOID, f"POINT({i} {i})")
         for i, r in enumerate(tracts.select("GEOID").collect())],
    )
    # the join runs the lazy chain once and checkpoints it (eager, like the
    # reference's GeoDataFrame): the export and the three actions below
    # all scan that one result
    geo = pipeline.join_tiger_geometries(tracts, boundaries)

    out = f"{out_dir}/ohio_tracts_2022.parquet"
    print(f"Exporting to {out} (parquet is the engine's canonical geo sink;"
          " 'geopackage' needs geopandas)...")
    pipeline.export(geo, out, "parquet")

    n = geo.count()
    print(f"\nTotal tracts: {n}")
    stats = global_stats(geo, "median_household_income").collect()[0]
    print(f"Median household income: mean=${stats['mean']:,.0f} "
          f"median=${stats['median']:,.0f} min=${stats['min']:,.0f} "
          f"max=${stats['max']:,.0f}")
    pov = geo.agg(F.avg("poverty_rate"), F.max("poverty_rate")).collect()[0]
    print(f"Poverty rate: mean={pov[0]:.1f}% max={pov[1]:.1f}%")
    return n


if __name__ == "__main__":
    main()
