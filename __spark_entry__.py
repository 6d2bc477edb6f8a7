"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``census_data_pipeline_spark.plans`` — one entry per
implemented operator from SURVEY.md §2 (core reference surface) and §2.11
(extension tier). Every query has an oracle entry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from census_data_pipeline_spark.plans import ORACLE, QUERIES  # noqa: E402
from census_data_pipeline_spark.session import apply_runtime_confs  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_runtime_confs(spark)
    return QUERIES["flagship_regional_rollup"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """Equivalent ANSI SQL (DuckDB dialect), one per query."""
    return dict(ORACLE)
