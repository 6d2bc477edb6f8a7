"""Query plans: the registry maps every implemented operator to a (Spark
callable, DuckDB oracle SQL) pair. Registry order is registration order,
with the flagship first; ``tests/test_oracle_parity.py`` is the correctness
gate and checks every query against its oracle."""

# queries_core registers flagship_regional_rollup, so it must import first.
from census_data_pipeline_spark.plans import (  # noqa: F401  # isort: skip
    queries_core,
    queries_analytics,
    queries_ext,
)
from census_data_pipeline_spark.plans.registry import ORACLE, QUERIES

__all__ = ["QUERIES", "ORACLE"]
