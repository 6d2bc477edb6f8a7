"""census_data_pipeline_spark — PySpark-native analytics engine with the
query/data-processing capabilities of tasnim966937/census-data-pipeline
(reference public API: src/__init__.py:29-42), re-architected for Spark
(lazy DataFrames, Catalyst, 100 TB-scale design) and extended with
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns, event-time windows).

Reference-API mapping (every name in the reference's ``__all__`` has an
equivalent here):

| reference (src/__init__.py)     | this engine                              |
|---------------------------------|------------------------------------------|
| ``CensusPipeline``              | ``CensusSparkPipeline`` (lazy chain, materialized once at the boundary join) |
| ``CensusAPIClient``             | ``CensusAPIClient`` (injectable HTTP)    |
| ``GeographyManager``            | ``sources.tiger`` (GeoParquet ingest) + ``operators.geoid`` |
| ``DataTransformer``             | ``operators.{cleaning,rates,normalize,change,rollup,index}`` |
| ``DataExporter``                | ``export`` (format dispatcher)           |
| ``PostGISExporter``             | ``to_jdbc`` + ``execute_sql``            |
| ``FIPS_CODES``                  | ``FIPS_CODES`` (fips -> state name)      |
| ``STATE_NAME_TO_FIPS``          | ``STATE_NAME_TO_FIPS``                   |
| ``get_variable_metadata``       | ``get_variable_metadata``                |
| ``search_variables``            | ``search_variables`` (returns DataFrame) |
| ``parse_geoid`` / ``build_geoid`` | ``parse_geoid`` / ``build_geoid``      |
"""

from census_data_pipeline_spark.operators.geoid import build_geoid, parse_geoid
from census_data_pipeline_spark.operators.joins import (
    STATE_FIPS,
    resolve_state_fips,
)
from census_data_pipeline_spark.pipeline import CensusSparkPipeline
from census_data_pipeline_spark.session import apply_runtime_confs, get_spark
from census_data_pipeline_spark.sources.census_api import (
    CensusAPIClient,
    CensusAPIError,
    get_variable_metadata,
    search_variables,
)
from census_data_pipeline_spark.sources.exporters import (
    execute_sql,
    export,
    to_jdbc,
)

# Reference-shaped lookup dims (reference: src/geography.py:20-34, :37).
FIPS_CODES: dict[str, str] = {fips: name for fips, (name, _ab) in STATE_FIPS.items()}
STATE_NAME_TO_FIPS: dict[str, str] = {name: fips for fips, name in FIPS_CODES.items()}

__all__ = [
    "get_spark",
    "apply_runtime_confs",
    "CensusSparkPipeline",
    "CensusAPIClient",
    "CensusAPIError",
    "get_variable_metadata",
    "search_variables",
    "export",
    "to_jdbc",
    "execute_sql",
    "parse_geoid",
    "build_geoid",
    "resolve_state_fips",
    "FIPS_CODES",
    "STATE_NAME_TO_FIPS",
    "STATE_FIPS",
]
