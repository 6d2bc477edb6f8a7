"""Pipeline facade (reference: src/census_pipeline.py — class CensusPipeline).

The reference's orchestrator eagerly fetches, parses, keys and joins pandas
frames. Here the fetch, clean and derive steps compose lazy DataFrames:
each returns an unevaluated plan that Catalyst fuses into one job
(SURVEY.md §3.1 design note).

The joined frame is materialized once, at the join, because N sinks share
it: ``join_tiger_geometries`` runs the fetch→clean→derive→dedup→join
chain once into a local checkpoint, and each export then scans that
checkpoint in one job instead of re-planning and re-running the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from census_data_pipeline_spark.operators import cleaning, geoid, joins, rates
from census_data_pipeline_spark.sources import census_api, exporters
from census_data_pipeline_spark.session import apply_runtime_confs


class CensusSparkPipeline:
    """Spark-first equivalent of ``CensusPipeline``
    (reference: src/census_pipeline.py:40-457)."""

    def __init__(self, spark: SparkSession, api_key: str | None = None,
                 fetch=None):
        self.spark = apply_runtime_confs(spark)
        self.client = census_api.CensusAPIClient(api_key=api_key, fetch=fetch)

    # -- read paths (reference: census_pipeline.py:102-233) --------------
    def fetch_acs5(self, variables, geography: str, state: str | None = None,
                   county: str | None = None, year: int = 2022,
                   include_moe: bool = False) -> DataFrame:
        var_dict = dict(variables) if isinstance(variables, dict) else {
            v: v for v in variables
        }  # list→dict normalization (census_pipeline.py:136-139)
        if include_moe:
            var_dict.update(census_api.moe_variables(var_dict))  # :142-148
        resp = self.client.get_acs5(year, list(var_dict), geography, state, county)
        df = census_api.response_to_dataframe(self.spark, resp, var_dict)
        return geoid.create_geoid(df, geography)  # :166

    def fetch_batch_states(self, variables, geography: str, states: list[str],
                           year: int = 2022) -> DataFrame:
        """Reference fans out a thread pool (census_pipeline.py:279-322);
        with the V2 DataSource each state is an input partition instead.
        This driver-side fallback unions per-state lazy frames."""
        from functools import reduce

        frames = [
            self.fetch_acs5(variables, geography, state=s, year=year)
            for s in states
        ]
        return reduce(DataFrame.unionByName, frames)

    # -- transform passthroughs ------------------------------------------
    clean_missing_values = staticmethod(cleaning.clean_missing_values)
    calculate_rates = staticmethod(rates.calculate_rates)
    derive_demographics = staticmethod(rates.derive_demographics)

    # -- enrich / write (reference: census_pipeline.py:237-341) ----------
    def join_tiger_geometries(self, df: DataFrame,
                              boundaries: DataFrame) -> DataFrame:
        """Right-join the boundary geometries onto ``df``
        (``joins.join_boundaries``) and materialize the result EAGERLY,
        as the reference's GeoDataFrame is: the whole chain runs here,
        once, and every later action scans the checkpoint, so all sinks
        see the same rows (one boundary per duplicated GEOID).

        The checkpoint's blocks are freed when the returned frame is
        garbage-collected; the caller owes no ``unpersist``. Like any
        ``localCheckpoint``, they live on the executors and cannot be
        recomputed from lineage if one is lost."""
        return joins.join_boundaries(df, boundaries).localCheckpoint()

    def export(self, df: DataFrame, output: str, fmt: str, **kw) -> None:
        exporters.export(df, output, fmt, **kw)
