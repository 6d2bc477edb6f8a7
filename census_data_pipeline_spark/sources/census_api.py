"""Census REST source (reference: src/api_client.py, src/census_pipeline.py:343-365).

The reference fetches eagerly on the driver with a thread pool
(census_pipeline.py:279-322). Spark-first design:

1. **Connector core** (`CensusAPIClient`): URL/param building with the
   geography predicate pushdown (`for`/`in` clauses, api_client.py:167-210),
   retry-with-backoff on 429/5xx (api_client.py:46-51), a 0.5 s rate-limit
   floor (api_client.py:32,212-217) and the 400/404 error taxonomy
   (api_client.py:157-162). The HTTP transport is injectable so tests run
   fully offline.
2. **Parse** (`response_to_dataframe`): header row -> explicit all-string
   StructType, rename through var_dict, coerce numeric casts
   (census_pipeline.py:343-365). The rows reach the JVM once, as an Arrow
   local relation (`catalog.local_frame`); every later action scans them
   inside the JVM, so re-running the lazy chain starts no Python worker.
3. **Python DataSource V2** (`CensusDataSource`, Spark 4): one input
   partition per state, so a 50-state fetch parallelizes across executors
   (replacing the reference's 4-thread pool, census_pipeline.py:300) with
   per-partition error isolation. Registered lazily; network use is
   optional and everything is testable through the injected transport.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators.cleaning import _quote, numeric_sql
from census_data_pipeline_spark.sources import catalog

BASE_URL = "https://api.census.gov/data"

# geography level -> for-clause name (reference: src/api_client.py:194-210)
GEOGRAPHY_LEVELS = {
    "state": "state",
    "county": "county",
    "tract": "tract",
    "block group": "block group",
    "place": "place",
    "zcta": "zip code tabulation area",
    "congressional district": "congressional district",
}

FetchFn = Callable[[str], list[list[str]]]


def _default_fetch(url: str) -> list[list[str]]:
    """Driver-side HTTP GET returning the census JSON payload
    (list-of-lists: header row + data rows)."""
    with urllib.request.urlopen(url, timeout=30) as resp:  # api_client.py:154
        return json.loads(resp.read().decode("utf-8"))


class CensusAPIError(Exception):
    pass


class CensusAPIClient:
    """Connector core. ``fetch`` is injectable (offline tests, mocking)."""

    RATE_LIMIT_DELAY = 0.5  # reference: src/api_client.py:32
    MAX_RETRIES = 3  # reference: src/api_client.py:46-51

    def __init__(self, api_key: str | None = None, fetch: FetchFn | None = None):
        self.api_key = api_key
        self.fetch = fetch or _default_fetch
        self._last_request_ts = 0.0

    # -- URL building with geography predicate pushdown ------------------
    def build_params(
        self,
        variables: list[str],
        geography: str,
        state: str | None = None,
        county: str | None = None,
    ) -> dict[str, str]:
        """reference: src/api_client.py:167-192 (_build_params) and
        194-210 (_build_for_clause): the geography filter is pushed into
        the request itself — the source never returns rows outside the
        requested geography."""
        if geography not in GEOGRAPHY_LEVELS:
            raise ValueError(f"unsupported geography: {geography!r}")
        params = {"get": ",".join(["NAME"] + variables)}
        level = GEOGRAPHY_LEVELS[geography]
        if geography == "state":
            params["for"] = f"state:{state or '*'}"
        else:
            params["for"] = f"{level}:*"
            if state:
                in_clause = f"state:{state}"
                if county and geography in ("tract", "block group"):
                    in_clause += f" county:{county}"
                params["in"] = in_clause
        if self.api_key:
            params["key"] = self.api_key
        return params

    def build_url(
        self,
        dataset: str,
        year: int,
        variables: list[str],
        geography: str,
        state: str | None = None,
        county: str | None = None,
    ) -> str:
        params = self.build_params(variables, geography, state, county)
        return f"{BASE_URL}/{year}/{dataset}?{urllib.parse.urlencode(params)}"

    def _apply_rate_limit(self) -> None:
        # reference: src/api_client.py:212-217
        elapsed = time.time() - self._last_request_ts
        if elapsed < self.RATE_LIMIT_DELAY:
            time.sleep(self.RATE_LIMIT_DELAY - elapsed)
        self._last_request_ts = time.time()

    def request(self, url: str) -> list[list[str]]:
        """Retry 3x with exponential backoff (reference: api_client.py:46-51);
        raises CensusAPIError with the reference's 400/404 taxonomy
        (api_client.py:157-162)."""
        last_err: Exception | None = None
        for attempt in range(self.MAX_RETRIES):
            self._apply_rate_limit()
            try:
                return self.fetch(url)
            except Exception as e:  # includes HTTP errors from transport
                last_err = e
                status = getattr(e, "code", None)
                if status in (400, 404):
                    raise CensusAPIError(f"request failed ({status}): {url}") from e
                if attempt < self.MAX_RETRIES - 1:  # no dead sleep after final try
                    time.sleep(2**attempt)
        raise CensusAPIError(f"request failed after retries: {url}") from last_err

    # -- dataset endpoints (reference: src/api_client.py:53-119) ---------
    def get_acs5(self, year: int, variables, geography, state=None, county=None):
        return self.request(self.build_url("acs/acs5", year, variables, geography, state, county))

    def get_acs1(self, year: int, variables, geography, state=None, county=None):
        return self.request(self.build_url("acs/acs1", year, variables, geography, state, county))

    def get_decennial(self, year: int, variables, geography, state=None, county=None):
        # year -> endpoint dispatch (reference: src/api_client.py:88-109)
        if year == 2020:
            dataset = "dec/dhc"
        elif year in (2010, 2000):
            dataset = "dec/sf1"
        else:
            raise ValueError(f"unsupported decennial year: {year}")
        return self.request(self.build_url(dataset, year, variables, geography, state, county))

    def get_pep(self, year: int, variables, geography, state=None, county=None):
        return self.request(self.build_url("pep/population", year, variables, geography, state, county))


def _default_json_fetch(url: str) -> dict:
    """Driver-side GET of a JSON object (variables.json metadata)."""
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def get_variable_metadata(
    variable_code: str, year: int = 2022,
    fetch_json: Callable[[str], dict] | None = None,
) -> dict:
    """Single-variable metadata (reference: src/census_pipeline.py:409-423):
    GET ``.../acs/acs5/variables/<code>.json`` and return the dict.
    Driver-side metadata, not data — no Spark involvement needed."""
    fetch = fetch_json or _default_json_fetch
    url = f"{BASE_URL}/{year}/acs/acs5/variables/{variable_code}.json"
    try:
        return fetch(url)
    except Exception as e:  # noqa: BLE001 - single taxonomy, like the client
        raise CensusAPIError(f"metadata fetch failed: {url}") from e


def search_variables(
    spark: SparkSession, keyword: str, year: int = 2022,
    fetch_json: Callable[[str], dict] | None = None,
) -> DataFrame:
    """Variable-catalog search (reference: src/census_pipeline.py:426-457):
    fetch the full ``variables.json`` catalog once, filter case-insensitively
    on label OR concept, return a (variable, label, concept) DataFrame.
    The catalog is a small dimension (driver-side fetch, broadcast-sized);
    the filter is the engine's P5 lower+contains predicate."""
    fetch = fetch_json or _default_json_fetch
    url = f"{BASE_URL}/{year}/acs/acs5/variables.json"
    try:
        payload = fetch(url)
    except Exception as e:  # noqa: BLE001
        raise CensusAPIError(f"catalog fetch failed: {url}") from e
    variables = payload.get("variables", {})
    schema = T.StructType([
        T.StructField(c, T.StringType()) for c in ("variable", "label", "concept")
    ])
    table = catalog.local_frame(spark, schema, [
        list(variables),
        [meta.get("label", "") for meta in variables.values()],
        [meta.get("concept", "") for meta in variables.values()],
    ])
    kw = keyword.lower()
    return table.filter(
        F.lower(F.col("label")).contains(kw)
        | F.lower(F.col("concept")).contains(kw)
    )


def moe_variables(var_dict: dict[str, str]) -> dict[str, str]:
    """Margin-of-error code derivation: trailing 'E' -> 'M', name + '_moe'
    (reference: src/census_pipeline.py:142-148)."""
    return {
        code[:-1] + "M": f"{name}_moe"
        for code, name in var_dict.items()
        if code.endswith("E")
    }


def response_to_dataframe(
    spark: SparkSession,
    response: list[list[str]],
    var_dict: dict[str, str] | None = None,
) -> DataFrame:
    """S6 parse (reference: src/census_pipeline.py:343-365): header row is
    the schema; all values string; rename through var_dict; numeric-coerce
    every renamed variable column (cast -> NULL on bad input, matching
    ``pd.to_numeric(errors='coerce')``), both in one ``selectExpr``. A
    data row whose width differs from the header's raises ValueError
    (checked first: the transpose below would silently truncate it).

    The rows become one Arrow local relation that every re-run scans
    inside the JVM, coalesced to ONE partition — one response, one
    partition, as in the V2 source below: a local relation otherwise
    spreads its rows over every slot, which for one response only adds
    tasks and output files."""
    header, *rows = response
    for i, row in enumerate(rows):
        if len(row) != len(header):
            raise ValueError(
                f"response data row {i} has {len(row)} values, "
                f"header has {len(header)}")
    schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
    columns = list(zip(*rows)) if rows else [()] * len(header)
    df = catalog.local_frame(spark, schema, columns).coalesce(1)
    var_dict = var_dict or {}
    numeric = set(var_dict.values())
    # rename and coerce in one projection
    names = [var_dict.get(h, h) for h in header]
    return df.selectExpr(*[
        f"{numeric_sql(h) if n in numeric else _quote(h)} AS {_quote(n)}"
        for h, n in zip(header, names)
    ])


# ---------------------------------------------------------------------------
# Python DataSource V2 (Spark 4): one partition per state replaces the
# reference's ThreadPoolExecutor fan-out (census_pipeline.py:279-322).
# ---------------------------------------------------------------------------
try:  # pragma: no cover - gated on Spark >= 4
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _StatePartition(InputPartition):
        def __init__(self, state_fips: str):
            self.state_fips = state_fips

    class CensusDataSourceReader(DataSourceReader):
        def __init__(self, schema, options):
            self.schema_ = schema
            self.options = options

        def partitions(self):
            states = self.options.get("states", "").split(",")
            return [_StatePartition(s) for s in states if s]

        def read(self, partition):
            client = CensusAPIClient(api_key=self.options.get("key"))
            variables = self.options.get("variables", "").split(",")
            year = int(self.options.get("year", "2022"))
            geography = self.options.get("geography", "county")
            resp = client.get_acs5(year, variables, geography, state=partition.state_fips)
            for row in resp[1:]:
                yield tuple(row)

    class CensusDataSource(DataSource):
        """spark.read.format("census_acs5") with per-state partitions.
        Geography filters are pushed into the request URL (P7)."""

        @classmethod
        def name(cls):
            return "census_acs5"

        def schema(self):
            variables = self.options.get("variables", "").split(",")
            fields = ["NAME string"] + [f"`{v}` string" for v in variables if v]
            fields += ["state string"]
            geography = self.options.get("geography", "county")
            if geography in ("county", "tract", "block group"):
                fields.append("county string")
            if geography in ("tract", "block group"):
                fields.append("tract string")
            if geography == "block group":
                fields.append("`block group` string")
            return ", ".join(fields)

        def reader(self, schema):
            return CensusDataSourceReader(schema, self.options)

    HAS_DATASOURCE_V2 = True
except ImportError:  # pragma: no cover
    HAS_DATASOURCE_V2 = False


def register_census_datasource(spark: SparkSession) -> bool:
    """Register the V2 source if this Spark supports it."""
    if HAS_DATASOURCE_V2:
        spark.dataSource.register(CensusDataSource)
        return True
    return False
