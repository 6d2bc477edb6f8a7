"""TIGER boundary source → GeoParquet lake (reference: src/geography.py).

The reference downloads cartographic-boundary shapefiles per
(geography, year, resolution, state) and caches them as GPKG
(geography.py:64-97,184-216). Spark-first design: a one-time **ingest job**
writes boundaries to a GeoParquet-style lake — geometry carried as a WKT
string plus a binary column tagged by an explicit `geometry_encoding`
marker ('wkt-utf8' in this image; 'wkb' once a shapely/Sedona-backed
ingest encodes real WKB) with a `crs` table property — and every query
reads plain parquet. The lake *is* the cache (S8); geometry predicates can
later upgrade to Apache Sedona without changing the storage layout.

Scale: boundary tables are small (~85k tracts nationally) — always
broadcast-joined against attribute tables (operators/joins.join_boundaries).
The lake is partitioned by state FIPS so state-scoped loads prune.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.sources import catalog

TIGER_BASE = "https://www2.census.gov/geo/tiger/GENZ{year}/shp"

# TIGER layer naming: national files for state/county, per-state for
# tract/block group (reference: src/geography.py:148-182).
_NATIONAL_LEVELS = {"state": "state", "county": "county"}
_STATE_LEVELS = {"tract": "tract", "block group": "bg"}

# TIGER GEOID column per level (reference: src/census_pipeline.py:380-388)
TIGER_GEOID_COLUMNS = {
    "state": "STATEFP",
    "county": "GEOID",
    "tract": "GEOID",
    "block group": "GEOID",
}


def build_tiger_url(geography: str, year: int, resolution: str = "500k",
                    state_fips: str | None = None) -> str:
    """Cartographic-boundary zip URL (reference: src/geography.py:199-216,
    _build_tiger_url). National file for state/county; per-state file for
    tract/block-group."""
    if geography in _NATIONAL_LEVELS:
        name = f"cb_{year}_us_{_NATIONAL_LEVELS[geography]}_{resolution}"
    elif geography in _STATE_LEVELS:
        if not state_fips:
            raise ValueError(f"{geography} boundaries require state_fips")
        name = f"cb_{year}_{state_fips}_{_STATE_LEVELS[geography]}_{resolution}"
    else:
        raise ValueError(f"unsupported geography: {geography!r}")
    return f"{TIGER_BASE.format(year=year)}/{name}.zip"


# ``normalize_boundaries``' output schema, nullability included.
_BOUNDARY_SCHEMA = T.StructType([
    T.StructField("GEOID", T.StringType()),
    T.StructField("geometry", T.StringType()),
    T.StructField("geometry_bytes", T.BinaryType()),
    T.StructField("geometry_encoding", T.StringType(), nullable=False),
])


def boundaries_from_records(
    spark: SparkSession,
    records: Iterable[tuple[str, str]],
) -> DataFrame:
    """Build a boundary DataFrame from (GEOID, wkt) records — the offline
    ingest path used by tests; the online path would read the shapefile with
    geopandas on the driver (small data) and pass records here.

    The records are already on the driver, so ``normalize_boundaries``
    runs here in Python: the first record per GEOID is kept (a NULL
    GEOID counts as one key, as in ``dropDuplicates``), and the binary
    and encoding columns are filled in. The result is one
    ``catalog.local_frame`` with ``normalize_boundaries``' schema, which
    ``joins.join_boundaries`` recognizes as key-unique and joins without
    a dedup shuffle."""
    first: dict = {}
    for geoid, wkt in records:
        first.setdefault(geoid, wkt)
    wkts = list(first.values())
    return catalog.local_frame(spark, _BOUNDARY_SCHEMA, [
        list(first),
        wkts,
        [None if w is None else w.encode("utf-8") for w in wkts],
        ["wkt-utf8"] * len(wkts),
    ])


def normalize_boundaries(df: DataFrame, geoid_col: str = "GEOID",
                         wkt_col: str = "geometry") -> DataFrame:
    """Canonical boundary shape: GEOID (deduped — SURVEY.md §7.3 right-join
    blowup risk), geometry WKT, a binary geometry column, and an explicit
    ``geometry_encoding`` marker.

    Without shapely/Sedona in the image, the binary column carries the
    WKT's UTF-8 bytes, and ``geometry_encoding`` says so ('wkt-utf8').
    When ingest is upgraded to emit real WKB it writes 'wkb' instead —
    the marker is persisted to the lake, so readers and the PostGIS
    promotion step can tell mixed-vintage partitions apart instead of
    mis-parsing bytes."""
    out = df
    if geoid_col != "GEOID":
        out = out.withColumnRenamed(geoid_col, "GEOID")
    if wkt_col != "geometry":
        out = out.withColumnRenamed(wkt_col, "geometry")
    return (
        out.dropDuplicates(["GEOID"])
        .withColumn("geometry_bytes", F.encode(F.col("geometry"), "UTF-8"))
        .withColumn("geometry_encoding", F.lit("wkt-utf8"))
    )


def ingest_boundaries(
    df: DataFrame,
    lake_path: str,
    crs: str = "EPSG:4326",
) -> None:
    """One-time GeoParquet-style ingest (replaces the GPKG cache,
    reference: src/geography.py:184-197). Partitioned by state prefix so
    state-scoped queries prune; `crs` recorded alongside."""
    (
        df.withColumn("state_fips", F.substring("GEOID", 1, 2))
        .withColumn("crs", F.lit(crs))
        .write.mode("overwrite")
        .partitionBy("state_fips")
        .parquet(lake_path)
    )


def load_boundaries(spark: SparkSession, lake_path: str,
                    state_fips: str | None = None) -> DataFrame:
    df = spark.read.parquet(lake_path)
    if state_fips:
        df = df.filter(F.col("state_fips") == state_fips)  # partition pruning
    return df
