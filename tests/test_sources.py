"""Sources: census REST connector (offline, injected transport), TIGER
boundary lake, exporters, pipeline facade."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.pipeline import CensusSparkPipeline
from census_data_pipeline_spark.sources import census_api, exporters, tiger

FAKE_RESPONSE = [
    ["NAME", "B01003_001E", "B01003_001M", "state", "county"],
    ["Autauga County, Alabama", "58805", "123", "01", "001"],
    ["Baldwin County, Alabama", "231767", "xx", "01", "003"],
]


# -- URL / predicate pushdown (reference: api_client.py:167-210) ---------
def test_build_params_pushdown():
    client = census_api.CensusAPIClient()
    p = client.build_params(["B01003_001E"], "state", state="06")
    assert p["for"] == "state:06"
    p = client.build_params(["B01003_001E"], "county", state="06")
    assert p["for"] == "county:*" and p["in"] == "state:06"
    p = client.build_params(["B01003_001E"], "tract", state="06", county="059")
    assert p["in"] == "state:06 county:059"
    p = client.build_params(["X"], "block group", state="06", county="059")
    assert p["for"] == "block group:*"
    with pytest.raises(ValueError):
        client.build_params(["X"], "continent")


def test_build_url_endpoints():
    client = census_api.CensusAPIClient(api_key="k123")
    url = client.build_url("acs/acs5", 2022, ["B01003_001E"], "state")
    assert url.startswith("https://api.census.gov/data/2022/acs/acs5?")
    assert "key=k123" in url
    with pytest.raises(ValueError):
        client.get_decennial(1990, ["P1_001N"], "state")


def test_retry_and_error_taxonomy(monkeypatch):
    monkeypatch.setattr("time.sleep", lambda s: None)
    calls = []

    def flaky(url):
        calls.append(url)
        if len(calls) < 3:
            raise OSError("transient 503")
        return FAKE_RESPONSE

    client = census_api.CensusAPIClient(fetch=flaky)
    assert client.request("http://x") == FAKE_RESPONSE
    assert len(calls) == 3  # retried twice, succeeded third (api_client.py:46-51)

    def not_found(url):
        e = OSError("404")
        e.code = 404
        raise e

    client2 = census_api.CensusAPIClient(fetch=not_found)
    with pytest.raises(census_api.CensusAPIError):  # no retry on 404
        client2.request("http://x")


def test_moe_rewrite():
    # reference: census_pipeline.py:142-148 — trailing E -> M, name + _moe
    out = census_api.moe_variables({"B01003_001E": "total_population"})
    assert out == {"B01003_001M": "total_population_moe"}


def test_response_to_dataframe_coerce(spark):
    df = census_api.response_to_dataframe(
        spark, FAKE_RESPONSE, {"B01003_001E": "total_population"}
    )
    rows = df.orderBy("county").collect()
    assert rows[0].total_population == 58805.0
    assert rows[0].NAME.startswith("Autauga")
    # 'xx' MOE column is untouched (not in var_dict) but renamed col coerced
    assert rows[1].total_population == 231767.0


def test_pipeline_facade_end_to_end(spark):
    pipe = CensusSparkPipeline(spark, fetch=lambda url: FAKE_RESPONSE)
    df = pipe.fetch_acs5(
        {"B01003_001E": "total_population"}, "county", state="01", include_moe=True
    )
    rows = df.orderBy("county").collect()
    assert rows[0].GEOID == "01001"  # state+county concat (census_pipeline.py:367-378)
    assert rows[0].total_population == 58805.0
    assert rows[1].total_population_moe is None  # 'xx' coerced to null

    batch = pipe.fetch_batch_states(
        {"B01003_001E": "pop"}, "county", states=["01", "02"]
    )
    assert batch.count() == 4  # 2 states x 2 rows (union of partitions)


# -- driver frames as Arrow local relations: differential vs the list path --
_SENTINELS = ["-666666666", "-999999999", "-888888888", "-222222222", "-333333333"]
ADVERSARIAL_RESPONSE = [
    ["NAME", "B01003_001E", "B19013_001E", "state", "county"],
    ["Doña Ana County, Nuevo México ✓", "  1200 ", None, "35", "013"],
    [None, None, "N/A", "35", "015"],
    *[[f"Sentinel {i}", v, "(X)", "35", f"{17 + i:03d}"] for i, v in enumerate(_SENTINELS)],
    ["Junk", "", "**", "35", "029"],
    ["Junk 2", "null", "-", "35", "031"],
    ["Typed", 1, 1.5, True, 12345678901234567890],
    ["Typed 2", False, -0.0, 7, None],
]


def _string_schema(names):
    from pyspark.sql import types as T

    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _reference_frame(spark, response, var_dict=None):
    """The list path, ``createDataFrame(rows, schema)``, kept inline as
    the reference."""
    header, *rows = response
    df = spark.createDataFrame(rows, _string_schema(header))
    var_dict = var_dict or {}
    return df.withColumnsRenamed(var_dict).withColumns(
        {c: F.trim(F.col(c)).cast("double") for c in var_dict.values()})


@pytest.mark.parametrize("var_dict", [
    None, {"B01003_001E": "total_population", "B19013_001E": "income"},
])
def test_response_to_dataframe_matches_list_path(spark, var_dict):
    got = census_api.response_to_dataframe(spark, ADVERSARIAL_RESPONSE, var_dict)
    want = _reference_frame(spark, ADVERSARIAL_RESPONSE, var_dict)
    rows = got.collect()
    assert got.schema == want.schema and rows == want.collect()
    typed = {r.NAME: r for r in rows}
    if var_dict is None:  # the list path's str() of non-string cells
        assert tuple(typed["Typed"])[1:] == ("1", "1.5", "true", "12345678901234567890")
        assert tuple(typed["Typed 2"])[1:] == ("false", "-0.0", "7", None)


def test_header_only_response_is_empty_frame(spark):
    header = ADVERSARIAL_RESPONSE[0]
    got = census_api.response_to_dataframe(spark, [header], {"B01003_001E": "pop"})
    want = _reference_frame(spark, [header], {"B01003_001E": "pop"})
    assert got.schema == want.schema and got.count() == 0


def test_ragged_response_row_raises():
    response = [["NAME", "state"], ["a", "01"], ["b", "02", "extra"]]
    with pytest.raises(ValueError, match="data row 1 has 3 values, header has 2"):
        census_api.response_to_dataframe(None, response)


def test_boundaries_match_list_path(spark):
    records = [
        ("35013", "POINT (1 1)"), ("35013", "POINT (2 2)"),  # duplicate GEOID
        ("35015", None), ("35017", "POLYGON ((0 0, 1 0, 1 1, 0 0))"),
    ]
    got = tiger.boundaries_from_records(spark, iter(records))
    want = tiger.normalize_boundaries(
        spark.createDataFrame(records, "GEOID string, geometry string"))
    assert got.schema == want.schema
    g = sorted(got.collect(), key=lambda r: r.GEOID)
    w = sorted(want.collect(), key=lambda r: r.GEOID)
    assert [r.GEOID for r in g] == ["35013", "35015", "35017"]
    # which duplicate survives is the engine's choice on either path
    assert g[0].geometry in {"POINT (1 1)", "POINT (2 2)"}
    assert g[1:] == w[1:]
    assert g[1].geometry is None and g[1].geometry_bytes is None


def _calls(pkg, paths, attr, allowed):
    """``path:line`` of every ``.<attr>(...)`` call in ``paths`` outside
    the functions ``allowed`` names as (file name, function name)."""
    import ast

    calls = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        inside = set()
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef)
                    and (path.name, node.name) in allowed):
                inside |= {id(n) for n in ast.walk(node)}
        calls += [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr and id(node) not in inside
        ]
    return calls


def test_driver_frames_built_only_by_local_frame():
    """Every frame the package builds from driver data goes through
    ``catalog.local_frame``: no other ``createDataFrame`` call in any
    module."""
    from pathlib import Path

    pkg = Path(census_api.__file__).resolve().parent.parent
    calls = _calls(pkg, sorted(pkg.rglob("*.py")), "createDataFrame",
                   {("catalog.py", "local_frame")})
    assert calls == [], "build driver frames through catalog.local_frame"


def test_operator_collects_only_through_local_tail():
    """Every collect of an operator frame to pandas goes through
    ``catalog.local_tail``, so its row cap applies: no ``.toPandas()``
    in ``functions/`` or ``operators/``. The one exception is
    ``graph._coreness_local_tail``, the mid-peel hand-off of a graph
    that was over the cap at entry; the peel loop calls it only once
    the alive n + Σdeg has dropped to ``catalog.LOCAL_TAIL_ROWS``."""
    from pathlib import Path

    pkg = Path(census_api.__file__).resolve().parent.parent
    paths = sorted([*(pkg / "functions").glob("*.py"),
                    *(pkg / "operators").glob("*.py")])
    calls = _calls(pkg, paths, "toPandas",
                   {("graph.py", "_coreness_local_tail")})
    assert calls == [], "collect operator frames through catalog.local_tail"


def test_facade_join_gives_every_sink_the_same_geometry(spark, tmp_path):
    # 20 GEOIDs, each listed twice with two WKTs: the dedup keeps one per
    # GEOID, and because the facade's join is materialized once, the
    # parquet export, the json export and collect() all carry that one
    dup = [(f"35{i:03d}", f"POINT ({i} {k})") for i in range(1, 40, 2) for k in (1, 2)]
    response = [["NAME", "B01003_001E", "state", "county"],
                *[[f"c{g}", "1", g[:2], g[2:]] for g, _ in dup[::2]]]
    pipe = CensusSparkPipeline(spark, fetch=lambda url: response)
    df = pipe.fetch_acs5({"B01003_001E": "pop"}, "county", state="35")
    b = tiger.boundaries_from_records(spark, dup[1::2] + dup[::2])
    geo = pipe.join_tiger_geometries(df, b)
    pipe.export(geo, str(tmp_path / "p"), "parquet")
    pipe.export(geo, str(tmp_path / "j"), "json")
    want = {r.GEOID: r.geometry for r in geo.collect()}
    assert len(want) == 20
    assert all(w in {f"POINT ({int(g[2:])} {k})" for k in (1, 2)} for g, w in want.items())
    for read, path in ((spark.read.parquet, "p"), (spark.read.json, "j")):
        assert {r.GEOID: r.geometry for r in read(str(tmp_path / path)).collect()} == want


# -- TIGER lake (reference: geography.py) --------------------------------
def test_tiger_urls():
    assert tiger.build_tiger_url("county", 2022) == (
        "https://www2.census.gov/geo/tiger/GENZ2022/shp/cb_2022_us_county_500k.zip"
    )
    assert tiger.build_tiger_url("tract", 2022, state_fips="06") == (
        "https://www2.census.gov/geo/tiger/GENZ2022/shp/cb_2022_06_tract_500k.zip"
    )
    with pytest.raises(ValueError):
        tiger.build_tiger_url("tract", 2022)  # state required
    with pytest.raises(ValueError):
        tiger.build_tiger_url("universe", 2022)


def test_boundary_ingest_and_pruned_load(spark, tmp_path):
    df = tiger.boundaries_from_records(
        spark,
        [("06059", "POINT(1 1)"), ("06059", "POINT(1 1)"), ("48201", "POINT(2 2)")],
    )
    assert df.count() == 2  # deduped on GEOID
    lake = str(tmp_path / "geolake")
    tiger.ingest_boundaries(df, lake)
    ca = tiger.load_boundaries(spark, lake, state_fips="06")
    assert [r.GEOID for r in ca.collect()] == ["06059"]
    assert ca.select("crs").collect()[0].crs == "EPSG:4326"
    # partition pruning: the state filter appears as a PartitionFilter
    plan = ca._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "state_fips" in plan


# -- exporters (reference: exporters.py) ---------------------------------
def test_export_roundtrips(spark, tmp_path):
    df = spark.createDataFrame(
        [("06059", "POINT(1 1)", 1.5)], "GEOID string, geometry string, v double"
    )
    pq = str(tmp_path / "out.parquet")
    exporters.export(df, pq, "parquet")
    assert spark.read.parquet(pq).collect()[0].v == 1.5

    csv = str(tmp_path / "out.csv")
    exporters.export(df, csv, "csv")
    back = spark.read.option("header", True).csv(csv)
    assert "geometry" not in back.columns  # dropped per exporters.py:65-69
    assert back.collect()[0].GEOID == "06059"

    js = str(tmp_path / "out.json")
    exporters.export(df, js, "json")
    assert spark.read.json(js).count() == 1

    gj = str(tmp_path / "out.geojson")
    exporters.export(df, gj, "geojson")
    line = json.loads(spark.read.text(gj).collect()[0].value)
    assert line["type"] == "Feature" and line["properties"]["GEOID"] == "06059"

    # K2 executes even without geopandas via the stdlib GeoPackage writer
    # (full round-trips in tests/test_geo_formats.py)
    gpkg = str(tmp_path / "x.gpkg")
    exporters.export(df, gpkg, "geopackage")
    from census_data_pipeline_spark.sources.geo_formats import read_gpkg

    cols, rows = read_gpkg(gpkg, "x")
    assert len(rows) == 1 and "POINT" in rows[0][cols.index("geometry")]
    with pytest.raises(ValueError):
        exporters.export(df, str(tmp_path / "x"), "avro-ish")
    with pytest.raises(ValueError):
        exporters.to_jdbc(df, "jdbc:x", "t", if_exists="upsert")


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """K6 exercised for real (VERDICT r1 #5): Spark bundles Derby, whose
    embedded driver is a file-backed database in this JVM — write via the
    engine sink, read back via the engine reader, and check every
    if_exists mode's semantics end-to-end."""
    url = f"jdbc:derby:{tmp_path}/censusdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [("06059", 10.0), ("48201", 20.0)], "geoid string, v double"
    )
    exporters.to_jdbc(df, url, "tracts", if_exists="fail", properties=props)
    back = exporters.read_jdbc(spark, url, "tracts", properties=props)
    assert sorted((r.GEOID if hasattr(r, "GEOID") else r.geoid, r.V if hasattr(r, "V") else r.v)
                  for r in back.collect()) == [("06059", 10.0), ("48201", 20.0)]

    exporters.to_jdbc(df, url, "tracts", if_exists="append", properties=props)
    assert exporters.read_jdbc(spark, url, "tracts", properties=props).count() == 4

    exporters.to_jdbc(df, url, "tracts", if_exists="replace", properties=props)
    assert exporters.read_jdbc(spark, url, "tracts", properties=props).count() == 2

    with pytest.raises(Exception, match="(?i)exists|already"):
        exporters.to_jdbc(df, url, "tracts", if_exists="fail", properties=props)


def test_jdbc_schema_qualification(spark, tmp_path):
    """Reference to_postgis(schema=...) analog: the schema prefix reaches
    the JDBC table identifier. Derby auto-creates per-user schemas on
    write via its APP default — use an explicit schema that Derby accepts
    when quoted by Spark's writer."""
    url = f"jdbc:derby:{tmp_path}/schemadb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([(1,)], "x int")
    exporters.to_jdbc(df, url, "t1", if_exists="replace",
                      properties=props, schema="APP")
    assert exporters.read_jdbc(spark, url, "APP.t1", properties=props).count() == 1


def test_geo_export_gated_roundtrip(spark, tmp_path):
    """K2/K4: with geopandas absent this skips (gate behavior is covered
    in test_export_roundtrips); with geopandas present it must write a
    readable GeoPackage and a shapefile with the truncation warning."""
    pytest.importorskip("geopandas")
    import warnings

    import geopandas

    df = spark.createDataFrame(
        [("06059", "POINT(1 2)", 1.5, "a_very_long_column_name")],
        "GEOID string, geometry string, v double, a_very_long_column_name string",
    )
    gpkg = str(tmp_path / "out.gpkg")
    exporters.export(df, gpkg, "geopackage")
    back = geopandas.read_file(gpkg, layer="out")
    assert back.iloc[0].GEOID == "06059" and back.geometry[0].x == 1.0

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        exporters.export(df, str(tmp_path / "out_shp"), "shapefile")
    assert any("10 characters" in str(x.message) for x in w)


def test_execute_sql(spark):
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("t_exec")
    assert exporters.execute_sql(spark, "SELECT sum(x) AS s FROM t_exec").collect()[0].s == 1


def test_boundary_encoding_marker(spark):
    df = tiger.boundaries_from_records(spark, [("06059", "POINT(1 1)")])
    row = df.collect()[0]
    assert row.geometry_encoding == "wkt-utf8"
    assert bytes(row.geometry_bytes).decode() == "POINT(1 1)"


def test_export_parquet_partition_by(spark, tmp_path):
    df = spark.createDataFrame(
        [("06", 1.0), ("48", 2.0)], "state string, v double"
    )
    out = str(tmp_path / "part_out")
    exporters.export(df, out, "parquet", partition_by=["state"])
    assert os.path.isdir(out + "/state=06")
    back = spark.read.parquet(out)
    assert back.count() == 2


def test_variable_metadata_and_catalog_search(spark):
    from census_data_pipeline_spark.sources.census_api import (
        CensusAPIError,
        get_variable_metadata,
        search_variables,
    )

    meta = {"name": "B19013_001E", "label": "Median income", "concept": "INCOME"}
    got = get_variable_metadata("B19013_001E", 2022, fetch_json=lambda url: meta)
    assert got["label"] == "Median income"

    catalog = {
        "variables": {
            "B19013_001E": {"label": "Median income", "concept": "INCOME"},
            "B01003_001E": {"label": "Total", "concept": "TOTAL POPULATION"},
        }
    }
    hits = search_variables(spark, "income", fetch_json=lambda url: catalog)
    assert [r.variable for r in hits.collect()] == ["B19013_001E"]

    import pytest as _pytest

    def boom(url):
        raise OSError("offline")

    with _pytest.raises(CensusAPIError):
        get_variable_metadata("X", fetch_json=boom)


def test_public_api_reference_parity():
    """Every name in the reference __all__ (src/__init__.py:29-42) has a
    mapped equivalent importable from the package root."""
    import census_data_pipeline_spark as pkg

    for name in (
        "CensusSparkPipeline", "CensusAPIClient", "get_variable_metadata",
        "search_variables", "parse_geoid", "build_geoid", "FIPS_CODES",
        "STATE_NAME_TO_FIPS", "export", "to_jdbc", "execute_sql",
    ):
        assert hasattr(pkg, name), name
    assert pkg.STATE_NAME_TO_FIPS[pkg.FIPS_CODES["06"]] == "06"
