"""The census path's sinks: typed training shards with a file manifest,
driver-built boundaries joined without a dedup shuffle, GeoJSON as one
SQL projection, and the Spark job budget of each facade step."""

from __future__ import annotations

import datetime
import glob
import json
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators import joins
from census_data_pipeline_spark.pipeline import CensusSparkPipeline
from census_data_pipeline_spark.sources import catalog, census_api, exporters, tiger


def _jobs(sc, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


# -- training shards: one manifest file, typed read ----------------------
_TYPED = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("b", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("d", T.DateType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("key", T.StringType()),
    T.StructField("text", T.StringType()),
])


def _typed_rows(keys):
    return [
        (k, 10**12 + k, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456 + k),
         datetime.date(2024, 1, 1 + k), bytes([k, 255]), key, f"doc {k} a b c")
        for k, key in enumerate(keys)
    ]


@pytest.mark.parametrize("shard_type", ["string", "int"])
def test_training_shards_typed_round_trip(spark, tmp_path, shard_type):
    """The reader returns the written schema and rows — int, bigint,
    microsecond timestamp, date and binary columns — and a string, int
    or NULL shard key round-trips through its partition directory (a
    string key "01" is not read back as the int 1)."""
    keys = ["01", "a b", None, "01"] if shard_type == "string" else [1, 2, None, 1]
    schema = T.StructType([
        *_TYPED.fields[:5],
        T.StructField("key", T.StringType() if shard_type == "string"
                      else T.IntegerType()),
        _TYPED.fields[6],
    ])
    rows = _typed_rows(keys)
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "shards")
    manifest = exporters.write_training_shards(df, path, shard_col="key")
    # the manifest comes back driver-built and typed like the shard key
    assert catalog.local_table(manifest) is not None
    assert manifest.schema.fields[0] == schema["key"]
    assert {r.key: r.n_docs for r in manifest.collect()} == {
        keys[0]: 2, keys[1]: 1, None: 1}
    loaded = exporters.read_training_shards(spark, path)
    assert loaded.schema == schema
    assert _sorted(loaded.collect()) == _sorted(rows)


def test_edited_manifest_raises_mismatch(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 2, f"doc {i}") for i in range(10)],
        "doc_id long, shard int, text string")
    path = str(tmp_path / "shards")
    exporters.write_training_shards(df, path)
    manifest = os.path.join(path, "_manifest.json")
    # the local filesystem's checksum sidecar would reject the edit
    # first; object stores have none, so the manifest check must hold
    os.remove(os.path.join(path, "._manifest.json.crc"))
    doc = json.load(open(manifest))
    doc["shards"] = [[k, n + 1 if k == "1" else n, t, x]
                     for k, n, t, x in doc["shards"]]
    with open(manifest, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match=r"manifest mismatch for shards \['1'\]"):
        exporters.read_training_shards(spark, path)
    assert exporters.read_training_shards(spark, path, verify=False).count() == 10


def test_missing_manifest_names_the_path(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.createDataFrame([(1, "x")], "shard int, text string") \
        .write.partitionBy("shard").json(path)
    for verify in (True, False):
        with pytest.raises(FileNotFoundError, match=f"{path}/_manifest.json"):
            exporters.read_training_shards(spark, path, verify=verify)


# -- GeoJSON: one selectExpr, byte-identical to the Column form -----------
_ODD_NAMES = ["GEOID", "it's", "back\\slash", "a.b", "two words", "tick`name",
              "Doña ✓", "geometry"]


def _geojson_column_form(df, geometry_col="geometry"):
    """The Column-tree form of ``to_geojson``, kept as the reference."""
    props = [c for c in df.columns
             if c not in (geometry_col, "geometry_bytes", "geometry_encoding")]
    feature = F.to_json(F.struct(
        F.lit("Feature").alias("type"),
        F.struct(*[F.col(f"`{c.replace('`', '``')}`").alias(c)
                   for c in props]).alias("properties"),
        F.col(geometry_col).alias("geometry_wkt"),
    ))
    return df.select(feature.alias("value"))


def test_geojson_matches_column_form_on_odd_names(spark, tmp_path):
    schema = T.StructType([T.StructField(n, T.StringType()) for n in _ODD_NAMES])
    df = spark.createDataFrame([
        tuple(f"v{i}\"'\\{n}" for n in _ODD_NAMES[:-1]) + (f"POINT ({i} 1)",)
        for i in range(3)
    ] + [(None,) * len(_ODD_NAMES)], schema)
    got = [r.value for r in exporters.to_geojson(df).collect()]
    want = [r.value for r in _geojson_column_form(df).collect()]
    assert got == want
    assert set(json.loads(got[0])["properties"]) == set(_ODD_NAMES[:-1])
    # and the sink writes the same bytes
    exporters.export(df.coalesce(1), str(tmp_path / "gj"), "geojson")
    _geojson_column_form(df.coalesce(1)).write.text(str(tmp_path / "ref"))

    def body(d):
        (part,) = glob.glob(str(tmp_path / d / "part-*"))
        return open(part, "rb").read()

    assert body("gj") == body("ref")


# -- J1 join: driver-built boundaries skip the dedup ---------------------
# duplicate GEOIDs (with one geometry each, so either dedup's pick is
# the same row), a duplicated NULL GEOID, and attributes "04" that miss
_RECORDS = [("01", "POINT (1 1)"), ("01", "POINT (1 1)"), (None, "POINT (0 0)"),
            ("02", None), (None, "POINT (0 0)"), ("03", "POINT (3 3)"), ("02", None)]


def test_join_boundaries_driver_built_matches_spark_built(spark):
    """Duplicate keys, a NULL GEOID and a miss give the same rows whether
    the boundaries were deduped on the driver or by Spark; only the
    Spark-built side plans the dedup aggregate."""
    attrs = spark.createDataFrame(
        [("01", 1.0), ("02", 2.0), ("04", 4.0), (None, 0.0)],
        "GEOID string, v double")
    local = tiger.boundaries_from_records(spark, _RECORDS)
    spark_built = tiger.normalize_boundaries(
        spark.createDataFrame(_RECORDS, "GEOID string, geometry string"))
    assert local.schema == spark_built.schema
    assert _sorted(local.collect()) == _sorted(spark_built.collect())
    got = joins.join_boundaries(attrs, local)
    want = joins.join_boundaries(attrs, spark_built)
    assert _sorted(got.collect()) == _sorted(want.collect())
    assert {r.GEOID: r.geometry for r in got.collect()} == {
        "01": "POINT (1 1)", "02": None, "04": None, None: None}
    # of differing duplicates the driver keeps the first record
    first = tiger.boundaries_from_records(
        spark, [("05", "POINT (1 1)"), ("05", "POINT (9 9)")])
    assert [tuple(r)[:2] for r in first.collect()] == [("05", "POINT (1 1)")]

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Aggregate" not in plan(got)
    assert "Aggregate" in plan(joins.join_boundaries(attrs, spark_built))
    # a driver-built frame whose key repeats keeps the dedup
    dup = catalog.local_frame(
        spark, T.StructType([T.StructField("GEOID", T.StringType()),
                             T.StructField("geometry", T.StringType())]),
        [["01", "01"], ["POINT (1 1)", "POINT (9 9)"]])
    out = joins.join_boundaries(attrs, dup)
    assert "Aggregate" in plan(out) and out.count() == 4


# -- the facade's Spark job budget ---------------------------------------
def test_census_facade_job_budget(spark, tmp_path, monkeypatch):
    """Each facade step on a small seeded input runs at most its budget
    of Spark jobs: the join checkpoint 2, each export 1, the shard write
    3 (data write, manifest aggregate) and the verified shard read 2
    (the verification aggregate)."""
    monkeypatch.setattr(census_api.CensusAPIClient, "RATE_LIMIT_DELAY", 0.0)
    rng = random.Random(12)
    states = ["06", "48"]
    header = ["NAME", "B23025_003E", "B23025_005E", "state", "county", "tract"]
    tracts = {s: [f"{t:06d}" for t in rng.sample(range(1, 9999), 20)] for s in states}
    responses = {
        s: [header, *[[f"t{t}", str(rng.randint(50, 500)),
                       rng.choice(["-666666666", str(rng.randint(0, 40))]),
                       s, "001", t] for t in tracts[s]]]
        for s in states
    }
    records = [(f"{s}001{t}", f"POINT ({rng.random()} {rng.random()})")
               for s in states for t in tracts[s] if rng.random() < 0.9]
    pipe = CensusSparkPipeline(
        spark, fetch=lambda url: responses[url.split("state%3A")[1][:2]])
    sc = spark.sparkContext

    df = pipe.fetch_batch_states(
        {"B23025_003E": "labor_force", "B23025_005E": "unemployed"}, "tract", states)
    df = pipe.clean_missing_values(df, ["labor_force", "unemployed"])
    df = pipe.calculate_rates(df, {"rate": ("unemployed", "labor_force")})
    b = tiger.boundaries_from_records(spark, records)
    geo, n = _jobs(sc, "budget-join", lambda: pipe.join_tiger_geometries(df, b))
    assert n <= 2, n
    for fmt in ("parquet", "csv", "json", "geojson", "gpkg"):
        out = str(tmp_path / f"tracts.{fmt}")
        _, n = _jobs(sc, f"budget-{fmt}", lambda: pipe.export(geo, out, fmt))
        assert n == 1, (fmt, n)

    docs = spark.createDataFrame(
        [(i, i % 4, " ".join(rng.choice("abcde") for _ in range(5)))
         for i in range(200)], "doc_id long, shard long, text string")
    shards = str(tmp_path / "shards")
    _, n = _jobs(sc, "budget-shards-write",
                 lambda: exporters.write_training_shards(docs, shards))
    assert n == 3, n
    loaded, n = _jobs(sc, "budget-shards-read",
                      lambda: exporters.read_training_shards(spark, shards))
    assert n == 2, n
    assert loaded.count() == 200
