"""Sinks (reference: src/exporters.py).

Format dispatch mirroring ``DataExporter.export`` (exporters.py:29-63):
csv / geojson / parquet / json are native distributed writers; geopackage
and shapefile have no Spark writer — they are small-result driver-side
paths gated behind a geopandas import (absent in this image → clear
NotImplementedError, per SURVEY.md §2.1 K2/K4). JDBC covers the PostGIS
sink (exporters.py:120-195) with mode mapping fail/replace/append →
error/overwrite/append.

Scale: parquet is the canonical sink (columnar, partitionable,
predicate-pushdown on re-read). CSV drops the geometry column first —
same contract as the reference (exporters.py:65-69).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators.cleaning import _quote
from census_data_pipeline_spark.sources import catalog

_JDBC_MODES = {"fail": "error", "replace": "overwrite", "append": "append"}


def export(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "overwrite",
    layer_name: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Format dispatcher (reference: src/exporters.py:29-63;
    pipeline facade census_pipeline.py:324-341)."""
    fmt = fmt.lower()

    def _writer(frame):
        w = frame.write.mode(mode)
        return w.partitionBy(*partition_by) if partition_by else w

    if fmt == "csv":
        # reference drops geometry before CSV (exporters.py:65-69); the
        # binary/encoding companions are dropped whenever present (CSV
        # cannot carry BinaryType)
        geo_cols = [
            c for c in ("geometry", "geometry_bytes", "geometry_encoding")
            if c in df.columns
        ]
        out = df.drop(*geo_cols) if geo_cols else df
        _writer(out).option("header", True).csv(path)
    elif fmt == "parquet":
        _writer(df).parquet(path)
    elif fmt == "orc":
        # columnar alternative with the same predicate-pushdown /
        # column-pruning story as parquet (ORC is bundled in Spark; the
        # reference has no columnar sink at all)
        _writer(df).orc(path)
    elif fmt == "json":
        _writer(df).json(path)
    elif fmt == "geojson":
        _writer(to_geojson(df)).text(path)
    elif fmt in ("geopackage", "gpkg", "shapefile", "shp"):
        _driver_side_geo_export(df, path, fmt, layer_name)
    else:
        raise ValueError(f"unsupported format: {fmt!r}")


def to_geojson(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """GeoJSON Feature per row (reference: src/exporters.py:84-93): geometry
    WKT is carried verbatim in properties-level form; a full RFC 7946
    geometry object requires a WKT->GeoJSON geometry parser (Sedona's
    ST_AsGeoJSON at scale). Distributed text sink — one Feature per line
    (newline-delimited GeoJSON)."""
    props = ", ".join(
        f"{_quote(c)} AS {_quote(c)}" for c in df.columns
        if c not in (geometry_col, "geometry_bytes", "geometry_encoding")
    )
    # one SQL projection, not a py4j Column per property
    return df.selectExpr(
        "to_json(named_struct('type', 'Feature', 'properties', "
        f"struct({props}), 'geometry_wkt', {_quote(geometry_col)})) AS value"
    )


def _driver_side_geo_export(df: DataFrame, path: str, fmt: str,
                            layer_name: str | None) -> None:
    """K2/K4: GPKG & shapefile sinks (reference: src/exporters.py:71-106).

    These formats have no distributed Spark writer, so this is explicitly
    the small-result path: collect to the driver, rebuild a GeoDataFrame
    from the WKT ``geometry`` column, and hand off to geopandas — layer
    name defaults to the output file's stem (reference ``path.stem``), and
    shapefile export warns about the format's 10-char field-name
    truncation, both matching the reference. Uses geopandas' battle-tested
    drivers when the library is present (reference parity); otherwise
    falls back to the engine's pure-stdlib GeoPackage (sqlite3) and
    shapefile (struct) writers in ``geo_formats`` — same files, no
    dependency, round-trip-tested in tests/test_geo_formats.py."""
    import os
    import warnings

    try:
        import geopandas
        from shapely import wkt as shapely_wkt
    except ImportError:
        if "geometry" not in df.columns:
            raise ValueError(f"{fmt} export requires a WKT 'geometry' column")
        from census_data_pipeline_spark.sources import geo_formats

        slim = df.drop(
            *[c for c in ("geometry_bytes", "geometry_encoding")
              if c in df.columns]
        )
        rows = [tuple(r) for r in slim.collect()]
        if fmt in ("shapefile", "shp"):
            long_cols = [c for c in slim.columns
                         if len(c) > 10 and c != "geometry"]
            warnings.warn(
                "Shapefile format truncates column names to 10 characters"
                + (f": {long_cols}" if long_cols else ""),
                stacklevel=3,
            )
            geo_formats.write_shapefile(path, slim.columns, rows)
        else:
            layer = layer_name or os.path.splitext(os.path.basename(path))[0]
            geo_formats.write_gpkg(path, layer, slim.columns, rows)
        return

    if "geometry" not in df.columns:
        raise ValueError(f"{fmt} export requires a WKT 'geometry' column")
    pdf = df.drop(
        *[c for c in ("geometry_bytes", "geometry_encoding") if c in df.columns]
    ).toPandas()
    geoms = [shapely_wkt.loads(w) if w is not None else None
             for w in pdf.pop("geometry")]
    gdf = geopandas.GeoDataFrame(pdf, geometry=geoms, crs="EPSG:4269")
    if fmt in ("shapefile", "shp"):
        # reference warns unconditionally (exporters.py:105); surface the
        # affected columns so the caller can rename instead of colliding
        long_cols = [c for c in gdf.columns if len(c) > 10 and c != "geometry"]
        warnings.warn(
            "Shapefile format truncates column names to 10 characters"
            + (f": {long_cols}" if long_cols else ""),
            stacklevel=3,
        )
        gdf.to_file(path, driver="ESRI Shapefile")
    else:
        layer = layer_name or os.path.splitext(os.path.basename(path))[0]
        gdf.to_file(path, driver="GPKG", layer=layer)


def to_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    if_exists: str = "fail",
    properties: dict[str, str] | None = None,
    schema: str | None = None,
) -> None:
    """PostGIS/JDBC sink (reference: src/exporters.py:120-195). Geometry
    travels in ``geometry_bytes``; the server-side promotion post-step
    (exporters.py:171-180 equivalent, run by the caller via
    ``execute_sql``) must dispatch on ``geometry_encoding``:
    ``ST_GeomFromText`` for 'wkt-utf8' rows, ``ST_GeomFromWKB`` for
    'wkb'. ``schema`` qualifies the target table (reference
    ``to_postgis(schema=...)``). Round-trip exercised for real against
    Spark's bundled embedded Derby in tests/test_sources.py."""
    if if_exists not in _JDBC_MODES:
        raise ValueError(f"if_exists must be one of {sorted(_JDBC_MODES)}")
    qualified = f"{schema}.{table}" if schema else table
    df.write.jdbc(url, qualified, mode=_JDBC_MODES[if_exists],
                  properties=properties or {})


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Companion reader so JDBC round-trips stay inside the engine API."""
    return spark.read.jdbc(url, table, properties=properties or {})


def execute_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Raw SQL passthrough (reference: src/exporters.py:197-204) against the
    engine's own catalog."""
    return spark.sql(sql)


# The manifest file a shard export keeps beside its data. Spark's file
# listing skips names that start with "_", so data readers never see it.
_MANIFEST = "_manifest.json"
# JSON timestamps at full microsecond precision (Spark's default JSON
# format stops at milliseconds), so the typed read returns what was written.
_JSON_TIMES = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
               "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}


def _shard_manifest(df: DataFrame, shard_col: str, text_col: str) -> DataFrame:
    """Per shard: the key as text, n_docs, n_tokens and sha_xor. One
    definition for the writer and the verifying reader."""
    text = _quote(text_col)
    return df.groupBy(F.col(_quote(shard_col))).agg(
        F.expr(f"CAST({_quote(shard_col)} AS STRING)").alias("__key"),
        F.count("*").alias("n_docs"),
        F.expr(f"CAST(SUM(SIZE(SPLIT({text}, ' '))) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"BIT_XOR(CAST(CONV(SUBSTRING(MD5({text}), 1, 15), 16, 10) AS BIGINT))"
        ).alias("sha_xor"),
    )


def _hadoop_file(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` through the session's Hadoop
    configuration, so HDFS and object stores work as the data writer
    does, and the local filesystem keeps its ``.crc`` checksums."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    text_col: str = "text",
) -> DataFrame:
    """Training-data export — the final mile of the curation pipeline:
    write the mixed/sharded corpus as shard-partitioned JSONL (the
    format training loaders consume: one JSON document per line,
    ``path/<shard_col>=N/*.json``) plus a manifest ``path/_manifest.json``
    — a loader can verify shard completeness without reading payloads.

    The manifest holds the written schema (Spark's JSON form), the shard
    and text column names, and one row per shard: the key as Spark casts
    it to STRING (so every partition-column type round-trips, NULL
    included), n_docs, n_tokens and sha_xor. ``sha_xor`` is an
    order-independent per-shard content fingerprint: ``bit_xor`` of the
    first 8 md5 bytes of each document — any dropped/duplicated/
    corrupted line changes it, and it is computable identically by any
    engine (no dependence on file layout or row order, which Spark does
    not guarantee).

    Scale shape: ONE pass writes the data (partitionBy on the shard
    column → one directory per shard, executor-parallel), one
    shard-keyed aggregate builds the manifest, whose one row per shard
    is collected and written as one small file through the Hadoop
    FileSystem API. Returns the manifest (shard, n_docs, n_tokens,
    sha_xor) as a driver-built frame: reading it runs no Spark job."""
    spark = df.sparkSession
    df.write.partitionBy(shard_col).mode("overwrite").options(**_JSON_TIMES).json(path)
    agg = _shard_manifest(df, shard_col, text_col)
    rows = agg.collect()
    schema = T.StructType([f for f in agg.schema.fields if f.name != "__key"])
    manifest = {
        "schema": json.loads(df.schema.json()),
        "shard_col": shard_col,
        "text_col": text_col,
        "shards": [[r["__key"], r["n_docs"], r["n_tokens"], r["sha_xor"]]
                   for r in rows],
    }
    fs, p = _hadoop_file(spark, f"{path}/{_MANIFEST}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    return catalog.local_frame(spark, schema, [
        [r[f.name] for r in rows] for f in schema.fields])


def _read_manifest(spark: SparkSession, path: str) -> dict:
    fs, p = _hadoop_file(spark, f"{path}/{_MANIFEST}")
    if not fs.exists(p):
        raise FileNotFoundError(
            f"no training-shard manifest at {path}/{_MANIFEST}: "
            "not a write_training_shards export, or an incomplete one")
    stream = fs.open(p)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(raw).decode("utf-8"))


def read_training_shards(
    spark: SparkSession, path: str, verify: bool = True
) -> DataFrame:
    """Load a ``write_training_shards`` export with the schema it was
    written with: the manifest's schema, columns in the written order,
    so an int stays an int and a timestamp a timestamp (no JSON
    inference, no partition-value inference). A missing manifest raises
    FileNotFoundError naming it. With ``verify=True`` (default) the
    per-shard (count, tokens, fingerprint) is recomputed from the loaded
    data and compared against the manifest — a missing file, truncated
    shard, or corrupted line raises instead of silently training on a
    damaged corpus."""
    manifest = _read_manifest(spark, path)
    schema = T.StructType.fromJson(manifest["schema"])
    data = spark.read.schema(schema).options(**_JSON_TIMES).json(path).selectExpr(
        *[_quote(c) for c in schema.names])
    if verify:
        stored = {k: tuple(v) for k, *v in manifest["shards"]}
        got = {
            r["__key"]: (r["n_docs"], r["n_tokens"], r["sha_xor"])
            for r in _shard_manifest(
                data, manifest["shard_col"], manifest["text_col"]).collect()
        }
        if stored != got:
            bad = {k for k in set(stored) | set(got)
                   if stored.get(k) != got.get(k)}
            raise ValueError(
                f"training-shard manifest mismatch for shards "
                f"{sorted(bad, key=str)}: the export is incomplete or corrupted"
            )
    return data
