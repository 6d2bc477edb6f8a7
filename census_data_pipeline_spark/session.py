"""SparkSession factory for the engine.

The reference is an eager single-node pandas pipeline (reference:
src/census_pipeline.py:14-17) with no session concept; here the session is
the engine's execution context. Defaults are tuned for local[N] testing but
every knob is chosen to scale to a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalesce + skew-join splitting) so the same declarative
  plans survive 1000x data-volume changes without hand-tuning partition
  counts.
- ``spark.sql.shuffle.partitions`` set to ~cores locally; on a real cluster
  this should be ~2-3x total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so event-time semantics are stable across
  environments (and match the DuckDB oracle, whose timestamps are UTC-naive).
- ``nanosAsLong`` legacy conf so parquet INT64(TIMESTAMP_NANOS) columns
  (the driver's ``events.ts``) are readable; sources/catalog.py converts
  them to TimestampType (microseconds) at scan time.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Runtime-settable confs that the engine needs even when it is handed an
# externally built session (the driver contract passes its own session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The reference's semantics are pandas': unparseable casts coerce to
    # null (census_pipeline.py:361-363) and x/0 is not an error
    # (transformers.py:100-108). Spark 4 defaults to ANSI mode which makes
    # both hard errors — the engine pins the permissive dialect.
    "spark.sql.ansi.enabled": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Safe to call repeatedly; used by every public query entry point so the
    engine behaves identically under the driver's session and our own.
    Every conf here is a runtime SQL conf, so a failure to set one (the
    UTC zone or ANSI-off would silently change results) raises.
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to Python workers via ``addPyFile``.

    An externally built session (the driver contract) has no guarantee
    that workers can import ``census_data_pipeline_spark`` — cloudpickle
    serializes module-level functions by reference, so any mapInPandas /
    stateful closure would die with ModuleNotFoundError on the worker.
    Shipping a zip of the package once per SparkContext makes every
    Python-side operator location-independent."""
    sc = spark.sparkContext
    if getattr(sc, "_cdps_pkg_shipped", False):
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        staging = tempfile.mkdtemp(prefix="cdps_pkg_")
        archive = shutil.make_archive(
            os.path.join(staging, "census_data_pipeline_spark"),
            "zip",
            root_dir=root,
            base_dir="census_data_pipeline_spark",
        )
        sc.addPyFile(archive)
        sc._cdps_pkg_shipped = True
    except Exception as e:
        # Non-fatal (JVM-only queries never need worker-side imports), but
        # said out loud: Python-side operators may fail on the workers.
        # The flag stays unset, so the next call tries again.
        warnings.warn(
            f"could not ship census_data_pipeline_spark to Python workers: {e!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def get_spark(
    app_name: str = "census_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from env so tests, bench.py and
    the driver can steer parallelism without code changes:
    ``SPARK_GRAFT_CPUS`` (default 32 locally, per the session charter).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Long-lived multi-query sessions (bench, notebooks, services)
        # accumulate broadcast/shuffle state that the ContextCleaner only
        # releases on driver GC — the default periodic GC is 30 MINUTES,
        # so cleanup lands as a pause inside whichever query is unlucky.
        # A 1-minute cadence amortizes it. (Static conf: builder-time
        # only; externally built sessions keep their own setting.)
        .config("spark.cleaner.periodicGC.interval", "60s")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
