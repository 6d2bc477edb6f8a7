"""Table catalog over the driver's parquet test lake.

The reference builds every table by fetching from a REST API and eagerly
materializing a pandas DataFrame (reference: src/census_pipeline.py:102-169).
Here the canonical storage is a parquet lake; scans are lazy DataFrames so
Catalyst gets predicate pushdown + column pruning for free on every query.

Scale notes (100 TB): each table would be a partitioned parquet/iceberg
dataset (e.g. lineitem partitioned by ship-month, events by day, documents
by source). The loader keeps a single entry point so partition-pruning
predicates stay expressible at the call site; nothing in the engine assumes
a single file per table.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from census_data_pipeline_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one lake table.

    ``events.ts`` has shipped in two physical forms across lake
    generations: INT64(TIMESTAMP_NANOS) (scans as LongType under
    ``nanosAsLong``) and TIMESTAMP_MICROS without UTC adjustment (scans as
    TIMESTAMP_NTZ). Both are normalized to session-zone TimestampType at
    microsecond precision — the session zone is pinned UTC, so the
    wall-clock reinterpretation is the identity and results stay
    comparable with the DuckDB oracle's naive-UTC timestamps.
    """
    apply_runtime_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if len(_TABLE_CACHE) > 256 or any(k[0] != key[0] for k in _TABLE_CACHE):
        _TABLE_CACHE.clear()  # stale sessions or unbounded growth
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division — double division loses bits at 1e18 ns scale
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


# DataFrames are immutable lazy plans, so handing every caller the same
# object per (session, lake, table) is semantically identical to a fresh
# spark.read — it just skips the per-call file listing + schema fetch
# (~0.13 s of py4j round-trips per read, paid by every query otherwise).
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a small single-file input up to the cluster's
    parallelism. Small parquet files scan as ONE partition, which serializes
    every downstream narrow transformation onto one core — fatal for
    CPU-heavy per-row work (hashing, shingling, vector math). At real scale
    inputs arrive multi-file and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # File count stands in for scan parallelism without the df.rdd hop
    # (which forces a plan->RDD conversion per call). Multi-file inputs at
    # or above the target are already parallel; anything else (few files,
    # or a non-file-backed frame) gets an explicit round-robin repartition
    # — harmless when small, necessary when CPU-bound downstream.
    files = df.inputFiles()
    if files and len(files) >= target:
        return df
    if not files:
        # Non-file-backed frame (in-memory, shuffled intermediate): fall
        # back to the physical partition count before forcing a shuffle —
        # a frame that already has enough partitions gains nothing from a
        # round-robin repartition.
        if df.rdd.getNumPartitions() >= target:
            return df
    return df.repartition(target)


def row_count(df: DataFrame) -> int:
    """Row count of ``df`` over ``df``'s own executed plan, with no
    aggregate exchange of its own: one job on a plan without shuffles
    (``DataFrame.count()`` plans a second query, a global aggregate
    with its own exchange — 2 jobs even on a small local relation), the
    plan's own shuffle stages plus one otherwise. Because it runs the
    plan ``df`` itself will run, a later action on the SAME object
    (``toPandas``, ``localCheckpoint``) reuses the shuffle stages the
    count executed instead of running them again."""
    return int(df._jdf.queryExecution().toRdd().count())


def round_materialize(df: DataFrame, prior: DataFrame | None = None) -> DataFrame:
    """Round-boundary materialization for chained iterative frames
    (r12, shared by the graph community tier and the trained-in-engine
    fit loops). In this Spark build, a plan built ON TOP of a
    ``localCheckpoint`` dataset RECOMPUTES the checkpoint's lineage
    instead of reading its stored blocks (measured on the Louvain move
    chain: 5-8× growth per chained round — exponential in rounds;
    reliable ``checkpoint`` behaves the same on the consumer side).
    Routing consumers through ``persist`` fixes it — the cache manager
    rewrites consumer plans to InMemoryTableScan, which DOES reuse
    blocks (measured flat 1.1 s/round over 10 chained rounds) — while
    the lazy ``localCheckpoint`` underneath keeps the LOGICAL plan a
    flat LogicalRDD so per-round analysis stays O(1). One
    ``row_count`` job materializes the blocks (the coreness
    one-bounded-action-per-round discipline); ``prior`` — the previous
    round's frame, when supplied — is unpersisted once the new frame is
    live, so cache residency stays O(one round's frames) at any round
    count."""
    out = df.localCheckpoint(eager=False).persist()
    row_count(out)
    if prior is not None:
        prior.unpersist()
    return out


def round_persist(df: DataFrame) -> DataFrame:
    """Sibling of ``round_materialize`` without its eager count: cut
    lineage and ``persist``, so every consumer after the first reads the
    stored blocks (the cache manager rewrites consumer plans to
    InMemoryTableScan). Not fully lazy: ``localCheckpoint`` builds its
    RDD from the executed plan, and under AQE that runs the plan's
    shuffle map stages at this call; only the final stage waits for the
    first consuming action. A plan without an exchange runs no job here.
    For a frame with several consumers — a query-level frame several
    operators read, a prep frame every fit round scans, or the
    distributed branch behind a ``local_tail`` gate. Never persist a
    frame only so a gate can count it: gate the lazy frame, then call
    this on the SAME object in the distributed branch, where the
    checkpoint reuses the shuffle stages the gate's count already ran.
    Keep ``round_materialize`` for iterative round boundaries, where the
    eager count IS the one-bounded-action-per-round discipline and the
    ``prior`` unpersist keeps cache residency O(one round)."""
    return df.localCheckpoint(eager=False).persist()


# Row cap of every bounded driver-local tail (the graph, dedup and Markov
# operators' numpy replays): inputs at or under it are collected and run
# on the driver, larger ones take the distributed rounds. 0 forces the
# distributed path everywhere.
LOCAL_TAIL_ROWS = 2_000_000


def local_tail(df: DataFrame, *key_cols: str, fanout: int = 1):
    """The one local-tail gate. Returns ``df.toPandas()`` when
    ``fanout * row_count(df)`` fits ``LOCAL_TAIL_ROWS`` and no
    ``key_cols`` value is null, else None (the caller runs its
    distributed rounds). ``fanout`` is the rows the local replay makes
    per input row (2 for an edge list it symmetrizes). Nulls stay
    distributed because the numpy replays code keys with
    np.unique/searchsorted, which raise on None in object arrays, while
    the distributed equi-joins simply never match null keys.

    Cost under the cap: one ``row_count`` and one Arrow collect. Both
    run the plan of the same ``df`` object, so the collect skips every
    shuffle stage the count executed and runs one stage. Pass the LAZY
    frame: persisting or repartitioning it first only adds a cache write
    nobody reads on the local path. With the cap at 0 no job runs. A
    frame ``local_frame`` returned is already on the driver: when every
    field is of an ``_ARROW_EXACT`` type, its Arrow table's pandas form
    comes back under the same rules with no job."""
    if LOCAL_TAIL_ROWS <= 0:
        return None
    table = local_table(df)
    if table is not None and not all(
            isinstance(from_arrow_type(f.type), _ARROW_EXACT) for f in table.schema):
        table = None
    n = row_count(df) if table is None else table.num_rows
    if fanout * n > LOCAL_TAIL_ROWS:
        return None
    # Arrow batch transfer — bounded by the cap
    pdf = df.toPandas() if table is None else table.to_pandas()
    if bool(pdf[list(key_cols)].isna().any().any()):
        return None
    return pdf


# The Arrow table behind each live frame ``local_frame`` built.
_LOCAL_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# Field types whose Arrow ``to_pandas()`` is exactly Spark's ``toPandas()``.
_ARROW_EXACT = (T.StringType, T.LongType, T.IntegerType, T.ShortType,
                T.ByteType, T.DoubleType, T.FloatType, T.BooleanType)


def local_table(df: DataFrame):
    """The ``pyarrow.Table`` behind ``df`` when ``local_frame`` built
    ``df`` itself (not a frame derived from it), else None. Reading it
    runs no Spark job."""
    return _LOCAL_TABLES.get(df)


def local_frame(spark: SparkSession, schema: T.StructType, columns) -> DataFrame:
    """The one constructor for frames built from driver data: a
    ``pyarrow.Table`` typed from ``schema`` (``columns`` holds one
    sequence per field, in field order) handed to
    ``spark.createDataFrame``. The batches reach the JVM once as a local
    relation, so every later action scans inside the JVM — the list path
    (``createDataFrame(rows, schema)``) is a PythonRDD that starts Python
    workers on every action. No pandas step, so nothing can fall back to
    that path. String fields keep the list path's cells: a non-string
    value becomes its ``str()``, lower-case for bools. The table stays
    with the frame while the frame lives (``local_table``), so
    ``local_tail`` hands it back without a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrays = []
    for f, values in zip(schema.fields, columns, strict=True):
        at = to_arrow_type(f.dataType)
        try:
            arrays.append(pa.array(values, at))
        except pa.ArrowException:
            if not isinstance(f.dataType, T.StringType):
                raise
            arrays.append(pa.array([
                v if v is None or isinstance(v, str)
                else str(v).lower() if isinstance(v, bool) else str(v)
                for v in values
            ], at))
    table = pa.Table.from_arrays(arrays, names=schema.names)
    out = spark.createDataFrame(table, schema)
    _LOCAL_TABLES[out] = table
    return out


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all lake tables as temp views for the SQL surface
    (reference equivalent: the implicit pandas namespace; here it powers
    ``spark.sql`` — reference's exporters.execute_sql analog, exporters.py:197-204).
    """
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
