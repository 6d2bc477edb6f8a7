"""The benchmark's workloads.

``olap`` and ``iterative`` run registry queries (``QUERIES[name](spark,
lake)`` plus the ``noop`` sink) over the lake committed beside this file;
each query's result is checked once per run against its DuckDB oracle.
``census_export`` runs the census pipeline on inputs generated from the
seed and checks its outputs against values derived from those inputs.

A workload runs in passes. The first pass of a run is the check pass: it
collects results instead of sinking them and compares them. Every pass
returns ``[(operation, seconds, ok)]``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from urllib.parse import parse_qs, urlparse

from canon import digest

HERE = os.path.dirname(os.path.abspath(__file__))
LAKE = os.path.join(HERE, "lake")

# Relational queries: exec and Catalyst bound, no eager build jobs.
OLAP = [
    "flagship_regional_rollup",
    "q1_pricing_summary",
    "q5_regional_revenue",
    "change_over_time",
    "events_session_5m",
    "asof_click_purchase",
    "range_join_click_errors",
    "revenue_share_of_parent",
]

# Iterative operators: eager Spark jobs while building (local-tail gates,
# round materialization, in-engine fits).
ITERATIVE = [
    "graph_louvain_move",
    "graph_coreness",
    "dedup_clusters",
    "linkage_entity_clusters",
    "quality_gbt_holdout",
]


class Context:
    """What a pass needs: the session, the tracer, the seeded order and a
    scratch directory for outputs. ``check_s`` accumulates time spent
    comparing results, which is the benchmark's and not the engine's."""

    def __init__(self, spark, tracer, rng: random.Random, work: str):
        self.spark = spark
        self.tracer = tracer
        self.rng = rng
        self.work = work
        self.check_s = 0.0
        self.errors: list[str] = []

    def fail(self, op: str, why: str) -> None:
        self.errors.append(f"{op}: {why}")


class RegistryWorkload:
    input_bytes = 0

    def __init__(self, names: list[str], warm_passes: int, min_passes: int):
        self.names = names
        self.warm_passes = warm_passes
        self.min_passes = min_passes
        self.oracle: dict[str, list] = {}

    def prepare(self, seed: int, work: str) -> None:
        """Evaluate each query's oracle with DuckDB in a child process, so
        DuckDB's memory stays out of the measured driver. The digests are
        kept in ``work`` under a hash of the oracle SQL and the lake, since
        some oracles take seconds and neither changes between runs."""
        from census_data_pipeline_spark.plans import ORACLE

        sql = {n: ORACLE[n] for n in self.names}
        lake = sorted((f, os.path.getsize(os.path.join(LAKE, f))) for f in os.listdir(LAKE))
        key = hashlib.sha256(json.dumps([sql, lake]).encode()).hexdigest()[:16]
        cache = os.path.join(work, f"oracle-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.oracle = json.load(f)
            return
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "canon.py"), LAKE],
            input=json.dumps(sql), capture_output=True, text=True, timeout=170,
        )
        if res.returncode != 0:
            raise RuntimeError(f"oracle evaluation failed:\n{res.stderr}")
        self.oracle = json.loads(res.stdout)
        os.makedirs(work, exist_ok=True)
        with open(cache, "w") as f:
            f.write(res.stdout)

    def warm_catalog(self, spark) -> None:
        from census_data_pipeline_spark.sources.catalog import load_tables

        load_tables(spark, LAKE)

    def run_pass(self, ctx: Context, check: bool) -> list[tuple[str, float, bool]]:
        from census_data_pipeline_spark.plans import QUERIES

        tr = ctx.tracer
        names = list(self.names)
        ctx.rng.shuffle(names)
        out = []
        for name in names:
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=name):
                    with tr.span("plans.build"):
                        df = QUERIES[name](ctx.spark, LAKE)
                    if check:
                        rows = df.collect()
                    else:
                        if tr.enabled:
                            with tr.span("catalyst.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tr.span("exec.sink") as rec:
                            df.write.format("noop").mode("overwrite").save()
                        tr.catalog_snapshot(rec)
            except Exception as e:  # a failed query counts; the pass goes on
                out.append((name, time.perf_counter() - t0, False))
                ctx.fail(name, repr(e)[:300])
                continue
            dt = time.perf_counter() - t0
            ok = True
            if check:
                c0 = time.perf_counter()
                got = digest(df.columns, rows)
                ok = got == self.oracle[name]
                if not ok:
                    ctx.fail(name, f"oracle mismatch: {got[:2]} vs {self.oracle[name][:2]}")
                ctx.check_s += time.perf_counter() - c0
            out.append((name, dt, ok))
        return out


# --- census_export -------------------------------------------------------

STATES = ["06", "48", "12"]
TRACTS_PER_STATE = 500
VARIABLES = {
    "B01003_001E": "total_population",
    "B19013_001E": "median_household_income",
    "B19301_001E": "per_capita_income",
    "B23025_003E": "labor_force",
    "B23025_005E": "unemployed",
    "B25077_001E": "median_home_value",
    "B17001_001E": "poverty_universe",
    "B17001_002E": "below_poverty",
    "B02001_002E": "white_population",
    "B02001_003E": "black_population",
    "B03003_003E": "hispanic_population",
    "B15003_022E": "bachelors",
    "B25001_001E": "housing_units",
    "B25002_003E": "vacant_units",
}
RATES = {
    "unemployment_rate": ("unemployed", "labor_force"),
    "poverty_rate": ("below_poverty", "poverty_universe"),
    "vacancy_rate": ("vacant_units", "housing_units"),
}
SENTINELS = ("-666666666", "-999999999", "-888888888", "-222222222", "-333333333")
JUNK = ("N/A", "", "(X)", "null", "-", "**")
EXPORT_FORMATS = ["parquet", "csv", "json", "geojson", "gpkg"]
GPKG_STATE = STATES[0]
SHARDS = 8


def generate_census(seed: int, states=STATES, tracts=TRACTS_PER_STATE) -> dict:
    """Seeded ACS tract responses and boundary records, with the values the
    pipeline's outputs must show.

    Each value is a valid count, a padded count, one of the reference's
    sentinel codes or a junk string; denominators are sometimes zero.
    Boundaries cover most tracts, add GEOIDs with no tract and repeat a
    few (the join dedupes them)."""
    rng = random.Random(seed)
    codes = list(VARIABLES)
    header = ["NAME", *codes, "state", "county", "tract"]
    payloads, records = {}, []
    nonnull = {VARIABLES[c]: 0 for c in codes}
    pop_sum = 0
    n_geom = 0
    for s in states:
        rows = [header]
        for i in range(tracts):
            county = f"{(i // 400) * 2 + 1:03d}"
            tract = f"{(i % 400) * 100 + 100:06d}"
            values = []
            for c in codes:
                r = rng.random()
                if r < 0.03:
                    values.append(rng.choice(SENTINELS))
                    continue
                if r < 0.04:
                    values.append(rng.choice(JUNK))
                    continue
                v = rng.randint(0, 5000)
                values.append(f" {v} " if r < 0.05 else str(v))
                nonnull[VARIABLES[c]] += 1
                if c == "B01003_001E":
                    pop_sum += v
            rows.append([f"Census Tract {tract[:4]}.{tract[4:]}; County {county}; "
                         f"State {s}", *values, s, county, tract])
            if rng.random() < 0.95:
                n_geom += 1
                records.append((s + county + tract, _square(rng)))
                if rng.random() < 0.01:
                    records.append((s + county + tract, _square(rng)))
        for j in range(50):
            records.append((f"{s}999{j:06d}", _square(rng)))
        payloads[s] = json.dumps(rows).encode()
    input_bytes = sum(map(len, payloads.values())) + sum(
        len(g) + len(w) for g, w in records)
    return {
        "payloads": payloads,
        "records": records,
        "input_bytes": input_bytes,
        "expect": {
            "rows": len(states) * tracts,
            "nonnull": nonnull,
            "pop_sum": pop_sum,
            "geometry": n_geom,
            "gpkg_rows": tracts,
        },
    }


def _square(rng: random.Random) -> str:
    x, y, d = rng.uniform(-124, -67), rng.uniform(25, 49), rng.uniform(0.001, 0.05)
    pts = [(x, y), (x + d, y), (x + d, y + d), (x, y + d), (x, y)]
    return "POLYGON ((" + ", ".join(f"{a:.6f} {b:.6f}" for a, b in pts) + "))"


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class CensusExportWorkload:
    # The check pass is the warm-up: the pass after it runs within about
    # 10% of steady state, and a second warm-up pass would not fit the
    # run-time budget.
    warm_passes = 0
    min_passes = 2

    def __init__(self):
        self.inputs: dict = {}

    def prepare(self, seed: int, work: str) -> None:
        self.inputs = generate_census(seed)

    @property
    def input_bytes(self) -> int:
        return self.inputs["input_bytes"]

    def warm_catalog(self, spark) -> None:
        from census_data_pipeline_spark.sources.catalog import load_table

        load_table(spark, LAKE, "documents")

    def transport(self, tracer):
        """The injected ``fetch``: decode the seeded payload for the state
        the request URL asks for."""
        payloads = self.inputs["payloads"]

        def fetch(url: str):
            with tracer.span("census_api.transport"):
                state = parse_qs(urlparse(url).query)["in"][0].split(":")[1]
                return json.loads(payloads[state])

        return fetch

    def run_pass(self, ctx: Context, check: bool) -> list[tuple[str, float, bool]]:
        from pyspark.sql import functions as F

        from census_data_pipeline_spark.pipeline import CensusSparkPipeline
        from census_data_pipeline_spark.sources import exporters, tiger
        from census_data_pipeline_spark.sources.catalog import load_table

        spark, tr = ctx.spark, ctx.tracer
        out_dir = os.path.join(ctx.work, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        path = {f: os.path.join(out_dir, f"tracts.{f}") for f in EXPORT_FORMATS}
        shards = os.path.join(out_dir, "shards")
        pipe = CensusSparkPipeline(spark, fetch=self.transport(tr))
        if tr.enabled:
            _wrap(pipe.client, "request", tr, "census_api.request")
            _wrap(pipe, "fetch_acs5", tr, "census_api.fetch_acs5")
        names = list(VARIABLES.values())
        state: dict = {}

        def fetch():
            state["df"] = pipe.fetch_batch_states(VARIABLES, "tract", STATES)

        def transform():
            df = pipe.clean_missing_values(state["df"], names)
            df = pipe.calculate_rates(df, RATES)
            b = tiger.boundaries_from_records(spark, self.inputs["records"])
            state["df"] = pipe.join_tiger_geometries(df, b)

        def export(fmt):
            def run():
                df = state["df"]
                if fmt == "gpkg":
                    df = df.filter(F.col("state") == GPKG_STATE)
                with tr.span(f"exporters.{fmt}.write") as rec:
                    pipe.export(df, path[fmt], fmt)
                if rec is not None:
                    rec["bytes"] = dir_bytes(path[fmt])
            return run

        def readback():
            with tr.span("exporters.readback"):
                row = spark.read.parquet(path["parquet"]).agg(
                    F.count(F.lit(1)),
                    *[F.count(c) for c in names],
                    F.sum("total_population"),
                    F.count("geometry"),
                ).first()
            state["readback"] = row

        def shards_write():
            docs = load_table(spark, LAKE, "documents").withColumn(
                "shard", F.col("doc_id") % SHARDS)
            with tr.span("exporters.shards.write") as rec:
                exporters.write_training_shards(docs, shards)
            if rec is not None:
                rec["bytes"] = dir_bytes(shards)

        def shards_verify():
            with tr.span("exporters.shards_verify"):
                exporters.read_training_shards(spark, shards, verify=True)

        exports = list(EXPORT_FORMATS)
        ctx.rng.shuffle(exports)
        steps = [("fetch_batch_states", fetch), ("clean_rates_join", transform)]
        steps += [(f"export_{f}", export(f)) for f in exports]
        steps += [("readback_parquet", readback), ("write_training_shards", shards_write),
                  ("read_training_shards", shards_verify)]

        out = []
        for name, fn in steps:
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=name):
                    fn()
            except Exception as e:  # a failed step counts; the pass goes on
                out.append((name, time.perf_counter() - t0, False))
                ctx.fail(name, repr(e)[:300])
                continue
            out.append((name, time.perf_counter() - t0, True))

        c0 = time.perf_counter()
        self._check_readback(ctx, state.get("readback"), out)
        if check:
            self._check_outputs(ctx, path, shards, out)
        ctx.check_s += time.perf_counter() - c0
        return out

    def _check_readback(self, ctx: Context, row, out) -> None:
        exp = self.inputs["expect"]
        names = list(VARIABLES.values())
        if row is None:
            return  # the readback step already failed
        got = {
            "rows": row[0],
            "nonnull": dict(zip(names, row[1:1 + len(names)])),
            "pop_sum": row[1 + len(names)],
            "geometry": row[2 + len(names)],
        }
        for k, v in got.items():
            if v != exp[k]:
                ctx.fail("readback_parquet", f"{k}: {v} != {exp[k]}")
                _mark_failed(out, "readback_parquet")

    def _check_outputs(self, ctx: Context, path: dict, shards: str, out) -> None:
        """Check-pass only: every other output holds every row."""
        from census_data_pipeline_spark.sources import geo_formats
        from census_data_pipeline_spark.sources.catalog import load_table

        spark = ctx.spark
        exp = self.inputs["expect"]
        counts = {
            "export_csv": spark.read.option("header", True).csv(path["csv"]).count(),
            "export_json": spark.read.json(path["json"]).count(),
            "export_geojson": spark.read.text(path["geojson"]).count(),
            "export_gpkg": len(geo_formats.read_gpkg(path["gpkg"])[1]),
            "write_training_shards": spark.read.json(shards).count(),
        }
        want = {
            "export_csv": exp["rows"], "export_json": exp["rows"],
            "export_geojson": exp["rows"], "export_gpkg": exp["gpkg_rows"],
            "write_training_shards": load_table(spark, LAKE, "documents").count(),
        }
        for op, n in counts.items():
            if n != want[op]:
                ctx.fail(op, f"{n} rows, expected {want[op]}")
                _mark_failed(out, op)


def _mark_failed(out: list, op: str) -> None:
    for i, (name, dt, _) in enumerate(out):
        if name == op:
            out[i] = (name, dt, False)


def _wrap(obj, attr: str, tracer, span: str) -> None:
    """Shadow a bound method on this instance with a traced call."""
    inner = getattr(obj, attr)

    def traced(*a, **kw):
        with tracer.span(span):
            return inner(*a, **kw)

    setattr(obj, attr, traced)


WORKLOADS = {
    "olap": lambda: RegistryWorkload(OLAP, warm_passes=1, min_passes=3),
    "iterative": lambda: RegistryWorkload(ITERATIVE, warm_passes=0, min_passes=4),
    "census_export": CensusExportWorkload,
}
