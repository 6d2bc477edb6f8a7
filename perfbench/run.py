#!/usr/bin/env python3
"""Engine benchmark: one workload, one closed loop, one JSON result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives one Spark session on
``local[<cpus>]`` (``SPARK_GRAFT_CPUS`` set to the same count). The run
starts its own session, warms it (a check pass that compares every result,
then warm-up passes), and then runs timed passes over the workload's
operations, in an order drawn from ``--seed``, until ``--seconds`` have
passed. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it records spans around each layer call and reports the
per-layer metrics, writing the spans to ``.perfbench/traces/``.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import time

import stats
from workloads import EXPORT_FORMATS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A fixed, pre-touched driver heap: its resident size no longer depends on
# when the collector chose to grow it, so peak_rss_mb repeats run to run
# and heap pressure shows in jvm.gc_s and pass_s instead.
HEAP = "1g"


def metric_units() -> dict[str, str]:
    """Metric names and units, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate_environment(cpus: int) -> str:
    """Point every temporary and scratch file of Python, the JVM and Spark
    into the checkout's ``.perfbench/tmp``; set the slot count."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
        " -XX:-UsePerfData'",
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    return tmp


def jvm_peak_mb(proc) -> float:
    """Peak resident memory (``VmHWM``) of the JVM child."""
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM process")


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (Spark's Python workers below the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:  # they exit when the JVM's pipes close
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process not yet reaped counts as
    ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_to_end(passes, setup_s, rss_mb):
    lat = [dt for p in passes for _, dt, _ in p["ops"]]
    pct, tail = stats.tail_percentile(lat)
    metrics = {
        "pass_s": statistics.median(p["wall"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }
    notes = {"op_tail_percentile": round(pct, 1), "op_samples": len(lat)}
    return metrics, notes


def per_layer(spans, passes, session, input_bytes):
    """Sum each layer over a pass, then take the median over passes."""
    by_pass = []
    for p in passes:
        inside = [s for s in spans if p["t0"] <= s["start"] and s["end"] <= p["t1"]]

        def total(name, key=None):
            sel = [s for s in inside if s["name"] == name]
            return sum((s["end"] - s["start"]) if key is None else s.get(key, 0)
                       for s in sel)

        sinks = [s for s in inside if s["name"] == "exec.sink"]
        transport = total("census_api.transport")
        request = total("census_api.request")
        written = sum(s.get("bytes", 0) for s in inside if "bytes" in s)
        m = {
            "plans.build_s": total("plans.build"),
            "plans.build_jobs": total("plans.build", "jobs"),
            "plans.build_tasks": total("plans.build", "tasks"),
            "catalyst.plan_s": total("catalyst.plan"),
            "exec.sink_s": total("exec.sink"),
            "exec.jobs": total("exec.sink", "jobs"),
            "exec.tasks": total("exec.sink", "tasks"),
            "catalog.persisted_rdds_at_sink": sum(s.get("persisted_rdds", 0) for s in sinks),
            "catalog.cached_mb_at_sink": sum(s.get("cached_mb", 0.0) for s in sinks),
            "jvm.gc_s": p["gc_s"],
            "census_api.transport_s": transport,
            "census_api.wait_s": request - transport,
            "census_api.parse_s": total("census_api.fetch_acs5") - request,
            "exporters.readback_s": total("exporters.readback"),
            "exporters.shards.write_s": total("exporters.shards.write"),
            "exporters.shards_verify_s": total("exporters.shards_verify"),
            "exporters.bytes_written": written,
            "exporters.write_amp": written / input_bytes if input_bytes else 0.0,
            "trace.pass_s": p["wall"],
        }
        for fmt in EXPORT_FORMATS:
            m[f"exporters.{fmt}.write_s"] = total(f"exporters.{fmt}.write")
        by_pass.append(m)
    out = {"session.start_s": session["start"], "session.warm_s": session["warm"]}
    for name in by_pass[0]:
        out[name] = statistics.median(m[name] for m in by_pass)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import census_data_pipeline_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    tmp = isolate_environment(cpus)
    from census_data_pipeline_spark.session import get_spark
    from spans import Tracer
    from workloads import Context

    workload = WORKLOADS[args.workload]()
    workload.prepare(args.seed, WORK)  # inputs and oracles: not part of set-up
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        tracer.attach(spark.sparkContext)
        ctx = Context(spark, tracer, random.Random(args.seed), tmp)
        attempted = []
        with tracer.span("session.warm"):
            workload.warm_catalog(spark)
            attempted += workload.run_pass(ctx, check=True)
            for _ in range(workload.warm_passes):
                attempted += workload.run_pass(ctx, check=False)
        t2 = time.perf_counter()
        setup_s = t2 - t0 - ctx.check_s
        session = {"start": t1 - t0, "warm": t2 - t1 - ctx.check_s}

        passes = []
        while (len(passes) < workload.min_passes
               or time.perf_counter() - t2 < args.seconds):
            gc0 = tracer.gc_s()
            p0 = time.perf_counter()
            ops = workload.run_pass(ctx, check=False)
            p1 = time.perf_counter()
            passes.append({"ops": ops, "wall": p1 - p0, "t0": p0, "t1": p1,
                           "gc_s": tracer.gc_s() - gc0})
            attempted += ops
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        rss_mb += jvm_peak_mb(proc) if proc is not None else 0.0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    failed = sum(1 for _, _, ok in attempted if not ok)
    if args.trace:
        write_trace(args, tracer.spans, passes)
        metrics = per_layer(tracer.spans, passes, session, workload.input_bytes)
        notes = {}
    else:
        metrics, notes = end_to_end(passes, setup_s, rss_mb)
    units = metric_units()
    metrics = {k: (v, units[k]) for k, v in metrics.items()}
    report(args, metrics, notes, passes, attempted, failed, ctx.errors)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def write_trace(args, spans, passes) -> None:
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "passes": [{k: p[k] for k in ("wall", "t0", "t1", "gc_s")}
                              for p in passes],
                   "spans": spans}, f)


def report(args, metrics, notes, passes, attempted, failed, errors) -> None:
    """Human-readable lines ahead of the JSON line."""
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(passes)} timed passes, {len(attempted)} operations, "
          f"failed_ratio {failed / len(attempted):.4f}")
    for k, v in notes.items():
        print(f"  {k:34s} {v}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:34s} {value:14.6f} {unit}")
    by_op = {}
    for p in passes:
        for op, dt, _ in p["ops"]:
            by_op.setdefault(op, []).append(dt)
    for op, lat in by_op.items():
        print(f"  op {op:31s} {statistics.median(lat):14.6f} s median of {len(lat)}")
    for e in errors:
        print(f"  FAILED {e}")


if __name__ == "__main__":
    sys.exit(main())
