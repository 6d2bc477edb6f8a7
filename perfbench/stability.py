#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize how steady it is.

    python3 perfbench/stability.py --seeds 1-10 [--workloads a,b] [--against OLD] --out FILE

For every workload and seed it runs ``run.py`` twice, untraced and then
traced, so the tracing overhead comes from pairs. The summary gives, per
metric, the median, the quartiles and the spread (quartile distance over
median) next to the bound in ``BENCHMARK.json``; which per-operation job,
task and persisted-RDD counts repeat exactly across passes and runs, and
which do not;
and the overhead (traced minus untraced pass time). ``--against`` compares
each end-to-end median with an earlier summary's and flags any that got
worse by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.perf_counter()
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if res.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{res.stderr[-3000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": spread(values) if med else 0.0, "values": values}


def summarize_runs(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name, m in runs[0]["metrics"].items():
        s = summarize([r["metrics"][name]["value"] for r in runs])
        s["unit"] = m["unit"]
        s["bound"] = bounds.get(name)
        out[name] = s
    return out


def count_repeatability(workload: str, seeds: list[int]) -> dict:
    """Job, task and persisted-RDD counts per (operation, layer) over every
    timed pass of every traced run: a count repeats when it takes one value
    only."""
    seen = defaultdict(set)
    for seed in seeds:
        path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")
        with open(path) as f:
            rec = json.load(f)
        t0 = rec["passes"][0]["t0"]
        spans = rec["spans"]
        ops = {s["id"]: s.get("op") for s in spans if s["name"] == "op"}
        for s in spans:
            if s["start"] < t0 or "jobs" not in s or s["name"] == "op":
                continue
            op = ops.get(s["parent"])
            if op is None:
                continue
            for key in ("jobs", "tasks", "persisted_rdds"):
                if key in s:
                    seen[f"{op}/{s['name']}.{key}"].add(s[key])
    return {
        "repeat": sorted(k for k, v in seen.items() if len(v) == 1),
        "vary": {k: sorted(v) for k, v in sorted(seen.items()) if len(v) > 1},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--against", help="an earlier summary to compare medians with")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = parse_seeds(args.seeds)
    report = {"seconds": bench["run_seconds"], "seeds": seeds, "host": host(),
              "workloads": {}}
    for w in workloads:
        plain, traced = [], []
        for seed in seeds:
            for runs, trace in ((plain, False), (traced, True)):
                r = run_once(w, seed, bench["run_seconds"], trace)
                runs.append(r)
                print(f"{w} seed {seed} trace {int(trace)}: wall {r['wall_s']:.1f}s "
                      f"failed {r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
        overhead = [t["metrics"]["trace.pass_s"]["value"] - p["metrics"]["pass_s"]["value"]
                    for p, t in zip(plain, traced)]
        entry = {
            "failed": sum(r["failed"] for r in plain + traced),
            "attempted": sum(r["attempted"] for r in plain + traced),
            "run_wall_s": summarize([r["wall_s"] for r in plain]),
            "traced_run_wall_s": summarize([r["wall_s"] for r in traced]),
            "end_to_end": summarize_runs(plain, bounds),
            "per_layer": summarize_runs(traced, bounds),
            "tracing_overhead_s": summarize(overhead),
            "counts": count_repeatability(w, seeds),
        }
        report["workloads"][w] = entry
        print_entry(w, entry)
    if args.against:
        compare(report, args.against)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


def print_entry(w: str, entry: dict) -> None:
    print(f"{w}: failed {entry['failed']}/{entry['attempted']}, run wall median "
          f"{entry['run_wall_s']['median']:.1f}s untraced, "
          f"{entry['traced_run_wall_s']['median']:.1f}s traced")
    for name, s in {**entry["end_to_end"], **entry["per_layer"]}.items():
        flag = ""
        if s["bound"] is not None and name != "setup_s" and s["spread"] > s["bound"] / 3:
            flag = "  <-- spread above a third of the bound"
        print(f"  {name:34s} median {s['median']:14.6f} {s['unit']:6s} "
              f"spread {s['spread']:.4f} bound {s['bound']}{flag}")
    o = entry["tracing_overhead_s"]
    print(f"  tracing overhead (paired, median)  {o['median']:+.3f}s per pass")
    for name, values in entry["counts"]["vary"].items():
        print(f"  count varies: {name} {values}")
    print(f"  counts that repeat exactly: {len(entry['counts']['repeat'])}")


def compare(report: dict, path: str) -> None:
    with open(path) as f:
        old = json.load(f)
    for w, entry in report["workloads"].items():
        before = old["workloads"].get(w)
        if before is None:
            continue
        for name, s in entry["end_to_end"].items():
            ratio = s["median"] / before["end_to_end"][name]["median"]
            verdict = "ok" if ratio - 1 <= s["bound"] else "WORSE THAN BOUND"
            print(f"{w:14s} {name:14s} median {s['median']:.4f} vs "
                  f"{before['end_to_end'][name]['median']:.4f} ({ratio - 1:+.1%}, "
                  f"bound {s['bound']}) {verdict}")


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model,
            "python": platform.python_version(), "machine": platform.machine()}


if __name__ == "__main__":
    sys.exit(main())
