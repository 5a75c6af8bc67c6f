#!/usr/bin/env python3
"""Record a baseline set: run every BENCHMARK.json workload once per seed
(untraced), then once traced, and keep the records and a summary. With
one seed (--seeds 7) it is the one command that runs every workload for
that seed, printing each end-to-end metric with its unit and whether the
output checks passed.

    python3 perfbench/baseline.py --out perfbench/baseline/<name> [--seeds 1-10]

For each end-to-end metric the summary gives the median over the seeds
and the spread: the distance between the first and third quartiles
(Python's statistics.quantiles(values, n=4)) as a share of the median,
next to the metric's bound, and each untraced run's wall time (set-up
and build included). Runs go one after another, never in parallel.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record = max(glob.glob(os.path.join(
        HERE, "runs", f"{workload}-*-seed{seed}-trace{trace}.json")), key=os.path.getmtime)
    return result, record, wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    summary = {"seeds": a.seeds, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        correct = True
        walls = []
        for seed in seeds(a.seeds):
            result, record, wall = run(w, seed, spec["run_seconds"], 0)
            walls.append(wall)
            correct &= result["correct"]
            shutil.copy(record, a.out)
            for name, m in result["metrics"].items():
                values[name].append(m["value"])
            print(f"{w} seed {seed} ({wall:.0f} s): correct={result['correct']} " + " ".join(
                f"{k}={v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items()),
                flush=True)
        entry = {"correct": correct, "run_wall_s": walls, "metrics": {}}
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            entry["metrics"][m["name"]] = {
                "median": statistics.median(v), "unit": m["unit"],
                "spread": spread(v) if len(v) >= 2 else None,
                "bound": m["bound"], "values": v}
        result, record, _ = run(w, seeds(a.seeds)[0], spec["run_seconds"], 1)
        shutil.copy(record, a.out)
        with open(record) as fh:
            info = json.load(fh)["info"]
        entry["traced"] = {"correct": result["correct"],
                           "record": os.path.basename(record),
                           "tracing_overhead_op_p50_s": info.get("tracing_overhead_op_p50_s"),
                           "per_layer": {k: v["value"] for k, v in result["metrics"].items()}}
        summary["workloads"][w] = entry
        if len(seeds(a.seeds)) >= 2:
            for name, m in entry["metrics"].items():
                print(f"{w} {name}: median {m['median']:.4g} {m['unit']}, spread "
                      f"{m['spread']:.3f} (bound {m['bound']})", flush=True)
    with open(os.path.join(a.out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
