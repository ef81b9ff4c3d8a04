#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and record how steady it is.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/EVIDENCE.json

In each of ``--sets`` sets, one after another, runs ``perfbench/run.py``
once per seed for every workload in BENCHMARK.json (sequentially, from
the repository root) and records, per end-to-end metric (the gated ones
and the report's wall-clock ones), the values, their median, and their
quartile spread: (Q3 - Q1) / median with Q1 and Q3 from
``statistics.quantiles(values, n=4)``. Every set has its own seeds.
``median_shift`` is, per metric, the relative change of each later
set's median from the first's; every end-to-end metric is better lower,
so a positive shift is worse. The output also records the command, seeds,
``nproc``, the effective Spark conf of the session and each run's wall
time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def sweep(spec: dict, name: str, seeds: list[int], evidence: dict) -> dict:
    """One run per seed of one workload; the values of every end-to-end
    metric in the reports, with median and spread."""
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls, inputs, failed = [], [], 0
    for seed in seeds:
        cmd = spec["command"] + ["--workload", name, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(round(time.time() - t0, 1))
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            failed += 1
            continue
        report = json.loads(lines[-2])["report"]
        result = json.loads(lines[-1])
        failed += result["failed"]
        inputs.append(report["inputs"])
        evidence.setdefault("spark_conf", report["spark_conf"])
        # the gated metrics and the ungated wall-clock ones of the report
        for k, v in report["end_to_end"].items():
            values.setdefault(k, []).append(v)
        print(f"{name} seed {seed}: " + ", ".join(
            f"{k}={v:.3f}" for k, v in report["end_to_end"].items()), flush=True)
    out = {
        "seeds": seeds,
        "failed": failed,
        "run_wall_s": walls,
        "inputs": inputs,
        "metrics": {k: {"values": v, "median": statistics.median(v),
                        "spread": spread(v), "bound": bounds.get(k)}
                    for k, v in values.items() if len(v) >= 2},
    }
    for k, m in out["metrics"].items():
        print(f"{name} {k}: median {m['median']:.3f} spread {m['spread']:.3f} "
              f"(bound {m['bound']})", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2,
                    help="sets of runs, one after another, each with its own seeds")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", help="default: all in BENCHMARK.json")
    ap.add_argument("--out", help="write the evidence JSON here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    evidence = {"command": spec["command"], "run_seconds": spec["run_seconds"],
                "nproc": len(os.sched_getaffinity(0)), "sets": []}
    for i in range(args.sets):
        seeds = list(range(args.first_seed + i * args.runs,
                           args.first_seed + (i + 1) * args.runs))
        evidence["sets"].append({name: sweep(spec, name, seeds, evidence) for name in names})
    first = evidence["sets"][0]
    evidence["median_shift"] = {
        name: {k: [s[name]["metrics"][k]["median"] / m["median"] - 1
                   for s in evidence["sets"][1:]]
               for k, m in first[name]["metrics"].items()}
        for name in names}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(evidence, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
