#!/usr/bin/env python3
"""Runs the benchmark several times per workload, each with another seed, and
reports for every end-to-end metric the median and the spread (distance
between first and third quartile, as a share of the median) next to the
metric's bound from BENCHMARK.json. Run from the root of the checkout:

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]

A spread above a third of its bound (setup_s excepted) is flagged. The raw
results are appended, one JSON object per run, to .perfbench/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import time

SPEC = json.load(open("BENCHMARK.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in SPEC["workloads"]]
    os.makedirs(".perfbench", exist_ok=True)
    steady = True
    for name in names:
        values = {m["name"]: [] for m in SPEC["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(SPEC["command"] + ["--workload", name, "--seed", str(seed),
                               "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            wall = time.time() - t0
            with open(os.path.join(".perfbench", "spread.jsonl"), "a") as fh:
                fh.write(json.dumps({"workload": name, "seed": seed, "exit": p.returncode,
                                     "wall_s": wall, "result": result}) + "\n")
            print(f"{name} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                             if v["value"] is not None), flush=True)
            for k, v in result["metrics"].items():
                values[k].append(v["value"])
        for m in SPEC["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = ""
            if m["name"] != "setup_s" and spread > m["bound"] / 3:
                flag, steady = "  <-- above bound/3", False
            print(f"  {name} {m['name']}: median {med:.4g} {m['unit']}, "
                  f"spread {spread:.3f} (bound {m['bound']}){flag}")
    print("steady" if steady else "NOT steady")


if __name__ == "__main__":
    main()
