#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size (--size tiny: sf0.001, one
fixture seed, four corpus queries). Run from the root of the checkout:

    python3 perfbench/selftest.py

It checks that
  * every workload prints every end-to-end metric (trace 0) and every
    per-layer metric (trace 1) of BENCHMARK.json, each with its unit, and
    passes its output checks;
  * an injected failure -- a missing input dir, a throwing query -- shows in
    `failed`, makes the run exit non-zero, and is never timed as a pass
    (job_s is null when no pass succeeded);
  * the benchmark refuses to run, printing no result, in a directory that
    holds only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, *extra, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return p.returncode, result


def expect(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def check_metrics(workload, trace, result):
    spec = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    expect(set(got) == {m["name"] for m in spec},
           f"{workload} trace={trace}: metric names match BENCHMARK.json")
    for m in spec:
        v = got[m["name"]]
        expect(v["unit"] == m["unit"] and isinstance(v["value"], (int, float)),
               f"{workload} trace={trace}: {m['name']} = {v['value']} {v['unit']}")
    if not trace:
        expect(all(got[m["name"]]["value"] > 0 for m in spec),
               f"{workload}: end-to-end metrics are non-zero")


def main():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            code, result = run(w["name"], trace)
            expect(code == 0 and result and result["correct"] and result["failed"] == 0,
                   f"{w['name']} trace={trace}: exit 0, correct, no failures")
            check_metrics(w["name"], trace, result)

    code, result = run("retail_csv", 0, "--inject", "missing-input")
    expect(code != 0 and result and not result["correct"]
           and result["failed"] == result["attempted"],
           "missing input dir: every pass after set-up fails, exit non-zero")
    expect(result["metrics"]["job_s"]["value"] is None, "missing input dir: no pass is timed")

    code, result = run("corpus", 0, "--inject", "q_a3_daily_sales")
    expect(code != 0 and result and not result["correct"]
           and result["failed"] == result["attempted"] // 4,
           "throwing query: counted once per sweep of the four queries, exit non-zero")
    expect(result["metrics"]["job_s"]["value"] is None,
           "throwing query: a sweep with a failed query is never timed")

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("target"))
        code, result = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        expect(code != 0 and result is None, "bare directory: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
