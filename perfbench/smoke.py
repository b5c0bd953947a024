#!/usr/bin/env python3
"""Self-check of the benchmark at sf0.001 with the fewest passes.

Usage (from the root of a checkout):  python3 perfbench/smoke.py

For every workload it runs one plain and one traced run and checks that
the result line names exactly the end-to-end (plain) or per-layer
(traced) metrics of BENCHMARK.json, each with its unit, and that every
operation passed. Then it runs `queries` against a copy of the expected
digests with one digest altered and checks that the run reports that
query as a failed operation. Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

import run as bench

SF = "0.001"


def result(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", SF]
    if expected:
        cmd += ["--expected", expected]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=bench.ROOT)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def check(cond, what):
    if not cond:
        sys.exit(f"FAIL {what}")
    print(f"ok   {what}")


def main():
    spec = json.load(open(os.path.join(bench.ROOT, "BENCHMARK.json")))
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = result(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            check({k: v["unit"] for k, v in got["metrics"].items()} == want,
                  f"{w} trace={trace}: every {key} metric emitted with its unit")
            check(got["correct"] and got["failed"] == 0 and got["attempted"] > 0,
                  f"{w} trace={trace}: {got['attempted']} operations, none failed")
    # a wrong expected digest must surface as a failed operation
    work = os.path.join(bench.ROOT, ".bench_run", "smoke")
    os.makedirs(work, exist_ok=True)
    try:
        exp = json.load(open(os.path.join(bench.HERE, "expected", f"sf{SF}.json")))
        victim = sorted(exp["queries"])[0]
        exp["queries"][victim]["digest"] = "0" * 32
        bad = os.path.join(work, "wrong.json")
        json.dump(exp, open(bad, "w"))
        got = result("queries", 0, expected=bad)
        check(not got["correct"] and got["failed"] >= 1,
              f"wrong digest for {victim} counted as failed ({got['failed']}/{got['attempted']})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("smoke OK")


if __name__ == "__main__":
    main()
