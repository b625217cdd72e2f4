#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size.

    python3 sketchbench/selftest.py

For each of the four workloads it makes two tiny runs:
  1. --trace 0: must exit 0, pass its gates, and print every end_to_end
     metric of BENCHMARK.json by name with its unit;
  2. --trace 1 --wrong-expected 1: the expected outputs are deliberately
     wrong, so the gate must trip: a non-zero exit, failed > 0, and still
     every per_layer metric by name with its unit.
Exits 1 on the first violated check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["build", "probe", "dedup", "stream"]


def run(workload, trace, wrong):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--smoke", "1",
           "--wrong-expected", wrong]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload}: no output\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-1]), lines[:-1]


def check_metrics(workload, result, spec):
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None:
            raise AssertionError(f"{workload}: metric {m['name']} not printed")
        if got["unit"] != m["unit"]:
            raise AssertionError(f"{workload}: {m['name']} unit {got['unit']!r} != {m['unit']!r}")
        if not isinstance(got["value"], (int, float)):
            raise AssertionError(f"{workload}: {m['name']} value is not a number")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in WORKLOADS:
        rc, res, notes = run(w, "0", "0")
        if rc != 0 or not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
            raise AssertionError(f"{w}: clean run failed: rc={rc} {res} {notes}")
        check_metrics(w, res, bench["end_to_end"])
        if not any(n.startswith("metric failed_ratio") for n in notes):
            raise AssertionError(f"{w}: failed_ratio not printed")
        print(f"ok  {w} trace=0: {res['attempted']} attempted, all end_to_end metrics printed")

        rc, res, notes = run(w, "1", "1")
        if rc == 0 or res["correct"] or res["failed"] < 1:
            raise AssertionError(f"{w}: a wrong expected value did not trip the gate: rc={rc} {res}")
        check_metrics(w, res, bench["per_layer"])
        ratio = [n for n in notes if n.startswith("metric failed_ratio")]
        if not ratio or float(ratio[0].split()[2]) <= 0:
            raise AssertionError(f"{w}: failed_ratio did not rise: {ratio}")
        print(f"ok  {w} trace=1 wrong-expected: gate tripped ({res['failed']} of "
              f"{res['attempted']} failed), all per_layer metrics printed")
    print("SELFTEST PASS")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"SELFTEST FAIL: {e}")
        sys.exit(1)
