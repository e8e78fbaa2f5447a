"""Tiny-scale smoke run of every benchmark workload.

    python3 perfbench/smoke.py [--corpus DIR]

Runs each workload of BENCHMARK.json once untraced and once traced on a
corpus of scale 0.001 (generated, or DIR when given, e.g. an sf0.001
corpus), and asserts that every metric BENCHMARK.json names is printed
with its unit, that every answer was right and that `error_rate` is 0.
Exits non-zero on the first failure.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, trace, corpus):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace)]
    cmd += ["--corpus", corpus] if corpus else ["--scale", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["run"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="corpus directory instead of a generated one")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            run, res = run_once(w["name"], trace, args.corpus)
            assert res["correct"] and res["failed"] == 0, res
            assert run["error_rate"] == 0, run
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{w['name']}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), got
            print(f"ok {w['name']} trace={trace}: {res['attempted']} operations, "
                  f"{len(res['metrics'])} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
