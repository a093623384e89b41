#!/usr/bin/env python3
"""Smoke run: every workload, untraced and traced, on the sf0.001 corpus.

Usage (from the repository root): python3 c360bench/smoke.py

Asserts that each run prints every metric named in BENCHMARK.json with
its unit, that no operation failed, and that the traced run wrote its
span file. About four minutes on four cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "7", "--seconds", "2",
                   "--trace", str(trace), "--corpus-sf", "0.001"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if res["failed"] != 0 or not res["correct"]:
                problems.append(f"{tag}: {res['failed']} failed\n{r.stderr}")
            for m in spec[section]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or "
                                    f"without unit {m['unit']}: {got}")
            if trace:
                spans = os.path.join(
                    ROOT, ".c360bench", "runs",
                    f"{w['name']}-s7-c{os.cpu_count()}-t1-sf0.001",
                    "spans.json")
                if not os.path.exists(spans):
                    problems.append(f"{tag}: no span file at {spans}")
            print(f"{tag}: attempted {res['attempted']}, failed {res['failed']}")
    for p in problems:
        print("SMOKE FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
