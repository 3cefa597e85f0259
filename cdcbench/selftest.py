#!/usr/bin/env python3
"""Toy-size self-test of the CDC-plane benchmark.

    python3 cdcbench/selftest.py

Runs every workload of BENCHMARK.json at toy size, untraced and traced, and
asserts that each run exits 0, passes its output check (error_rate = 0,
correct = true) and prints every metric BENCHMARK.json names, with its unit.
Takes about five minutes; the first run also builds.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--toy"],
                       cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    return p.stdout.strip().splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines = run(w["name"], trace)
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            err = [l for l in lines if l.startswith("error_rate")]
            rate = float(err[0].split()[1]) if err else None
            checks = {
                "correct": result["correct"] is True and result["failed"] == 0,
                "error_rate = 0": rate == 0.0,
                "p99 sample count": any(re.match(r"latency_p99_ms samples: \d+", l) for l in lines),
            }
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                checks[m["name"]] = (got is not None and got["unit"] == m["unit"]
                                     and isinstance(got["value"], (int, float)))
            bad = [k for k, ok in checks.items() if not ok]
            print(f"{w['name']:15s} trace={trace}: {'ok' if not bad else 'FAIL ' + ', '.join(bad)}")
            failures += bad
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
