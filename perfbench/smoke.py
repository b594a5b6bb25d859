#!/usr/bin/env python3
"""Smoke test of the benchmark. Run from the repository root:

  python3 perfbench/smoke.py

Runs every workload once untraced and once traced on tiny inputs (the
sf0.001 tables and a small generated reports set) and fails when a run
exits non-zero, an output check fails, or a metric that BENCHMARK.json
declares is missing or has no unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        manifest = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            tag = f"{workload} trace={trace}"
            before = len(problems)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}: {(r.stdout + r.stderr)[-1500:]}")
                continue
            result = json.loads(lines[-1])
            if not result["correct"]:
                problems.append(f"{tag}: output check failed:\n" + "\n".join(lines[:-1]))
            declared = manifest["per_layer" if trace else "end_to_end"]
            for d in declared:
                m = result["metrics"].get(d["name"])
                if m is None or not m.get("unit") or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {d['name']} missing or without unit")
            if trace == 0:
                for name in ("failed_frac", "wrong_frac"):
                    if not any(l.startswith(f"{workload} {name} ") for l in lines):
                        problems.append(f"{tag}: {name} not printed")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'} "
                  f"({len(result['metrics'])} metrics, attempted {result['attempted']})")
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: " + ("FAILED" if problems else "all workloads ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
