#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run reports every end-to-end
metric BENCHMARK.json names and a traced run every per-layer metric, both
with correct outputs. It then writes stores with one flipped payload byte
(--corrupt-store) and checks that the run reports failed operations and
correct=false instead of a clean result. Exits 1 on any violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.05"]


def run(workload: str, *extra: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd = [sys.executable] + spec["command"][1:] + [
        "--workload", workload, *TINY, *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            res = run(w, "--trace", trace)
            missing = [m["name"] for m in spec[key]
                       if m["name"] not in res["metrics"]]
            if missing:
                problems.append(f"{w} --trace {trace}: missing {missing}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} --trace {trace}: incorrect {res}")
        bad = run(w, "--trace", "0", "--corrupt-store")
        if bad["correct"] or not bad["failed"]:
            problems.append(f"{w}: a corrupted store was not detected "
                            f"(failed={bad['failed']})")
        print(f"{w}: corrupted store -> failed {bad['failed']} of "
              f"{bad['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
