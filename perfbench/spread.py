"""Run the benchmark once per seed, for the ``run_seconds`` that
``BENCHMARK.json`` sets, and print each end-to-end metric's median,
quartiles and spread (distance between the quartiles as a share of the
median), as a parent-vs-change comparison needs them:

    python3 perfbench/spread.py --workload olap --seeds 101-110

Runs are sequential; each run's result line, its whole wall and its warm
pass walls are also printed as one JSON line prefixed with ``run``, so two
commits' runs can be paired later.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
sys.path.insert(0, HERE)

from measure import spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_range, required=True, help="e.g. 101-110")
    args = p.parse_args()
    with open(BENCHMARK_JSON) as f:
        seconds = str(json.load(f)["run_seconds"])
    results = []
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        detail, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
        results.append(result)
        print("run", json.dumps({"seed": seed, "run_wall_s": round(time.time() - t0, 1),
                                 "warm_walls_s": detail["warm_walls_s"], **result}), flush=True)
    bad = sum(not r["correct"] for r in results)
    print(f"{args.workload}: {len(results)} runs, {bad} with wrong or failed queries")
    for name in results[0]["metrics"]:
        s = spread([r["metrics"][name]["value"] for r in results])
        print(f"{name:28s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
              f"q3 {s['q3']:12.4f}  spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()
