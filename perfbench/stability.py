"""Run-to-run spread of the end-to-end metrics.

Usage (from the root of a checkout)::

    python3 perfbench/stability.py --workload corpus --seeds 1-10 \\
        [--out spread.json]

Runs ``run.py --trace 0`` once per seed, one after another, and prints
for every end-to-end metric its median, quartiles and quartile spread
(Q3 - Q1) as a share of the median, next to the metric's bound from
BENCHMARK.json. Quartiles are ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds",
               str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if res.returncode != 0:
            print(res.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {res.returncode}", file=sys.stderr)
            return 1
        out = json.loads(res.stdout.strip().splitlines()[-1])
        out["seed"], out["wall_s"] = seed, wall
        runs.append(out)
        print(f"seed {seed}: {wall:.1f} s wall, attempted "
              f"{out['attempted']}, failed {out['failed']}, " + ", ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "bound": bound}
        print(f"{name:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}"
              f"  spread {(q3 - q1) / med:7.2%}  bound {bound:.0%}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
