"""Run one workload untraced with several seeds, at BENCHMARK.json's
run_seconds, and print per end-to-end metric the median and the quartile
spread (Q3 - Q1) / median that decides whether the benchmark is steady.

    python3 perfbench/spread.py --workload scan_curation --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        out = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t0:.1f}s wall, failed {result['failed']}/{result['attempted']}, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        spread = quartile_spread(v) if len(v) >= 2 and median(v) else float("nan")
        print(f"{k:40s} median {median(v):.5g}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
