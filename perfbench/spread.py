"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload crawl_expand --seeds 1-10 --out runs.jsonl

Each run is a separate process, as the benchmark is used. One JSON line per
run (seed, wall, result line and report metrics) is appended to ``--out``;
then, per metric, the median and the distance between the first and third
quartile (``statistics.quantiles(n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(x) for x in text.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="'1-10' or '1,4,7'")
    ap.add_argument("--seconds", default="40")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        report = {ln.split()[1]: float(ln.split()[2]) for ln in lines if ln.startswith("metric ")}
        report = {k: v for k, v in report.items() if not math.isnan(v)}  # e.g. no steady round
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "run_wall_s": wall,
                                "result": result, "report": report}) + "\n")
        for name, value in report.items():
            values.setdefault(name, []).append(value)
        print(f"seed {seed} run {wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in report.items()), flush=True)
    for name, vs in values.items():
        if len(vs) >= 2:
            med, rel = spread(vs)
            print(f"spread {name} n={len(vs)} median={med:.4g} iqr/median={rel:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
