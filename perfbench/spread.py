"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload backlog_pipeline --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run after another, with the
run length from ``BENCHMARK.json``. Prints each run's result line, then
for every metric the median of its values and its spread: the distance
between the first and third quartile (``statistics.quantiles(values,
n=4)``) as a share of the median. A spread above a third of the metric's
bound is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    first, _, last = spec.partition("-")
    return list(range(int(first), int(last or first) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="a seed or a range such as 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", flush=True)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}", flush=True)
        print("   ", lines[-2] if len(lines) > 1 else "", flush=True)
        print("   ", {k: round(m["value"], 4) for k, m in result["metrics"].items()}, flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    for name, vs in values.items():
        med = statistics.median(vs)
        spread = float("nan")
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / abs(med)
        bound = bounds.get(name)
        flag = "  above bound/3" if bound and spread > bound / 3 else ""
        print(f"{name:32s} median {med:14.4f}  spread {spread:6.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
