"""Run one workload on several seeds and print, per metric, the median and
the quartile spread (Q3 - Q1) as a share of the median, next to a third of
the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload search_serve --seeds 1-10 [--trace 0]

Run from the repository root; runs are sequential, each one a separate
``perfbench/run.py`` process with the benchmark's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        load = next((w for w in lines[0].split() if w.startswith("loadavg1=")), "")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items() if k in bounds)
        print(f"seed {seed}: rc={proc.returncode} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} {load} {shown}", flush=True)

    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        limit = bounds.get(name)
        flag = "" if limit is None or spread < limit / 3 else "  <-- above bound/3"
        limit_s = f"{limit / 3:.3f}" if limit is not None else "-"
        print(f"{name:32s} median {med:12.6g}  spread {spread:.3f}  bound/3 {limit_s}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
