"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload build_html --seeds 1-10 --trace 0

For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median,
plus the wall time of each run. Run lengths come from BENCHMARK.json.
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


def seeds_of(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict = {}
    failed = attempted = 0
    for seed in seeds_of(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.time()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        extra = " ".join(x for x in lines[:-1] if x.startswith("# trace"))
        extra += " ".join(
            x[len("[perfbench] "):] for x in out.stderr.splitlines()
            if "passes" in x or "peak memory" in x
        )
        print(
            f"seed {seed}: {time.time() - t:.1f}s run, correct={result['correct']} "
            f"attempted={result['attempted']} failed={result['failed']} {extra}",
            flush=True,
        )
        attempted += result["attempted"]
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, (m["unit"], []))[1].append(m["value"])
    print(f"operations: attempted={attempted} failed={failed}")
    for name, (unit, xs) in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:28s} {med:14.4f} {unit:10s} q1={q1:.4f} q3={q3:.4f} spread={spread:.3f}")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
