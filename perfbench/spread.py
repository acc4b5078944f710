"""Run the benchmark over several seeds and report how much it spreads.

Usage, from the repository root:

    python3 perfbench/spread.py --workload stream_ingest --seeds 1-10

For each end-to-end metric it prints the median of the runs and the
distance between their first and third quartile as a share of the
median; the bounds in BENCHMARK.json are judged against that spread.
It also prints each run's wall time, which the run budget is made of.
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
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            check=True,
        ).stdout
        walls.append(time.monotonic() - t0)
        result = json.loads(out.strip().splitlines()[-1])
        summary = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {summary}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: median {statistics.median(vs):.4f} spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
