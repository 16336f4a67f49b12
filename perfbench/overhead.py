#!/usr/bin/env python3
"""Tracing overhead: the same workload and seed, untraced and traced.

    python3 perfbench/overhead.py --workload serve --seed 1 [--seconds 15]

Runs ``run.py`` once with ``--trace 0`` and once with ``--trace 1`` and
prints, per op kind, the median latency of both runs and their difference.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def detail(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["ops"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch", "replicate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()
    plain = detail(args.workload, args.seed, args.seconds, 0)
    traced = detail(args.workload, args.seed, args.seconds, 1)
    rows = {k: {"untraced_p50_ms": plain[k]["p50_ms"], "traced_p50_ms": traced[k]["p50_ms"],
                "overhead_ms": traced[k]["p50_ms"] - plain[k]["p50_ms"]} for k in plain}
    print(json.dumps(rows, indent=1))


if __name__ == "__main__":
    main()
