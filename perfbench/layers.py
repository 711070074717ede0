"""Per-layer table beside the untraced end-to-end numbers.

    python3 perfbench/layers.py --workload reindex --seed 1 [--seconds 10]

Runs ``run.py`` twice for one workload and seed, first untraced and then
traced, and prints the end-to-end metrics, every per-layer metric and the
tracing overhead (traced op median minus untraced op median). Run from the
root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args(argv)
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    print(f"workload {args.workload}, seed {args.seed}")
    for label, res in (("untraced", plain), ("traced", traced)):
        print(f"{label}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    print(f"\n{'end-to-end (untraced)':<28}{'value':>16}  unit")
    for name, m in plain["metrics"].items():
        print(f"{name:<28}{m['value']:>16.4f}  {m['unit']}")
    print(f"\n{'per-layer (traced)':<28}{'value':>16}  unit")
    for name, m in traced["metrics"].items():
        print(f"{name:<28}{m['value']:>16.4f}  {m['unit']}")
    overhead = traced["metrics"]["bench.op_p50_traced_s"]["value"] - plain["metrics"]["op_p50_s"]["value"]
    print(f"\ntracing overhead: {overhead:+.4f} s per op (traced op p50 - untraced op p50)")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
