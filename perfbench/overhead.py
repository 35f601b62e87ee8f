#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed and print how far each end-to-end metric moved.

    python3 perfbench/overhead.py --workload interactive --seed 1 --seconds 10

The traced run reports its own end-to-end figures in its detail line
(``end_to_end_traced``); the overhead is traced minus untraced, also given
as a share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    _d0, plain = _run(args.workload, args.seed, args.seconds, 0)
    d1, _traced = _run(args.workload, args.seed, args.seconds, 1)
    rows = {}
    for k, v in plain["metrics"].items():
        t = d1["end_to_end_traced"][k]
        base = v["value"]
        rows[k] = {"untraced": base, "traced": t, "overhead": t - base,
                   "overhead_share": (t - base) / base if base else None, "unit": v["unit"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
