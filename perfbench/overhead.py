"""Tracing overhead: run each seed untraced and traced, and print, per
end-to-end metric, the median of (traced - untraced).

    python3 perfbench/overhead.py --workload dashboard --seconds 10 --seeds 1 2 3

The traced run reports its own end-to-end values as ``traced.<metric>``
per-layer entries; this script pairs them with the untraced run of the
same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from run import declared_units

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    units = declared_units("end_to_end")
    diffs: dict[str, list[float]] = {}
    for seed in args.seeds:
        plain = run(args.workload, seed, args.seconds, 0)
        traced = run(args.workload, seed, args.seconds, 1)
        for name, m in plain.items():
            t = traced[f"traced.{name}"]["value"]
            diffs.setdefault(name, []).append(t - m["value"])
    print(json.dumps({name: {"median_traced_minus_untraced": statistics.median(d),
                             "unit": units[name], "runs": len(d)}
                      for name, d in diffs.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
