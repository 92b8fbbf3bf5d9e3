"""Standalone canary-floor measurement → BASELINE_CANARY.json.

The r01–r08 canary bands (range 0.08–0.12 s, shuffle 0.13–0.23 s) stopped
describing this VM in round 11: the per-core floor itself moved (kernel
6.18.5-fc-v20; confirmed by two independent idle-machine reruns — see
VERDICT.md r11 "What's wrong #1" and BENCH_SCALE_PROBE.json's
load_caveat). Cross-round ABSOLUTE comparisons were re-litigating that
drift every round. This script re-baselines: it runs the two bench.py
calibration canaries (``bench.range_sum``, ``bench.tiny_shuffle``) N
trials each (each trial ``bench._min3``, exactly the bench methodology)
in ONE fresh session on an otherwise-idle machine and records the
canonical bands + environment. bench.py then self-reports
in/out-of-band against THESE bands, so "the machine moved" is a one-line
read instead of a cross-round forensic exercise.

Run only with no other JVM on the box:  python canary_floor.py
"""

from __future__ import annotations

import json
import os

from spark_history_server_rs_spark.session import get_spark

from bench import _min3, _shuffle_canary, range_sum, tiny_shuffle

TRIALS = int(os.environ.get("SPARK_GRAFT_CANARY_TRIALS", "12"))


def main() -> None:
    load_before = os.getloadavg()
    spark = get_spark("canary-floor")

    # one untimed warmup each: the first execution JIT-compiles the
    # codegen and is not part of the steady-state floor the bands model
    range_sum(spark)
    tiny_shuffle(spark)

    range_trials = [_min3(lambda: range_sum(spark)) for _ in range(TRIALS)]
    shuffle_trials = [_shuffle_canary(spark) for _ in range(TRIALS)]

    def _band(trials: list[float]) -> dict:
        s = sorted(trials)
        return {
            "min": s[0],
            "max": s[-1],
            "median": round(s[len(s) // 2], 4),
            "trials": trials,
        }

    out = {
        "metric": "canary_floor",
        "n_trials": TRIALS,
        "kernel": os.uname().release,
        "cpus": os.cpu_count(),
        "load_avg_before": [round(x, 2) for x in load_before],
        "load_avg_after": [round(x, 2) for x in os.getloadavg()],
        "range_sum_sec": _band(range_trials),
        "shuffle_sec": _band(shuffle_trials),
        # the bands bench.py flags against: trial spread widened by 25%
        # headroom on top (canaries are a floor measure — transient
        # scheduler noise pushes UP, so the upper edge carries the
        # slack; a reading BELOW min is fine and reported in-band)
        "band_range_sum": [0.0, round(max(range_trials) * 1.25, 4)],
        "band_shuffle": [0.0, round(max(shuffle_trials) * 1.25, 4)],
        "prior_bands_r01_r08": {
            "range_sum": [0.08, 0.12],
            "shuffle": [0.13, 0.23],
            "note": "pre-kernel-move bands, kept for the audit trail",
        },
    }
    line = json.dumps(out)
    print(line)
    with open("BASELINE_CANARY.json", "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
