#!/usr/bin/env python3
"""Run one workload once per seed and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, the figure the
benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload log_search --seeds 1-10 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        res, detail = json.loads(out[-1]), json.loads(out[-2])["detail"]
        print(json.dumps({"seed": seed, "correct": res["correct"], "failed": res["failed"],
                          "host_steal_pct": round(detail["host_steal_pct"], 1),
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{k:18s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
