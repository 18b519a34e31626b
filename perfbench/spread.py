"""Run a workload under several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the steadiness test
the benchmark is held to.  Also prints each run's wall time.

    python3 perfbench/spread.py --workload nrt_upsert --seeds 1-10 [--seconds 10] [--trace 0]
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for s in seeds(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            continue
        res = json.loads(last)
        brief = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s} wall {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {brief}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, xs in values.items():
        if len(xs) >= 2:
            print(f"{k:28s} median {statistics.median(xs):12.5g} spread {quartile_spread(xs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
