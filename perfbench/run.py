"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload bi_interactive --seed 1 --seconds 10 --trace 0

Builds its inputs from the seed, measures for the given seconds, checks
the engine's outputs, and prints one JSON result as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
The line before it is the full run record (run-condition stamp, the
workload's own metric names, errors with their causes).  See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

_T_NOW = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import runtime  # noqa: E402

ORIGIN = _T_NOW - runtime.process_age_s()  # perf_counter at process start

WORKLOADS = ("bi_interactive", "nrt_upsert", "event_window")
END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}


class Context:
    """What a workload gets from the harness."""

    def __init__(self, seed: int, seconds: float, trace: bool, run_dir: str):
        from tracing import Tracer

        self.seed, self.seconds, self.run_dir = seed, seconds, run_dir
        self.tracer = Tracer(trace)
        self.status = None
        self.setup_s = None
        self.setup_repeats: list[float] = []
        self._repeat_wall = 0.0
        self.spark = None
        self.marks: dict[str, float] = {}  # steps, seconds since process start

    def mark(self, step: str) -> None:
        self.marks[step] = time.perf_counter() - ORIGIN

    def start_spark(self, app: str):
        from ingestprocessstoreinnrt_spark.session import get_spark

        self.mark("before_spark")
        self.spark = get_spark(app)
        self.mark("spark_started")
        if self.tracer.enabled:
            from tracing import Py4JCounter, SparkStatus

            self.tracer.py4j = Py4JCounter(self.spark)
            self.status = SparkStatus(self.spark)
        return self.spark

    def repeat_setup(self, n: int, make, undo) -> None:
        """Make the inputs `n` times (`undo` between times); setup_s then
        counts their median time instead of the sum."""
        t_all = time.perf_counter()
        for i in range(n):
            if i:
                undo()
            t0 = time.perf_counter()
            make()
            self.setup_repeats.append(time.perf_counter() - t0)
        self._repeat_wall += time.perf_counter() - t_all
        self.mark("inputs_written")

    def inputs_ready(self) -> None:
        """Process start until the inputs are ready, with input making
        counted at its median over the repeats."""
        elapsed = time.perf_counter() - ORIGIN
        med = statistics.median(self.setup_repeats) if self.setup_repeats else 0.0
        self.setup_s = elapsed - self._repeat_wall + med
        self.mark("inputs_ready")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not runtime.program_present():
        print(f"engine package {runtime.PACKAGE!r} not found next to {runtime.BENCH_DIR}",
              file=sys.stderr)
        return 2

    load_before = runtime.loadavg()
    ticks = runtime.cpu_ticks()
    run_dir = os.path.join(runtime.WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    runtime.confine(run_dir)
    os.chdir(runtime.ROOT)

    from ingestprocessstoreinnrt_spark.operators import artifacts

    art0 = dict(artifacts.STATS)
    ctx = Context(args.seed, args.seconds, bool(args.trace), run_dir)
    workload = importlib.import_module(args.workload)
    try:
        res = workload.run(ctx)
        rss = runtime.peak_rss_mb()
        art = {k: artifacts.STATS[k] - art0.get(k, 0) for k in artifacts.STATS}
        stamp = runtime.stamp(ctx.spark, args.seed, load_before, art,
                              runtime.cpu_shares(ticks, runtime.cpu_ticks()))
    finally:
        if ctx.tracer.py4j:
            ctx.tracer.py4j.close()
        if ctx.spark is not None:
            ctx.spark.stop()
            runtime.stop_jvm()
        _cleanup(run_dir)
        ctx.mark("stopped")

    if args.trace:
        per_layer = dict(res["layers"])
        per_layer["artifact_hits"] = art.get("hit", 0)
        per_layer["artifact_misses"] = art.get("miss", 0)
        per_layer["trace.overhead_s"] = ctx.tracer.overhead_s
        per_layer["trace.spans"] = len(ctx.tracer.spans)
        per_layer["jvm.peak_rss_mb"], per_layer["python.peak_rss_mb"] = rss
        from layers import fill

        metrics = fill(per_layer)
    else:
        vals = dict(res["e2e"], setup_s=ctx.setup_s)
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}

    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": stamp,
        "steps": ctx.marks,
        "setup_repeats_s": ctx.setup_repeats,
        "named": dict(res["named"], jvm_peak_rss_mb=rss[0], python_peak_rss_mb=rss[1]),
        "errors": res["errors"],
        "metrics": metrics,
    }
    os.makedirs(runtime.OUT_DIR, exist_ok=True)
    out = os.path.join(runtime.OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(out + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        ctx.tracer.dump(out + ".spans.json")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


def _cleanup(run_dir: str) -> None:
    """Drop the run's inputs and the artifacts the engine derived from
    them, so no later run can reuse derived state from this one."""
    data = os.path.join(run_dir, "data")
    try:
        from ingestprocessstoreinnrt_spark.operators import artifacts

        art_root = artifacts._ART_DIR
        if os.path.isdir(art_root):
            keys = {artifacts.corpus_key(data, t) for t in ("documents", "lineitem", "events")}
            for name in os.listdir(art_root):
                for key in keys:
                    shutil.rmtree(os.path.join(art_root, name, key), ignore_errors=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
