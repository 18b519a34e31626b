"""Per-layer metric names and the helpers that fill them.

Every traced run prints every name below; a layer a workload does not
exercise reads 0 there.  Times are means per request (a query, a
micro-batch or a lookup) unless the name says otherwise.
"""

from __future__ import annotations

import time

from stats import union_length

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    # plan construction (operators.* builders, planmemo, catalog) over py4j
    "construct_s": ("s", "lower"),
    "construct_py4j_calls": ("count", "lower"),
    "construct_jobs": ("count", "lower"),
    "construct_warmup_s": ("s", "lower"),
    "construct_warmup_py4j_calls": ("count", "lower"),
    # Catalyst phases
    "catalyst_s": ("s", "lower"),
    # scheduling
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),
    # executor and shuffle
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "scan_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    # derived state (operators.artifacts.corpus_artifact)
    "artifact_s": ("s", "lower"),
    "artifact_hits": ("count", "higher"),
    "artifact_misses": ("count", "lower"),
    # source (file stream + sources.csv_clean)
    "batch.latestOffset_ms": ("ms", "lower"),
    "batch.getBatch_ms": ("ms", "lower"),
    "source_backlog_files": ("count", "lower"),
    "generator_late_s": ("s", "lower"),
    # micro-batch engine (StreamingQueryProgress.durationMs)
    "batch.queryPlanning_ms": ("ms", "lower"),
    "batch.addBatch_ms": ("ms", "lower"),
    "batch.walCommit_ms": ("ms", "lower"),
    "batch.commitOffsets_ms": ("ms", "lower"),
    "batch.triggerExecution_ms": ("ms", "lower"),
    "batch.rows": ("count", "higher"),
    # store (streaming.upsert.UpsertTable)
    "upsert.apply_batch_s": ("s", "lower"),
    "upsert.read_bucket_pruned_s": ("s", "lower"),
    "upsert.jobs_per_batch": ("count", "lower"),
    "upsert.job_s.isEmpty": ("s", "lower"),
    "upsert.job_s.bucket_collect": ("s", "lower"),
    "upsert.job_s.localCheckpoint": ("s", "lower"),
    "upsert.job_s.write": ("s", "lower"),
    "upsert.job_s.other": ("s", "lower"),
    "upsert.buckets_touched": ("count", "lower"),
    "upsert.write_bytes": ("bytes", "lower"),
    "table.files": ("count", "lower"),
    "table.bytes": ("bytes", "lower"),
    # transaction log (LocalFSTxnLog)
    "txn.begin_s": ("s", "lower"),
    "txn.snapshot_s": ("s", "lower"),
    "txn.snapshot_bytes": ("bytes", "lower"),
    "txn.commit_s": ("s", "lower"),
    "txn.rollback_s": ("s", "lower"),
    "txn.lock_wait_s": ("s", "lower"),
    # reads beside writes (UpsertTable.read)
    "lookup.p50_s": ("s", "lower"),
    "lookup.n": ("count", "higher"),
    "lookup.retries": ("count", "lower"),
    "lookup.construct_s": ("s", "lower"),
    "lookup.exec_s": ("s", "lower"),
    "lookup.jobs": ("count", "lower"),
    # state store (streaming.windows, stateOperators in progress)
    "state.rows_total": ("count", "lower"),
    "state.memory_bytes": ("bytes", "lower"),
    "state.update_ms": ("ms", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.dropped_rows": ("count", "lower"),
    # process memory (peak resident set, VmHWM)
    "jvm.peak_rss_mb": ("MB", "lower"),
    "python.peak_rss_mb": ("MB", "lower"),
    # the tracing itself
    "trace.overhead_s": ("s", "lower"),
    "trace.latency_p50_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
}


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def spark_work(jobs: list[dict], stages: list[dict], window: tuple[float, float] | None = None) -> dict:
    """Scheduling and executor totals of a set of jobs.  `window` is the
    request's (start, end) in epoch ms; the part of it no stage covers
    is the driver gap."""
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    out = {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "exec_run_s": sum(s["run_ms"] for s in ran) / 1e3,
        "exec_cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
        "scan_bytes": sum(s["input_bytes"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "spill_bytes": sum(s["spill_bytes"] for s in ran),
    }
    if window is not None:
        ws, we = window
        covered = union_length(
            (max(ws, s["submit_ms"]), min(we, s["end_ms"]))
            for s in ran
            if s["submit_ms"] is not None and s["end_ms"] is not None
        )
        out["driver_gap_s"] = max(0.0, (we - ws) - covered) / 1e3
    return out


def epoch_ms(perf_t: float) -> float:
    """Convert a perf_counter reading to epoch milliseconds."""
    return (time.time() - (time.perf_counter() - perf_t)) * 1e3


def fill(values: dict) -> dict:
    """Every per-layer name, 0 where the workload did not exercise it."""
    out = {}
    for name, (unit, _better) in PER_LAYER.items():
        v = values.get(name, 0)
        out[name] = {"value": float(v), "unit": unit}
    return out
