"""Open-loop file landing and the two stream phases shared by the
stream workloads.

Chunk files are written to a staging directory during set-up; the
generator thread only renames them into the watched directory, on a
fixed schedule that does not slow when the engine slows.  A chunk's
creation time is its rename time.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import layers
import stats


def phase_seconds(seconds: float, interval: float, min_chunks: int) -> float:
    """Phase-1 length: the run's seconds, stretched if needed so that at
    least `min_chunks` chunks land."""
    return max(seconds, min_chunks * interval)


class Lander:
    def __init__(self, watch_dir: str):
        self.watch_dir = watch_dir
        os.makedirs(watch_dir, exist_ok=True)
        self.landed: dict[str, float] = {}  # basename -> perf_counter at rename

    def land(self, path: str) -> None:
        name = os.path.basename(path)
        os.rename(path, os.path.join(self.watch_dir, name))
        self.landed[name] = time.perf_counter()

    def land_all(self, paths: list[str]) -> None:
        for p in paths:
            self.land(p)


def warm_up(query, lander: Lander, chunks: list[str], per_batch: int) -> None:
    """Untimed: one micro-batch per `per_batch` chunks."""
    for i in range(0, len(chunks), per_batch):
        lander.land_all(chunks[i:i + per_batch])
        query.processAllAvailable()


def drain(start, lander: Lander, backlog: list[str], batch_ends) -> tuple[object, float, float]:
    """Phase 2: land the whole backlog while the stream is stopped, restart
    it from its checkpoint with `start()`, and wait until the batches that
    took the backlog are done (`batch_ends()`: batch id -> end time).

    Returns the restarted, still running query; the drain time, from the
    start of the first trigger that took backlog files to the end of the
    last; and the restart time before that first trigger (query start and
    checkpoint recovery: a cost of restarting, not of capacity)."""
    lander.land_all(backlog)
    before = set(batch_ends())
    t0 = time.perf_counter()
    query = start()
    query.processAllAvailable()
    ends = batch_ends()
    new = {b for b in ends if b not in before}
    if not new:
        return query, time.perf_counter() - t0, 0.0
    windows = progress_windows(progress_records(query), new)
    to_perf = time.time() - time.perf_counter()
    first = min(windows[b][0] for b in new if b in windows) / 1e3 - to_perf
    first = max(t0, first)
    return query, max(ends[b] for b in new) - first, first - t0


def open_loop_phase(query, lander: Lander, chunks: list[str], interval: float,
                    seconds: float, stop: threading.Event,
                    side: list[threading.Thread] = ()) -> dict:
    """Land `chunks` one every `interval` seconds for `seconds`, with the
    `side` threads running alongside until `stop` is set at the end; then
    let the stream consume what landed.  Returns the generator's record."""
    items: list = []

    def generate():
        items.extend(stats.run_open_loop(
            len(chunks), interval, lambda i: lander.land(chunks[i]),
            time.perf_counter, time.sleep, stop=stop.is_set))

    gen = threading.Thread(target=generate, name="generator")
    t0 = time.perf_counter()
    gen.start()
    for t in side:
        t.start()
    time.sleep(max(0.0, t0 + seconds - time.perf_counter()))
    stop.set()
    gen.join()
    for t in side:
        t.join()
    t1 = time.perf_counter()
    query.processAllAvailable()
    late = stats.lateness(items)
    return {
        "start": t0,
        "end": t1,
        "landed": [os.path.basename(chunks[i]) for i in range(len(items))],
        "generator_late_max_s": max(late) if late else 0.0,
        "generator_late_p50_s": stats.median(late) if late else 0.0,
    }


def progress_records(query) -> list[dict]:
    """StreamingQueryProgress of every batch the query still remembers."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows == 0 and not p.stateOperators:
            continue
        rec = {"batchId": p.batchId, "rows": p.numInputRows,
               "durationMs": dict(p.durationMs), "timestamp": p.timestamp,
               "state": [
                   {"rows_total": s.numRowsTotal, "memory_bytes": s.memoryUsedBytes,
                    "update_ms": s.allUpdatesTimeMs, "commit_ms": s.commitTimeMs,
                    "dropped_rows": s.numRowsDroppedByWatermark}
                   for s in p.stateOperators]}
        out.append(rec)
    return out


def batch_layers(progress: list[dict], batch_ids: set[int]) -> dict:
    """Means over the given batches of the micro-batch engine and source
    durations, and of the state store counters."""
    ps = [p for p in progress if p["batchId"] in batch_ids]
    out = {}
    for key in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                "commitOffsets", "triggerExecution"):
        out[f"batch.{key}_ms"] = layers.mean(p["durationMs"].get(key, 0) for p in ps)
    out["batch.rows"] = layers.mean(p["rows"] for p in ps)
    sts = [s for p in ps for s in p["state"]]
    if sts:
        out["state.rows_total"] = layers.mean(s["rows_total"] for s in sts)
        out["state.memory_bytes"] = layers.mean(s["memory_bytes"] for s in sts)
        out["state.update_ms"] = layers.mean(s["update_ms"] for s in sts)
        out["state.commit_ms"] = layers.mean(s["commit_ms"] for s in sts)
    return out


def progress_windows(progress: list[dict], batch_ids: set[int]) -> dict[int, tuple[float, float]]:
    """Batch -> (trigger start, trigger end) in epoch ms, from progress."""
    out = {}
    for p in progress:
        if p["batchId"] in batch_ids:
            t = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            start = t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e3
            out[p["batchId"]] = (start, start + p["durationMs"].get("triggerExecution", 0))
    return out


def backlog_at_batches(batch_starts: dict[int, float], landed: dict[str, float],
                       files_of: dict[int, set[str]], batch_ids: list[int]) -> list[int]:
    """Files landed but not yet taken by an earlier batch, at each batch's start."""
    out = []
    for b in sorted(batch_ids):
        t = batch_starts[b]
        taken = set().union(*(files_of.get(x, set()) for x in files_of if x < b))
        out.append(sum(1 for f, lt in landed.items() if lt <= t and f not in taken))
    return out


def stream_spark_work(status, run_id: str, windows: dict[int, tuple[float, float]]) -> dict[int, dict]:
    """Per batch: the stream's jobs (job group = the query's run id) that
    started inside that batch's (start, end) epoch-ms window."""
    jobs = [status.job(j) for j in status.job_ids(run_id)]
    out = {}
    for b, (ws, we) in windows.items():
        js = [j for j in jobs if j["submit_ms"] is not None and ws <= j["submit_ms"] <= we]
        stages = [s for j in js for sid in j["stage_ids"] for s in status.stages(sid)]
        work = layers.spark_work(js, stages, (ws, we))
        work["_jobs"] = js
        work["_stages"] = stages
        out[b] = work
    return out
