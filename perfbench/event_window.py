"""event_window: the watermarked event-time leg, open loop.

Seeded events (the engine's `events` table shape) are replayed in
event-time order as JSON-lines chunk files; a seeded share of rows
arrives late, displaced by at most LATE_MAX_S of event time, inside the
2-hour watermark, so no row is dropped and the result is deterministic.
streaming.windows.windowed_counts_stream aggregates them in update mode
into a foreachBatch sink that records when each result was emitted.

  phase 1  chunks land at a fixed rate; a result's latency runs from
           the rename of the newest chunk that contributed a row to it
           to its emission.
  phase 2  the stream stops, a fixed backlog lands, the stream restarts
           from its checkpoint (state store included), and the drain is
           timed.

This workload never touches the UpsertTable: a store change should
leave it flat.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import datagen
import layers
import stats
import streamkit

CHUNK_ROWS = 200
CHUNK_INTERVAL_S = 1 / 12  # 2,400 rows/s offered in phase 1
EVENT_GAP_S = 20  # mean event-time spacing: a wall second covers ~13 event hours
LATE_SHARE = 0.1
LATE_MAX_S = 3600  # well inside the 2-hour watermark
WARMUP_BATCHES = 6
WARMUP_CHUNKS_PER_BATCH = 12
BACKLOG_FILES = 20
BACKLOG_FILE_ROWS = 4_000  # 80,000 rows drained in phase 2
HOUR_US = 3_600_000_000

SCHEMA = ("event_id LONG, ts_us LONG, user_id LONG, event_type STRING, "
          "value DOUBLE, props STRING")


def _rows(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    t = datagen.events_table(rng, n, 1_500, n * EVENT_GAP_S * 1_000_000)
    cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names}
    cols["ts_us"] = t.column("ts").cast("int64").to_numpy()
    late = rng.random(n) < LATE_SHARE
    delay = np.where(late, rng.integers(1, LATE_MAX_S * 1_000_000, n), 0)
    order = np.argsort(cols["ts_us"] + delay, kind="stable")  # arrival order
    return {c: v[order] for c, v in cols.items() if c != "ts"}


def _write_chunks(stage: str, prefix: str, rows: dict, lo: int, hi: int, size: int,
                  keys: dict[str, set]) -> list[str]:
    paths = []
    for i in range(lo, hi, size):
        j = min(hi, i + size)
        name = f"{prefix}{(i - lo) // size:05d}.json"
        with open(os.path.join(stage, name), "w") as f:
            for r in range(i, j):
                f.write(json.dumps({
                    "event_id": int(rows["event_id"][r]), "ts_us": int(rows["ts_us"][r]),
                    "user_id": int(rows["user_id"][r]),
                    "event_type": str(rows["event_type"][r]),
                    "value": float(rows["value"][r]), "props": str(rows["props"][r]),
                }) + "\n")
        keys[name] = {(int(ts) // HOUR_US * HOUR_US, str(e))
                      for ts, e in zip(rows["ts_us"][i:j], rows["event_type"][i:j])}
        paths.append(os.path.join(stage, name))
    return paths


def run(ctx) -> dict:
    work = ctx.run_dir
    stage, watch, ckpt, data = (os.path.join(work, d) for d in ("stage", "in", "ckpt", "data"))
    os.makedirs(stage)
    os.makedirs(data)
    n_warm = WARMUP_BATCHES * WARMUP_CHUNKS_PER_BATCH * CHUNK_ROWS
    seconds = streamkit.phase_seconds(ctx.seconds, CHUNK_INTERVAL_S, 110)
    n_p1 = (int(seconds / CHUNK_INTERVAL_S) + 1) * CHUNK_ROWS
    n_back = BACKLOG_FILES * BACKLOG_FILE_ROWS
    rows = _rows(ctx.seed, n_warm + n_p1 + n_back)
    keys: dict[str, set] = {}
    warm = _write_chunks(stage, "w", rows, 0, n_warm, CHUNK_ROWS, keys)
    phase1 = _write_chunks(stage, "p", rows, n_warm, n_warm + n_p1, CHUNK_ROWS, keys)
    backlog = _write_chunks(stage, "b", rows, n_warm + n_p1, n_warm + n_p1 + n_back,
                            BACKLOG_FILE_ROWS, keys)

    spark = ctx.start_spark("perfbench-window")
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.operators import windows
    from ingestprocessstoreinnrt_spark.streaming.windows import windowed_counts_stream

    ctx.inputs_ready()
    tracer = ctx.tracer
    lander = streamkit.Lander(watch)
    emitted: dict[int, tuple[float, float, list]] = {}  # batch -> (entry, exit, rows)
    lock = threading.Lock()  # no-data batches may emit while the main thread reads

    def batches() -> set[int]:
        with lock:
            return set(emitted)

    def sink_ends() -> dict[int, float]:
        with lock:
            return {b: v[1] for b, v in emitted.items()}

    def sink(df, batch_id):
        t0 = time.perf_counter()
        with tracer.span("window.sink", req=f"batch#{batch_id}"):
            out = [(r.window_start_us, r.event_type, r.n_events, r.total_value)
                   for r in df.collect()]
        with lock:
            emitted[batch_id] = (t0, time.perf_counter(), out)

    def start():
        src = spark.readStream.schema(SCHEMA).json(watch).select(
            "event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id",
            "event_type", "value", "props")
        return (windowed_counts_stream(src).writeStream.foreachBatch(sink)
                .outputMode("update").option("checkpointLocation", ckpt).start())

    errors: list[str] = []
    q = start()
    streamkit.warm_up(q, lander, warm, WARMUP_CHUNKS_PER_BATCH)
    ctx.mark("warm_up")
    warm_batches = batches()
    p1 = streamkit.open_loop_phase(q, lander, phase1, CHUNK_INTERVAL_S, seconds,
                                   threading.Event())
    p1_batches = batches() - warm_batches
    progress = streamkit.progress_records(q)
    work_of = {}
    if tracer.enabled:
        with tracer.overhead():
            work_of = streamkit.stream_spark_work(
                ctx.status, str(q.runId), streamkit.progress_windows(progress, p1_batches))
    q.stop()
    ctx.mark("phase1")

    q2, drain_s, _restart_s = streamkit.drain(start, lander, backlog, sink_ends)
    progress += streamkit.progress_records(q2)
    q2.stop()

    ctx.mark("phase2")
    # --- correctness, outside the timed phases --------------------------
    files_of = stats.batch_files(ckpt)
    phase1_files = set(p1["landed"])
    latencies = []
    for b in sorted(p1_batches):
        t_emit, out = emitted[b][1], emitted[b][2]
        mine = [f for f in files_of.get(b, ()) if f in phase1_files]
        for ws, et, _n, _v in out:
            made = [lander.landed[f] for f in mine if (ws, et) in keys[f]]
            if made:
                latencies.append(t_emit - max(made))
    last: dict[tuple, tuple] = {}
    for b in sorted(emitted):
        for ws, et, n, v in emitted[b][2]:
            last[(ws, et)] = (n, v)
    landed_rows = _landed_table(rows, n_warm, n_p1, len(p1["landed"]), n_back)
    import pyarrow.parquet as pq

    pq.write_table(landed_rows, os.path.join(data, "events.parquet"))
    batch = {(r.window_start_us, r.event_type): (r.n_events, r.total_value)
             for r in windows.tumbling_hourly(spark, data).collect()}
    result_ok = last == batch
    if not result_ok:
        diff = [k for k in set(last) | set(batch) if last.get(k) != batch.get(k)]
        errors.append(f"{len(diff)} windows differ from operators.windows.tumbling_hourly, "
                      f"e.g. {diff[0]}: stream {last.get(diff[0])} batch {batch.get(diff[0])}")
    dropped = sum(s["dropped_rows"] for p in progress for s in p["state"])
    if dropped:
        errors.append(f"state.dropped_rows = {dropped}")

    ctx.mark("checked")
    e2e = {
        "latency_p50_s": stats.median(latencies),
        "latency_p90_s": stats.percentile(latencies, 0.9),
        "throughput_per_s": n_back / drain_s,
    }
    starts = {b: v[0] for b, v in emitted.items()}
    backlog_series = streamkit.backlog_at_batches(starts, lander.landed, files_of, sorted(p1_batches))
    named = {
        "window_visible_p50_s": e2e["latency_p50_s"],
        "window_visible_p90_s": e2e["latency_p90_s"],
        "window_samples": len(latencies),
        "catchup_rows_per_s": e2e["throughput_per_s"],
        "catchup_drain_s": drain_s,
        "offered_rows_per_s": CHUNK_ROWS / CHUNK_INTERVAL_S,
        "phase1_batches": len(p1_batches),
        "source_backlog_files": backlog_series,
        "generator_late_max_s": p1["generator_late_max_s"],
        "windows": len(last),
        "state_dropped_rows": dropped,
        "result_equals_tumbling_hourly": result_ok,
    }
    attempted = len(lander.landed)
    named["error_rate"] = len(errors) / attempted

    per_layer = {}
    if tracer.enabled:
        per_layer = streamkit.batch_layers(progress, p1_batches)
        per_layer["state.dropped_rows"] = dropped
        per_layer["source_backlog_files"] = layers.mean(backlog_series)
        per_layer["generator_late_s"] = p1["generator_late_max_s"]
        for key in ("jobs", "stages", "tasks", "driver_gap_s", "exec_run_s", "exec_cpu_s",
                    "gc_s", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            per_layer[key] = layers.mean(w[key] for w in work_of.values())
        per_layer["trace.latency_p50_s"] = stats.median(latencies)
    return {
        "e2e": e2e, "named": named, "layers": per_layer,
        "attempted": attempted, "failed": len(errors),
        "correct": result_ok and dropped == 0,
        "errors": errors,
    }


def _landed_table(rows: dict, n_warm: int, n_p1: int, p1_chunks: int, n_back: int):
    """The rows of every chunk that landed, as an `events` table."""
    import pyarrow as pa

    p1_rows = min(n_p1, p1_chunks * CHUNK_ROWS)
    idx = np.concatenate([np.arange(n_warm + p1_rows),
                          np.arange(n_warm + n_p1, n_warm + n_p1 + n_back)])
    return pa.table({
        "event_id": pa.array(rows["event_id"][idx]),
        "ts": pa.array(rows["ts_us"][idx], pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rows["user_id"][idx]),
        "event_type": pa.array(rows["event_type"][idx]),
        "value": pa.array(rows["value"][idx]),
        "props": pa.array(rows["props"][idx]),
    })
