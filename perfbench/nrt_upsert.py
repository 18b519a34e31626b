"""nrt_upsert: the paper's ingest -> process -> store loop, open loop.

Connected-car telemetry CSV (sources.generators.write_car_readings_csv,
error_mode=True) for a fleet of FLEET VINs lands chunk by chunk in a
watched directory; streaming.pipelines.upsert_aggregate_stream folds
each micro-batch with operators.car.stats_from_readings / merge_stats
into a 16-bucket UpsertTable keyed by vin.  Untimed warm-up batches
create the table and warm the JVM before phase 1.

  phase 1  chunks land at a fixed rate well below capacity while a
           reader thread issues seeded point lookups on the live table
           at a fixed rate; latency = chunk rename -> the apply_batch
           that consumed it returned with its ledger marker written.
           The end-to-end figures come from the chunks of the quieter
           half of the phase-1 batches (stats.quieter_half): a burst of
           load from elsewhere on the box slows the batches it overlaps.
  phase 2  the stream stops, a fixed backlog lands, the stream restarts
           from its checkpoint, and the drain is timed (capacity); this
           is done 1 + DRAINS times, and the median drain rate of all
           but the first (which warms the big-batch path) reported.

Lookups read UpsertTable.read() filtered by vin.  The table gives
readers no isolation from a concurrent bucket overwrite, so a lookup
follows the transaction log: it starts when the commit lock is free and
is retried when the lock was taken or the ledger moved during the read
(or the read failed).  Retries and their causes are reported; a lookup
that exhausts its retries counts as failed.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import threading
import time

import layers
import stats
import streamkit

FLEET = 20_000
NUM_BUCKETS = 16
CHUNK_LINES = 200
CHUNK_INTERVAL_S = 1 / 12  # 2,400 lines/s offered in phase 1
MIN_CHUNKS = 144  # the quieter half of phase 1, topped up to 100 chunks: a p90 needs 100
WARMUP_BATCHES = 7  # batch time settles as the JVM JIT-compiles the driver path
WARMUP_CHUNKS_PER_BATCH = 18  # about one phase-1 batch each
BACKLOG_FILES = 20
BACKLOG_FILE_LINES = 3_000  # 60,000 lines per drain
DRAINS = 2  # timed, after one untimed drain that warms the JIT on the big-batch path
INPUT_REPEATS = 2  # set-up writes the inputs this many times; setup_s counts the median
LOOKUP_INTERVAL_S = 1.0
LOOKUP_MAX_TRIES = 50


def _valid_vin(line: str) -> str | None:
    """The vin a line contributes to the table, mirroring
    csv_clean.car_readings_from_lines + car.clean_readings."""
    cells = line.split(",")
    if len(line) < 10 or len(cells) < 14:
        return None
    vin = cells[1].strip()
    try:
        speed = int(cells[6])
    except ValueError:
        speed = 0
    return vin if vin and speed >= 0 else None


def _write_chunks(stage: str, prefix: str, lines: list[str], size: int,
                  counts: dict[str, collections.Counter]) -> list[str]:
    paths = []
    for i in range(0, len(lines), size):
        part = lines[i:i + size]
        p = os.path.join(stage, f"{prefix}{i // size:05d}.csv")
        with open(p, "w") as f:
            f.write("\n".join(part) + "\n")
        counts[os.path.basename(p)] = collections.Counter(
            v for v in map(_valid_vin, part) if v)
        paths.append(p)
    return paths


class Reader:
    """Open-loop point lookups on the live table (one thread)."""

    def __init__(self, spark, table, seed: int, tracer, stop: threading.Event):
        from pyspark.sql import functions as F

        self.spark, self.table, self.tracer, self.stop, self.F = spark, table, tracer, stop, F
        self.rng = random.Random(seed * 7919 + 1)
        self.log = table.txn_log
        self.records: list[dict] = []

    def _ledger(self) -> int:
        try:
            return sum(1 for x in os.listdir(self.log.ledger_dir) if not x.startswith("."))
        except FileNotFoundError:
            return 0

    def lookup(self, i: int) -> None:
        vin = f"VIN{self.rng.randrange(FLEET):05d}"
        rec = {"i": i, "vin": vin, "tries": 0, "causes": [], "count": None, "ledger": None}
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"lk{i}", "lookup")
        with self.tracer.span("lookup", req=f"lookup#{i}"):
            while rec["tries"] < LOOKUP_MAX_TRIES:
                rec["tries"] += 1
                while os.path.exists(self.log.lock_path):
                    time.sleep(0.005)
                n1 = self._ledger()
                try:
                    with self.tracer.span("lookup.construct"):
                        df = self.table.read().filter(self.F.col("vin") == vin)
                    with self.tracer.span("lookup.exec"):
                        rows = df.select("readings_count").collect()
                except Exception as e:  # a read racing a bucket overwrite
                    rec["causes"].append(f"{type(e).__name__}: {str(e).splitlines()[0][:160]}")
                    continue
                if os.path.exists(self.log.lock_path) or self._ledger() != n1:
                    rec["causes"].append("commit during read")
                    continue
                rec["ledger"] = n1
                rec["count"] = rows[0][0] if rows else 0
                rec["rows"] = len(rows)
                break
        self.records.append(rec)

    def thread(self) -> threading.Thread:
        def go():
            self.items = stats.run_open_loop(
                None, LOOKUP_INTERVAL_S, self.lookup, time.perf_counter, time.sleep,
                stop=self.stop.is_set)

        return threading.Thread(target=go, name="reader")


def _inputs(seed: int, work: str, stage: str, n_phase1: int) -> dict:
    """Telemetry lines for the warm-up and phase 1, shuffled and staged as
    chunk files, and 1 + DRAINS backlogs replaying seeded samples of the same
    lines (the table sums readings, so a replayed line counts again), with
    each chunk's valid-vin counts."""
    from ingestprocessstoreinnrt_spark.sources import generators

    os.makedirs(stage)
    rng = random.Random(seed)
    need = (WARMUP_BATCHES * WARMUP_CHUNKS_PER_BATCH + n_phase1) * CHUNK_LINES
    sweeps = -(-need // FLEET)
    raw = os.path.join(work, "readings.csv")
    generators.write_car_readings_csv(raw, cars=FLEET, sweeps=sweeps, seed=seed,
                                      error_mode=True)
    with open(raw) as f:
        lines = f.read().splitlines()
    os.remove(raw)
    rng.shuffle(lines)
    counts: dict[str, collections.Counter] = {}
    w_n = WARMUP_BATCHES * WARMUP_CHUNKS_PER_BATCH * CHUNK_LINES
    p_n = n_phase1 * CHUNK_LINES
    b_n = BACKLOG_FILES * BACKLOG_FILE_LINES
    warm = _write_chunks(stage, "w", lines[:w_n], CHUNK_LINES, counts)
    phase1 = _write_chunks(stage, "p", lines[w_n:w_n + p_n], CHUNK_LINES, counts)
    backlogs, backlog_lines = [], []
    for d in range(DRAINS + 1):
        part = rng.sample(lines[:w_n + p_n], min(b_n, w_n + p_n))
        backlogs.append(_write_chunks(stage, f"b{d}-", part, BACKLOG_FILE_LINES, counts))
        backlog_lines.append(len(part))
    return {"counts": counts, "warm": warm, "phase1": phase1, "backlogs": backlogs,
            "backlog_lines": backlog_lines}


def run(ctx) -> dict:
    work = ctx.run_dir
    stage, watch, ckpt = (os.path.join(work, d) for d in ("stage", "in", "ckpt"))
    seconds = streamkit.phase_seconds(ctx.seconds, CHUNK_INTERVAL_S, MIN_CHUNKS)
    n_phase1 = int(seconds / CHUNK_INTERVAL_S) + 1
    inputs: dict = {}
    ctx.repeat_setup(INPUT_REPEATS, lambda: inputs.update(_inputs(ctx.seed, work, stage, n_phase1)),
                     lambda: shutil.rmtree(stage))
    counts, warm, phase1, backlogs = (inputs[k] for k in ("counts", "warm", "phase1", "backlogs"))
    backlog_lines = inputs["backlog_lines"]

    spark = ctx.start_spark("perfbench-nrt")
    from ingestprocessstoreinnrt_spark.operators import car
    from ingestprocessstoreinnrt_spark.sources import csv_clean
    from ingestprocessstoreinnrt_spark.streaming.pipelines import (
        checkpoint_namespace, upsert_aggregate_stream)
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable

    table = UpsertTable(spark, os.path.join(work, "table"), ["vin"], num_buckets=NUM_BUCKETS)
    ctx.inputs_ready()

    tracer = ctx.tracer
    applied: dict[int, tuple[float, float]] = {}
    probes = _Probes(table, tracer, applied)
    lander = streamkit.Lander(watch)

    def start():
        src = csv_clean.read_car_readings_stream(spark, watch)
        return upsert_aggregate_stream(src, table, car.stats_from_readings, car.merge_stats,
                                       checkpoint=ckpt, trigger_once=False)

    errors: list[str] = []
    q = start()
    streamkit.warm_up(q, lander, warm, WARMUP_CHUNKS_PER_BATCH)
    ctx.mark("warm_up")
    warm_batches = set(applied)

    stop = threading.Event()
    reader = Reader(spark, table, ctx.seed, tracer, stop)
    p1 = streamkit.open_loop_phase(q, lander, phase1, CHUNK_INTERVAL_S, seconds,
                                   stop, side=[reader.thread()])
    p1_batches = set(applied) - warm_batches
    progress1 = streamkit.progress_records(q)
    per_batch_work = {}
    if tracer.enabled:
        with tracer.overhead():
            starts = streamkit.progress_windows(progress1, p1_batches)
            windows = {b: (starts[b][0] - 1, layers.epoch_ms(applied[b][1]) + 1)
                       for b in p1_batches if b in starts}
            per_batch_work = streamkit.stream_spark_work(ctx.status, str(q.runId), windows)
    q.stop()
    ctx.mark("phase1")

    drain_s, restart_s = [], []
    for backlog in backlogs:
        q2, d, r = streamkit.drain(
            start, lander, backlog, lambda: {b: e for b, (_s, e) in list(applied.items())})
        q2.stop()
        drain_s.append(d)
        restart_s.append(r)
    rates = [n / d for n, d in zip(backlog_lines, drain_s)][1:]  # the first warms up

    ctx.mark("phase2")
    # --- correctness, outside the timed phases --------------------------
    files_of = stats.batch_files(ckpt)
    batch_of = {f: b for b, fs in files_of.items() for f in fs}
    by_batch: dict[int, list[float]] = collections.defaultdict(list)
    for name in p1["landed"]:
        b = batch_of.get(name)
        if b is None or b not in applied:
            errors.append(f"chunk {name} never became visible")
            continue
        by_batch[b].append(applied[b][1] - lander.landed[name])
    visible = [x for g in by_batch.values() for x in g]
    groups = [by_batch[b] for b in sorted(by_batch)]
    # the first phase-1 batch starts on an idle stream, so its chunks wait
    # for no earlier batch: a transient, left out of the end-to-end figures
    steady = groups[1:]
    quiet = [x for i in stats.quieter_half(steady, min_samples=100) for x in steady[i]]

    # every landed line, in one file: one scan instead of hundreds of small ones
    every_line = os.path.join(work, "every_line.csv")
    with open(every_line, "w") as out:
        for f in sorted(lander.landed):
            with open(os.path.join(watch, f)) as src:
                out.write(src.read())
    expected = car.stats_from_readings(csv_clean.read_car_readings(spark, [every_line]))
    cols = expected.columns
    table_ok = (sorted(map(tuple, table.read().select(cols).collect()))
                == sorted(map(tuple, expected.collect())))
    if not table_ok:
        errors.append("final table differs from car.stats_from_readings over every line")
    ctx.mark("checked_table")
    ns = checkpoint_namespace(ckpt)
    markers = sorted(x for x in os.listdir(table.txn_log.ledger_dir) if not x.startswith("."))
    want = sorted(f"{ns}-{b}" for b in applied)
    ledger_ok = markers == want
    if not ledger_ok:
        errors.append(f"ledger holds {len(markers)} markers for {len(want)} committed batches")

    # each lookup saw the table as of `ledger` committed batches
    order = sorted(applied)
    lookup_lat = []
    for rec, lat in zip(reader.records, stats.latencies_from_due(reader.items)):
        if rec["count"] is None:
            errors.append(f"lookup {rec['i']} failed after {rec['tries']} tries: "
                          f"{rec['causes'][-1] if rec['causes'] else '?'}")
            continue
        want_n = sum(
            counts[f][rec["vin"]] for b in order[:rec["ledger"]] for f in files_of.get(b, ()))
        if rec["count"] != want_n or rec["rows"] > 1:
            errors.append(f"lookup {rec['i']} {rec['vin']}: readings_count {rec['count']} "
                          f"!= {want_n} after {rec['ledger']} batches")
            continue
        lookup_lat.append(lat)

    phase1_batches = sorted(p1_batches)
    backlog_series = streamkit.backlog_at_batches(
        {b: applied[b][0] for b in applied}, lander.landed, files_of, phase1_batches)
    ctx.mark("checked")
    e2e = {
        "latency_p50_s": stats.median(quiet),
        "latency_p90_s": stats.percentile(quiet, 0.9),
        "throughput_per_s": stats.median(rates),
    }
    retries = [c for r in reader.records for c in r["causes"]]
    hi = stats.highest_supported(len(lookup_lat))
    named = {
        "visible_p50_s": e2e["latency_p50_s"],
        "visible_p90_s": e2e["latency_p90_s"],
        "visible_samples_in_quieter_half": len(quiet),
        "visible_p50_all_s": stats.median(visible),
        "visible_p90_all_s": stats.percentile(visible, 0.9),
        "visible_samples": len(visible),
        "catchup_rows_per_s": e2e["throughput_per_s"],
        "catchup_drain_s": drain_s,
        "catchup_rows_per_s_each": rates,
        "restart_s": restart_s,
        "backlog_lines": backlog_lines,
        "offered_lines_per_s": CHUNK_LINES / CHUNK_INTERVAL_S,
        "phase1_batches": len(phase1_batches),
        "phase1_batch_s": [round(applied[b][1] - applied[b][0], 3) for b in phase1_batches],
        "phase1_visible_s": [[round(x, 3) for x in g] for g in groups],
        "warmup_batch_s": [round(applied[b][1] - applied[b][0], 3) for b in sorted(warm_batches)],
        "source_backlog_files": backlog_series,
        "generator_late_max_s": p1["generator_late_max_s"],
        "lookup_p50_s": stats.median(lookup_lat) if lookup_lat else None,
        "lookups": len(reader.records),
        "lookup_retries": len(retries),
        "lookup_retry_causes": dict(collections.Counter(retries)),
        "table_equals_batch_rollup": table_ok,
        "ledger_exactly_once": ledger_ok,
    }
    if hi:  # the highest percentile the lookup sample supports
        named[f"lookup_p{int(hi * 100)}_s"] = stats.percentile(lookup_lat, hi)
    attempted = len(lander.landed) + len(reader.records)
    named["error_rate"] = len(errors) / attempted

    per_layer = {}
    if tracer.enabled:
        per_layer = _layers(tracer, probes, progress1, p1_batches, per_batch_work, applied,
                            table, reader, lookup_lat, quiet, backlog_series, p1)
    return {
        "e2e": e2e, "named": named, "layers": per_layer,
        "attempted": attempted, "failed": len(errors),
        "correct": table_ok and ledger_ok and len(errors) == 0,
        "errors": errors,
    }


class _Probes:
    """Timing hooks on the table and its transaction log.  apply_batch
    is always timed (it defines visibility); the rest only when tracing."""

    def __init__(self, table, tracer, applied: dict):
        self.snapshot_bytes: list[int] = []
        self.buckets: list[int] = []
        orig_apply = table.apply_batch

        def apply_batch(batch_id, *a, **k):
            t0 = time.perf_counter()
            with tracer.span("upsert.apply_batch", req=f"batch#{batch_id}"):
                orig_apply(batch_id, *a, **k)
            applied[batch_id] = (t0, time.perf_counter())

        table.apply_batch = apply_batch
        if not tracer.enabled:
            return
        self._timed(table, "read_bucket_pruned", "upsert.read_bucket_pruned", tracer)
        # the store's steps, to attribute the Spark jobs each one starts
        for meth, site in STEP_SITES.items():
            self._timed(table, meth, f"site.{site}", tracer)
        log = table.txn_log
        for meth in ("begin", "commit", "rollback_incomplete"):
            self._timed(log, meth, f"txn.{meth}", tracer)
        orig_snap = log.snapshot_buckets

        def snapshot_buckets(key, data_dir, buckets):
            with tracer.span("txn.snapshot"):
                orig_snap(key, data_dir, buckets)
            self.buckets.append(len(buckets))
            self.snapshot_bytes.append(_du(log._pdir(key)))

        log.snapshot_buckets = snapshot_buckets
        orig_lock = log.table_lock

        import contextlib

        @contextlib.contextmanager
        def table_lock(*a, **k):
            t0 = time.perf_counter()
            with orig_lock(*a, **k):
                tracer.add("txn.lock_wait", t0, time.perf_counter())
                yield

        log.table_lock = table_lock

    @staticmethod
    def _timed(obj, meth, span, tracer):
        orig = getattr(obj, meth)

        def wrapped(*a, **k):
            with tracer.span(span):
                return orig(*a, **k)

        setattr(obj, meth, wrapped)


def _du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# UpsertTable step -> the call site its Spark jobs are reported under.
# Job call-site names cannot tell these apart (inside foreachBatch they
# all read as the py4j callback frame), so jobs are attributed by the
# time window of the step that started them.  Jobs of the trigger that
# start before apply_batch (pipelines' `batch_df.isEmpty()` among them)
# count as isEmpty.
STEP_SITES = {
    "_affected_buckets": "bucket_collect",
    "_finalize": "localCheckpoint",
    "_write_prebucketed": "write",
}


def _job_site(submit_ms: float, apply_start_ms: float, steps: list[tuple[str, float, float]]) -> str:
    if submit_ms < apply_start_ms:
        return "isEmpty"
    for site, s, e in steps:
        if s <= submit_ms <= e:
            return site
    return "other"


def _layers(tracer, probes, progress, p1_batches, work, applied, table, reader,
            lookup_lat, quiet, backlog_series, p1) -> dict:
    out = streamkit.batch_layers(progress, p1_batches)
    out["source_backlog_files"] = layers.mean(backlog_series)
    out["generator_late_s"] = p1["generator_late_max_s"]

    def in_p1(name):
        return [s for s in tracer.named(name)
                if any(applied[b][0] - 1e-3 <= s["start"] <= applied[b][1] for b in p1_batches)]

    def mean_dur(name):
        return sum(s["end"] - s["start"] for s in in_p1(name)) / max(1, len(p1_batches))

    out["upsert.apply_batch_s"] = mean_dur("upsert.apply_batch")
    out["upsert.read_bucket_pruned_s"] = mean_dur("upsert.read_bucket_pruned")
    for key, span in (("txn.begin_s", "txn.begin"), ("txn.snapshot_s", "txn.snapshot"),
                      ("txn.commit_s", "txn.commit"), ("txn.rollback_s", "txn.rollback_incomplete"),
                      ("txn.lock_wait_s", "txn.lock_wait")):
        out[key] = mean_dur(span)
    n = len(p1_batches)
    out["txn.snapshot_bytes"] = layers.mean(probes.snapshot_bytes[-n:]) if n else 0
    out["upsert.buckets_touched"] = layers.mean(probes.buckets[-n:]) if n else 0
    if work:
        for key in ("jobs", "stages", "tasks", "driver_gap_s", "exec_run_s", "exec_cpu_s",
                    "gc_s", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            out[key] = layers.mean(w[key] for w in work.values())
        steps = [(s["name"][len("site."):], layers.epoch_ms(s["start"]) - 1,
                  layers.epoch_ms(s["end"]) + 1)
                 for s in tracer.spans if s["name"].startswith("site.")]
        per_site = collections.defaultdict(float)
        in_apply = 0
        write_bytes = 0
        for b, w in work.items():
            apply_start = layers.epoch_ms(applied[b][0])
            for j in w["_jobs"]:
                site = _job_site(j["submit_ms"], apply_start, steps)
                in_apply += site != "isEmpty"
                if j["end_ms"] is not None:
                    per_site[site] += (j["end_ms"] - j["submit_ms"]) / 1e3
            write_bytes += sum(s["output_bytes"] for s in w["_stages"] if s["status"] != "SKIPPED")
        for site in ("isEmpty", "bucket_collect", "localCheckpoint", "write", "other"):
            out[f"upsert.job_s.{site}"] = per_site[site] / len(work)
        out["upsert.jobs_per_batch"] = in_apply / len(work)
        out["upsert.write_bytes"] = write_bytes / len(work)
    data = os.path.join(table.path, "data")
    files = [os.path.join(d, f) for d, _ds, fs in os.walk(data) for f in fs if f.endswith(".parquet")]
    out["table.files"] = len(files)
    out["table.bytes"] = sum(os.path.getsize(f) for f in files)
    lk = tracer.named("lookup")
    out["lookup.p50_s"] = stats.median(lookup_lat) if lookup_lat else 0
    out["lookup.n"] = len(lookup_lat)
    out["lookup.retries"] = sum(len(r["causes"]) for r in reader.records)
    out["lookup.construct_s"] = sum(s["end"] - s["start"] for s in tracer.named("lookup.construct")) / max(1, len(lk))
    out["lookup.exec_s"] = sum(s["end"] - s["start"] for s in tracer.named("lookup.exec")) / max(1, len(lk))
    tracker = reader.spark.sparkContext.statusTracker()
    with tracer.overhead():
        out["lookup.jobs"] = layers.mean(
            len(tracker.getJobIdsForGroup(f"lk{r['i']}")) for r in reader.records)
    out["trace.latency_p50_s"] = stats.median(quiet)
    return out
