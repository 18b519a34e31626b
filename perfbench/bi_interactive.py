"""bi_interactive: one analyst, closed loop, over the `bi_*` queries.

The analyst's set is every second `bi_*` query in name order (21 of the
42; the set that keeps a run inside the benchmark's time budget, and it
includes the artifact-backed bi_basket_lift).  After untimed warm-up
passes (the first builds every plan, the artifacts and the generated
code; the rest let the JVM's JIT compiler settle, which takes about ten
passes; both on several threads, to get there sooner), the client
runs the set in a seeded shuffled order, pass after pass: BLOCKS blocks
of k passes, k sized to the run's seconds (whole passes, so every pass
weighs each query once).

The latencies come from each query's best time per block
(stats.best_of_blocks): on a shared box load from elsewhere only ever
adds time, and it moved the all-pass median by up to 30% between
identical runs, while a change to the program moves every pass and
still shows.  21 queries x 5 blocks = 105 samples, enough for a p90.
The all-pass latencies stay in the record.  Throughput is queries per
second over all timed passes.  Each result is checked afterwards
against its DuckDB twin from `oracle_sql()`.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import layers
import oracle
import stats
from tracing import catalyst_ms

SF = 0.01  # lineitem ~60k rows: per-job fixed cost dominates, as in BI
WARMUP_THREADS = 4  # the cold pass
WARM_THREADS = 3  # the rest of the warm-up; leaves a CPU for the JIT compiler
WARM_PASSES = 8  # after the cold one: query times kept falling for about ten
PASS_S = 1.2  # one warm pass at the time this benchmark was written
BLOCKS = 5  # 21 queries x 5 blocks = 105 best-of-block samples: enough for a p90
MIN_BLOCK_PASSES = 2
INPUT_REPEATS = 3  # set-up writes the inputs this many times; setup_s counts the median


class _ArtifactProbe:
    """Times calls into operators.artifacts.corpus_artifact."""

    def __init__(self, tracer):
        from ingestprocessstoreinnrt_spark.operators import artifacts

        self.mod, self.orig, self.tracer = artifacts, artifacts.corpus_artifact, tracer

        def wrapped(*a, **k):
            with tracer.span("artifact"):
                return self.orig(*a, **k)

        if tracer.enabled:
            artifacts.corpus_artifact = wrapped

    def close(self):
        self.mod.corpus_artifact = self.orig


def run(ctx) -> dict:
    data_dir = os.path.join(ctx.run_dir, "data")
    ctx.repeat_setup(INPUT_REPEATS, lambda: datagen.write_tables(data_dir, ctx.seed, SF),
                     lambda: shutil.rmtree(data_dir))
    spark = ctx.start_spark("perfbench-bi")
    import __spark_entry__ as entry

    bi = sorted(k for k in entry.queries() if k.startswith("bi_"))
    queries = {k: entry.queries()[k] for k in bi[1::2]}
    twins_sql = entry.oracle_sql()
    ctx.inputs_ready()

    tracer = ctx.tracer
    status = ctx.status
    probe = _ArtifactProbe(tracer)
    errors: list[str] = []
    attempted = 0
    results: list[tuple[str, list[str], list[tuple]]] = []
    query_spans: list[dict] = []
    warm_spans: list[dict] = []

    def one(name: str, req: str, group: str, kind: str):
        if tracer.enabled:
            spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span(kind, req=req) as sp:
            with tracer.span("construct") as csp:
                df = queries[name](spark, data_dir)
            with tracer.span("execute"):
                rows = [tuple(r) for r in df.collect()]
        t1 = time.perf_counter()
        if tracer.enabled:
            with tracer.overhead():
                jobs, stages = status.jobs_with_stages(status.job_ids(group))
                sp["attrs"].update(layers.spark_work(
                    jobs, stages, (layers.epoch_ms(t0), layers.epoch_ms(t1))))
                sp["attrs"]["catalyst_s"] = catalyst_ms(df, layers.epoch_ms(t0) - 1.0) / 1e3
                cs, ce = layers.epoch_ms(csp["start"]), layers.epoch_ms(csp["end"])
                sp["attrs"]["construct_jobs"] = sum(
                    1 for j in jobs if j["submit_ms"] and cs <= j["submit_ms"] <= ce)
            (warm_spans if kind == "warmup" else query_spans).append(sp)
        return df.columns, rows, t1 - t0

    rng = random.Random(ctx.seed)
    names = sorted(queries)

    # untimed warm-up: a cold pass builds every plan once (memo,
    # artifacts, generated code), then closed-loop passes as timed ones
    def warm(i: int, name: str, kind: str) -> None:
        try:
            one(name, f"{name}#{kind}", f"bw{i}", kind)
        except Exception as e:  # one failed query must not stop the run
            errors.append(f"{kind} {name}: {type(e).__name__}: {str(e)[:200]}")

    order = rng.sample(names, len(names))
    with ThreadPoolExecutor(WARMUP_THREADS) as ex:
        list(ex.map(warm, range(len(order)), order, ["warmup"] * len(order)))
    ctx.mark("cold_pass")
    orders = [rng.sample(names, len(names)) for _ in range(WARM_PASSES)]

    def warm_pass(w: int) -> None:
        for i, name in enumerate(orders[w]):
            warm((w + 1) * len(names) + i, name, "rewarm")

    with ThreadPoolExecutor(WARM_THREADS) as ex:
        list(ex.map(warm_pass, range(WARM_PASSES)))
    attempted += (1 + WARM_PASSES) * len(names)
    ctx.mark("warm_pass")

    by_pass: list[dict[str, float]] = []
    pass_wall: list[float] = []
    k = max(MIN_BLOCK_PASSES, round(ctx.seconds / (BLOCKS * PASS_S)))
    passes = BLOCKS * k
    t_start = time.perf_counter()
    n = 0
    for p in range(passes):
        t_pass = time.perf_counter()
        by_pass.append({})
        for name in rng.sample(names, len(names)):
            attempted += 1
            n += 1
            try:
                cols, rows, lat = one(name, f"{name}#{p}", f"bq{n}", "query")
            except Exception as e:
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            by_pass[-1][name] = lat
            results.append((name, cols, rows))
        pass_wall.append(time.perf_counter() - t_pass)
    wall = time.perf_counter() - t_start
    ctx.mark("timed")
    probe.close()

    # correctness, outside the timed region
    twins = oracle.Twins(data_dir)
    expected: dict[str, tuple] = {}
    mismatches = 0
    for name, cols, rows in results:
        if name not in expected:
            expected[name] = twins.run(twins_sql[name])
        why = oracle.mismatch(expected[name], oracle.normalize(cols, rows))
        if why:
            mismatches += 1
            errors.append(f"{name}: result differs from its DuckDB twin: {why}")
    twins.close()
    ctx.mark("checked")

    latencies = [x for g in by_pass for x in g.values()]
    if not latencies:
        raise RuntimeError("no query succeeded: " + "; ".join(errors[:3]))
    best = [x for blk in stats.best_of_blocks(by_pass, k) for x in blk.values()]
    e2e = {
        "latency_p50_s": stats.median(best),
        "latency_p90_s": stats.percentile(best, 0.9),
        # over every timed pass: on ten seeds it spread less than the
        # fastest pass per block did (0.10 against 0.15)
        "throughput_per_s": len(latencies) / wall,
    }
    named = {
        "query_p50_s": e2e["latency_p50_s"],
        "query_p90_s": e2e["latency_p90_s"],
        "queries_per_s": e2e["throughput_per_s"],
        "best_of_block_samples": len(best),
        "passes_per_block": k,
        "query_p50_all_s": stats.median(latencies),
        "query_p90_all_s": stats.percentile(latencies, 0.9),
        "queries_timed": len(latencies),
        "passes": passes,
        "pass_p50_s": [stats.median(g.values()) if g else None for g in by_pass],
        "pass_wall_s": pass_wall,
        "timed_wall_s": wall,
    }
    per_layer = {}
    if tracer.enabled:
        per_layer = _layers(tracer, query_spans, warm_spans)
        per_layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    return {
        "e2e": e2e, "named": named, "layers": per_layer,
        "attempted": attempted, "failed": len(errors),
        "correct": mismatches == 0 and bool(results),
        "errors": errors,
    }


def _layers(tracer, query_spans, warm_spans) -> dict:
    def kids(sp, name):
        return [s for s in tracer.spans if s["parent"] == sp["id"] and s["name"] == name]

    def construct(sps):
        cs = [c for sp in sps for c in kids(sp, "construct")]
        return (layers.mean(c["end"] - c["start"] for c in cs),
                layers.mean(c["attrs"].get("py4j_calls", 0) for c in cs))

    out = {}
    out["construct_s"], out["construct_py4j_calls"] = construct(query_spans)
    out["construct_warmup_s"], out["construct_warmup_py4j_calls"] = construct(warm_spans)
    for key in ("catalyst_s", "jobs", "stages", "tasks", "driver_gap_s", "exec_run_s",
                "exec_cpu_s", "gc_s", "scan_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[key] = layers.mean(sp["attrs"].get(key, 0) for sp in query_spans)
    # jobs started while a plan was being built (construction that computes)
    out["construct_jobs"] = layers.mean(sp["attrs"].get("construct_jobs", 0) for sp in query_spans)
    arts = tracer.named("artifact")
    out["artifact_s"] = sum(a["end"] - a["start"] for a in arts)
    return out
