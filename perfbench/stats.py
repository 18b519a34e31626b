"""Pure measurement logic: percentiles, open-loop accounting, span self
time and the file-source batch log.  No Spark, no clock of its own, so
every rule here is unit-tested in perfbench/tests/test_stats.py."""

from __future__ import annotations

import json
import math
import os
import statistics
from collections.abc import Callable, Iterable

# a percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot set it
TAIL_SAMPLES = 10


class InsufficientSamples(ValueError):
    pass


def nearest_rank(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share `p` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise InsufficientSamples("no samples")
    rank = max(1, math.ceil(p * len(xs) - 1e-9))
    return xs[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    return n - max(1, math.ceil(p * n - 1e-9))


def percentile(values: Iterable[float], p: float, tail: int = TAIL_SAMPLES) -> float:
    """`p` of the samples, refused unless `tail` samples lie beyond it
    (a p90 therefore needs at least 100 samples)."""
    xs = list(values)
    if samples_beyond(len(xs), p) < tail:
        raise InsufficientSamples(
            f"p{p * 100:g} needs {tail} samples beyond it; "
            f"{len(xs)} samples leave {max(0, samples_beyond(len(xs), p))}"
        )
    return nearest_rank(xs, p)


def highest_supported(n: int, tail: int = TAIL_SAMPLES) -> float | None:
    """The highest percentile with at least `tail` samples beyond it."""
    if n <= tail:
        return None
    return (n - tail) / n


def median(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs:
        raise InsufficientSamples("no samples")
    return statistics.median(xs)


def quartile_spread(values: Iterable[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    xs = list(values)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def quieter_half(groups: list[list[float]], min_samples: int = 0) -> list[int]:
    """Indices, in their original order, of the groups with the lowest
    medians that together hold at least half of all samples and at least
    `min_samples` (as many as there are, if fewer); ties keep the
    earlier group.

    Used on repeated passes (or micro-batches) of the same work: a burst
    of load from elsewhere on the box slows everything in the groups it
    overlaps, so those rank high and are set aside, while a change to
    the program moves every group and still shows."""
    total = sum(len(g) for g in groups)
    need = min(total, max(-(-total // 2), min_samples))
    kept, n = [], 0
    for i in sorted(range(len(groups)), key=lambda i: (median(groups[i]), i)):
        if n >= need:
            break
        kept.append(i)
        n += len(groups[i])
    return sorted(kept)


def best_of_blocks(passes: list[dict[str, float]], k: int) -> list[dict[str, float]]:
    """Split repeated passes over the same items into consecutive blocks
    of `k` passes (a last, shorter block joins the one before it) and
    keep, per block, each item's lowest time.

    Load from elsewhere on the box only ever adds time, so the best of a
    few repetitions is the time the program itself needed; a change to
    the program moves every repetition and still shows."""
    if not passes:
        return []
    n_blocks = max(1, len(passes) // k)
    out = []
    for b in range(n_blocks):
        block = passes[b * k:] if b == n_blocks - 1 else passes[b * k:(b + 1) * k]
        best: dict[str, float] = {}
        for p in block:
            for name, t in p.items():
                best[name] = min(t, best.get(name, t))
        out.append(best)
    return out


# --- open loop ------------------------------------------------------------


def run_open_loop(
    n: int | None,
    interval: float,
    serve: Callable[[int], object],
    clock: Callable[[], float],
    sleep: Callable[[float], None],
    stop: Callable[[], bool] = lambda: False,
    t0: float | None = None,
) -> list[tuple[float, float, float]]:
    """Issue item i at t0 + i * interval whatever happened before: the
    schedule never slows when `serve` does.  Returns (due, start, end)
    per item.  A stall delays the start of later items, and because
    latency is timed from `due`, the wait is charged to them."""
    t0 = clock() if t0 is None else t0
    out = []
    i = 0
    while (n is None or i < n) and not stop():
        due = t0 + i * interval
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        if stop():
            break
        start = clock()
        serve(i)
        out.append((due, start, clock()))
        i += 1
    return out


def latencies_from_due(items: Iterable[tuple[float, float, float]]) -> list[float]:
    return [end - due for due, _start, end in items]


def lateness(items: Iterable[tuple[float, float, float]]) -> list[float]:
    """How late each item was issued against its schedule."""
    return [max(0.0, start - due) for due, start, _end in items]


# --- spans ----------------------------------------------------------------


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(s, cs), min(e, ce)) for cs, ce in kids.get(sp["id"], [])
        )
        out[sp["id"]] = (e - s) - covered
    return out


# --- file-source checkpoint log -------------------------------------------


def source_batches(source_log_dir: str) -> dict[int, set[str]]:
    """Source batch id -> basenames of the files it added, from a file
    source's metadata log (<checkpoint>/sources/0).  Reads the per-batch
    files and the `<id>.compact` files that fold earlier batches in;
    every entry carries its own batchId, so both agree."""
    out: dict[int, set[str]] = {}
    for fname in os.listdir(source_log_dir):
        stem = fname[: -len(".compact")] if fname.endswith(".compact") else fname
        if not stem.isdigit():
            continue  # .crc side files, temp files
        with open(os.path.join(source_log_dir, fname)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if not line.strip():
                continue
            entry = json.loads(line)
            out.setdefault(int(entry["batchId"]), set()).add(
                os.path.basename(entry["path"])
            )
    return out


def batch_files(checkpoint: str, source: int = 0) -> dict[int, set[str]]:
    """Micro-batch id -> basenames of the files that micro-batch read.

    The file source numbers its own log batches, which match the query's
    micro-batch ids only while every micro-batch reads new files; a
    no-data batch (a watermark advance) takes an id but adds no source
    batch.  So each micro-batch's offset-log entry
    (<checkpoint>/offsets/<id>, one JSON offset per source after the
    metadata line) names the last source batch it covers, and the files
    of micro-batch b are those of the source batches after the previous
    micro-batch's offset, up to its own."""
    added = source_batches(os.path.join(checkpoint, "sources", str(source)))
    off_dir = os.path.join(checkpoint, "offsets")
    covered: dict[int, int] = {}
    for fname in os.listdir(off_dir):
        if fname.isdigit():
            with open(os.path.join(off_dir, fname)) as f:
                off = json.loads(f.read().splitlines()[2 + source])
            covered[int(fname)] = int(off["logOffset"])
    out: dict[int, set[str]] = {}
    prev = -1
    for b in sorted(covered):
        upto = covered[b]
        out[b] = set().union(*(added.get(s, set()) for s in range(prev + 1, upto + 1)))
        prev = upto
    return out
