"""Spans, py4j call counts and Spark status-store reads, all taken from
outside the engine: around the benchmark's own calls into it.

Spans are kept in memory and written out when the run ends.  With
tracing off every hook is a no-op, so end-to-end runs pay nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from stats import self_times


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time the tracing itself took on the run's threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j: Py4JCounter | None = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        """Record `name` around the block; the enclosing span on this
        thread is its parent, and it inherits the parent's request id."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "req": req if req is not None else (parent or {}).get("req"),
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "attrs": dict(attrs),
        }
        calls0 = self.py4j.calls() if self.py4j else 0
        stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t = time.perf_counter()
            stack.pop()
            if self.py4j:
                sp["attrs"]["py4j_calls"] = self.py4j.calls() - calls0
            with self._lock:
                self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span whose times were taken elsewhere, under the
        enclosing span on this thread."""
        if not self.enabled:
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {"id": next(self._ids), "name": name,
              "req": parent["req"] if parent else None,
              "parent": parent["id"] if parent else None,
              "thread": threading.get_ident(), "start": start, "end": end, "attrs": {}}
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def overhead(self):
        """Time spent on tracing work (status-store reads) is charged here."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        """Write every span with its self time (duration minus the part
        its children cover)."""
        own = self_times(self.spans)
        spans = [dict(sp, self_s=own[sp["id"]]) for sp in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "overhead_s": self.overhead_s}, f)


class Py4JCounter:
    """Counts py4j commands sent to the JVM, per thread, by wrapping the
    gateway client's send_command."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._local = threading.local()

        def send_command(*a, **k):
            self._local.n = getattr(self._local, "n", 0) + 1
            return self._orig(*a, **k)

        self._client.send_command = send_command

    def calls(self) -> int:
        return getattr(self._local, "n", 0)

    def close(self) -> None:
        self._client.send_command = self._orig


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch ms."""
    return opt.get().getTime() if opt.isDefined() else None


class SparkStatus:
    """Reads of Spark's in-process status store (the UI stays off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, jid: int) -> dict:
        jd = self.store.job(jid)
        sids = jd.stageIds()
        return {
            "id": jid,
            "name": jd.name(),
            "submit_ms": _opt_ms(jd.submissionTime()),
            "end_ms": _opt_ms(jd.completionTime()),
            "stage_ids": [sids.apply(i) for i in range(sids.size())],
        }

    def stages(self, sid: int) -> list[dict]:
        """Every attempt of a stage (skipped stages report no time)."""
        seq = self.store.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False, None
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            out.append({
                "id": sid,
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
                "submit_ms": _opt_ms(s.submissionTime()),
                "end_ms": _opt_ms(s.completionTime()),
            })
        return out

    def jobs_with_stages(self, job_ids: list[int]) -> tuple[list[dict], list[dict]]:
        jobs = [self.job(j) for j in job_ids]
        stages = [s for j in jobs for sid in j["stage_ids"] for s in self.stages(sid)]
        return jobs, stages


def catalyst_ms(df, since_epoch_ms: float) -> float:
    """Catalyst phase time (analysis, optimization, planning) of `df`'s
    query execution spent after `since_epoch_ms`; phases a reused plan
    finished earlier count zero."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.keySet().iterator()
    while it.hasNext():
        summ = phases.get(it.next())
        if summ.isDefined():
            summ = summ.get()
        if summ.startTimeMs() >= since_epoch_ms:
            total += summ.durationMs()
    return total
