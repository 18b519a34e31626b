"""Process-level plumbing shared by the workloads: where a run may
write, process age, peak memory, and the run-condition stamp."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
PACKAGE = "ingestprocessstoreinnrt_spark"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, after pid and comm
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def confine(run_dir: str) -> None:
    """Keep every scratch file of the run inside the checkout: Python and
    JVM temp dirs, and Spark's local dirs unless the engine chose its own
    shuffle scratch (session._scratch_dir), which it keeps."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # no hsperfdata file in the system temp dir either
    opts = os.environ.get("JDK_JAVA_OPTIONS", "")
    os.environ["JDK_JAVA_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))
    sys.path.insert(0, ROOT)
    from ingestprocessstoreinnrt_spark import session

    if session._scratch_dir() is None:
        local = os.path.join(run_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local


def stop_jvm(timeout: float = 60.0) -> None:
    """End the driver JVM and wait for it: PySpark's gateway exits when
    its stdin closes, which otherwise happens only after this process."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vmhwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (VmHWM) of the driver JVM (this process's
    children) and of this Python process, in MiB."""
    return (sum(_vmhwm_kb(p) for p in child_pids()) / 1024.0,
            _vmhwm_kb("self") / 1024.0)


def cpu_ticks() -> list[int]:
    """Box-wide CPU ticks from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Share of the box's CPU time over a run that was busy, and that the
    hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": round(1 - (d[3] + d[4]) / total, 4), "steal": round(d[7] / total, 4)}


def loadavg() -> tuple[float, float]:
    with open("/proc/loadavg") as f:
        one, five = f.read().split()[:2]
    return float(one), float(five)


def source_fingerprint() -> str:
    """Hash of the engine's Python sources: identifies the program when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def stamp(spark, seed: int, load_before: tuple[float, float], artifacts: dict,
          cpu: dict) -> dict:
    """The conditions a run measured under."""
    from ingestprocessstoreinnrt_spark import session

    jvm = spark.sparkContext._jvm
    return {
        "cpus": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "scratch_dir": session._scratch_dir(),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "state_store_provider": spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "load_1m": load_before[0],
        "load_5m": load_before[1],
        "cpu_busy_share": cpu["busy"],
        "cpu_steal_share": cpu["steal"],
        "artifacts": artifacts,
        "git_commit": git_commit(),
        "source_sha": source_fingerprint(),
        "seed": seed,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
