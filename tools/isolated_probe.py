"""Isolated per-query cold/warm probe — the PERFORMANCE.md methodology
for adjudicating scale flags (VERDICT r11 item 1).

In-sweep per-query timings inside cache-sharing families measure WHICH
shared frames survived eviction in that sweep, not code (ROUND_NOTES
r11 methodology lesson).  This tool isolates one query at a time:

  * clear the SQL cache AND the derived-state registry (family-cold);
  * optionally pre-run a family OWNER query first (--owner name), so
    the probed time is the query's own incremental cost over a warm
    family frame;
  * run the query twice back-to-back (cold, warm) with the same
    noop-write sink bench.py uses.

Prints one JSON line per (sf_dir, query).  Pair with
tools/scale_exponents.py or eyeball: exp = log(t2/t1)/log(sf2/sf1).

Usage:
  [SPARK_GRAFT_DRIVER_MEM=48g] python tools/isolated_probe.py \
      [--owner NAME] SF_DIR QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    owner = None
    if args and args[0] == "--owner":
        owner = args[1]
        args = args[2:]
    if len(args) < 2:
        sys.exit(__doc__)
    sf_dir, names = args[0], args[1:]

    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark import derived as _derived
    from ingestprocessstoreinnrt_spark.operators import artifacts as _art
    from ingestprocessstoreinnrt_spark.session import get_spark

    # provenance stamps (VERDICT r12 item 6): a probe line must be
    # self-contained evidence — WHICH code it measured and whether the
    # persisted-index cache served hits or the build path ran
    import subprocess

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None

    spark = get_spark("isolated-probe")
    qs = e.queries()
    # untimed warmup: JVM + codegen + parquet footers
    next(iter(qs.values()))(spark, sf_dir).count()

    def family_cold() -> None:
        spark.catalog.clearCache()
        _derived.clear()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    for name in names:
        family_cold()
        art0 = dict(_art.STATS)
        der0 = {k: dict(v) for k, v in _derived.STATS.items()}
        rec = {"sf_dir": sf_dir, "query": name, "code_sha": sha,
               "load_1m": round(os.getloadavg()[0], 2)}
        if owner:
            rec["owner"] = owner
            rec["owner_sec"] = run(owner)
        rec["cold_sec"] = run(name)
        rec["warm_sec"] = run(name)
        rec["artifacts"] = {
            k: _art.STATS[k] - art0[k] for k in ("hit", "miss")
        }
        rec["derived"] = {
            kind: {k: n - der0.get(kind, {}).get(k, 0) for k, n in c.items()}
            for kind, c in _derived.STATS.items()
        }
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
