#!/usr/bin/env python
"""Per-gate build/execute split profiler.

For each gate: time the registry call (driver-side plan construction +
eager member training) separately from the noop-sink execution. High
build_s = Catalyst/py4j/eager-training bound (guide §7.3 driver work);
high exec_s = executor bound. Median of N passes, untimed warmup pass
first.

Usage: python tools/profile_gates.py [gate ...]   (default: all)
Env: SPARK_GRAFT_SF_DIR (default: the sf0.01 TESTDATA tables),
SPARK_GRAFT_CPUS (the engine's core count; default all cores),
SPARK_GRAFT_PROFILE_RUNS (passes per gate; default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))

    from beam_spark.session import get_spark
    from beam_spark import gates as g

    spark = get_spark("beam_spark-profile")
    spark.sparkContext.setLogLevel("ERROR")

    registry = g.queries()
    names = sys.argv[1:] or sorted(registry)

    for name in names:  # warmup
        registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    print("[profile] warmup done", file=sys.stderr)

    from statistics import median
    build: dict[str, list[float]] = {n: [] for n in names}
    execu: dict[str, list[float]] = {n: [] for n in names}
    for r in range(n_runs):
        for name in names:
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build[name].append(t1 - t0)
            execu[name].append(t2 - t1)
        print(f"[profile] pass {r + 1}/{n_runs} done", file=sys.stderr)

    rows = []
    for n in names:
        b, e = median(build[n]), median(execu[n])
        rows.append((b + e, n, b, e))
    rows.sort(reverse=True)
    print(f"{'total':>7} {'build':>7} {'exec':>7}  gate")
    for tot, n, b, e in rows:
        print(f"{tot:7.2f} {b:7.2f} {e:7.2f}  {n}")
    print(json.dumps({n: {"build": round(median(build[n]), 3),
                          "exec": round(median(execu[n]), 3)}
                      for n in names}))
    spark.stop()


if __name__ == "__main__":
    main()
