#!/usr/bin/env python
"""Per-gate build/execute split profiler.

For each gate or component: time the registry call (driver-side plan
construction + eager member training) separately from the noop-sink
execution, and count the Spark jobs each pass runs (build + execute)
and the cached frames (persistent RDDs) the session holds after it: a
pin that leaks grows pass by pass, one reused across passes stays
level above zero. The cached count is session-wide, so profile one
name to read its own.
High build_s = Catalyst/py4j/eager-training bound (guide §7.3 driver
work); high exec_s = executor bound. Median of N passes, untimed warmup
pass first.

Jobs per pass are the job ids that first appear in the status tracker
during the pass. Job groups are not used: they are thread-local, so
jobs started on member-build threads would be missed.

Usage: python tools/profile_gates.py [name ...]   (default: all gates;
names may be gates or components of ``queries.queries()``)
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
    from beam_spark import queries as q

    spark = get_spark("beam_spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    jsc = spark.sparkContext._jsc

    gates = g.queries()
    registry = {**q.queries(), **gates}
    names = sys.argv[1:] or sorted(gates)
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown gate or component: {', '.join(unknown)}")

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    for name in names:  # warmup
        registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    print("[profile] warmup done", file=sys.stderr)

    from statistics import median
    build: dict[str, list[float]] = {n: [] for n in names}
    execu: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}
    cached: dict[str, list[int]] = {n: [] for n in names}
    for r in range(n_runs):
        for name in names:
            j0 = last_job()
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build[name].append(t1 - t0)
            execu[name].append(t2 - t1)
            jobs[name].append(sum(1 for j in tracker.getJobIdsForGroup(None)
                                  if j > j0))
            cached[name].append(jsc.getPersistentRDDs().size())
        print(f"[profile] pass {r + 1}/{n_runs} done", file=sys.stderr)

    rows = []
    for n in names:
        b, e = median(build[n]), median(execu[n])
        rows.append((b + e, n, b, e))
    rows.sort(reverse=True)
    print(f"{'total':>7} {'build':>7} {'exec':>7} {'jobs':>5} "
          f"{'cached/pass':>11}  name")
    for tot, n, b, e in rows:
        per_pass = ",".join(map(str, cached[n]))
        print(f"{tot:7.2f} {b:7.2f} {e:7.2f} {median(jobs[n]):5g} "
              f"{per_pass:>11}  {n}")
    print(json.dumps({n: {"build": round(median(build[n]), 3),
                          "exec": round(median(execu[n]), 3),
                          "jobs": jobs[n], "cached": cached[n]}
                      for n in names}))
    spark.stop()


if __name__ == "__main__":
    main()
