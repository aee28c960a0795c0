#!/usr/bin/env python
"""Dump .explain("formatted") for every gate query to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [name ...]
e.g.   python tools/dump_plans.py r15 before            # all 50 gates
       python tools/dump_plans.py r15 after q_text_suite q_stats_moments_suite
Env: SPARK_GRAFT_SF_DIR (default: the sf0.01 TESTDATA tables),
SPARK_GRAFT_CPUS (the engine's core count; default all cores)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from beam_spark.session import get_spark
    from beam_spark import gates as g

    spark = get_spark("beam_spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    registry = g.queries()
    for name in sorted(registry):
        if only and name not in only:
            continue
        df = registry[name](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        txt = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted") \
            if hasattr(spark._jvm, "PythonSQLUtils") else None
        if txt is None:
            txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name}: {len(txt)} chars, Exchange x{n_ex}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
