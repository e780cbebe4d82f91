"""Per-query profiling harness for the optimization rounds.

For each benched query: capture .explain("formatted") to plans/<tag>/, and
(optionally) time query CONSTRUCTION (Python plan building) separately from
EXECUTION (noop sink), with per-stage task metrics from the status tracker.

Usage:
  python tools/profile_queries.py plans <tag>            # plans only
  python tools/profile_queries.py time [name ...]        # timings
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import BENCH_QUERIES  # noqa: E402
from rtstore_spark import inventory  # noqa: E402
from rtstore_spark.engine import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def capture_plans(tag: str, names: list[str]) -> None:
    spark = get_spark("rtstore_profile")
    qs = inventory.queries()
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange, "
              f"{plan.count('BatchEvalPython') + plan.count('ArrowEvalPython')} PyEval")


def time_queries(names: list[str], reps: int = 5) -> None:
    spark = get_spark("rtstore_profile")
    qs = inventory.queries()
    # warm-up: two passes of everything
    for _ in range(2):
        for name in names:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    out = {}
    for name in names:
        cons, execs = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            spark.sparkContext.setJobDescription(name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cons.append(t1 - t0)
            execs.append(t2 - t1)
        cons.sort(); execs.sort()
        out[name] = {
            "construct_med": round(cons[len(cons) // 2], 4),
            "exec_med": round(execs[len(execs) // 2], 4),
            "exec_min": round(execs[0], 4),
        }
        print(name, json.dumps(out[name]))
    total = sum(v["construct_med"] + v["exec_med"] for v in out.values())
    print(json.dumps({"total_med": round(total, 3), "queries": out}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        tag = sys.argv[2] if len(sys.argv) > 2 else "r11"
        names = sys.argv[3:] or BENCH_QUERIES
        capture_plans(tag, names)
    else:
        names = sys.argv[2:] or BENCH_QUERIES
        time_queries(names)
