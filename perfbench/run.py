"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 10 \\
        --trace 0

Run it from the root of a checkout: it imports ``rtstore_spark`` and
``bench.py`` from the working directory and exits with code 2, printing
no result, when they are not there. Workloads:

- ``serve_write``: signed wire-form mutations, read-your-writes GetDocs
  and RunQueries through the JSON front;
- ``batch_queries``: the headline queries plus three operator families.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the run also measures a traced window and the result carries
the per-layer metrics. Everything the run writes lives under
``.bench_work/`` in the working directory; the full artifact of each run
(run stamp, every latency summary, failures, checks) is kept in
``.bench_work/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

WORKLOADS = ["serve_write", "batch_queries"]
E2E_UNITS = {"ops_per_s": "1/s", "op_p50_ms": "ms", "setup_s": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: a few hundred rows, for the smoke tests")
    return p.parse_args(argv)


def _start_spark(workdir: str):
    from perfbench.common import nproc

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit starts first would otherwise write its
    # performance-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from rtstore_spark.engine import get_spark

    return get_spark(
        "perfbench",
        **{
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            # the traced run rolls jobs up per request after the window
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _e2e(workload: str, res: dict) -> dict:
    m = res["measured"]
    p50 = m["op_p50_ms"] if workload == "batch_queries" else m["write"]["p50"]
    return {"ops_per_s": m["ops_per_s"], "op_p50_ms": p50,
            "setup_s": res["setup_s"]}


def _issue_metrics(workload: str, res: dict) -> dict:
    """Every end-to-end figure of the workload, by name, for people."""
    m = res["measured"]
    out = {"ops_per_s": (m["ops_per_s"], "1/s"),
           "error_rate": (m["failed"] / max(1, m["attempted"]), "share"),
           "setup_s": (res["setup_s"], "s"),
           "ready_s": (m["t0"] - T_START, "s")}
    if workload == "batch_queries":
        out["op_p50_ms"] = (m["op_p50_ms"], "ms")
        return out
    for kind in ("write", "getdoc", "query"):
        out[f"{kind}_p50_ms"] = (m[kind]["p50"], "ms")
        t = m[kind]["tail"]
        out[f"{kind}_tail_ms"] = (t["value"], f"ms@p{t['percentile']}"
                                  f"/n={t['samples']}")
    out["bytes_per_user_byte"] = (res["bytes_per_user_byte"], "ratio")
    out["setup_cold_s"] = (res["setup_cold_s"], "s")
    return out


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "rtstore_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of an rtstore_spark checkout "
              "(rtstore_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.common import HostSampler, log, run_stamp

    base = os.path.join(root, ".bench_work")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    host = HostSampler()
    spark = _start_spark(workdir)
    try:
        if a.workload == "batch_queries":
            from perfbench.batch import run_batch

            res = run_batch(spark, a.seed, a.seconds, bool(a.trace), workdir,
                            a.size)
        else:
            from perfbench.serve import run_serve

            res = run_serve(spark, a.seed, a.seconds, bool(a.trace), workdir,
                            a.size)
        layers = None
        span_check = None
        if a.trace:
            from perfbench import layers as L

            if a.workload == "batch_queries":
                layers = L.batch_layers(res, spark)
            else:
                layers = L.serve_layers(res, spark)
                span_check = L.span_check(res["trace"]["tracer"],
                                          res["trace"]["records"])
                span_check["shares"] = L.shares(res["trace"]["tracer"],
                                                res["trace"]["records"])
        res.pop("trace", None)
        stamp = run_stamp(spark, res["measured"]["host"], res["warmup"])
    finally:
        _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    m = res["measured"]
    mismatches = list(res.get("mismatches", [])) + list(m.get("mismatches", []))
    correct = not mismatches
    e2e = _e2e(a.workload, res)
    if a.trace:
        from perfbench.layers import LAYER_METRICS

        metrics = {k: {"value": float(layers[k]), "unit": LAYER_METRICS[k]}
                   for k in LAYER_METRICS}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "stamp": stamp, "correct": correct,
        "mismatches": mismatches[:50],
        "end_to_end": e2e, "issue_metrics": _issue_metrics(a.workload, res),
        "per_layer": layers, "span_check": span_check,
        "host_whole_run": host.finish(), "result": res,
    }
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    path = os.path.join(base, "artifacts",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for k, (v, unit) in artifact["issue_metrics"].items():
        print(f"{a.workload} {k} = {v} {unit}")
    for msg in mismatches[:10]:
        log(f"WRONG: {msg}")
    print(json.dumps({"correct": correct, "attempted": m["attempted"],
                      "failed": m["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
