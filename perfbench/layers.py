"""Per-layer metrics of the traced run, and the span-tree check.

Each ``*_ms`` value is the median, over the traced window's requests of
the op kinds it applies to, of the per-request sum of the self time of the
spans with that name. Exceptions: ``wire.unwrap_verify_ms`` is the full
span (it includes ``crypto.recover_ms``), ``store.lock_hold_ms`` is the
full hold (it includes the store work done under the lock), and
``store.flush_wire_archive_ms`` is per block tick. A metric whose layer a
workload does not cross reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.batch import query_names
from perfbench.common import median
from perfbench.trace import spark_rollup

SERVE_OPS = ["getdoc", "query", "write"]
SPARK_FIELDS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
                ("input_rows_per_result", "rows"), ("shuffle_bytes", "bytes")]

# name -> unit. Which end-to-end metric each should move is mapped in
# perfbench/README.md.
LAYER_METRICS: dict[str, str] = {}
for _op in SERVE_OPS:
    LAYER_METRICS[f"service.front_ms.{_op}"] = "ms"
    LAYER_METRICS[f"service.dispatch_self_ms.{_op}"] = "ms"
    for _f, _u in SPARK_FIELDS:
        LAYER_METRICS[f"spark.{_f}.{_op}"] = _u
for _name, _unit in [
    ("wire.unwrap_verify_ms", "ms"), ("crypto.recover_ms", "ms"),
    ("wire.translate_ms", "ms"), ("store.lock_wait_ms", "ms"),
    ("store.lock_hold_ms", "ms"), ("store.state_persist_ms", "ms"),
    ("store.add_docs_ms", "ms"), ("store.update_docs_ms", "ms"),
    ("store.delete_docs_ms", "ms"), ("store.archive_wire_ms", "ms"),
    ("store.flush_wire_archive_ms", "ms"), ("store.files_per_write", "count"),
    ("store.bytes_written_per_write", "bytes"), ("store.live_files", "count"),
    ("store.get_doc_ms", "ms"), ("store.query_docs_ms", "ms"),
    ("jql.parse_ms", "ms"), ("jql.compile_ms", "ms"),
    ("jql.apply_stages_ms", "ms"), ("jql.matched_per_returned", "ratio"),
]:
    LAYER_METRICS[_name] = _unit
for _q in query_names():
    for _f, _u in [("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                   ("shuffle_bytes", "bytes")]:
        LAYER_METRICS[f"batch.{_q}.{_f}"] = _u
for _name, _unit in [("host.steal_pct", "%"), ("host.loadavg", "load"),
                     ("proc.cpu_ms_per_op", "ms"),
                     ("trace.overhead_pct", "%")]:
    LAYER_METRICS[_name] = _unit

# span name -> metric name, for the per-request self-time sums
_SELF_SPANS = {
    "wire.translate": "wire.translate_ms",
    "crypto.recover": "crypto.recover_ms",
    "store.lock_wait": "store.lock_wait_ms",
    "store.state_persist": "store.state_persist_ms",
    "store.add_docs": "store.add_docs_ms",
    "store.update_docs": "store.update_docs_ms",
    "store.delete_docs": "store.delete_docs_ms",
    "store.archive_wire": "store.archive_wire_ms",
    "store.get_doc": "store.get_doc_ms",
    "store.query_docs": "store.query_docs_ms",
    "jql.parse": "jql.parse_ms",
    "jql.compile": "jql.compile_ms",
    "jql.apply_stages": "jql.apply_stages_ms",
}
_FULL_SPANS = {"wire.unwrap_verify": "wire.unwrap_verify_ms",
               "store.lock_hold": "store.lock_hold_ms"}


def _zeroed() -> dict[str, float]:
    return {k: 0.0 for k in LAYER_METRICS}


def span_check(tracer, records) -> dict:
    """Every span has its parent in the same request, self times are not
    negative, and a request's self times add up to its client latency."""
    spans = {s.sid: s for s in tracer.spans}
    selfs = tracer.self_times()
    orphans = negative = 0
    by_rid: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        if s.rid is None or s.rid.startswith("tick-"):
            continue
        by_rid[s.rid].append(s)
        if s.parent is None:
            if not s.name.startswith("client."):
                orphans += 1
        elif s.parent not in spans or spans[s.parent].rid != s.rid:
            orphans += 1
        if selfs[s.sid] < -1e-9:
            negative += 1
    gaps = []
    for r in records:
        total = sum(selfs[s.sid] for s in by_rid.get(r.rid, ()))
        gaps.append(abs(total - (r.end - r.start)) * 1e3)
    return {"spans": len(tracer.spans), "requests": len(records),
            "orphans": orphans, "negative_self": negative,
            "max_sum_gap_ms": max(gaps) if gaps else 0.0}


def shares(tracer, records) -> dict:
    """Where serve requests spend their latency: per op kind, the median
    share of each span name's self time (``client.*`` is the front), the
    largest of them, and the largest share any request of the kind spent
    waiting for or holding the sequencer lock."""
    selfs = tracer.self_times()
    by_rid: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        by_rid[s.rid].append(s)
    out = {}
    for kind in SERVE_OPS:
        mine = [r for r in records if r.ok and r.kind == kind]
        if not mine:
            continue
        per_name: dict[str, list[float]] = defaultdict(list)
        lock = []
        for r in mine:
            lat = r.end - r.start
            sums: dict[str, float] = defaultdict(float)
            held = 0.0
            for s in by_rid[r.rid]:
                sums[s.name] += selfs[s.sid]
                if s.name in ("store.lock_wait", "store.lock_hold"):
                    held += s.end - s.start
            for name, v in sums.items():
                per_name[name].append(v / lat)
            lock.append(held / lat)
        med = {n: median(v + [0.0] * (len(mine) - len(v)))
               for n, v in per_name.items()}
        out[kind] = {"median_self_share": med,
                     "largest": max(med, key=med.get),
                     "lock_share_median": median(lock),
                     "lock_share_max": max(lock)}
    return out


def serve_layers(result: dict, spark) -> dict[str, float]:
    tr = result["trace"]
    tracer, records = tr["tracer"], [r for r in tr["records"] if r.ok]
    out = _zeroed()
    selfs = tracer.self_times()
    by_rid: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        by_rid[s.rid].append(s)

    # a metric is the median over the requests that cross its layer
    pooled: dict[str, list[float]] = defaultdict(list)
    for r in records:
        lat = (r.end - r.start) * 1e3
        sums: dict[str, float] = defaultdict(float)
        dispatch = dispatch_self = 0.0
        for s in by_rid[r.rid]:
            if s.name == "service.dispatch":
                dispatch += (s.end - s.start) * 1e3
                dispatch_self += selfs[s.sid] * 1e3
            if s.name in _SELF_SPANS:
                sums[_SELF_SPANS[s.name]] += selfs[s.sid] * 1e3
            if s.name in _FULL_SPANS:
                sums[_FULL_SPANS[s.name]] += (s.end - s.start) * 1e3
        pooled[f"service.front_ms.{r.kind}"].append(lat - dispatch)
        pooled[f"service.dispatch_self_ms.{r.kind}"].append(dispatch_self)
        for k, v in sums.items():
            pooled[k].append(v)
    for k, vals in pooled.items():
        out[k] = median(vals)

    flushes = [(s.end - s.start) * 1e3 for s in tracer.spans
               if s.name == "store.flush_wire_archive"]
    out["store.flush_wire_archive_ms"] = median(flushes) or 0.0

    queries = [r for r in records if r.kind == "query" and r.returned]
    if queries:
        out["jql.matched_per_returned"] = (sum(r.matched for r in queries)
                                           / sum(r.returned for r in queries))

    rollup = spark_rollup(spark.sparkContext, [r.rid for r in records])
    for op in SERVE_OPS:
        mine = [r for r in records if r.kind == op]
        if not mine:
            continue
        for r in mine:
            g = rollup[r.rid]
            # a result is one document, or one count or acknowledgement
            g["input_rows_per_result"] = g["input_rows"] / max(1, r.returned
                                                               or 1)
        for f, _ in SPARK_FIELDS:
            out[f"spark.{f}.{op}"] = median(rollup[r.rid][f] for r in mine)

    tm = result["traced"]
    writes = len([r for r in records if r.kind == "write"])
    if writes:
        (f0, b0), (f1, b1) = tm["store_files_before_after"]
        out["store.files_per_write"] = (f1 - f0) / writes
        out["store.bytes_written_per_write"] = (b1 - b0) / writes
    out["store.live_files"] = tm["store_files_before_after"][1][0]
    _host(out, result)
    return out


def batch_layers(result: dict, spark) -> dict[str, float]:
    out = _zeroed()
    timings = result["trace"]["timings"]
    per: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for q, a, b, c in timings:
        per[q]["build_ms"].append((b - a) * 1e3)
        per[q]["exec_ms"].append((c - b) * 1e3)
    rollup = spark_rollup(spark.sparkContext,
                          [f"batch-{q}" for q in per])
    for q, d in per.items():
        passes = len(d["build_ms"])
        g = rollup[f"batch-{q}"]
        out[f"batch.{q}.build_ms"] = median(d["build_ms"])
        out[f"batch.{q}.exec_ms"] = median(d["exec_ms"])
        out[f"batch.{q}.jobs"] = g["jobs"] / passes
        out[f"batch.{q}.shuffle_bytes"] = g["shuffle_bytes"] / passes
    _host(out, result)
    return out


def _host(out: dict, result: dict) -> None:
    tm, m = result["traced"], result["measured"]
    out["host.steal_pct"] = tm["host"]["steal_pct"] or 0.0
    out["host.loadavg"] = tm["host"]["loadavg"] or 0.0
    out["proc.cpu_ms_per_op"] = tm["cpu_ms_per_op"]
    out["trace.overhead_pct"] = (100.0 * (m["ops_per_s"] - tm["ops_per_s"])
                                 / m["ops_per_s"])
