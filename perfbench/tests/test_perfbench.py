"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Run from the root of the repository. The end-to-end tests start the
benchmark in a subprocess at the ``tiny`` size (a few hundred rows), so
each takes about a minute; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.batch import compare_counts  # noqa: E402
from perfbench.common import Window, tail  # noqa: E402
from perfbench.serve import CLIENTS, WRITE_PATTERN, SeedModel, _cycle  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402


def _bench(*args: str, code: str | None = None, timeout: int = 600):
    """Run the benchmark (or ``code`` before its main) from the root."""
    cmd = [sys.executable]
    if code is None:
        cmd += ["perfbench/run.py", *args]
    else:
        cmd += ["-c", code + "\nfrom perfbench.run import main\n"
                f"raise SystemExit(main({list(args)!r}))"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=timeout)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return p, result


def _artifact(workload: str, seed: int, trace: int) -> dict:
    path = os.path.join(ROOT, ".bench_work", "artifacts",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def _declared(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


# -- no Spark ---------------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(range(10))["value"] is None
    t = tail(range(100))
    assert t["value"] == 89 and t["percentile"] == 90.0
    assert sum(1 for v in range(100) if v > t["value"]) == 10


def test_window_credits_the_share_inside():
    w = Window(10.0, 0)
    w.t0 = 100.0
    assert w.credit(101.0, 102.0) == 1.0
    assert w.credit(109.0, 111.0) == pytest.approx(0.5)
    assert w.credit(111.0, 112.0) == 0.0


def test_self_time_subtracts_covered_children():
    t = Tracer()
    t.spans = [Span(1, "root", 0.0, 10.0, None, "r"),
               Span(2, "a", 1.0, 4.0, 1, "r"),
               Span(3, "b", 3.0, 6.0, 1, "r"),  # overlaps a
               Span(4, "c", 2.0, 3.0, 2, "r")]
    selfs = t.self_times()
    assert selfs == {1: pytest.approx(5.0), 2: pytest.approx(2.0),
                     3: pytest.approx(3.0), 4: pytest.approx(1.0)}


def test_wrong_expected_values_fail_the_checks():
    m = SeedModel(seed=3, n=50, match=5)
    doc_id = m.ids[7]
    op = m.getdoc_op(doc_id)
    good = {"document": {"id": doc_id, "doc": json.loads(m.docs[doc_id])}}
    assert op.check(good) is None
    m.docs[doc_id] = json.dumps({"k": -1})  # a wrong expected body
    assert m.getdoc_op(doc_id).check(good) is not None

    import random

    q = m.query_op(random.Random(1), counting=True)
    k = int(q.body["query"]["query_str"].split("=")[1].split("]")[0])
    right = len(m.by_key.get(k, []))
    assert q.check({"count": right, "documents": []}) is None
    assert q.check({"count": right + 1, "documents": []}) is not None

    assert compare_counts({"q": 3}, {"q": 3}) == []
    assert compare_counts({"q": 3}, {"q": 4}) != []


def test_write_mix_and_openings():
    counts = {k: WRITE_PATTERN.count(k) for k in set(WRITE_PATTERN)}
    assert counts == {"add": 10, "update": 5, "delete": 1, "getdoc": 2,
                      "query": 2}
    # a short window holds only the openings, so together they hold every
    # kind, and each GetDoc reads back a document its client just added
    openings = [[next(k) for _ in range(2)]
                for k in map(_cycle, range(CLIENTS))]
    assert {k for o in openings for k in o} == set(WRITE_PATTERN)
    assert ["add", "getdoc"] in openings and ["add", "delete"] in openings


# -- end to end, tiny size ---------------------------------------------------


@pytest.mark.parametrize("workload", ["serve_write", "batch_queries"])
def test_smoke_tiny(workload):
    p, result = _bench("--workload", workload, "--seed", "1", "--seconds",
                       "3", "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    art = _artifact(workload, 1, 0)
    for key in ("nproc", "spark_master", "spark_version", "python_version",
                "boot_id", "warmup", "host_steal_pct", "host_loadavg"):
        assert key in art["stamp"]
    if workload == "serve_write":
        reopen = art["result"]["reopen"]
        assert reopen["mismatches"] == []
        assert reopen["acked_mutations"] >= 1


def test_traced_span_tree():
    # 10 s, as in BENCHMARK.json, so the window holds every op kind
    p, result = _bench("--workload", "serve_write", "--seed", "2",
                       "--seconds", "10", "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    assert set(result["metrics"]) == _declared("per_layer")
    art = _artifact("serve_write", 2, 1)
    chk = art["span_check"]
    assert chk["requests"] >= 1 and chk["spans"] > chk["requests"]
    assert chk["orphans"] == 0
    assert chk["negative_self"] == 0
    # self times of a request's spans add up to its client latency
    assert chk["max_sum_gap_ms"] < 1.0
    metrics = result["metrics"]
    assert metrics["store.lock_hold_ms"]["value"] > 0
    assert metrics["spark.jobs.write"]["value"] >= 1
    # the traced window crossed the delete path, a read-your-writes GetDoc
    # and a RunQuery
    assert metrics["store.delete_docs_ms"]["value"] > 0
    assert art["result"]["traced"]["started"].get("getdoc.own", 0) >= 1
    assert metrics["store.get_doc_ms"]["value"] > 0
    assert metrics["jql.parse_ms"]["value"] > 0


def test_wrong_expected_value_fails_the_run():
    # after the window, the expected body of every acknowledged add is
    # altered, so the reopen check finds the store disagreeing with it
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "import perfbench.serve as s\n"
        "check = s.check_reopened\n"
        "def wrong(spark, root, plans):\n"
        "    for p in plans:\n"
        "        for i, want in p.expect.items():\n"
        "            if want is not None:\n"
        "                p.expect[i] = {**want, 'tag': -1}\n"
        "    return check(spark, root, plans)\n"
        "s.check_reopened = wrong\n"
    )
    p, result = _bench("--workload", "serve_write", "--seed", "3",
                       "--seconds", "3", "--trace", "0", "--size", "tiny",
                       code=code)
    assert p.returncode == 1
    assert result["correct"] is False


def test_refuses_to_run_outside_a_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "serve_write", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
