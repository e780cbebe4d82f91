"""Span tracing for the traced run, installed from the benchmark's own files.

``Tracer.install_serve`` wraps the public functions of each layer the
serve workloads cross (service, wire, crypto, store, jql) and replaces the
sequencer lock of one ``StateStore`` with a timing proxy. Nothing here is
installed in an untraced run. Spans are kept in memory; ``self_times``
and the roll-ups read them after the measured window closes.

A request's spans share its request id. The client records the root span
and sends its id and the request id as HTTP headers; the front's handler
picks them up, so server-side spans hang under the client span.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass

RID_HEADER = "X-Bench-Rid"
SPAN_HEADER = "X-Bench-Span"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- context ------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_remote(self, rid: str | None, parent: int | None) -> None:
        """Adopt a request context that arrived from another thread."""
        self._local.rid = rid
        self._local.remote_parent = parent

    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    def new_id(self) -> int:
        return next(self._ids)

    def begin(self, name: str) -> tuple[int, int | None, float]:
        st = self._stack()
        parent = st[-1] if st else getattr(self._local, "remote_parent", None)
        sid = self.new_id()
        st.append(sid)
        return sid, parent, time.perf_counter()

    def end(self, name: str, token: tuple[int, int | None, float]) -> None:
        sid, parent, start = token
        end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        self.record(Span(sid, name, start, end, parent, self.rid()))

    def record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    # -- installation -------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            token = tracer.begin(name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.end(name, token)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def install_serve(self, state_stores, spark) -> None:
        """Wrap every layer boundary the serve workloads cross."""
        from rtstore_spark import service
        from rtstore_spark.jql import compiler, parser
        from rtstore_spark.store import docstore, state
        from rtstore_spark.wire import envelope, translate

        sc = spark.sparkContext
        tracer = self

        original_post = service._Handler.do_POST

        def do_post(handler):
            rid = handler.headers.get(RID_HEADER)
            parent = handler.headers.get(SPAN_HEADER)
            tracer.set_remote(rid, int(parent) if parent else None)
            if rid:
                # every Spark job this request causes lands in its group
                sc.setJobGroup(f"bench-{rid}", rid, False)
            try:
                return original_post(handler)
            finally:
                tracer.set_remote(None, None)
                sc.setLocalProperty("spark.jobGroup.id", None)

        self.patch(service._Handler, "do_POST", do_post)
        self.wrap(service.NodeService, "dispatch", "service.dispatch")
        self.wrap(envelope, "unwrap_and_verify", "wire.unwrap_verify")
        self.wrap(envelope, "recover_mutation_signer", "crypto.recover")
        self.wrap(translate, "body_to_ingest_payload", "wire.translate")
        for fn in ("incr_nonce", "take_doc_ids", "next_order"):
            self.wrap(state.StateStore, fn, "store.state_persist")
        for fn, name in (
            ("add_docs", "store.add_docs"),
            ("update_docs", "store.update_docs"),
            ("delete_docs", "store.delete_docs"),
            ("get_doc", "store.get_doc"),
            ("query_docs", "store.query_docs"),
            ("archive_wire_envelope", "store.archive_wire"),
            ("flush_wire_archive", "store.flush_wire_archive"),
        ):
            self.wrap(docstore.DocStore, fn, name)
        self.wrap(parser, "parse_jql", "jql.parse")
        self.wrap(compiler, "compile_predicate", "jql.compile")
        self.wrap(compiler, "apply_stages", "jql.apply_stages")
        for st in state_stores:
            self.patch(st, "lock", TimedLock(st.lock, self))

    # -- analysis -----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out


class TimedLock:
    """Proxy for a ``threading.RLock`` that records the wait to acquire it
    and, for the outermost acquisition, a span covering the hold. The hold
    span sits on the holder's span stack, so work done under the lock
    nests inside it."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer
        self._depth = threading.local()

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        depth = getattr(self._depth, "n", 0)
        if depth:
            ok = self._lock.acquire(blocking, timeout)
            if ok:
                self._depth.n = depth + 1
            return ok
        t = self._tracer
        stack = t._stack()
        parent = stack[-1] if stack else getattr(t._local, "remote_parent", None)
        start = time.perf_counter()
        ok = self._lock.acquire(blocking, timeout)
        if not ok:
            return ok
        t.record(Span(t.new_id(), "store.lock_wait", start,
                      time.perf_counter(), parent, t.rid()))
        self._depth.n = 1
        self._depth.token = t.begin("store.lock_hold")
        return ok

    def release(self) -> None:
        self._depth.n -= 1
        if self._depth.n == 0:
            self._tracer.end("store.lock_hold", self._depth.token)
        self._lock.release()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def spark_rollup(sc, groups: list[str]) -> dict[str, dict]:
    """Jobs, stages, tasks and executor metrics of each job group, read
    from Spark's status store (populated with the UI off)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for g in groups:
        jobs = tracker.getJobIdsForGroup(f"bench-{g}")
        agg = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
               "input_rows": 0, "shuffle_bytes": 0, "missing_stages": 0}
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 — evicted or skipped stage
                    agg["missing_stages"] += 1
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += sd.numCompleteTasks()
                agg["executor_run_ms"] += sd.executorRunTime()
                agg["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                agg["input_rows"] += sd.inputRecords()
                agg["shuffle_bytes"] += (sd.shuffleReadBytes()
                                         + sd.shuffleWriteBytes())
        out[g] = agg
    return out
