"""The serve_write workload: the node in-process behind its JSON front on
loopback, under the node's 2000 ms block tick, driven by four closed-loop
accounts on persistent HTTP/1.1 connections. Each sends signed wire-form
SendMutations (add, update, delete), read-your-writes GetDocs and
RunQueries.

Every run sets up identically seeded stores. The first set-up is cold and
takes the untimed warm-up, so warm-up traffic never touches a measured
collection. The set-ups after the warm-up are warm: the second store takes
the measured window and a third, in traced runs only, the traced window.
``setup_s`` is the median of the warm set-ups; the cold one is reported
apart, because it is mostly the JVM's own warm-up.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass

from perfbench.common import HostSampler, Window, log, median, summarize
from perfbench.trace import RID_HEADER, SPAN_HEADER, Span, Tracer

DB_ADDR = "0x" + "5e" * 20
COL = "bench"
OP_TIMEOUT_S = 60.0
BLOCK_INTERVAL_S = 2.0  # the node CLI's default block tick

# seeded documents per store, and about how many of them share a value of
# the queried field
SIZES = {"full": {"docs": 20_000, "query_match": 250},
         "tiny": {"docs": 200, "query_match": 20}}
SEED_OWNER = "0x" + "5f" * 20
CLIENTS = 4
WORDS = ("alpha bravo delta echo golf hotel india kilo lima mike oscar papa "
         "quebec romeo sierra tango victor whiskey xray yankee zulu").split()


def _name(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


# ---------------------------------------------------------------------------
# requests
# ---------------------------------------------------------------------------


@dataclass
class Op:
    kind: str  # getdoc | query | write
    path: str
    body: dict
    check: object  # callable(response dict) -> str | None (mismatch text)
    on_ack: object = None  # callable(response dict), after a good answer
    action: str = ""  # add | update | delete | own (a read of an own doc)


@dataclass
class Record:
    client: int
    kind: str
    start: float
    end: float
    ok: bool
    error: str | None
    rid: str
    action: str = ""
    matched: int | None = None
    returned: int | None = None


class Conn:
    """One persistent HTTP/1.1 connection to the node."""

    def __init__(self, port: int):
        self.port = port
        self.c = http.client.HTTPConnection("127.0.0.1", port,
                                            timeout=OP_TIMEOUT_S)

    def post(self, path: str, body: dict, headers: dict) -> tuple[int, dict]:
        data = json.dumps(body).encode()
        hdrs = {"Content-Type": "application/json", **headers}
        try:
            self.c.request("POST", path, body=data, headers=hdrs)
            r = self.c.getresponse()
            payload = r.read()
        except (OSError, http.client.HTTPException):
            self.c.close()  # reconnects on the next request
            raise
        return r.status, json.loads(payload or b"{}")

    def close(self) -> None:
        self.c.close()


def run_clients(port: int, plans: list, seconds: float,
                tracer: Tracer | None, tag: str,
                on_open) -> tuple[list[Record], Window]:
    """Run one closed-loop window: each plan's ops, back to back.
    ``on_open`` is called as the window opens, before any client starts."""
    window = Window(seconds, len(plans), on_open)
    records: list[Record] = []
    errors: list[BaseException] = []
    lock = threading.Lock()

    def client(i: int, plan) -> None:
        conn = Conn(port)
        mine: list[Record] = []
        n = 0
        try:
            window.wait_open()
            while window.is_open():
                op = plan.next_op()
                rid = f"{tag}-{i}-{n}"
                n += 1
                headers = {RID_HEADER: rid}
                sid = None
                if tracer is not None:
                    sid = tracer.new_id()
                    headers[SPAN_HEADER] = str(sid)
                start = time.perf_counter()
                err = None
                resp = None
                try:
                    status, resp = conn.post(op.path, op.body, headers)
                    if status != 200 or resp.get("code", 0) != 0:
                        err = f"http {status}: {resp.get('msg')}"
                except (OSError, http.client.HTTPException, ValueError) as e:
                    err = f"{type(e).__name__}: {e}"
                end = time.perf_counter()
                if tracer is not None:
                    tracer.record(Span(sid, f"client.{op.kind}", start, end,
                                       None, rid))
                rec = Record(i, op.kind, start, end, err is None, err, rid,
                             op.action)
                if err is None:
                    mismatch = op.check(resp)
                    if mismatch:
                        plan.mismatches.append(f"{rid}: {mismatch}")
                    elif op.on_ack is not None:
                        op.on_ack(resp)
                    if op.kind == "query":
                        rec.matched = resp.get("count")
                        rec.returned = len(resp.get("documents", []))
                mine.append(rec)
        except BaseException as e:  # noqa: BLE001 — re-raised below, in the caller
            errors.append(e)
        finally:
            conn.close()
            with lock:
                records.extend(mine)

    threads = [threading.Thread(target=client, args=(i, p), daemon=True)
               for i, p in enumerate(plans)]
    for t in threads:
        t.start()
    window.wait_open()
    for t in threads:
        t.join(seconds + OP_TIMEOUT_S + 30)
        if t.is_alive():
            raise RuntimeError("a client did not finish its last op")
    if errors:
        raise errors[0]
    return records, window


# ---------------------------------------------------------------------------
# node lifetime
# ---------------------------------------------------------------------------


class Node:
    """One store behind the JSON front, with the node CLI's block tick once
    ``start_ticks`` is called. A measured window starts the ticks as it
    opens, so every window sees its ticks at the same times."""

    def __init__(self, spark, root: str, tracer: Tracer | None):
        from rtstore_spark.service import NodeServer, NodeService
        from rtstore_spark.store.docstore import DocStore

        self.store = DocStore(spark, root)
        self.server = NodeServer(NodeService(self.store)).start()
        self.port = self.server.port
        self.tracer = tracer
        self._stop = threading.Event()
        self._tick_errors: list[BaseException] = []
        self._ticker = threading.Thread(target=self._tick_loop,
                                        name="bench-block-ticker", daemon=True)

    def start_ticks(self) -> None:
        self._ticker.start()

    def _tick_loop(self) -> None:
        n = 0
        while not self._stop.wait(BLOCK_INTERVAL_S):
            if self.tracer is not None:
                self.tracer.set_remote(f"tick-{n}", None)
                n += 1
            try:
                if self.store.state.order > 0:  # open block holds mutations
                    self.store.state.next_block()
                    self.store.flush_wire_archive()
            except Exception as e:  # noqa: BLE001 — raised again by close()
                self._tick_errors.append(e)
                return

    def close(self) -> None:
        self._stop.set()
        if self._ticker.ident is not None:
            self._ticker.join(timeout=OP_TIMEOUT_S)
        if self._ticker.is_alive():
            raise RuntimeError("block ticker did not stop")
        self.server.stop()
        if self._tick_errors:
            raise RuntimeError("block tick failed") from self._tick_errors[0]


def _tree_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


# ---------------------------------------------------------------------------
# the seeded collection and the read ops on it
# ---------------------------------------------------------------------------


class SeedModel:
    """The seeded collection, derived from the seed alone: ``n`` documents
    with ids 1..n, each with a field ``k`` that about ``match`` documents
    share. Client writes never touch these documents, so queries on ``k``
    have answers fixed by the seed."""

    def __init__(self, seed: int, n: int, match: int):
        rng = random.Random(f"docs-{seed}")
        self.ids = list(range(1, n + 1))
        self.keys = max(1, n // match)
        self.docs: dict[int, str] = {}
        self.by_key: dict[int, list[int]] = {}
        for i in self.ids:
            k = rng.randrange(self.keys)
            doc = {"k": k, "cat": f"c{rng.randrange(16)}",
                   "score": rng.randrange(1_000_000), "name": _name(rng, 9)}
            self.docs[i] = json.dumps(doc)
            self.by_key.setdefault(k, []).append(i)
        for lst in self.by_key.values():
            lst.sort(reverse=True)

    def getdoc_op(self, doc_id: int) -> Op:
        want = json.loads(self.docs[doc_id])

        def check(resp):
            d = resp.get("document")
            if d is None or d.get("id") != doc_id or d.get("doc") != want:
                return f"GetDoc {doc_id} returned {d!r}"
            return None

        return Op("getdoc", "/v1/indexer/GetDoc",
                  {"db_addr": DB_ADDR, "col_name": COL, "id": doc_id}, check)

    def query_op(self, rng: random.Random, counting: bool) -> Op:
        """``/[k = v] | limit 20``, or ``/[k = v] | count``."""
        k = rng.randrange(self.keys)
        q = f"/[k = {k}] | " + ("count" if counting else "limit 20")
        ids = self.by_key.get(k, [])

        def check(resp):
            if resp.get("count") != len(ids):
                return f"{q}: count {resp.get('count')} != {len(ids)}"
            docs = resp.get("documents", [])
            want = [] if counting else ids[:20]  # newest (highest id) first
            got = [d.get("id") for d in docs]
            if got != want:
                return f"{q}: ids {got} != {want}"
            for d in docs:
                if d.get("doc") != json.loads(self.docs[d["id"]]):
                    return f"{q}: body of {d['id']} differs"
            return None

        return Op("query", "/v1/indexer/RunQuery",
                  {"db_addr": DB_ADDR, "col_name": COL,
                   "query": {"query_str": q}}, check)


def _seed_store(spark, root: str, model: SeedModel) -> float:
    """One set-up: a fresh store, its database and collection, the seeded
    documents through ``DocStore.add_docs``, then a compaction."""
    from rtstore_spark.store.docstore import DocStore

    t = time.perf_counter()
    store = DocStore(spark, root)
    store.create_database(SEED_OWNER, None, db_addr=DB_ADDR)
    store.create_collection(DB_ADDR, COL, [], SEED_OWNER)
    store.add_docs(DB_ADDR, COL, [model.docs[i] for i in model.ids],
                   SEED_OWNER, doc_ids=model.ids)
    store.compact(DB_ADDR, COL)
    return time.perf_counter() - t


ACCOUNT_KEYS = [0xB0A7 + 7919 * i for i in range(CLIENTS)]
# 50% add, 25% update, 5% delete, 10% GetDoc of an own document and 10%
# RunQuery per 20 ops. Each client starts the cycle at its own offset, so
# the first two ops of the four clients already hold every kind: client 0
# adds and reads back, client 1 adds and updates, client 2 adds and
# deletes, client 3 queries and adds. At about 0.8 ops/s a 10 s window
# holds only those openings; the whole cycle shows in longer windows.
WRITE_PATTERN = ["add", "getdoc", "add", "update", "add",
                 "update", "query", "add", "add", "update",
                 "add", "delete", "add", "update", "query",
                 "add", "getdoc", "add", "update", "add"]
CLIENT_OFFSETS = (0, 2, 10, 14)


def _cycle(client: int):
    """The op kinds one client sends. The mix is fixed; the seed picks
    only what each op reads or writes."""
    i = CLIENT_OFFSETS[client]
    while True:
        yield WRITE_PATTERN[i % len(WRITE_PATTERN)]
        i += 1


class WritePlan:
    """One account's op sequence. 50% AddDocument, 25% UpdateDocument and
    5% DeleteDocument of documents the account added, 10% GetDoc of the
    document it wrote last (read-your-writes) and 10% RunQuery over the
    seeded documents.

    Mutations are signed in the reference wire form just before they are
    sent, outside the op's timed span. In a run without failures the
    sequence depends only on the seed, so every run leaves the same store
    history."""

    def __init__(self, model: SeedModel, seed: int, client: int):
        from rtstore_spark.crypto.secp256k1 import priv_to_address

        self.m = model
        self.seed = seed
        self.client = client
        self.priv = ACCOUNT_KEYS[client]
        self.addr = priv_to_address(self.priv)
        self.reset()

    def reset(self) -> None:
        """Start the sequence again, for a freshly seeded store."""
        self.rng = random.Random(f"write-ops-{self.seed}-{self.client}")
        self.kinds = _cycle(self.client)
        self.nonce = 0
        self.expect: dict[int, dict | None] = {}  # acked state of own docs
        self.live: list[int] = []  # own documents not deleted
        self.last_written: int | None = None
        self.mismatches: list[str] = []
        self.acked_nonce = 0
        self.acked = {"add": 0, "update": 0, "delete": 0}
        self.user_bytes = 0
        self.script: list[str] = []  # op kinds to send before the pattern's

    def _signed(self, action: str, body: dict) -> tuple[dict, int]:
        from rtstore_spark.wire.envelope import wrap_and_sign
        from rtstore_spark.wire.schemas import encode_mutation

        self.nonce += 1
        payload, sig = wrap_and_sign(
            encode_mutation(action, [{"db_address": DB_ADDR,
                                      "kind": "document_mutation",
                                      "body": body}]),
            self.nonce, self.priv)
        return {"payload": payload.decode(), "signature": sig}, self.nonce

    def _write(self, action: str, body: dict, on_ack) -> Op:
        def check(resp):
            sender = str(resp.get("sender", "")).lower()
            return None if sender == self.addr.lower() else \
                f"ack names sender {resp.get('sender')}"

        return Op("write", "/v1/storage/SendMutation", body, check, on_ack,
                  action)

    def _acked(self, kind: str, nonce: int, nbytes: int) -> None:
        self.acked[kind] += 1
        self.acked_nonce = max(self.acked_nonce, nonce)
        self.user_bytes += nbytes

    def next_op(self) -> Op:
        from rtstore_spark.wire.bsonlite import bson_encode

        rng = self.rng
        kind = self.script.pop(0) if self.script else next(self.kinds)
        if kind == "getdoc":
            doc_id = self.last_written
            if doc_id is None:
                return self.m.getdoc_op(rng.choice(self.m.ids))
            want = self.expect[doc_id]

            def check(resp):
                d = resp.get("document")
                got = None if d is None else d.get("doc")
                if got != want:
                    return f"GetDoc {doc_id} returned {got!r}, wanted {want!r}"
                return None

            return Op("getdoc", "/v1/indexer/GetDoc",
                      {"db_addr": DB_ADDR, "col_name": COL, "id": doc_id},
                      check, action="own")
        if kind == "query":
            return self.m.query_op(rng, counting=rng.random() < 0.2)
        if kind == "delete" and self.live:
            doc_id = self.live[rng.randrange(len(self.live))]
            body, nonce = self._signed("DeleteDocument", {
                "collection_name": COL, "ids": [doc_id]})

            def on_ack(resp):
                self.expect[doc_id] = None
                self.live.remove(doc_id)
                if self.last_written == doc_id:
                    self.last_written = None
                self._acked("delete", nonce, 0)

            return self._write("delete", body, on_ack)
        if kind == "update" and self.live:
            doc_id = self.live[rng.randrange(len(self.live))]
            patch = {"score": rng.randrange(1_000_000), "note": _name(rng, 4)}
            body, nonce = self._signed("UpdateDocument", {
                "collection_name": COL, "ids": [doc_id],
                "documents": [bson_encode(patch)],
                "masks": [{"fields": sorted(patch)}]})
            nbytes = len(json.dumps(patch, sort_keys=True))

            def on_ack(resp):
                self.expect[doc_id] = {**self.expect[doc_id], **patch}
                self.last_written = doc_id
                self._acked("update", nonce, nbytes)

            return self._write("update", body, on_ack)
        doc = {"owner": self.client, "seq": self.nonce + 1,
               "tag": rng.randrange(1000), "name": _name(rng, 9)}
        body, nonce = self._signed("AddDocument", {
            "collection_name": COL, "documents": [bson_encode(doc)]})
        nbytes = len(json.dumps(doc, sort_keys=True))

        def on_ack(resp):
            for item in resp.get("items", []):
                if item.get("key") == "document":
                    doc_id = int(item["value"])
                    self.expect[doc_id] = doc
                    self.live.append(doc_id)
                    self.last_written = doc_id
            self._acked("add", nonce, nbytes)

        return self._write("add", body, on_ack)


def check_reopened(spark, root: str, plans: list[WritePlan]) -> dict:
    """Open a fresh DocStore on the root, with no flush, and check every
    acknowledged mutation and every account's nonce."""
    from rtstore_spark.store.docstore import DocStore

    store = DocStore(spark, root)
    touched = sorted({i for p in plans for i in p.expect})
    live = {r["doc_id"]: r["doc"] for r in
            store.current_state(DB_ADDR, COL, doc_ids=touched)
            .select("doc_id", "doc").collect()} if touched else {}
    bad: list[str] = []
    checked = 0
    for p in plans:
        for doc_id, want in p.expect.items():
            checked += 1
            got = live.get(doc_id)
            if want is None:
                if got is not None:
                    bad.append(f"deleted doc {doc_id} is still live")
            elif got is None or json.loads(got) != want:
                bad.append(f"doc {doc_id}: {got!r} != {want!r}")
        if store.state.nonce_of(p.addr) != p.acked_nonce:
            bad.append(f"nonce of {p.addr}: {store.state.nonce_of(p.addr)}"
                       f" != {p.acked_nonce}")
    acked = sum(sum(p.acked.values()) for p in plans)
    return {"docs_checked": checked, "acked_mutations": acked,
            "mismatches": bad}


# ---------------------------------------------------------------------------
# running a workload
# ---------------------------------------------------------------------------


KINDS = ["write", "getdoc", "query"]


def _window_metrics(records: list[Record], window: Window) -> dict:
    ok = [r for r in records if r.ok]
    credit = sum(window.credit(r.start, r.end) for r in ok)
    out = {
        "ops_per_s": credit / window.seconds,
        "attempted": len(records),
        "failed": len(records) - len(ok),
        "failures": [f"{r.rid}: {r.error}" for r in records if not r.ok][:20],
        "latency_note": "failed ops are excluded from latency samples and "
                        "counted in failed/attempted",
        # ops started in the window, by kind and what they wrote or read,
        # and each op's client, start and end relative to the window's open
        "started": dict(Counter(f"{r.kind}.{r.action or 'seeded'}"
                                for r in records)),
        "timeline": [(r.client, f"{r.kind}.{r.action or 'seeded'}",
                      round(r.start - window.t0, 3), round(r.end - window.t0, 3),
                      r.ok) for r in sorted(records, key=lambda r: r.start)],
    }
    for k in KINDS:
        out[k] = summarize([(r.end - r.start) * 1e3 for r in ok
                            if r.kind == k])
    return out


# the cold set-up already ran the append, state-window and compaction jobs
# of an add; an update adds the merge-patch join and its Python workers
WRITE_WARMUP_SCRIPT = ["add", "update"]


def _warm_up_writes(port: int, plan: WritePlan) -> dict:
    """Untimed warm-up of the write path: one account adds a document and
    updates it, which also starts the Python workers the update merge
    runs in."""
    plan.script = list(WRITE_WARMUP_SCRIPT)
    conn = Conn(port)
    t = time.perf_counter()
    failed = 0
    try:
        for _ in WRITE_WARMUP_SCRIPT:
            op = plan.next_op()
            status, resp = conn.post(op.path, op.body, {})
            if status != 200 or resp.get("code", 0) != 0 or op.check(resp):
                failed += 1
            elif op.on_ack is not None:
                op.on_ack(resp)
    finally:
        conn.close()
    return {"seconds": time.perf_counter() - t, "ops": len(WRITE_WARMUP_SCRIPT),
            "failed": failed}


def run_serve(spark, seed: int, seconds: float, trace: bool, workdir: str,
              size_name: str) -> dict:
    size = SIZES[size_name]
    model = SeedModel(seed, size["docs"], size["query_match"])
    roots = [os.path.join(workdir, f"store{i}")
             for i in range(3 if trace else 2)]

    # store 0: the cold set-up, then the untimed warm-up on it
    cold = _seed_store(spark, roots[0], model)
    warm_node = Node(spark, roots[0], tracer=None)
    warm_node.start_ticks()
    try:
        warm = _warm_up_writes(warm_node.port,
                               WritePlan(model, seed + 10**6, 0))
    finally:
        warm_node.close()
    shutil.rmtree(roots[0], ignore_errors=True)
    log(f"serve_write: cold set-up {cold:.2f} s, warm-up {warm}")

    # the warm set-ups: store 1 takes the measured window, store 2 the
    # traced one
    setups = [_seed_store(spark, r, model) for r in roots[1:]]
    log(f"serve_write: warm set-ups {[round(s, 2) for s in setups]} s")

    # every store is seeded alike, so each window replays one sequence
    plans = [WritePlan(model, seed, c) for c in range(CLIENTS)]

    def measure(root: str, tracer: Tracer | None, tag: str):
        node = Node(spark, root, tracer=tracer)
        before = _tree_stats(root)
        bytes_before = _dir_bytes(root)
        for p in plans:
            p.reset()
        if tracer is not None:
            tracer.install_serve([node.store.state], spark)
        host = HostSampler()
        loads = threading.Event()

        def sample():
            while not loads.wait(1.0):
                host.sample_load()

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            records, window = run_clients(node.port, plans, seconds, tracer,
                                          tag, node.start_ticks)
        finally:
            loads.set()
            sampler.join(timeout=5)
            node.close()
            if tracer is not None:
                tracer.uninstall()
        hostm = host.finish()
        m = _window_metrics(records, window)
        m["host"] = hostm
        m["t0"] = window.t0
        m["cpu_ms_per_op"] = 1e3 * hostm["proc_cpu_s"] / max(1, len(records))
        m["mismatches"] = [x for p in plans for x in p.mismatches]
        m["store_files_before_after"] = [before, _tree_stats(root)]
        m["store_bytes_growth"] = _dir_bytes(root) - bytes_before
        return m, records

    out = {"setup_cold_s": cold, "setup_s_all": setups,
           "setup_s": median(setups), "warmup": warm, "size": size_name,
           "clients": CLIENTS}
    m = out["measured"] = measure(roots[1], None, "m")[0]
    out["reopen"] = check_reopened(spark, roots[1], plans)
    user = sum(p.user_bytes for p in plans)
    out["bytes_per_user_byte"] = m["store_bytes_growth"] / user if user else None
    m["mismatches"] += out["reopen"]["mismatches"]
    if trace:
        tracer = Tracer()
        out["traced"], records = measure(roots[2], tracer, "t")
        out["trace"] = {"tracer": tracer, "records": records}
    return out
