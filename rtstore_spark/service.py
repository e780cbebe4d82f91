"""Network service front end — the reference's RPC surface over HTTP/JSON.

The reference serves its whole API over gRPC: StorageNode
(db3_storage.proto:185-203 — SendMutation, GetNonce, GetMutationHeader,
ScanMutationHeader, GetMutationBody, ScanRollupRecord, GetDatabaseOfOwner,
GetDatabase, GetCollectionOfDatabase, ScanGcRecord, Subscribe, GetBlock,
GetMutationState), IndexerNode (db3_indexer.proto:73-79 —
GetContractSyncStatus, GetCollectionOfDatabase, RunQuery, GetDoc) and
System (db3_system.proto:24-38 — Setup, GetSystemStatus). This module
exposes the same method surface on a localhost HTTP server with JSON
request/response bodies shaped like the proto messages — grpcio is not in
this container, and the method-per-POST mapping keeps the wire contract
1:1 testable with stdlib clients:

    POST /v1/storage/SendMutation   {"payload": {...}, "signature": "...",
                                     "sender": "0x..", "nonce": 3}
    POST /v1/indexer/RunQuery       {"db_addr": "...", "col_name": "...",
                                     "query": {"query_str": "/* | limit 5",
                                               "parameters": [...]}}
    POST /v1/system/Setup           {"payload": "...", "signature": "..."}

Authentication happens at this boundary exactly as in the reference:
SendMutation verifies the signature + nonce inside ``Ingest.send_mutation``
(EIP-712 recovery in ``eip712`` mode), Setup inside ``SystemStore.setup``
(admin check); a failed verify is a ``{"code": 1, "msg": ...}`` response,
never an applied mutation.

Design notes:
- ``NodeService.dispatch`` is transport-free (dict in → dict out) so the
  whole method surface unit-tests without sockets; the HTTP layer only
  parses/serializes.
- All handlers are driver-side control-plane calls (the node process IS
  the Spark driver — same topology as the reference's node owning its
  RocksDB). Spark work happens inside the store calls, distributed as
  usual; no response materializes more than the proto's own page caps
  (scan limit 50, query result pages).
- ``Subscribe`` streams newline-delimited JSON BlockEvents over a chunked
  response, polling the mutation log's block high-water mark — the HTTP
  analog of the gRPC server-stream (storage_node_light_impl.rs:270-374).
  Each poll is one tiny aggregate over block-pruned partitions.
"""

from __future__ import annotations

import json
import logging
import queue
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from rtstore_spark.errors import RTStoreError
from rtstore_spark.store.docstore import DocStore
from rtstore_spark.store.ingest import Ingest
from rtstore_spark.system import SetupError, SystemStore, contract_sync_status

log = logging.getLogger(__name__)


class ServiceError(Exception):
    """Request-level failure surfaced as {"code": N, "msg": ...}."""

    def __init__(
        self, msg: str, code: int = 1, http_status: int = 400, grpc_code: int = 3
    ):
        super().__init__(msg)
        self.code = code
        self.http_status = http_status
        # canonical gRPC status for transport fronts (7 = PERMISSION_DENIED
        # for authz rejections); typed data, never inferred from the message
        self.grpc_code = grpc_code


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class BlockEventBroadcaster:
    """One shared block-event poll fanned out to every Subscribe client.

    The reference serves all gRPC subscribers from a single broadcast
    channel fed by the block timer (storage_node_light_impl.rs:270-374);
    the naive HTTP analog — each handler thread polling its own aggregate
    — costs N recurring driver jobs for N subscribers. This poller runs
    the ``block_events_after`` aggregate ONCE per tick on its own thread
    (only while subscribers exist; it starts on the first subscribe and
    exits when the last unsubscribes) and pushes each event into every
    subscriber's queue. Poll jobs carry this broadcaster's own
    ``job_group`` (``rtstore-block-poller-<id>``) so tests can pin the
    one-job-per-tick contract per node.
    """

    JOB_GROUP = "rtstore-block-poller"
    # per-subscriber delivery buffer: a client that stops reading its
    # socket blocks its handler thread in the TCP write, so its queue
    # would otherwise grow with every closed block for the stream's whole
    # lifetime. Past the bound the subscriber is EVICTED from the
    # broadcast (the gRPC analog: a failed stream send drops the
    # subscriber, storage_node_light_impl.rs:270-374); its handler then
    # drains what was buffered and ends at its deadline.
    MAX_QUEUED_EVENTS = 1024

    def __init__(self, node: "NodeService", poll_seconds: float = 0.5):
        self.node = node
        self.poll_seconds = poll_seconds
        self.job_group = f"{self.JOB_GROUP}-{id(self)}"
        self._lock = threading.Lock()
        self._subs: dict[int, queue.Queue] = {}
        self._next_token = 0
        self._cursor: int | None = None
        self._thread: threading.Thread | None = None
        self._wake = threading.Event()
        # membership latch: notified on every subscribe/unsubscribe so a
        # coordinator (tests, drain-before-shutdown) can wait for "N
        # subscribers attached" as an EVENT instead of a wall-clock sleep
        # — sleeps sized for an idle box flake under load (round-8 gate)
        self._membership = threading.Condition(self._lock)
        # failed polls over the broadcaster's life; each failure streak
        # (ended by a successful poll) logs one warning
        self.poll_errors = 0

    def wait_for_subscribers(self, n: int, timeout: float = 60.0) -> bool:
        """Block until at least ``n`` subscribers are attached (True) or
        ``timeout`` elapses (False). Purely event-driven: wakes only on
        membership changes."""
        deadline = time.monotonic() + timeout
        with self._membership:
            while len(self._subs) < n:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self._membership.wait(remaining)
            return True

    def subscribe(self) -> tuple[int, queue.Queue, int]:
        """Register a subscriber; returns ``(token, events_queue,
        cursor_at_join)``. Every closed block with id > cursor_at_join
        arrives on the queue exactly once; blocks at or before it are the
        subscriber's own (one-shot) catch-up problem."""
        with self._lock:
            if self._cursor is None:
                # first-ever subscriber: the CURRENT (still open) block is
                # part of the live stream — it closes after this join, so
                # the poll must cover it (cursor = block - 1). A default
                # subscriber (from_block = current block) still filters it
                # out queue-side; from_block older than the cursor is
                # served by the handler's one-shot catch-up.
                self._cursor = self.node.store.state.block - 1
            token = self._next_token
            self._next_token += 1
            q: queue.Queue = queue.Queue(maxsize=self.MAX_QUEUED_EVENTS)
            self._subs[token] = q
            if self._thread is None:
                self._wake.clear()
                self._thread = threading.Thread(
                    target=self._run, name="rtstore-block-poller", daemon=True
                )
                self._thread.start()
            self._membership.notify_all()
            return token, q, self._cursor

    def unsubscribe(self, token: int) -> None:
        with self._lock:
            self._subs.pop(token, None)
            if not self._subs:
                self._wake.set()  # idle poller exits at its next check
            self._membership.notify_all()

    def _run(self) -> None:
        sc = self.node.store.spark.sparkContext
        # thread-local job group: every poll aggregate this thread submits
        # is attributed here (the test's one-job-per-tick counter)
        sc.setJobGroup(self.job_group, "shared Subscribe block poll", False)
        failing = False
        while True:
            with self._lock:
                if not self._subs:
                    self._thread = None
                    return
                cursor = self._cursor
            try:
                events = self.node.block_events_after(cursor)
                failing = False
            except Exception:  # noqa: BLE001 — a failed poll is retried,
                events = []  # never the death of every subscription
                self.poll_errors += 1
                if not failing:
                    log.warning(
                        "Subscribe block poll failed after block %s; "
                        "retrying every %ss", cursor, self.poll_seconds,
                        exc_info=True,
                    )
                failing = True
            if events:
                with self._lock:
                    self._cursor = max(cursor, events[-1]["block_id"])
                    subs = list(self._subs.items())
                stalled: set = set()
                for ev in events:
                    for token, q in subs:
                        if token in stalled:
                            # once a put failed, deliver NOTHING further to
                            # this subscriber: a later event landing after
                            # a dropped one would advance its cursor past
                            # a silent gap
                            continue
                        try:
                            q.put_nowait(ev)
                        except queue.Full:
                            stalled.add(token)
                # evict rather than block the shared poll: delivery to
                # every healthy subscriber must not wait on one stuck
                # socket, and unbounded buffering is a driver leak
                for token in stalled:
                    self.unsubscribe(token)
            self._wake.wait(self.poll_seconds)
            self._wake.clear()


class NodeService:
    """Transport-free method dispatch for the three reference services."""

    def __init__(
        self,
        store: DocStore,
        ingest: Ingest | None = None,
        system: SystemStore | None = None,
        rollup=None,
        query_page_limit: int = 200,
        subscribe_poll_seconds: float = 0.5,
    ):
        self.store = store
        self.ingest = ingest or Ingest(store)
        self.system = system
        self.rollup = rollup
        # RunQuery response cap — the reference's scan_max_limit stance
        # (mutation_store.rs:58): a wire response is a page, never an
        # unbounded collect of a whole collection into driver memory
        self.query_page_limit = query_page_limit
        # ONE shared block-event poller for all Subscribe clients
        # (storage_node_light_impl.rs:270-374: a single broadcast channel)
        self.broadcaster = BlockEventBroadcaster(self, subscribe_poll_seconds)
        # gRPC-Web gateway — the reference SDK's stock transport
        # (service_grpcweb.py); built lazily to keep import cost off the
        # JSON-only path
        self._grpcweb = None

    @property
    def grpcweb(self):
        if self._grpcweb is None:
            from rtstore_spark.service_grpcweb import GrpcWebGateway

            self._grpcweb = GrpcWebGateway(self)
        return self._grpcweb

    # -- entry ---------------------------------------------------------

    def dispatch(self, service: str, method: str, body: dict) -> dict:
        handler = getattr(self, f"_{service}_{method}", None)
        if handler is None:
            raise ServiceError(
                f"unknown method {service}/{method}", http_status=404
            )
        try:
            return handler(body)
        except ServiceError:
            raise
        except SetupError as e:
            raise ServiceError(str(e), grpc_code=e.grpc_code) from e
        except RTStoreError as e:
            raise ServiceError(str(e)) from e
        except (KeyError, TypeError, ValueError) as e:
            raise ServiceError(f"bad request: {e}") from e

    @staticmethod
    def _need(body: dict, key: str):
        if key not in body:
            raise ServiceError(f"missing field {key!r}")
        return body[key]

    # -- StorageNode ---------------------------------------------------

    def _storage_SendMutation(self, body: dict) -> dict:
        payload = self._need(body, "payload")
        signature = self._need(body, "signature")
        if isinstance(payload, str):
            # REFERENCE WIRE FORM: payload is the EIP-712 TypedData JSON
            # (as text, or 0x-hex of its bytes — SendMutationRequest's
            # bytes field in JSON transport). Sender and nonce live
            # INSIDE the signed envelope; nothing outside it is trusted.
            if payload.startswith("0x"):
                try:
                    payload = bytes.fromhex(payload[2:])
                except ValueError as e:
                    raise ServiceError(f"bad hex payload: {e}") from e
            out = self.ingest.send_wire_mutation(payload, signature)
        else:
            out = self.ingest.send_mutation(
                payload, signature,
                self._need(body, "sender"), int(self._need(body, "nonce")),
            )
        return {"code": 0, "msg": "ok", **out}

    def _storage_GetNonce(self, body: dict) -> dict:
        # the reference returns the NEXT nonce, not the last used one
        # (storage_node_light_impl.rs:596-611 replies used_nonce + 1), and
        # the SDK signs with the response VERBATIM (client_v2.ts:214-218,
        # document_v2.ts:171) — last-used here would reject every stock
        # client's next mutation
        return {"nonce": self.ingest.get_nonce(self._need(body, "address"))}

    def _storage_GetMutationHeader(self, body: dict) -> dict:
        block = int(self._need(body, "block_id"))
        order = int(self._need(body, "order_id"))
        rows = (
            self.store.get_block(block)
            .filter(F.col("order") == order)
            .drop("payload")
            .head(1)
        )
        return {"header": rows[0].asDict() if rows else None}

    def _storage_GetMutationBody(self, body: dict) -> dict:
        row = self.store.get_mutation(self._need(body, "id"))
        return {"body": row.asDict() if row is not None else None}

    def _storage_ScanMutationHeader(self, body: dict) -> dict:
        return {
            "headers": _rows(
                self.store.scan_mutation_headers(
                    offset=int(body.get("start", 0)),
                    limit=int(body.get("limit", 50)),
                )
            )
        }

    def _storage_GetDatabaseOfOwner(self, body: dict) -> dict:
        from rtstore_spark.store.state import normalize_addr

        owner = normalize_addr(self._need(body, "owner"))
        return {
            "databases": [
                d for d in self.store.databases_latest()
                if normalize_addr(d["sender"]) == owner
            ]
        }

    def _storage_GetDatabase(self, body: dict) -> dict:
        addr = self._need(body, "addr")
        rows = [
            d for d in self.store.databases_latest() if d["db_addr"] == addr
        ]
        return {"database": rows[0] if rows else None}

    def _storage_GetCollectionOfDatabase(self, body: dict) -> dict:
        return {
            "collections": _rows(
                self.store.collections(self._need(body, "db_addr"))
            )
        }

    def _storage_GetBlock(self, body: dict) -> dict:
        return {
            "mutations": _rows(
                self.store.get_range_mutations(
                    int(self._need(body, "block_start")),
                    int(self._need(body, "block_end")),
                )
            )
        }

    def _storage_GetMutationState(self, body: dict) -> dict:
        return {"view": self.store.mutation_state()}

    def _storage_ScanRollupRecord(self, body: dict) -> dict:
        if self.rollup is None:
            return {"records": []}
        return {
            "records": _rows(
                self.rollup.scan_rollup_records(
                    offset=int(body.get("start", 0)),
                    limit=int(body.get("limit", 50)),
                )
            )
        }

    def _storage_ScanGcRecord(self, body: dict) -> dict:
        if self.rollup is None:
            return {"records": []}
        return {
            "records": _rows(
                self.rollup.scan_gc_records(
                    offset=int(body.get("start", 0)),
                    limit=int(body.get("limit", 50)),
                )
            )
        }

    def block_events_after(self, after_block: int) -> list[dict]:
        """Closed-block events newer than ``after_block`` — the Subscribe
        poll kernel. One partition-pruned aggregate; O(new blocks) rows."""
        top = self.store.state.block
        rows = (
            self.store.get_range_mutations(after_block + 1, top + 1)
            .groupBy("block")
            .agg(F.count(F.lit(1)).alias("mutation_count"))
            .orderBy("block")
            .collect()
        )
        return [
            {"block_id": int(r["block"]), "mutation_count": int(r["mutation_count"])}
            for r in rows
            if r["block"] < top  # only CLOSED blocks, like the timer tick
        ]

    # -- IndexerNode ---------------------------------------------------

    def _indexer_RunQuery(self, body: dict) -> dict:
        """RunQuery with a response page cap. The reference's
        RunQueryResponse returns every matching doc, but its own scan cap
        (``scan_max_limit``, mutation_store.rs:58,395-403) sets the
        precedent this boundary follows: at most ``query_page_limit``
        documents per response unless the client explicitly asks for a
        larger ``limit`` (opting into the memory cost). ``count`` is
        always the TRUE matched total from the query snapshot;
        ``next_page_token`` (an opaque offset) is present when more pages
        remain — echo it back as ``page_token``. Each request evaluates
        against a FRESH snapshot (RunQuery has no cross-request cursor,
        matching the reference's per-call semantics), so a walk across
        pages is exact only while the collection is quiet: a concurrent
        add/delete that shifts the result order can skip or repeat a
        boundary row between requests. Within one request, ordered
        queries page deterministically; unordered scans page best-effort
        (their row order is unspecified to begin with)."""
        q = self._need(body, "query")
        if isinstance(q, str):
            q = {"query_str": q}
        docs_df, count = self.store.query_docs(
            self._need(body, "db_addr"), self._need(body, "col_name"),
            self._need(q, "query_str"), params=q.get("parameters"),
        )
        if "doc_id" not in docs_df.columns:  # `| count` collector
            return {"documents": [], "count": count}
        cap = int(body["limit"]) if "limit" in body else self.query_page_limit
        cap = max(1, cap)
        offset = int(body.get("page_token") or 0)
        page = docs_df.offset(offset) if offset else docs_df
        rows = page.limit(cap + 1).collect()  # +1 row = "more pages" probe
        more = len(rows) > cap
        documents = [
            {
                "id": r["doc_id"],
                "doc": json.loads(r["doc"]) if r["doc"] else None,
                "owner": r["owner"] if "owner" in r.__fields__ else None,
            }
            for r in rows[:cap]
        ]
        out = {"documents": documents, "count": count}
        if more:
            out["next_page_token"] = str(offset + cap)
        return out

    def _indexer_GetDoc(self, body: dict) -> dict:
        row = self.store.get_doc(
            self._need(body, "db_addr"), self._need(body, "col_name"),
            int(self._need(body, "id")),
        )
        if row is None:
            return {"document": None}
        return {
            "document": {
                "id": row["doc_id"],
                "doc": json.loads(row["doc"]) if row["doc"] else None,
                "owner": row["owner"],
            }
        }

    def _indexer_GetContractSyncStatus(self, body: dict) -> dict:
        return {"status_list": contract_sync_status(self.store)}

    def _indexer_GetCollectionOfDatabase(self, body: dict) -> dict:
        return self._storage_GetCollectionOfDatabase(body)

    # -- System --------------------------------------------------------

    def _system_Setup(self, body: dict) -> dict:
        if self.system is None:
            raise ServiceError("system service not configured", http_status=404)
        code, msg = self.system.setup(
            self._need(body, "payload"), self._need(body, "signature"),
            body.get("sender", self.system.admin_addr),
        )
        return {"code": code, "msg": msg}

    def _system_GetSystemStatus(self, body: dict) -> dict:
        if self.system is None:
            raise ServiceError("system service not configured", http_status=404)
        return self.system.get_system_status()


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    node: NodeService = None  # set by serve()
    # request-body cap: every proto message here is small (mutations,
    # queries); 64 MB leaves room for large document batches while
    # bounding what a client can force the driver to buffer
    MAX_BODY_BYTES = 64 << 20

    def log_message(self, fmt, *args):  # quiet test output
        pass

    def _cors(self) -> None:
        # the reference SDK runs in browsers (gRPC-Web exists FOR that);
        # without these a browser client's calls die in preflight
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Access-Control-Expose-Headers",
                         "grpc-status,grpc-message")

    def do_OPTIONS(self):  # noqa: N802 — CORS preflight for browser SDKs
        self.send_response(204)
        self._cors()
        self.send_header(
            "Access-Control-Allow-Methods", "POST, OPTIONS"
        )
        self.send_header(
            "Access-Control-Allow-Headers",
            "content-type,x-grpc-web,x-user-agent,grpc-timeout",
        )
        self.send_header("Access-Control-Max-Age", "86400")
        self.send_header("Content-Length", "0")
        self.end_headers()

    def _send_json(self, status: int, obj: dict) -> None:
        data = json.dumps(obj).encode()
        self.send_response(status)
        self._cors()
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self):  # noqa: N802 — http.server naming
        parts = self.path.strip("/").split("/")
        # gRPC-Web shape: /<package>.<Service>/<Method> — the dependency-
        # free test keeps the schema imports (service_grpcweb) entirely
        # off the JSON path; an unknown dotted service still routes to the
        # gateway, which answers with grpc-status 12 as the spec wants
        if len(parts) == 2 and "." in parts[0]:
            self._grpc_web()
            return
        if len(parts) != 3 or parts[0] != "v1":
            self._send_json(404, {"code": 1, "msg": f"no route {self.path}"})
            return
        _, service, method = parts
        try:
            n = int(self.headers.get("Content-Length", 0) or 0)
            # a NEGATIVE length would make read() block until EOF (a
            # client-controlled handler-thread hang, not a clean reject),
            # and an absurd length would buffer client-controlled bytes
            # in driver memory — both are 4xx, never a hang
            if n < 0:
                raise ValueError(f"negative Content-Length {n}")
            if n > self.MAX_BODY_BYTES:
                # the unread body would desync a keep-alive connection
                # (the next request line parses from body bytes) — close it
                self.close_connection = True
                self._send_json(
                    413,
                    {"code": 1, "msg": f"body exceeds {self.MAX_BODY_BYTES} bytes"},
                )
                return
            body = json.loads(self.rfile.read(n) or b"{}")
        except (json.JSONDecodeError, ValueError, TypeError) as e:
            # malformed Content-Length is a 400 like malformed JSON — never
            # an uncaught traceback that drops the connection. The body may
            # be unread/half-read here, so the connection must not be
            # reused for a next request
            self.close_connection = True
            self._send_json(400, {"code": 1, "msg": f"bad request: {e}"})
            return
        if not isinstance(body, dict):
            self._send_json(400, {"code": 1, "msg": "body must be an object"})
            return
        if service == "storage" and method == "Subscribe":
            self._subscribe(body)
            return
        try:
            self._send_json(200, self.node.dispatch(service, method, body))
        except ServiceError as e:
            self._send_json(e.http_status, {"code": e.code, "msg": str(e)})
        except Exception as e:  # noqa: BLE001 — server must answer, not die
            self._send_json(500, {"code": 1, "msg": f"internal: {e}"})

    def _grpc_web(self) -> None:
        """One gRPC-Web call (the reference SDK's transport — see
        service_grpcweb.py). HTTP status is 200 even for errors; failures
        ride the trailers frame's grpc-status, per the gRPC-Web contract.
        """
        from rtstore_spark.wire import grpcweb
        from rtstore_spark.service_grpcweb import GrpcStatus
        from rtstore_spark.wire.protobuf import WireDecodeError

        ctype = self.headers.get("Content-Type", "")
        text_mode = grpcweb.is_text_mode(ctype)
        resp_ctype = grpcweb.CT_TEXT if text_mode else grpcweb.CT_BIN

        def send(chunks: list[bytes]) -> None:
            data = grpcweb.encode_response_chunk(b"".join(chunks), text_mode)
            self.send_response(200)
            self._cors()
            self.send_header("Content-Type", resp_ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        try:
            n = int(self.headers.get("Content-Length", 0) or 0)
            if n < 0 or n > self.MAX_BODY_BYTES:
                raise ValueError(f"bad Content-Length {n}")
            message = grpcweb.single_message_request(self.rfile.read(n), ctype)
        except (ValueError, TypeError, grpcweb.GrpcWebError) as e:
            self.close_connection = True
            send([grpcweb.trailers(3, f"bad request: {e}")])
            return
        gateway = self.node.grpcweb
        try:
            _svc, method, req_schema, _resp, streaming = gateway.resolve(self.path)
        except GrpcStatus as e:
            send([grpcweb.trailers(e.code, str(e))])
            return
        if streaming:  # Subscribe
            try:
                req = req_schema.decode(message)
            except WireDecodeError as e:
                send([grpcweb.trailers(3, f"bad request message: {e}")])
                return
            self._grpc_web_stream(gateway, req, text_mode, resp_ctype)
            return
        try:
            resp_bytes = gateway.handle_unary(self.path, message)
        except GrpcStatus as e:
            send([grpcweb.trailers(e.code, str(e))])
            return
        except Exception as e:  # noqa: BLE001 — answer, never die
            send([grpcweb.trailers(13, f"internal: {e}")])
            return
        send([grpcweb.frame(resp_bytes), grpcweb.trailers(0)])

    def _grpc_web_stream(self, gateway, req: dict, text_mode: bool,
                         resp_ctype: str) -> None:
        """Server-streaming Subscribe over chunked HTTP. In text mode each
        chunk is independently base64-encoded (the grpc-web-text streaming
        rule). Ends when the client disconnects."""
        from rtstore_spark.wire import grpcweb

        self.send_response(200)
        self._cors()
        self.send_header("Content-Type", resp_ctype)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()

        def emit(data: bytes) -> None:
            chunk = grpcweb.encode_response_chunk(data, text_mode)
            self.wfile.write(f"{len(chunk):x}\r\n".encode() + chunk + b"\r\n")
            self.wfile.flush()

        events = gateway.subscribe_events(req)
        try:
            for encoded in events:
                if encoded is None:
                    # liveness tick: flushing an EMPTY buffer performs no
                    # syscall, so probe the socket with a non-blocking
                    # MSG_PEEK (fd-count-safe, unlike select() which
                    # raises past FD_SETSIZE). EOF here is treated as
                    # CANCELLATION: browsers/fetch never half-close an
                    # HTTP/1.1 request socket while still reading, so a
                    # FIN during a quiet period means the client is gone.
                    try:
                        self.connection.setblocking(False)
                        try:
                            if not self.connection.recv(1, socket.MSG_PEEK):
                                return  # client disconnected
                        finally:
                            self.connection.setblocking(True)
                    except (BlockingIOError, InterruptedError):
                        pass  # no bytes pending: client still connected
                    continue
                emit(grpcweb.frame(encoded))
        except (BrokenPipeError, ConnectionResetError, OSError):
            return
        finally:
            events.close()
            try:
                emit(grpcweb.trailers(0))
                self.wfile.write(b"0\r\n\r\n")
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass

    def _subscribe(self, body: dict) -> None:
        """Chunked stream of BlockEvent lines. ``from_block`` (default: the
        current block — i.e. only future blocks) positions the cursor;
        ``max_events``/``max_seconds`` bound the stream (tests and polite
        clients; the gRPC stream's cancellation analog is the client
        closing the socket, which surfaces here as a write error).

        Events come from the node's SHARED ``BlockEventBroadcaster`` — one
        poll aggregate per tick regardless of subscriber count. A
        ``from_block`` older than the broadcaster's join cursor is served
        by ONE subscriber-local catch-up aggregate before the live queue
        takes over (the reference's replay-via-GetBlock stance, folded
        into the stream for convenience). ``poll_seconds`` only paces this
        handler's queue waits; the poll cadence itself is node-level
        (``NodeService(subscribe_poll_seconds=...)``)."""
        try:
            # validate EVERY parameter before send_response: once headers
            # are committed a bad value could only surface as a hung or
            # half-terminated chunked stream, not a clean 400
            after = int(body.get("from_block", self.node.store.state.block))
            max_events = int(body.get("max_events", 0)) or None
            deadline = time.monotonic() + float(body.get("max_seconds", 30.0))
            poll = float(body.get("poll_seconds", 0.5))
        except (ValueError, TypeError) as e:
            self._send_json(400, {"code": 1, "msg": f"bad request: {e}"})
            return
        # the subscription is registered INSIDE the try: a header write
        # that fails (client already gone) must still unsubscribe, or the
        # leaked queue would keep the poller alive — and filling — forever
        token = None
        try:
            token, events_q, joined = self.node.broadcaster.subscribe()
            self.send_response(200)
            self._cors()
            self.send_header("Content-Type", "application/x-ndjson")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()

            def emit(obj) -> None:
                line = (json.dumps(obj) + "\n").encode()
                self.wfile.write(f"{len(line):x}\r\n".encode() + line + b"\r\n")
                self.wfile.flush()

            sent = 0
            if after < joined:
                # one-shot catch-up for THIS subscriber: blocks the live
                # broadcast will never replay (closed at or before join)
                for ev in self.node.block_events_after(after):
                    if ev["block_id"] > joined:
                        break  # the queue delivers these
                    emit({"type": "Block", "block_event": ev})
                    after = max(after, ev["block_id"])
                    sent += 1
                    if max_events and sent >= max_events:
                        break
            while (not max_events or sent < max_events) and (
                (remaining := deadline - time.monotonic()) > 0
            ):
                try:
                    ev = events_q.get(timeout=min(poll, remaining))
                except queue.Empty:
                    continue
                if ev["block_id"] <= after:
                    continue  # already sent during catch-up
                emit({"type": "Block", "block_event": ev})
                after = max(after, ev["block_id"])
                sent += 1
            self.wfile.write(b"0\r\n\r\n")
        except (BrokenPipeError, ConnectionResetError):  # client went away
            return
        finally:
            if token is not None:
                self.node.broadcaster.unsubscribe(token)


class NodeServer:
    """Threaded localhost HTTP server over a ``NodeService``.

    ``port=0`` binds an ephemeral port (read it back from ``.port``).
    The server shares the driver's SparkSession; handler threads call into
    Spark concurrently, which the driver supports (separate jobs).
    """

    def __init__(self, node: NodeService, host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (_Handler,), {"node": node})
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "NodeServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, name="rtstore-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
