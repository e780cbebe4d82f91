"""gRPC-Web gateway — the reference SDK's stock transport, served natively.

The reference's TS SDK does NOT speak raw gRPC/HTTP-2: both providers
construct a ``GrpcWebFetchTransport``
(sdk/src/provider/storage_provider_v2.ts:62, indexer_provider.ts:47), so
every SDK call is one HTTP POST to ``/<package>.<Service>/<Method>`` with
a gRPC-Web-framed protobuf body. This module serves exactly that:
requests decode through the hand-built proto schemas
(wire/rpc_schemas.py), dispatch into the same store/ingest/system calls
as the JSON front end, and responses re-encode as protobuf + trailers
frame. Both ``application/grpc-web+proto`` (binary) and
``application/grpc-web-text`` (base64, the SDK's default) are accepted.

Status mapping follows the node's own convention: application-level
rejections that the proto response can carry (SendMutation's ``code`` /
``msg``) ride a 0-status response; transport/shape errors use gRPC
status codes (3 INVALID_ARGUMENT, 12 UNIMPLEMENTED, 13 INTERNAL) in the
trailers frame, HTTP status stays 200 per the gRPC-Web contract.
"""

from __future__ import annotations

import json

from rtstore_spark.errors import RTStoreError
from rtstore_spark.wire.grpcweb import GrpcWebError
from rtstore_spark.wire.protobuf import WireDecodeError
from rtstore_spark.wire.rpc_schemas import METHODS
from rtstore_spark.wire.translate import INDEX_TYPE_NUMBERS

# this engine's log action strings → wire MutationAction numbers
_ACTION_NUMBERS = {
    "create_doc_db": 0,
    "add_collection": 1,
    "add_document": 2,
    "delete_document": 3,
    "update_document": 4,
    "create_event_db": 5,
    "add_index": 8,
    "delete_event_db": 9,
}


def _hex_bytes(addr: str | None) -> bytes:
    if not addr:
        return b""
    try:
        return bytes.fromhex(addr.removeprefix("0x"))
    except ValueError:
        return addr.encode("utf-8")  # human-readable test senders


class GrpcStatus(Exception):
    """Raised by adapters to surface a non-zero gRPC status."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


class GrpcWebGateway:
    """Transport-free core: (service, method, request dict) → response dict.

    The HTTP layer (service.py) does framing/base64; everything here is
    unit-testable without sockets, mirroring ``NodeService.dispatch``.
    """

    def __init__(self, node):
        self.node = node  # NodeService

    # -------------------------------------------------------------- route

    @staticmethod
    def is_grpc_path(path: str) -> bool:
        """The ROUTING shape test (mirrored by the HTTP layer, which must
        not import this module on the JSON path): two segments with a
        dotted package — an UNKNOWN dotted service still routes here so
        the reply is grpc-status 12, as the gRPC-Web contract wants."""
        parts = path.strip("/").split("/")
        return len(parts) == 2 and "." in parts[0]

    @staticmethod
    def resolve(path: str):
        """path → (service_full, method, request schema, response schema,
        server_streaming); raises GrpcStatus(12) when unknown."""
        parts = path.strip("/").split("/")
        if len(parts) != 2 or parts[0] not in METHODS:
            raise GrpcStatus(12, f"unknown service {path}")
        service, method = parts
        entry = METHODS[service].get(method)
        if entry is None:
            raise GrpcStatus(12, f"unknown method {service}/{method}")
        return service, method, entry[0], entry[1], entry[2]

    def handle_unary(self, path: str, message: bytes) -> bytes:
        """Decode → dispatch → encode. Raises GrpcStatus on failure."""
        service, method, req_schema, resp_schema, streaming = self.resolve(path)
        if streaming:
            raise GrpcStatus(12, f"{method} is server-streaming")
        try:
            req = req_schema.decode(message)
        except WireDecodeError as e:
            raise GrpcStatus(3, f"bad request message: {e}") from e
        handler = getattr(self, f"_{service.split('.')[-1]}_{method}")
        try:
            resp = handler(req)
        except GrpcStatus:
            raise
        except RTStoreError as e:
            raise GrpcStatus(3, str(e)) from e
        except (KeyError, TypeError, ValueError) as e:
            raise GrpcStatus(3, f"bad request: {e}") from e
        except Exception as e:
            # handlers that route through NodeService.dispatch surface
            # app-level rejections as ServiceError — an authz failure is
            # PERMISSION_DENIED (7), anything else INVALID_ARGUMENT (3),
            # never 13 INTERNAL (which clients treat as retryable)
            from rtstore_spark.service import ServiceError

            if isinstance(e, ServiceError):
                raise GrpcStatus(e.grpc_code, str(e)) from e
            raise
        return resp_schema.encode(resp)

    # ---------------------------------------------------------- StorageNode

    def _StorageNode_SendMutation(self, req: dict) -> dict:
        from rtstore_spark.errors import InvalidMutation

        payload = req.get("payload", b"")
        signature = req.get("signature", "")
        try:
            out = self.node.ingest.send_wire_mutation(payload, signature)
        except (InvalidMutation, RTStoreError) as e:
            # application-level rejection: the proto response carries it
            # (the node's SendMutation returns code/msg, not a gRPC error)
            return {"code": 1, "msg": str(e)}
        except WireDecodeError as e:
            return {"code": 1, "msg": str(e)}
        resp = {
            "id": out["id"], "code": 0, "msg": "ok",
            "block": int(out["block"]), "order": int(out["order"]),
        }
        items = [
            {"key": i["key"], "value": i["value"]} for i in out.get("items", [])
        ]
        if items:
            resp["items"] = items
        return resp

    def _StorageNode_GetNonce(self, req: dict) -> dict:
        # the NEXT nonce, as the reference replies (used + 1,
        # storage_node_light_impl.rs:596-611) — the SDK signs with it
        return {"nonce": self.node.ingest.get_nonce(req.get("address", ""))}

    def _header_from_log_row(self, r: dict) -> dict:
        h = {
            "block_id": int(r["block"]), "order_id": int(r["order"]),
            "sender": _hex_bytes(r["sender"]), "id": r["id"],
            "nonce": int(r["nonce"] or 0),
            "network": int(self.node.store.network),
            "action": _ACTION_NUMBERS.get(r["action"], 0),
        }
        if r.get("doc_ids"):
            h["doc_ids_map"] = r["doc_ids"]
        return h

    def _StorageNode_GetMutationHeader(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "GetMutationHeader", {
            "block_id": req.get("block_id", 0), "order_id": req.get("order_id", 0),
        })
        if out["header"] is None:
            return {}
        return {"header": self._header_from_log_row(out["header"])}

    def _body_from_log_row(self, r: dict) -> dict:
        # prefer the archived ORIGINAL envelope; else this engine's
        # decoded JSON form (payload text, no client signature retained).
        # The block bound makes the point lookup partition-pruned.
        blk = int(r["block"]) if r.get("block") is not None else None
        archive = (
            self.node.store.wire_archive(blk, blk + 1)
            if blk is not None else self.node.store.wire_archive()
        )
        from pyspark.sql import functions as F

        arch = archive.filter(F.col("id") == r["id"]).head(1)
        if arch:
            return {"payload": bytes(arch[0]["payload"]),
                    "signature": arch[0]["signature"]}
        return {"payload": (r.get("payload") or "").encode("utf-8")}

    def _StorageNode_GetMutationBody(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "GetMutationBody", {
            "id": req.get("id", ""),
        })
        if out["body"] is None:
            return {}
        return {"body": self._body_from_log_row(out["body"])}

    def _StorageNode_ScanMutationHeader(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "ScanMutationHeader", {
            "start": req.get("start", 0), "limit": req.get("limit", 50) or 50,
        })
        return {
            "headers": [self._header_from_log_row(h) for h in out["headers"]]
        }

    def _StorageNode_ScanRollupRecord(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "ScanRollupRecord", {
            "start": req.get("start", 0), "limit": req.get("limit", 50) or 50,
        })
        records = []
        for m in out["records"]:  # manifest rows (sources/rollup.py)
            records.append({
                "end_block": int(m["end_block"]),
                "start_block": int(m["start_block"]),
                "compress_data_size": int(m.get("compress_size") or 0),
                "mutation_count": int(m.get("rows") or 0),
                # the REAL permaweb tx once the uploader shipped this
                # round (db3_rollup.proto:35); local manifest id until
                # then, so followers can still correlate rounds
                "arweave_tx": m.get("arweave_tx") or m.get("tx_id") or "",
                "evm_tx": m.get("evm_tx") or "",
                "evm_cost": int(m.get("evm_cost") or 0),
                "processed_time": int(m.get("time_ms") or 0),
            })
        return {"records": records} if records else {}

    def _StorageNode_ScanGcRecord(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "ScanGcRecord", {
            "start": req.get("start", 0), "limit": req.get("limit", 50) or 50,
        })
        records = [
            {k: int(r[k]) for k in
             ("start_block", "end_block", "data_size", "time", "processed_time")}
            for r in out["records"]
        ]
        return {"records": records} if records else {}

    def _db_message(self, d: dict) -> dict:
        addr, sender = _hex_bytes(d["db_addr"]), _hex_bytes(d["sender"])
        if d.get("db_type") == "event":
            meta = json.loads(d["meta"]) if d.get("meta") else {}
            ev = {
                "address": addr, "sender": sender,
                "contract_address": meta.get("contract_address", ""),
                "desc": d.get("desc") or "",
                "ttl": int(meta.get("ttl") or 0),
                "events_json_abi": meta.get("events_json_abi", ""),
                "evm_node_url": meta.get("evm_node_url", ""),
                "start_block": int(meta.get("start_block") or 0),
            }
            return {"event_db": {k: v for k, v in ev.items() if v}}
        doc = {"address": addr, "sender": sender, "desc": d.get("desc") or ""}
        return {"doc_db": {k: v for k, v in doc.items() if v}}

    def _db_state(self, db_addr: str) -> dict:
        count = self.node.store.state.doc_counter(db_addr)
        out = {}
        if count:
            out["total_doc_count"] = count
            out["doc_order"] = count
        return out

    def _StorageNode_GetDatabase(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "GetDatabase", {
            "addr": req.get("addr", ""),
        })
        if out["database"] is None:
            return {}
        return {
            "database": self._db_message(out["database"]),
            "state": self._db_state(out["database"]["db_addr"]),
        }

    def _StorageNode_GetDatabaseOfOwner(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "GetDatabaseOfOwner", {
            "owner": req.get("owner", ""),
        })
        dbs = out["databases"]
        if not dbs:
            return {}
        return {
            "databases": [self._db_message(d) for d in dbs],
            "states": [self._db_state(d["db_addr"]) for d in dbs],
        }

    def _StorageNode_GetCollectionOfDatabase(self, req: dict) -> dict:
        out = self.node.dispatch("storage", "GetCollectionOfDatabase", {
            "db_addr": req.get("db_addr", ""),
        })
        cols = []
        for c in out["collections"]:
            fields = [
                {"path": i.get("path", ""),
                 "index_type": INDEX_TYPE_NUMBERS.get(i.get("type"), 1)}
                for i in json.loads(c.get("index_fields") or "[]")
            ]
            col = {"name": c["col_name"], "sender": _hex_bytes(c["sender"])}
            if fields:
                col["index_fields"] = [
                    {k: v for k, v in f.items() if v} for f in fields
                ]
            cols.append(col)
        if not cols:
            return {}
        return {"collections": cols, "states": [{} for _ in cols]}

    def _StorageNode_GetBlock(self, req: dict) -> dict:
        bs = int(req.get("block_start", 0))
        be = int(req.get("block_end", 0))
        out = self.node.dispatch("storage", "GetBlock", {
            "block_start": bs, "block_end": be,
        })
        if not out["mutations"]:
            return {}
        # ONE archive read covers every mutation in the range — the
        # indexer's tail-sync calls this per block batch, so a per-row
        # filter+head here would be the O(mutations)-jobs scale-killer
        # store/replay.py exists to avoid
        archived = {
            r["id"]: (bytes(r["payload"]), r["signature"])
            for r in self.node.store.wire_archive(bs, be).collect()
        }
        muts = []
        for r in out["mutations"]:
            arch = archived.get(r["id"])
            body = (
                {"payload": arch[0], "signature": arch[1]}
                if arch
                else {"payload": (r.get("payload") or "").encode("utf-8")}
            )
            muts.append(
                {"header": self._header_from_log_row(r), "body": body}
            )
        return {"mutations": muts}

    def _StorageNode_GetMutationState(self, req: dict) -> dict:
        view = self.node.dispatch("storage", "GetMutationState", {})["view"]
        return {"view": {
            "mutation_count": int(view.get("mutation_count") or 0),
            "total_mutation_bytes": int(view.get("total_storage_bytes") or 0),
        }}

    # server-side stream bound: a client that never reads must not pin a
    # handler thread forever (disconnects only surface on writes); clients
    # reconnect, exactly like a long-poll
    SUBSCRIBE_MAX_SECONDS = 300.0

    def subscribe_events(self, req: dict, max_seconds: float | None = None):
        """Server-streaming Subscribe: yields encoded EventMessage bytes
        (None = liveness tick). The caller frames + flushes. Runs on the
        shared broadcaster — one poll job per tick regardless of
        subscriber count."""
        from rtstore_spark.wire.rpc_schemas import EVENT_MESSAGE

        limit = self.SUBSCRIBE_MAX_SECONDS if max_seconds is None else max_seconds
        token, events_q, _joined = self.node.broadcaster.subscribe()

        def gen():
            import queue as _queue
            import time as _time

            deadline = _time.monotonic() + limit
            try:
                while _time.monotonic() < deadline:
                    try:
                        ev = events_q.get(timeout=0.5)
                    except _queue.Empty:
                        yield None  # liveness tick: lets the writer detect EOF
                        continue
                    yield EVENT_MESSAGE.encode({
                        "block_event": {
                            "block_id": int(ev["block_id"]),
                            "mutation_count": int(ev["mutation_count"]),
                        },
                    })
            finally:
                self.node.broadcaster.unsubscribe(token)

        return gen()

    # ---------------------------------------------------------- IndexerNode

    # RunQueryResponse has no paging fields, so the gateway walks the JSON
    # surface's pages internally. The hard total bound keeps a `/*` over a
    # huge collection from buffering the world in driver memory — beyond
    # it the client gets a LOUD RESOURCE_EXHAUSTED (gRPC status 8), never
    # a silently truncated result.
    RUN_QUERY_MAX_DOCS = 10_000

    def _IndexerNode_RunQuery(self, req: dict) -> dict:
        q = req.get("query") or {}
        params: dict = {}
        for p in q.get("parameters", []):
            value = None
            for k in ("int64_value", "bool_value", "str_value"):
                if k in p:
                    value = p[k]
                    break
            if p.get("name"):
                params[p["name"]] = value
            # positional binding only when the client actually sent idx (or
            # sent neither — a lone anonymous param is #0); proto3 skips
            # idx=0 on the wire, so two NAMED params both omitting idx must
            # not collide on positional key 0
            if "idx" in p or not p.get("name"):
                params[int(p.get("idx", 0))] = value
        out = self.node.dispatch("indexer", "RunQuery", {
            "db_addr": req.get("db", ""), "col_name": req.get("col_name", ""),
            "query": {"query_str": q.get("query_str", ""),
                      "parameters": params or None},
            # one evaluation at the gateway's bound (the JSON surface's
            # default page would force O(pages) query re-evaluations)
            "limit": self.RUN_QUERY_MAX_DOCS,
        })
        if out.get("next_page_token"):
            raise GrpcStatus(
                8,
                f"result exceeds {self.RUN_QUERY_MAX_DOCS} documents "
                f"({out['count']} matched) — narrow the query or add a limit",
            )
        docs = [
            {"id": int(d["id"]),
             "doc": json.dumps(d["doc"]) if d["doc"] is not None else ""}
            for d in out["documents"]
        ]
        resp: dict = {"count": int(out["count"])}
        if docs:
            resp["documents"] = docs
        return resp

    def _IndexerNode_GetDoc(self, req: dict) -> dict:
        out = self.node.dispatch("indexer", "GetDoc", {
            "db_addr": req.get("db_addr", ""),
            "col_name": req.get("col_name", ""), "id": req.get("id", 0),
        })
        d = out["document"]
        if d is None:
            return {}
        return {"document": {
            "id": int(d["id"]),
            "doc": json.dumps(d["doc"]) if d["doc"] is not None else "",
        }}

    def _IndexerNode_GetContractSyncStatus(self, req: dict) -> dict:
        out = self.node.dispatch("indexer", "GetContractSyncStatus", {})
        lst = [
            {k: v for k, v in {
                "addr": s.get("addr", ""),
                "evm_node_url": s.get("evm_node_url", ""),
                "block_number": int(s.get("block_number") or 0),
                "event_number": int(s.get("event_number") or 0),
            }.items() if v}
            for s in out["status_list"]
        ]
        return {"status_list": lst} if lst else {}

    def _IndexerNode_GetCollectionOfDatabase(self, req: dict) -> dict:
        return self._StorageNode_GetCollectionOfDatabase(req)

    # --------------------------------------------------------------- System

    def _System_Setup(self, req: dict) -> dict:
        out = self.node.dispatch("system", "Setup", {
            "payload": req.get("payload", ""),
            "signature": req.get("signature", ""),
        })
        return {"code": int(out["code"]), "msg": out["msg"]}

    def _System_GetSystemStatus(self, req: dict) -> dict:
        st = self.node.dispatch("system", "GetSystemStatus", {})
        out = {
            k: st[k]
            for k in ("evm_account", "evm_balance", "ar_account", "ar_balance",
                      "node_url", "admin_addr")
            if st.get(k)
        }
        if st.get("has_inited"):
            out["has_inited"] = True
        cfg = st.get("config")
        if cfg:
            cc = {
                "min_rollup_size": int(cfg.get("min_rollup_size") or 0),
                "rollup_interval": int(cfg.get("rollup_interval") or 0),
                "network_id": int(cfg.get("network_id") or 0),
                "evm_node_url": cfg.get("evm_node_url") or "",
                "ar_node_url": cfg.get("ar_node_url") or "",
                "chain_id": int(cfg.get("chain_id") or 0),
                "rollup_max_interval": int(cfg.get("rollup_max_interval") or 0),
                "contract_addr": cfg.get("contract_addr") or "",
                "min_gc_offset": int(cfg.get("min_gc_offset") or 0),
            }
            out["config"] = {k: v for k, v in cc.items() if v}
        ver = st.get("version")
        if isinstance(ver, str):  # the JSON surface reports a label string
            out["version"] = {"version_label": ver}
        elif ver:
            out["version"] = {
                k: ver[k]
                for k in ("build_time", "git_hash", "version_label")
                if ver.get(k)
            }
        return out
