"""End-to-end HTTP service tests: the reference's RPC surface
(db3_storage.proto:185-203, db3_indexer.proto:73-79, db3_system.proto:24-38)
driven over a real localhost socket — sign → send → query."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from rtstore_spark.service import NodeServer, NodeService
from rtstore_spark.store import DocStore
from rtstore_spark.store.ingest import Ingest, digest_signature
from rtstore_spark.system import SystemStore

ALICE = "0x" + "aa" * 20
BOB = "0x" + "bb" * 20


def _post(port: int, path: str, body: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/v1/{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _signed(payload: dict, nonce: int, sender: str) -> dict:
    body = json.dumps(payload, sort_keys=True)
    return {
        "payload": payload,
        "signature": digest_signature(body, nonce, sender),
        "sender": sender,
        "nonce": nonce,
    }


@pytest.fixture(scope="class")
def server(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("svc")
    store = DocStore(spark, str(root / "node"))
    system = SystemStore(spark, str(root / "node"), admin_addr=ALICE)
    srv = NodeServer(NodeService(store, Ingest(store), system=system)).start()
    yield srv
    srv.stop()


class TestServiceEndToEnd:
    def test_full_write_read_cycle(self, server):
        port = server.port
        # 1. signed create_database over the wire
        status, r = _post(
            port, "storage/SendMutation",
            _signed({"action": "create_database", "body": {"desc": "d"}}, 1, ALICE),
        )
        assert status == 200 and r["code"] == 0 and r["id"]
        db = next(i["value"] for i in r["items"] if i["key"] == "db_addr")

        status, r = _post(port, "storage/GetNonce", {"address": ALICE})
        # the reference replies with the NEXT nonce (used + 1) — the SDK
        # signs with the response verbatim
        assert status == 200 and r["nonce"] == 2

        # 2. collection + documents
        status, r = _post(
            port, "storage/SendMutation",
            _signed(
                {"action": "add_collection", "db_addr": db, "col_name": "c",
                 "body": {}},
                2, ALICE,
            ),
        )
        assert status == 200 and r["code"] == 0
        status, r = _post(
            port, "storage/SendMutation",
            _signed(
                {"action": "add_document", "db_addr": db, "col_name": "c",
                 "body": {"docs": ['{"v": 1}', '{"v": 2}', '{"v": 3}']}},
                3, ALICE,
            ),
        )
        assert status == 200 and r["code"] == 0
        doc_ids = [
            int(i["value"]) for i in r["items"] if i["key"] == "document"
        ]
        assert len(doc_ids) == 3

        # 3. the reference-shaped read surface
        status, r = _post(
            port, "indexer/RunQuery",
            {"db_addr": db, "col_name": "c",
             "query": {"query_str": "/[v > 1]"}},
        )
        assert status == 200
        assert r["count"] == 2
        assert sorted(d["doc"]["v"] for d in r["documents"]) == [2, 3]

        status, r = _post(
            port, "indexer/GetDoc",
            {"db_addr": db, "col_name": "c", "id": doc_ids[0]},
        )
        assert status == 200 and r["document"]["doc"] == {"v": 1}

        status, r = _post(port, "storage/GetDatabase", {"addr": db})
        assert status == 200 and r["database"]["db_addr"] == db
        status, r = _post(port, "storage/GetDatabaseOfOwner", {"owner": ALICE})
        assert [d["db_addr"] for d in r["databases"]] == [db]
        status, r = _post(
            port, "storage/GetCollectionOfDatabase", {"db_addr": db}
        )
        assert [c["col_name"] for c in r["collections"]] == ["c"]

        # 4. mutation metadata surface
        status, r = _post(port, "storage/GetMutationState", {})
        assert status == 200 and r["view"]["mutation_count"] == 3
        status, r = _post(port, "storage/ScanMutationHeader", {})
        assert len(r["headers"]) == 3 and "payload" not in r["headers"][0]
        h = r["headers"][0]
        status, r = _post(
            port, "storage/GetMutationHeader",
            {"block_id": h["block"], "order_id": h["order"]},
        )
        assert r["header"]["id"] == h["id"]
        status, r = _post(port, "storage/GetMutationBody", {"id": h["id"]})
        assert r["body"]["payload"] is not None
        status, r = _post(
            port, "storage/GetBlock", {"block_start": 0, "block_end": 10}
        )
        assert len(r["mutations"]) == 3
        status, r = _post(port, "storage/ScanRollupRecord", {})
        assert r["records"] == []  # no rollup executor configured

    def test_bad_signature_rejected_at_boundary(self, server):
        port = server.port
        payload = {"action": "create_database", "body": {}}
        status, r = _post(
            port, "storage/SendMutation",
            {"payload": payload, "signature": "ff" * 32, "sender": BOB,
             "nonce": 1},
        )
        assert status == 400 and r["code"] == 1 and "signature" in r["msg"]
        # nothing applied, nonce unconsumed: the NEXT nonce is still 1
        status, r = _post(port, "storage/GetNonce", {"address": BOB})
        assert r["nonce"] == 1

    def test_unknown_method_404(self, server):
        status, r = _post(server.port, "storage/NoSuchThing", {})
        assert status == 404 and r["code"] == 1

    def test_setup_and_status(self, server):
        port = server.port
        cfg = {
            "chainId": 1, "contractAddr": "0xc0ffee",
            "evmNodeUrl": "ws://localhost:8546", "arNodeUrl": "http://ar",
            "networkId": 7,
        }
        payload = json.dumps(cfg)
        # non-admin signer rejected
        status, r = _post(
            port, "system/Setup",
            {"payload": payload,
             "signature": digest_signature(payload, 0, BOB), "sender": BOB},
        )
        assert status == 400 and "admin" in r["msg"]
        # admin accepted
        status, r = _post(
            port, "system/Setup",
            {"payload": payload,
             "signature": digest_signature(payload, 0, ALICE), "sender": ALICE},
        )
        assert status == 200 and r["code"] == 0
        status, r = _post(port, "system/GetSystemStatus", {})
        assert r["has_inited"] and r["config"]["chain_id"] == 1
        assert r["config"]["network_id"] == 7

    def test_subscribe_streams_block_events(self, server, spark):
        """Subscribe replays closed-block events over a chunked response —
        the HTTP analog of the gRPC block-event stream."""
        port = server.port
        store = server.httpd.RequestHandlerClass.node.store
        # close the current block so its mutations become a closed block
        store.state.next_block()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/v1/storage/Subscribe",
            data=json.dumps(
                {"from_block": -1, "max_events": 1, "poll_seconds": 0.1,
                 "max_seconds": 60}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            lines = [json.loads(x) for x in r.read().decode().splitlines() if x]
        assert lines and lines[0]["type"] == "Block"
        ev = lines[0]["block_event"]
        assert ev["mutation_count"] >= 1 and ev["block_id"] >= 0


class TestConcurrentSequencing:
    """The sequencer under concurrent wire traffic: the reference holds a
    block-state mutex across nonce → id-assignment → (block, order)
    (mutation_store.rs:596-606); our span is StateStore.lock held by
    Ingest.send_mutation. Eight simultaneous SendMutation POSTs through a
    real ThreadingHTTPServer must produce unique (block, order) keys,
    gap-free unique doc ids, and exactly one rejection per replayed nonce."""

    def test_concurrent_send_mutations_socket(self, spark, tmp_path):
        from concurrent.futures import ThreadPoolExecutor

        store = DocStore(spark, str(tmp_path / "conc"))
        srv = NodeServer(NodeService(store, Ingest(store))).start()
        try:
            port = srv.port
            _, r = _post(
                port, "storage/SendMutation",
                _signed({"action": "create_database", "body": {}}, 1, ALICE),
            )
            assert r["code"] == 0
            db = next(i["value"] for i in r["items"] if i["key"] == "db_addr")
            _, r = _post(
                port, "storage/SendMutation",
                _signed({"action": "add_collection", "db_addr": db,
                         "col_name": "c", "body": {}}, 2, ALICE),
            )
            assert r["code"] == 0

            # 6 distinct senders, 2 docs each (each sender's first nonce),
            # plus TWO same-nonce BOB requests — a replayed nonce that must
            # be accepted exactly once
            senders = ["0x" + f"{i:02x}" * 20 for i in range(0x10, 0x16)]
            reqs = [
                _signed({"action": "add_document", "db_addr": db,
                         "col_name": "c",
                         "body": {"docs": [json.dumps({"s": s, "j": j})
                                           for j in (0, 1)]}}, 1, s)
                for s in senders
            ]
            reqs += [
                _signed({"action": "add_document", "db_addr": db,
                         "col_name": "c",
                         "body": {"docs": [json.dumps({"dup": tag})]}}, 1, BOB)
                for tag in ("first", "second")
            ]
            with ThreadPoolExecutor(max_workers=8) as ex:
                results = list(
                    ex.map(lambda b: _post(port, "storage/SendMutation", b),
                           reqs)
                )

            accepted = [r for _, r in results if r.get("code") == 0]
            rejected = [r for _, r in results if r.get("code") != 0]
            # exactly one of the two BOB nonce-1 requests rejected, as a
            # nonce error — not a crash, not a silent double-accept
            assert len(accepted) == 7 and len(rejected) == 1
            assert "nonce" in rejected[0]["msg"].lower()

            # every accepted mutation got a UNIQUE (block, order)
            seqs = [(r["block"], r["order"]) for r in accepted]
            assert len(set(seqs)) == len(seqs)

            # doc ids are unique and gap-free: 6 senders x 2 + BOB's 1
            ids = sorted(
                int(i["value"]) for r in accepted for i in r["items"]
                if i["key"] == "document"
            )
            assert ids == list(range(1, 14))

            # and the store agrees: 13 live docs, one version each
            assert store.current_state(db, "c").count() == 13
        finally:
            srv.stop()


class TestRunQueryPaging:
    """The RunQuery response cap: the wire boundary returns pages (the
    reference's scan_max_limit stance, mutation_store.rs:58,395-403), never
    an unbounded collect of a whole collection into the driver thread."""

    def test_default_cap_and_page_token(self, spark, tmp_path):
        store = DocStore(spark, str(tmp_path / "page"))
        srv = NodeServer(
            NodeService(store, Ingest(store), query_page_limit=5)
        ).start()
        try:
            port = srv.port
            db = store.create_database(ALICE, nonce=1)
            store.create_collection(db, "c", [], ALICE)
            store.add_docs(
                db, "c", [json.dumps({"i": i}) for i in range(12)], ALICE
            )
            q = {"db_addr": db, "col_name": "c", "query": "/*"}

            # page 1: capped at 5, true total count, token for more
            _, r = _post(port, "indexer/RunQuery", q)
            assert len(r["documents"]) == 5 and r["count"] == 12
            assert r["next_page_token"] == "5"

            # walk every page; union must be exactly the 12 docs, no dupes
            seen = [d["id"] for d in r["documents"]]
            while "next_page_token" in r:
                _, r = _post(
                    port, "indexer/RunQuery",
                    {**q, "page_token": r["next_page_token"]},
                )
                assert len(r["documents"]) <= 5 and r["count"] == 12
                seen += [d["id"] for d in r["documents"]]
            assert sorted(seen) == list(range(1, 13))

            # explicit limit opts into a bigger page: one response, no token
            _, r = _post(port, "indexer/RunQuery", {**q, "limit": 50})
            assert len(r["documents"]) == 12 and "next_page_token" not in r

            # a query's own `| limit` under the cap: unaffected
            _, r = _post(
                port, "indexer/RunQuery",
                {"db_addr": db, "col_name": "c", "query": "/* | limit 3"},
            )
            assert len(r["documents"]) == 3 and "next_page_token" not in r
        finally:
            srv.stop()


class TestSharedSubscribePoller:
    """N concurrent Subscribe clients must cost ONE poll aggregate per tick,
    not N — the reference's single broadcast channel
    (storage_node_light_impl.rs:270-374). Poll jobs carry the node's own
    broadcaster job group, so the counter sees only this node's poller,
    never the pollers of nodes earlier tests left in the session."""

    def test_one_poll_job_per_tick(self, spark, tmp_path):
        import threading as _threading
        import time as _time

        store = DocStore(spark, str(tmp_path / "sub"))
        srv_node = NodeService(store, Ingest(store), subscribe_poll_seconds=0.4)
        srv = NodeServer(srv_node).start()
        try:
            port = srv.port
            db = store.create_database(ALICE, nonce=1)
            store.create_collection(db, "c", [], ALICE)
            store.state.next_block()

            results: list[list[dict]] = [[] for _ in range(4)]

            def listen(slot: int) -> None:
                req = urllib.request.Request(
                    f"http://127.0.0.1:{port}/v1/storage/Subscribe",
                    data=json.dumps(
                        # from_block 0: deliver the block that is open right
                        # now once it closes (the default skips it).
                        # max_seconds is a FAILSAFE, not the test clock:
                        # max_events=1 ends the response the moment the
                        # event lands, so a big value costs nothing green
                        # but survives a loaded box (round-8 flake)
                        {"from_block": 0, "max_events": 1, "max_seconds": 180}
                    ).encode(),
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=240) as resp:
                    for raw in resp.read().decode().splitlines():
                        if raw:
                            results[slot].append(json.loads(raw))

            t0 = _time.monotonic()
            threads = [
                _threading.Thread(target=listen, args=(i,)) for i in range(4)
            ]
            for t in threads:
                t.start()
            # deterministic latch: the block must not close until all 4
            # subscribers are ATTACHED (the old fixed sleep assumed HTTP
            # connect + subscribe always beats 1 s — not true under load)
            assert srv_node.broadcaster.wait_for_subscribers(4, timeout=120)
            _time.sleep(1.0)  # several empty ticks with 4 live subscribers
            store.add_docs(db, "c", ['{"v": 1}'], ALICE)
            store.state.next_block()  # close the block -> one event fans out
            for t in threads:
                t.join(timeout=240)
            elapsed = _time.monotonic() - t0

            # every subscriber got the SAME closed-block event exactly once
            for evs in results:
                assert len(evs) == 1 and evs[0]["type"] == "Block"
                assert evs[0]["block_event"]["mutation_count"] == 1

            # poll-job budget: one aggregate per tick regardless of the 4
            # subscribers. >= 1 proves polling really runs under the group
            # (a regression to per-handler polling would leave it at 0).
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
                srv_node.broadcaster.job_group
            )
            max_ticks = int(elapsed / 0.4) + 2
            assert 1 <= len(jobs) <= max_ticks * 2, (len(jobs), elapsed)
        finally:
            srv.stop()


class TestSlowSubscriberEviction:
    def test_stalled_queue_is_evicted_without_gaps(
        self, spark, tmp_path, monkeypatch
    ):
        """A subscriber that stops draining is evicted at its queue bound
        — and receives NOTHING past its first dropped event (a gapped
        stream would let a reconnect cursor skip a block silently) —
        while healthy subscribers keep receiving every closed block."""
        import time

        from rtstore_spark.service import BlockEventBroadcaster

        monkeypatch.setattr(BlockEventBroadcaster, "MAX_QUEUED_EVENTS", 2)
        store = DocStore(spark, str(tmp_path / "evict"))
        node = NodeService(store, Ingest(store), subscribe_poll_seconds=0.2)
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.state.next_block()

        bc = node.broadcaster
        t_slow, q_slow, _ = bc.subscribe()  # never drained
        t_ok, q_ok, _ = bc.subscribe()
        try:
            # one block at a time, gated on the healthy subscriber's
            # receipt: the bound applies to EVERY queue, so a burst of 4
            # events in one poll would outrun any drainer — the scenario
            # under test is a drained queue vs a never-drained one
            deadline = time.time() + 120
            got: list[dict] = []
            for i in range(4):
                store.add_docs(db, "c", [json.dumps({"v": i})], ALICE)
                store.state.next_block()
                while time.time() < deadline and len(got) < i + 1:
                    try:
                        got.append(q_ok.get(timeout=1.0))
                    except Exception:  # noqa: BLE001 — queue.Empty retry
                        continue
            # healthy subscriber: all four closed blocks, in order, no gaps
            ids = [e["block_id"] for e in got]
            assert len(ids) == 4 and ids == sorted(ids)
            assert ids == list(range(ids[0], ids[0] + 4))
            # stalled subscriber: exactly its bound buffered, evicted, and
            # the buffered prefix is gapless from the first block
            with bc._lock:
                assert t_slow not in bc._subs and t_ok in bc._subs
            assert q_slow.qsize() == 2
            slow_ids = [q_slow.get_nowait()["block_id"] for _ in range(2)]
            assert slow_ids == ids[:2]
        finally:
            bc.unsubscribe(t_ok)
            bc.unsubscribe(t_slow)


class TestWireSendMutation:
    """Reference-format SendMutation: the TypedData envelope a stock SDK
    signs (hex protobuf Mutation + nonce, db3_account.ts:104-121) POSTs
    straight in — sender recovered from the signature, never trusted from
    the request."""

    PRIV = 0x4C0883A69102937D6231471B5DBB6204FE512961708279FEDE945C2D26E8AD53

    @classmethod
    def _addr(cls) -> str:
        from rtstore_spark.crypto.secp256k1 import priv_to_address

        return priv_to_address(cls.PRIV)

    def _wire_body(self, action, bodies, nonce) -> dict:
        from rtstore_spark.wire.envelope import wrap_and_sign
        from rtstore_spark.wire.schemas import encode_mutation

        raw = encode_mutation(action, bodies)
        payload, sig = wrap_and_sign(raw, nonce, self.PRIV)
        return {"payload": payload.decode("utf-8"), "signature": sig}

    def test_wire_lifecycle_over_socket(self, server):
        from rtstore_spark.store.docstore import derive_db_addr
        from rtstore_spark.wire.bsonlite import bson_encode

        port = server.port
        me = self._addr()

        status, r = _post(
            port, "storage/SendMutation",
            self._wire_body("CreateDocumentDB", [{
                "db_address": None, "kind": "doc_database_mutation",
                "body": {"db_desc": "wire"},
            }], nonce=1),
        )
        assert status == 200 and r["code"] == 0, r
        assert r["sender"].lower() == me.lower()
        # the reference TxId form: sha3(payload ‖ signature)
        assert r["id"].startswith("0x") and len(r["id"]) == 66
        db = next(i["value"] for i in r["items"] if i["key"] == "db_addr")
        # byte-exact DbId parity: sha3(nonce_be ‖ network_be ‖ sender)[..20]
        assert db == derive_db_addr(me, 1, 1)

        status, r = _post(
            port, "storage/SendMutation",
            self._wire_body("AddCollection", [{
                "db_address": db, "kind": "collection_mutation",
                "body": {"collection_name": "books", "index_fields": [
                    {"path": "/year", "index_type": 2},
                ]},
            }], nonce=2),
        )
        assert status == 200 and r["code"] == 0, r

        status, r = _post(
            port, "storage/SendMutation",
            self._wire_body("AddDocument", [{
                "db_address": db, "kind": "document_mutation",
                "body": {"collection_name": "books", "documents": [
                    bson_encode({"t": "wired", "year": 2024}),
                    bson_encode({"t": "other", "year": 1999}),
                ]},
            }], nonce=3),
        )
        assert status == 200 and r["code"] == 0, r
        ids = [int(i["value"]) for i in r["items"] if i["key"] == "document"]
        assert len(ids) == 2

        # masked update + delete, then query through the indexer surface
        status, r = _post(
            port, "storage/SendMutation",
            self._wire_body("UpdateDocument", [{
                "db_address": db, "kind": "document_mutation",
                "body": {"collection_name": "books",
                         "documents": [bson_encode({"year": 2025})],
                         "ids": [ids[0]],
                         "masks": [{"fields": ["year"]}]},
            }], nonce=4),
        )
        assert status == 200 and r["code"] == 0, r
        status, r = _post(
            port, "storage/SendMutation",
            self._wire_body("DeleteDocument", [{
                "db_address": db, "kind": "document_mutation",
                "body": {"collection_name": "books", "ids": [ids[1]]},
            }], nonce=5),
        )
        assert status == 200 and r["code"] == 0, r

        status, r = _post(
            port, "indexer/RunQuery",
            {"db_addr": db, "col_name": "books",
             "query": {"query_str": "/*"}},
        )
        assert status == 200
        docs = [
            d["doc"] if isinstance(d["doc"], dict) else json.loads(d["doc"])
            for d in r["documents"]
        ]
        assert docs == [{"t": "wired", "year": 2025}]

    def test_wire_nonce_replay_rejected(self, server):
        port = server.port
        body = self._wire_body("CreateDocumentDB", [{
            "db_address": None, "kind": "doc_database_mutation",
            "body": {"db_desc": "replay"},
        }], nonce=6)
        status, r = _post(port, "storage/SendMutation", body)
        assert status == 200 and r["code"] == 0, r
        status, r = _post(port, "storage/SendMutation", body)
        assert r["code"] == 1 and "nonce" in r["msg"].lower()

    def test_wire_tampered_payload_changes_signer(self, server):
        # flipping the nonce string after signing shifts the recovered
        # address — the mutation must not apply under the real sender
        port = server.port
        body = self._wire_body("CreateDocumentDB", [{
            "db_address": None, "kind": "doc_database_mutation",
            "body": {"db_desc": "tamper"},
        }], nonce=7)
        env = json.loads(body["payload"])
        env["message"]["nonce"] = "8"
        status, r = _post(port, "storage/SendMutation", {
            "payload": json.dumps(env), "signature": body["signature"],
        })
        # either rejected outright (bad recovery) or applied under a
        # DIFFERENT recovered sender — never under ours
        if r.get("code") == 0:
            assert r["sender"].lower() != self._addr().lower()

    def test_wire_hex_payload_accepted(self, server):
        port = server.port
        body = self._wire_body("CreateDocumentDB", [{
            "db_address": None, "kind": "doc_database_mutation",
            "body": {"db_desc": "hex"},
        }], nonce=9)
        hexed = "0x" + body["payload"].encode("utf-8").hex()
        status, r = _post(port, "storage/SendMutation", {
            "payload": hexed, "signature": body["signature"],
        })
        assert status == 200 and r["code"] == 0, r

    def test_wire_garbage_rejected_cleanly(self, server):
        status, r = _post(server.port, "storage/SendMutation", {
            "payload": "not a typed data envelope", "signature": "0x00",
        })
        assert r["code"] == 1
