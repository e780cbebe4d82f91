"""EIP-712 auth: keccak/secp256k1 known-answer vectors + the mutation
typed-data layout pinned by a recorded fixture, exercised through
verify_signature(mode="eip712") — the reference's actual auth path
(mutation_utils.rs:60-91, db3_account.ts:104-121)."""

from __future__ import annotations

import json

import pytest

from rtstore_spark.crypto.eip712 import (
    mutation_signing_hash,
    recover_mutation_signer,
)
from rtstore_spark.crypto.keccak import keccak256
from rtstore_spark.crypto.secp256k1 import priv_to_address, recover_address, sign
from rtstore_spark.errors import InvalidMutation
from rtstore_spark.store.ingest import verify_signature

# well-known test key (web3.py docs) — cross-implementation anchor
PRIV = 0x4C0883A69102937D6231471B5DBB6204FE5129617082792AE468D01A3F362318
ADDR = "0x2c7536e3605d9c16a7a3d7b1898e529396a65c23"

PAYLOAD = json.dumps(
    {"action": "add_document", "db_addr": "0xdb", "col_name": "c",
     "body": {"docs": ['{"k": 1}']}},
    sort_keys=True,
)
NONCE = 7
# recorded fixture: signing hash + signature for (PAYLOAD, NONCE, PRIV).
# Any drift in the typed-data layout (type string, domain separator,
# payload/nonce encoding) changes the hash and breaks these pins.
FIXTURE_HASH = "a00f3b2596dbcebe96bf66767220b670a3310938b1d5464aba1d0ea3a889a50e"
FIXTURE_SIG = (
    "0x93691cc1f779cad1fbfa9876e47bb4e188639241349fa7f63c192cf6e95db46c"
    "6bd8af3ecf53948f1c8cb2a1ee3ced826a71d7147ae038e4453eb7493fa25e811b"
)


class TestPrimitives:
    def test_keccak256_known_vectors(self):
        assert keccak256(b"").hex() == (
            "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
        )
        assert keccak256(b"abc").hex() == (
            "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
        )

    def test_address_derivation_known_keys(self):
        # the canonical privkey=1 address
        assert priv_to_address(1) == "0x7e5f4552091a69125d5dfcb7b8c2659029395bdf"
        assert priv_to_address(PRIV) == ADDR

    def test_sign_recover_roundtrip(self):
        h = keccak256(b"roundtrip")
        assert recover_address(h, sign(h, PRIV)) == ADDR

    def test_recover_rejects_malformed(self):
        h = keccak256(b"x")
        with pytest.raises(ValueError):
            recover_address(h, b"\x00" * 64)  # wrong length
        bad_v = sign(h, PRIV)[:64] + bytes([99])
        with pytest.raises(ValueError):
            recover_address(h, bad_v)

    def test_jacobian_core_matches_affine_double_and_add(self):
        # the wNAF/Strauss-Shamir fast path (r7 speedup) against a naive
        # affine ladder built from the spec-level _add; covers generator
        # and arbitrary bases, edge scalars, and the keccak multi-block
        # boundary inherited through sign()
        import random

        from rtstore_spark.crypto.secp256k1 import G, N, _add, _mul

        def naive(p, k):
            acc = None
            while k:
                if k & 1:
                    acc = _add(acc, p)
                p = _add(p, p)
                k >>= 1
            return acc

        rng = random.Random(99)
        q = _mul(G, 0xDEADBEEF)
        for k in [1, 2, 3, 15, 16, 17, N - 2, N - 1] + [
            rng.randrange(1, N) for _ in range(8)
        ]:
            assert _mul(G, k) == naive(G, k)
            assert _mul(q, k) == naive(q, k)
        assert _mul(G, N) is None  # k ≡ 0 (mod N) → infinity
        assert _mul(G, N + 5) == naive(G, 5)


class TestMutationTypedData:
    def test_recorded_fixture(self):
        assert mutation_signing_hash(PAYLOAD, NONCE).hex() == FIXTURE_HASH
        assert recover_mutation_signer(PAYLOAD, NONCE, FIXTURE_SIG) == ADDR

    def test_verify_signature_eip712_accepts(self):
        verify_signature(PAYLOAD, NONCE, ADDR, FIXTURE_SIG, mode="eip712")

    def test_verify_signature_eip712_rejects_wrong_sender(self):
        with pytest.raises(InvalidMutation, match="recovers"):
            verify_signature(PAYLOAD, NONCE, "0xmallory", FIXTURE_SIG, mode="eip712")

    def test_verify_signature_eip712_rejects_tampering(self):
        tampered = PAYLOAD.replace("0xdb", "0xdc")
        assert tampered != PAYLOAD
        with pytest.raises(InvalidMutation):
            verify_signature(tampered, NONCE, ADDR, FIXTURE_SIG, mode="eip712")
        with pytest.raises(InvalidMutation):
            verify_signature(PAYLOAD, NONCE + 1, ADDR, FIXTURE_SIG, mode="eip712")

    def test_verify_signature_eip712_rejects_garbage(self):
        with pytest.raises(InvalidMutation, match="malformed"):
            verify_signature(PAYLOAD, NONCE, ADDR, "0xdeadbeef", mode="eip712")

    def test_sdk_hex_payload_form(self):
        """The SDK sends payload as 0x-hex protobuf bytes; hex and raw-bytes
        forms of the same content must produce the same hash."""
        raw = PAYLOAD.encode()
        assert mutation_signing_hash("0x" + raw.hex(), NONCE) == (
            mutation_signing_hash(PAYLOAD, NONCE)
        )

    def test_cross_check_eth_account(self):
        """When eth_account is installed, its recovery of our fixture must
        agree (skip-marked in this container)."""
        pytest.importorskip("eth_account")
        from eth_account import Account
        from eth_account.messages import encode_typed_data

        typed = {
            "types": {
                "EIP712Domain": [],
                "Message": [
                    {"name": "payload", "type": "bytes"},
                    {"name": "nonce", "type": "string"},
                ],
            },
            "primaryType": "Message",
            "domain": {},
            "message": {"payload": PAYLOAD.encode(), "nonce": str(NONCE)},
        }
        recovered = Account.recover_message(
            encode_typed_data(full_message=typed), signature=FIXTURE_SIG
        )
        assert recovered.lower() == ADDR


class TestEndToEnd:
    def test_streaming_batch_admission_eip712(self, spark, tmp_path):
        """The set-wise BatchApplier verifies real EIP-712 signatures on
        workers (crypto modules shipped by value — workers never import
        rtstore_spark); a forged envelope is rejected, the rest apply."""
        import json as _json

        from rtstore_spark.store.docstore import DocStore
        from rtstore_spark.store.ingest import Ingest
        from rtstore_spark.streaming.ingest_stream import StreamingIngest

        store = DocStore(spark, str(tmp_path / "w712"))
        ingest = Ingest(store, sig_mode="eip712")
        si = StreamingIngest(spark, ingest, str(tmp_path / "staging712"))

        def env(payload: dict, nonce: int, forge: bool = False) -> str:
            text = _json.dumps(payload, sort_keys=True)
            sig = "0x" + sign(
                mutation_signing_hash(text, nonce), PRIV if not forge else 0xBAD
            ).hex()
            return _json.dumps(
                {"payload": text, "signature": sig, "sender": ADDR, "nonce": nonce}
            )

        lines = [
            env({"action": "create_database", "body": {"desc": "d"}}, 1),
        ]
        (tmp_path / "staging712" / "b1.jsonl").write_text("\n".join(lines))
        si.start(once=True)
        db = store.databases().collect()[0]["db_addr"]

        lines = [
            env({"action": "add_collection", "db_addr": db, "col_name": "c",
                 "body": {"indexes": []}}, 2),
            env({"action": "add_document", "db_addr": db, "col_name": "c",
                 "body": {"docs": ['{"v": 1}']}}, 3),
            # forged: signed by a different key but claiming ADDR
            env({"action": "add_document", "db_addr": db, "col_name": "c",
                 "body": {"docs": ['{"v": 666}']}}, 4, forge=True),
        ]
        (tmp_path / "staging712" / "b2.jsonl").write_text("\n".join(lines))
        si.start(once=True)

        docs = [
            _json.loads(r["doc"])["v"]
            for r in store.current_state(db, "c").collect()
        ]
        assert docs == [1]  # the forged doc never landed
        assert len(si.rejected) == 1
        assert "recovers another address" in si.rejected[0][1]

    def test_batch_rejects_mixed_case_sender_replay(self, spark, tmp_path):
        """A signed envelope already applied through SendMutation, staged
        again with a mixed-case spelling of its sender, is the same
        account's old nonce: the block applier rejects it as a bad nonce
        and the document is stored once."""
        from rtstore_spark.store.batch_apply import BatchApplier
        from rtstore_spark.store.docstore import DocStore
        from rtstore_spark.store.ingest import Ingest
        from rtstore_spark.streaming.ingest_stream import ENVELOPE_SCHEMA

        store = DocStore(spark, str(tmp_path / "w"))
        ingest = Ingest(store, sig_mode="eip712")

        def signed(payload: dict, nonce: int) -> dict:
            text = json.dumps(payload, sort_keys=True)
            sig = "0x" + sign(mutation_signing_hash(text, nonce), PRIV).hex()
            return {"payload": text, "signature": sig, "sender": ADDR,
                    "nonce": nonce}

        def send(payload: dict, nonce: int):
            e = signed(payload, nonce)
            return ingest.send_mutation(payload, e["signature"], ADDR, nonce)

        resp = send({"action": "create_database", "body": {"desc": "d"}}, 1)
        db = next(i["value"] for i in resp["items"] if i["key"] == "db_addr")
        send({"action": "add_collection", "db_addr": db, "col_name": "c",
              "body": {"indexes": []}}, 2)
        add = {"action": "add_document", "db_addr": db, "col_name": "c",
               "body": {"docs": ['{"k": 1}']}}
        send(add, 3)

        replay = dict(signed(add, 3), sender="0x" + ADDR[2:].upper())
        f = tmp_path / "replay.jsonl"
        f.write_text(json.dumps(replay))
        rejected = BatchApplier(ingest).apply(
            spark.read.schema(ENVELOPE_SCHEMA).json(str(f))
        )
        assert [reason.split(":")[0] for _, reason in rejected] == [
            f"bad nonce for {ADDR}"
        ]
        assert store.current_state(db, "c").count() == 1
        assert store.state.nonce_of(ADDR) == 3

    def test_block_owner_key_matches_state_normalization(self, spark):
        """The block applier's Spark-side owner key spells every account
        the way ``state.normalize_addr`` keys its nonces."""
        from rtstore_spark.store.batch_apply import _normalized_addr
        from rtstore_spark.store.state import normalize_addr

        hexpart = ADDR[2:]
        cases = [
            ADDR, "0x" + hexpart.upper(), "0X" + hexpart.upper(),
            ADDR + "\n", ADDR[:-1], "0x" + "g" * 40, "alice",
            "0x" + hexpart[:20] + " " + hexpart[21:],
            "0x" + "٣" * 40,  # non-ASCII digits are not hex
        ]
        df = spark.createDataFrame([(c,) for c in cases], "s string")
        got = [r[0] for r in df.select(_normalized_addr(df["s"])).collect()]
        assert got == [normalize_addr(c) for c in cases]

    def test_ingest_eip712_mode(self, spark, tmp_path):
        """Full SendMutation with a real EIP-712 signature."""
        from rtstore_spark.store.docstore import DocStore
        from rtstore_spark.store.ingest import Ingest

        store = DocStore(spark, str(tmp_path / "w"))
        ingest = Ingest(store, sig_mode="eip712")

        def send(payload: dict, nonce: int):
            text = json.dumps(payload, sort_keys=True)
            sig = "0x" + sign(mutation_signing_hash(text, nonce), PRIV).hex()
            return ingest.send_mutation(payload, sig, ADDR, nonce)

        resp = send({"action": "create_database", "body": {"desc": "d"}}, 1)
        db = next(i["value"] for i in resp["items"] if i["key"] == "db_addr")
        send({"action": "add_collection", "db_addr": db, "col_name": "c",
              "body": {"indexes": []}}, 2)
        resp = send({"action": "add_document", "db_addr": db, "col_name": "c",
                     "body": {"docs": ['{"k": 1}']}}, 3)
        assert any(i["key"] == "document" for i in resp["items"])
        # a digest-style signature is rejected in eip712 mode
        with pytest.raises(InvalidMutation):
            ingest.send_mutation(
                {"action": "create_database", "body": {}}, "ff" * 32, ADDR, 4
            )
