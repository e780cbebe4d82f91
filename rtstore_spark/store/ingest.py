"""SendMutation-style ingest: verify → nonce-guard → sequence → apply → log.

Mirrors the reference's write path (storage_node_light_impl.rs:613-698):
the client signs ``{payload, nonce}`` as EIP-712 typed data; the node
recovers the signer address, enforces a strictly-increasing nonce, assigns
(block, order), applies the mutation, and responds with the assigned ids.

Signature backends:
- ``eip712``: real secp256k1 recovery via ``eth_account`` — used when the
  library is installed (it is not in this container, so this path is gated
  behind an import-try, matching the environment contract).
- ``digest`` (default fallback): deterministic stand-in — the signature must
  equal sha3_256(payload ‖ nonce ‖ sender). Keeps the full verify/reject
  control flow testable without the crypto dependency; NOT authentication.
- ``none``: trust mode, skip verification.
"""

from __future__ import annotations

import hashlib
import json

from rtstore_spark.errors import InvalidMutation
from rtstore_spark.store.docstore import DocStore

try:  # pragma: no cover - not installed in the build container
    from eth_account import Account
    from eth_account.messages import encode_typed_data

    _HAS_ETH = True
except ImportError:
    _HAS_ETH = False


def digest_signature(payload: str, nonce: int, sender: str) -> str:
    """The dev-mode signature: sha3_256(payload ‖ nonce ‖ sender)."""
    return hashlib.sha3_256(f"{payload}|{nonce}|{sender}".encode()).hexdigest()


def verify_signature(
    payload: str, nonce: int, sender: str, signature: str, mode: str = "digest"
) -> None:
    if mode == "none":
        return
    if mode == "eip712":
        # The SDK signs {payload: bytes, nonce: string} typed data with an
        # EMPTY domain (db3_account.ts:104-121); the node recovers the
        # address (mutation_utils.rs:60-91). Recovery runs on the built-in
        # pure-Python secp256k1 path; when eth_account is installed its
        # battle-tested implementation is used instead (same typed data).
        if _HAS_ETH:  # pragma: no cover - not installed in this container
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
                "message": {"payload": payload.encode(), "nonce": str(nonce)},
            }
            try:
                recovered = Account.recover_message(
                    encode_typed_data(full_message=typed), signature=signature
                )
            except Exception as e:  # noqa: BLE001 — eth_keys raises its own
                # exception types; both backends must reject malformed
                # signatures with the SAME error contract (InvalidMutation),
                # not an environment-dependent raw crash
                raise InvalidMutation(f"malformed signature: {e}") from e
        else:
            from rtstore_spark.crypto.eip712 import recover_mutation_signer

            try:
                recovered = recover_mutation_signer(payload, nonce, signature)
            except (ValueError, AssertionError) as e:
                raise InvalidMutation(f"malformed signature: {e}") from e
        if recovered.lower() != sender.lower():
            raise InvalidMutation(f"signature recovers {recovered}, not {sender}")
        return
    if mode == "digest":
        if signature != digest_signature(payload, nonce, sender):
            raise InvalidMutation("bad signature")
        return
    raise InvalidMutation(f"unknown signature mode {mode!r}")


class Ingest:
    """The storage-node role: accepts signed mutations, returns assignments."""

    def __init__(self, store: DocStore, sig_mode: str = "digest"):
        self.store = store
        self.sig_mode = sig_mode

    def send_mutation(
        self, payload: dict, signature: str, sender: str, nonce: int
    ) -> dict:
        """Apply one signed mutation; returns
        ``{id, items, block, order}`` like SendMutationResponse
        (storage_node_light_impl.rs:655-687).

        ``payload`` = {"action": ..., "db_addr"?: ..., "col_name"?: ...,
        "body": {...}} — the JSON stand-in for the protobuf Mutation.
        """
        body_text = json.dumps(payload, sort_keys=True)
        verify_signature(body_text, nonce, sender, signature, self.sig_mode)
        # state keys (nonces, owners) use ONE spelling per account: a
        # checksummed sender and its lowercase recovery are the same key
        from rtstore_spark.store.state import normalize_addr

        sender = normalize_addr(sender)
        # mutation id = sha3(payload ‖ sig) (id.rs:78-86) — computed up front
        # and threaded into the log so the returned id is the logged id.
        tx_id = hashlib.sha3_256(f"{body_text}|{signature}".encode()).hexdigest()

        # Sequencing span: nonce guard → doc-id assignment → (block, order)
        # → log append → response read must be ATOMIC per mutation. The
        # service front end (NodeServer) handles requests on concurrent
        # threads; without this span two simultaneous SendMutations could
        # interleave between the nonce check and the order assignment —
        # duplicate doc ids, colliding (block, order) keys (which break
        # merge-on-read and update-chain folding), or a replayed nonce
        # slipping through. The reference holds its block-state mutex at
        # exactly this point (mutation_store.rs:596-606); like its single
        # sequencer, mutations are applied one at a time — reads and
        # queries stay fully concurrent.
        with self.store.state.lock:
            return self._apply(payload, sender, nonce, tx_id)

    def _apply(self, payload: dict, sender: str, nonce: int, tx_id: str) -> dict:
        action = payload.get("action")
        body = payload.get("body") or {}
        store = self.store
        items: list[dict] = []

        def need(obj, key, where):
            # a well-signed but incomplete payload is a per-mutation
            # InvalidMutation (the node's reject contract), never a raw
            # KeyError escaping the response path
            try:
                return obj[key]
            except (KeyError, TypeError):
                raise InvalidMutation(f"payload missing {where}.{key}")

        if action == "create_database":
            addr = store.create_database(
                sender, nonce, desc=body.get("desc", ""),
                db_type=body.get("db_type", "doc"), meta=body.get("meta"),
                mid=tx_id,
            )
            items.append({"key": "db_addr", "value": addr})
        elif action == "add_collection":
            store.create_collection(
                need(payload, "db_addr", "payload"), need(payload, "col_name", "payload"),
                body.get("indexes", []), sender, nonce=nonce, mid=tx_id,
            )
            items.append({"key": "collection", "value": payload["col_name"]})
        elif action == "add_document":
            ids = store.add_docs(
                need(payload, "db_addr", "payload"), need(payload, "col_name", "payload"),
                need(body, "docs", "body"), sender,
                nonce=nonce, mid=tx_id,
            )
            items += [{"key": "document", "value": str(i)} for i in ids]
        elif action == "update_document":
            store.update_docs(
                need(payload, "db_addr", "payload"), need(payload, "col_name", "payload"),
                need(body, "ids", "body"), need(body, "patches", "body"),
                sender, nonce=nonce, mid=tx_id,
            )
        elif action == "delete_document":
            store.delete_docs(
                need(payload, "db_addr", "payload"), need(payload, "col_name", "payload"),
                need(body, "ids", "body"), sender,
                nonce=nonce, mid=tx_id,
            )
        else:
            raise InvalidMutation(f"unknown action {action!r}")

        block, order = store.state.block, store.state.order
        return {"id": tx_id, "items": items, "block": block, "order": order}

    def send_wire_mutation(self, payload: bytes | str, signature: str) -> dict:
        """Apply one REFERENCE-FORMAT signed mutation.

        ``payload`` is the EIP-712 TypedData JSON envelope the reference
        SDK produces (hex protobuf Mutation + nonce string inside,
        db3_account.ts:104-121), ``signature`` its 65-byte r‖s‖v hex.
        This is the node's own unwrap path (mutation_utils.rs:92-140):
        recover the signer from the typed data — there is no separate
        ``sender`` parameter to trust — then decode protobuf + BSON and
        dispatch. The returned ``id`` is the reference's TxId form,
        sha3_256(payload ‖ signature) (id.rs:77-85).

        One body per mutation (the SDK's shape); multi-body envelopes are
        rejected here — the batch import path (sources/wire_import.py)
        handles them.
        """
        from rtstore_spark.wire.envelope import unwrap_and_verify
        from rtstore_spark.wire.protobuf import WireDecodeError
        from rtstore_spark.wire.translate import body_to_ingest_payload

        try:
            wm = unwrap_and_verify(payload, signature, verify=True)
        except WireDecodeError as e:
            raise InvalidMutation(str(e)) from e
        if len(wm.bodies) != 1:
            raise InvalidMutation(
                f"wire mutation carries {len(wm.bodies)} bodies, expected 1"
            )
        try:
            ingest_payload = body_to_ingest_payload(wm.action, wm.bodies[0])
        except ValueError as e:
            raise InvalidMutation(str(e)) from e
        with self.store.state.lock:
            out = self._apply(ingest_payload, wm.sender, wm.nonce, wm.mutation_id)
            # keep the ORIGINAL envelope bytes so the rollup export can
            # emit this mutation exactly as the client signed it (the
            # reference persists payload+signature verbatim,
            # ar_toolbox.rs:83-127). Written inside the lock: the ack
            # follows the write, and close_block's sweep (same lock)
            # never rewrites the archive under it
            raw = payload if isinstance(payload, bytes) else payload.encode("utf-8")
            self.store.archive_wire_envelope(
                wm.mutation_id, raw, signature, out["block"], out["order"]
            )
        out["sender"] = wm.sender
        return out

    def get_nonce(self, sender: str) -> int:
        """GetNonce: the next valid nonce for a sender (nonce_of
        normalizes checksummed addresses itself)."""
        return self.store.state.nonce_of(sender) + 1
