"""Sequencer state: block/order counters, per-database doc-id high-water
marks, and per-sender nonces.

The reference keeps this in libmdbx (state_store.rs:28-80) on the single
rollup node that sequences all writes; replicas replay deterministically from
the mutation log. We mirror that single-sequencer design with a JSON state
file updated by a single-object atomic overwrite (store/fs.py — works on
POSIX, HDFS and S3 alike) — the *data* goes through Spark, the sequencer
bookkeeping (a few counters) does not need a distributed store. Recovery
follows the reference's priority: persisted state, else rebuild from the
mutation log / collection tables (db_store_v2.rs:197-294).
"""

from __future__ import annotations

import json
import os
import string
import threading

from rtstore_spark.errors import BadNonce


def normalize_addr(sender: str) -> str:
    """Canonical form for an account identifier used as a state key.

    EIP-55 checksummed addresses are the SAME account as their lowercase
    form — a stock SDK signs with a mixed-case address while signature
    recovery yields lowercase, so every nonce/owner lookup must agree on
    one spelling. 0x followed by exactly 40 hex digits folds to lowercase;
    anything else (tests use human-readable ids) passes through untouched.
    The block applier's ``batch_apply._normalized_addr`` is the same rule
    as a Spark expression.
    """
    if (
        isinstance(sender, str)
        and sender.startswith(("0x", "0X"))
        and len(sender) == 42
        and all(c in string.hexdigits for c in sender[2:])
    ):
        return "0x" + sender[2:].lower()
    return sender


class StateStore:
    """Thread-safe: every read-modify-write below runs under ``self.lock``
    (the reference holds its block-state mutex at exactly these points —
    mutation_store.rs:596-606). The lock is REENTRANT and public so the
    write path (``Ingest.send_mutation``, ``DocStore`` mutations) can hold
    it across a multi-step verify → nonce → id-assignment → sequence span:
    per-method atomicity alone would let two concurrent mutations
    interleave between the nonce check and the order assignment."""

    def __init__(self, root: str, fs=None):
        from rtstore_spark.store.fs import LocalFS

        self.fs = fs or LocalFS()
        self.path = os.path.join(root, "__state.json")
        self.lock = threading.RLock()
        self._state = {"block": 0, "order": 0, "doc_counters": {}, "nonces": {}}
        txt = self.fs.read_text(self.path)
        if txt is not None:
            self._state = json.loads(txt)

    def _flush(self) -> None:
        # single small-object overwrite — atomic on POSIX (temp + replace),
        # HDFS (create-overwrite) and S3 (PUT) alike; see store/fs.py
        self.fs.write_text_atomic(self.path, json.dumps(self._state))

    # -- (block, order) sequencing: mutation_store.rs:444-481 --

    def next_block(self) -> int:
        """Close the current block (the reference's timer tick)."""
        with self.lock:
            self._state["block"] += 1
            self._state["order"] = 0
            self._flush()
            return self._state["block"]

    def next_order(self) -> tuple[int, int]:
        """Assign (block, order) to one mutation within the current block."""
        with self.lock:
            self._state["order"] += 1
            self._flush()
            return self._state["block"], self._state["order"]

    @property
    def block(self) -> int:
        return self._state["block"]

    @property
    def order(self) -> int:
        return self._state["order"]

    def nonce_of(self, sender: str) -> int:
        """Last consumed nonce for a sender (0 = none yet). Normalizes the
        key here — the SHARED layer — so no caller can reintroduce the
        checksummed-vs-lowercase split-account bug."""
        return self._state["nonces"].get(normalize_addr(sender), 0)

    def observe_seq(self, block: int, order: int) -> None:
        """Replay path: adopt the origin's (block, order) as our position."""
        with self.lock:
            if (block, order) >= (self._state["block"], self._state["order"]):
                self._state["block"], self._state["order"] = block, order
                self._flush()

    # -- per-database sequential doc ids: db_store_v2.rs:358-398 --

    def take_doc_ids(self, db_addr: str, n: int, start_id: int = 1) -> list[int]:
        with self.lock:
            cur = self._state["doc_counters"].get(db_addr, start_id - 1)
            ids = list(range(cur + 1, cur + 1 + n))
            self._state["doc_counters"][db_addr] = cur + n
            self._flush()
            return ids

    def reserve_doc_ids(self, db_addr: str, n: int, start_id: int = 1) -> int:
        """Reserve a contiguous id range [first, first+n) and return ``first``.

        The range form of take_doc_ids: batch ingest assigns ids to exploded
        document rows distributedly (base + row_number), so the driver only
        ever holds the base — never a list of O(batch) ids."""
        with self.lock:
            cur = self._state["doc_counters"].get(db_addr, start_id - 1)
            self._state["doc_counters"][db_addr] = cur + n
            self._flush()
            return cur + 1

    def doc_counter(self, db_addr: str) -> int:
        """Highest doc id assigned in a database (0 = none yet)."""
        with self.lock:
            return self._state["doc_counters"].get(db_addr, 0)

    def advance_doc_counters(self, maxima: dict[str, int]) -> None:
        """Raise each database's counter to at least the given doc id
        (ids assigned elsewhere: a replayed log, an import); at most one
        flush."""
        self._advance("doc_counters", maxima.items())

    # -- nonce replay guard: state_store.rs:171+, 'bad nonce' --

    def nonces(self) -> dict[str, int]:
        """A copy of every account's last consumed nonce."""
        with self.lock:
            return dict(self._state["nonces"])

    def advance_nonces(self, maxima: dict[str, int]) -> None:
        """Raise each account's last consumed nonce to at least the given
        value (nonces consumed set-wise by a block or a replay); at most
        one flush."""
        self._advance(
            "nonces", ((normalize_addr(k), v) for k, v in maxima.items())
        )

    def _advance(self, table: str, items) -> None:
        with self.lock:
            cur = self._state[table]
            raised = False
            for key, value in items:
                if value is not None and int(value) > cur.get(key, 0):
                    cur[key] = int(value)
                    raised = True
            if raised:
                self._flush()

    def incr_nonce(self, sender: str, nonce: int) -> None:
        sender = normalize_addr(sender)
        with self.lock:
            last = self._state["nonces"].get(sender, 0)
            if nonce <= last:
                raise BadNonce(f"bad nonce for {sender}: {nonce} <= {last}")
            self._state["nonces"][sender] = nonce
            self._flush()
