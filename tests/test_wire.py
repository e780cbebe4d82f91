"""Wire-format codecs: protobuf, BSON, mutation schemas, EIP-712 envelope.

The golden fixture throughout is the reference node's own checked-in
rollup artifact (src/node/resources/test/37829_37968.gz.parquet) — real
prost-serialized Mutations inside real client-signed TypedData envelopes.
No Spark session needed here; the distributed path is tests/test_wire_import.py.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from rtstore_spark.wire.bsonlite import BsonError, bson_decode, bson_encode
from rtstore_spark.wire.envelope import (
    mutation_tx_id,
    unwrap_and_verify,
    wrap_and_sign,
)
from rtstore_spark.wire.protobuf import Field, Schema, WireDecodeError
from rtstore_spark.wire.schemas import decode_mutation, encode_mutation
from rtstore_spark.wire.translate import (
    body_to_ingest_payload,
    masks_to_patches,
    wire_indexes,
)

ARTIFACT = "/root/reference/src/node/resources/test/37829_37968.gz.parquet"


def artifact_rows(limit: int | None = None):
    if not os.path.exists(ARTIFACT):
        pytest.skip("reference artifact not present")
    q = (
        f"select payload, signature, block, \"order\" from '{ARTIFACT}' "
        'order by block, "order"'
    )
    if limit:
        q += f" limit {limit}"
    return duckdb.sql(q).fetchall()


# --------------------------------------------------------------- protobuf

NESTED = Schema("Nested", (
    Field(1, "s", "string"),
    Field(2, "n", "int64"),
))

EVERY = Schema("Every", (
    Field(1, "u64", "uint64"),
    Field(2, "i64", "int64"),
    Field(3, "flag", "bool"),
    Field(4, "name", "string"),
    Field(5, "blob", "bytes"),
    Field(6, "packed", "int64", repeated=True),
    Field(7, "strs", "string", repeated=True),
    Field(8, "subs", "message", message=NESTED, repeated=True),
    Field(9, "one_a", "string", oneof="pick"),
    Field(10, "one_b", "message", message=NESTED, oneof="pick"),
    Field(11, "d", "double"),
    Field(12, "u32", "uint32"),
))


class TestProtobufCodec:
    def test_round_trip_kitchen_sink(self):
        msg = {
            "u64": (1 << 63) + 5,
            "i64": -17,
            "flag": True,
            "name": "héllo",
            "blob": b"\x00\xffraw",
            "packed": [0, 1, -2, 1 << 40],
            "strs": ["a", "", "b"],
            "subs": [{"s": "x", "n": 1}, {}],
            "one_b": {"s": "y", "n": -1},
            "d": 2.5,
            "u32": 4294967295,
        }
        assert EVERY.decode(EVERY.encode(msg)) == msg

    def test_defaults_are_skipped_and_recoded_identically(self):
        # proto3 implicit presence: zero scalars produce no bytes
        assert EVERY.encode({"u64": 0, "flag": False, "name": "", "blob": b""}) == b""

    def test_negative_int64_ten_byte_varint(self):
        raw = EVERY.encode({"i64": -1})
        # field 2, varint of 2^64-1 → 1 tag byte + 10 payload bytes
        assert len(raw) == 11
        assert EVERY.decode(raw)["i64"] == -1

    def test_unknown_field_raises(self):
        raw = NESTED.encode({"s": "x"})
        with pytest.raises(WireDecodeError, match="unknown field"):
            Schema("Tiny", (Field(2, "n", "int64"),)).decode(raw)

    def test_wrong_wire_type_raises(self):
        # field 1 as varint, but schema says string
        with pytest.raises(WireDecodeError, match="wire type"):
            NESTED.decode(b"\x08\x01")

    def test_truncation_raises(self):
        raw = EVERY.encode({"name": "abcdef"})
        with pytest.raises(WireDecodeError):
            EVERY.decode(raw[:-2])
        with pytest.raises(WireDecodeError, match="varint"):
            EVERY.decode(b"\x80\x80\x80")

    def test_oneof_double_set_rejected_on_encode(self):
        with pytest.raises(ValueError, match="oneof"):
            EVERY.encode({"one_a": "x", "one_b": {}})

    def test_oneof_zero_values_serialize(self):
        # oneof members have EXPLICIT presence: a set member encodes even
        # at its zero value (protobuf-ts/prost emit the field) — otherwise
        # int64_value=0 / str_value="" silently loses its oneof case
        raw = EVERY.encode({"one_a": ""})
        assert raw != b""
        assert EVERY.decode(raw) == {"one_a": ""}
        from rtstore_spark.wire.rpc_schemas import QUERY_PARAMETER

        for msg in ({"int64_value": 0}, {"bool_value": False}, {"str_value": ""}):
            assert QUERY_PARAMETER.decode(QUERY_PARAMETER.encode(msg)) == msg

    def test_unpacked_repeated_scalars_accepted(self):
        # two separate varint occurrences of field 6 (pre-packing form)
        raw = b"\x30\x05\x30\x07"
        assert EVERY.decode(raw)["packed"] == [5, 7]

    @given(
        st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=8),
        st.text(max_size=20),
        st.binary(max_size=20),
        st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_round_trip_property(self, packed, name, blob, flag):
        msg = {}
        if packed:
            msg["packed"] = packed
        if name:
            msg["name"] = name
        if blob:
            msg["blob"] = blob
        if flag:
            msg["flag"] = flag
        assert EVERY.decode(EVERY.encode(msg)) == msg


# ------------------------------------------------------------------- BSON

json_values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=30),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(
            st.text(max_size=8).filter(lambda s: "\x00" not in s),
            children, max_size=4,
        ),
    ),
    max_leaves=12,
)


class TestBson:
    def test_known_bytes(self):
        # {"a": "b"} per the BSON spec worked example
        raw = b"\x0e\x00\x00\x00\x02a\x00\x02\x00\x00\x00b\x00\x00"
        assert bson_decode(raw) == {"a": "b"}
        assert bson_encode({"a": "b"}) == raw

    def test_types_round_trip(self):
        doc = {
            "s": "str", "i": 5, "big": 1 << 40, "f": 1.25, "t": True,
            "n": None, "sub": {"x": 1}, "arr": [1, "two", None],
            "bin": b"\x01\x02",
        }
        assert bson_decode(bson_encode(doc)) == doc

    def test_bad_length_header(self):
        raw = bytearray(bson_encode({"a": 1}))
        raw[0] += 1
        with pytest.raises(BsonError, match="length"):
            bson_decode(bytes(raw))

    def test_unknown_element_type(self):
        raw = b"\x0b\x00\x00\x00\x7fk\x00\x00\x00\x00\x00"
        with pytest.raises(BsonError, match="unsupported"):
            bson_decode(raw)

    def test_int_width_selection(self):
        small = bson_encode({"v": 1})
        large = bson_encode({"v": 1 << 40})
        assert small[4] == 0x10 and large[4] == 0x12

    @given(st.dictionaries(
        st.text(min_size=1, max_size=8).filter(lambda s: "\x00" not in s),
        json_values, max_size=5,
    ))
    @settings(max_examples=60, deadline=None)
    def test_round_trip_property(self, doc):
        assert bson_decode(bson_encode(doc)) == doc


# ------------------------------------------------------- mutation schemas


class TestMutationSchemas:
    def _body(self, docs=None, ids=None):
        return {
            "db_address": "0x" + "ab" * 20,
            "kind": "document_mutation",
            "body": {
                "collection_name": "col",
                "documents": docs or [bson_encode({"k": "v"})],
                **({"ids": ids} if ids else {}),
            },
        }

    def test_v2_round_trip(self):
        raw = encode_mutation("AddDocument", [self._body(ids=[3, 4])])
        dec = decode_mutation(raw, layout="v2")
        assert dec["action"] == "AddDocument" and dec["layout"] == "v2"
        assert dec["bodies"][0]["body"]["ids"] == [3, 4]

    def test_legacy_round_trip(self):
        raw = encode_mutation("AddDocument", [self._body()], layout="legacy")
        dec = decode_mutation(raw)  # auto
        assert dec["layout"] == "legacy"
        assert dec["bodies"][0]["db_address"] == "0x" + "ab" * 20

    def test_auto_disambiguates_create(self):
        # a legacy CreateDocumentDB parses cleanly under v2 too (field 4 =
        # event_database_mutation) — the action↔body consistency check is
        # what rejects that reading
        raw = encode_mutation(
            "CreateDocumentDB",
            [{"db_address": None, "kind": "doc_database_mutation",
              "body": {"db_desc": "desc"}}],
            layout="legacy",
        )
        dec = decode_mutation(raw)
        assert dec["layout"] == "legacy"
        assert dec["bodies"][0]["kind"] == "doc_database_mutation"

    def test_action_body_mismatch_rejected(self):
        raw = encode_mutation("AddDocument", [self._body()])
        # same bytes claimed as AddCollection: action 1 + document body
        tampered = bytes([raw[0], 1]) + raw[2:]
        with pytest.raises(WireDecodeError, match="paired with body"):
            decode_mutation(tampered)

    def test_bad_address_length_rejected(self):
        b = self._body()
        b["db_address"] = "0x" + "ab" * 19
        raw = encode_mutation("AddDocument", [b])
        with pytest.raises(WireDecodeError, match="expected 20"):
            decode_mutation(raw)

    def test_empty_body_kind(self):
        raw = encode_mutation(
            "DeleteEventDB",
            [{"db_address": "0x" + "cd" * 20,
              "kind": "delete_event_database_mutation", "body": {}}],
        )
        dec = decode_mutation(raw)
        assert dec["bodies"][0]["body"] == {}


# ------------------------------------------------------------- translate


class TestTranslate:
    def test_masks_to_patches_deletes_absent_fields(self):
        patches = masks_to_patches(
            [{"a": 1}], [{"fields": ["a", "gone"]}]
        )
        assert json.loads(patches[0]) == {"a": 1, "gone": None}

    def test_no_mask_uses_doc_as_patch(self):
        patches = masks_to_patches([{"a": 1, "b": 2}], [])
        assert json.loads(patches[0]) == {"a": 1, "b": 2}

    def test_wire_indexes_enum_names(self):
        idx = wire_indexes([
            {"path": "/k", "index_type": 2}, {"path": "/s", "index_type": 1},
            {"path": "/u"},  # absent enum = proto3 default 0 = UniqueKey
        ])
        assert idx == [
            {"path": "/k", "type": "int64"}, {"path": "/s", "type": "string"},
            {"path": "/u", "type": "unique"},
        ]

    def test_ingest_payload_add_document(self):
        raw = encode_mutation("AddDocument", [{
            "db_address": "0x" + "ab" * 20, "kind": "document_mutation",
            "body": {"collection_name": "c",
                     "documents": [bson_encode({"x": 1})]},
        }])
        dec = decode_mutation(raw)
        p = body_to_ingest_payload(dec["action"], dec["bodies"][0])
        assert p["action"] == "add_document" and p["col_name"] == "c"
        assert json.loads(p["body"]["docs"][0]) == {"x": 1}

    def test_control_actions_not_live_translatable(self):
        with pytest.raises(ValueError, match="no live-ingest"):
            body_to_ingest_payload("AddIndex", {
                "db_address": None, "kind": "add_index_mutation",
                "body": {"collection_name": "c", "index_fields": []},
            })


# -------------------------------------------------------------- envelope


class TestEnvelope:
    PRIV = 0x59C6995E998F97A5A0044966F0945389DC9E86DAE88C7A8412F4603B6B78690D

    def test_wrap_unwrap_round_trip(self):
        raw = encode_mutation("CreateDocumentDB", [{
            "db_address": None, "kind": "doc_database_mutation",
            "body": {"db_desc": "d"},
        }])
        payload, sig = wrap_and_sign(raw, 7, self.PRIV)
        wm = unwrap_and_verify(payload, sig)
        from rtstore_spark.crypto.secp256k1 import priv_to_address

        assert wm.sender.lower() == priv_to_address(self.PRIV).lower()
        assert wm.nonce == 7 and wm.action == "CreateDocumentDB"
        assert wm.mutation_id == mutation_tx_id(payload, sig)

    def test_tampered_nonce_changes_recovered_signer(self):
        raw = encode_mutation("CreateDocumentDB", [{
            "db_address": None, "kind": "doc_database_mutation", "body": {},
        }])
        payload, sig = wrap_and_sign(raw, 7, self.PRIV)
        env = json.loads(payload)
        env["message"]["nonce"] = "8"
        wm = unwrap_and_verify(json.dumps(env).encode(), sig)
        from rtstore_spark.crypto.secp256k1 import priv_to_address

        assert wm.sender.lower() != priv_to_address(self.PRIV).lower()

    def test_malformed_envelope_raises(self):
        with pytest.raises(WireDecodeError, match="typed data"):
            unwrap_and_verify(b"not json", "0x00")
        with pytest.raises(WireDecodeError, match="payload"):
            unwrap_and_verify(b'{"message": {"nonce": "1"}}', "0x00")
        with pytest.raises(WireDecodeError, match="nonce"):
            unwrap_and_verify(b'{"message": {"payload": "0x"}}', "0x00")


# ---------------------------------------------------------------- golden


class TestReferenceArtifactGolden:
    """The strongest parity evidence: the reference node's own bytes."""

    def test_all_rows_verify_decode_and_reencode_byte_identical(self):
        sender = "0x2941662b9b76687083caade2eeadeff01eef446c"
        n = 0
        for p, sig, _blk, _order in artifact_rows():
            wm = unwrap_and_verify(bytes(p), sig)
            assert wm.sender == sender  # real secp256k1 recovery
            assert wm.layout == "legacy"
            raw = bytes.fromhex(wm.payload_hex[2:])
            # decode → encode under the same layout reproduces prost's
            # exact bytes (field order, default skipping, packing)
            re = encode_mutation(
                wm.action,
                [dict(b) for b in wm.bodies],
                layout="legacy",
            )
            assert re == raw
            n += 1
        assert n == 204

    def test_artifact_documents_decode_as_bson(self):
        p, sig, _, _ = artifact_rows(limit=1)[0]
        wm = unwrap_and_verify(bytes(p), sig)
        assert wm.action == "AddDocument"
        doc = bson_decode(wm.bodies[0]["body"]["documents"][0])
        assert doc["name"] == "book1"
        assert doc["author"] == "db3 developers"

    def test_artifact_nonces_strictly_increase(self):
        nonces = []
        for p, sig, _, _ in artifact_rows():
            wm = unwrap_and_verify(bytes(p), sig, verify=False)
            nonces.append(wm.nonce)
        assert nonces == sorted(nonces)
        assert len(set(nonces)) == len(nonces)
