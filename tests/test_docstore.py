"""Document-store tests mirroring the reference's acceptance suite:
db_store_v2.rs:1454-1924 (bootstrap/collection/doc flows), doc_store.rs:315-488
(CRUD + query + merge-patch), client_v2.test.ts:185-712 (CRUD, ownership
negatives, index add), and the doc-id replay contract
(mutation_utils.rs:181-233).
"""

from __future__ import annotations

import json
import os

import pytest

from rtstore_spark.errors import (
    BadNonce,
    CollectionAlreadyExists,
    CollectionNotFound,
    DatabaseNotFound,
    IndexAlreadyExists,
    InvalidMutation,
    OwnerVerifyFailed,
)
from rtstore_spark.functions.merge_patch import merge_patch
from rtstore_spark.store import DocStore
from rtstore_spark.store.docstore import (
    DOC_SCHEMA,
    LOG_SCHEMA,
    WIRE_ARCHIVE_SCHEMA,
    derive_db_addr,
)

ALICE = "0x" + "aa" * 20
BOB = "0x" + "bb" * 20


@pytest.fixture()
def store(spark, tmp_path):
    return DocStore(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def db_col(store):
    db = store.create_database(ALICE, nonce=1, desc="desc")
    store.create_collection(db, "col1", [{"path": "/city", "type": "string"}], ALICE)
    return db, "col1"


class TestCatalog:
    def test_create_database_deterministic_addr(self, store):
        db = store.create_database(ALICE, nonce=1)
        assert db.startswith("0x") and len(db) == 42
        # same (sender, nonce, network) would derive the same address
        from rtstore_spark.store.docstore import derive_db_addr

        assert db == derive_db_addr(ALICE, 1, 1)

    def test_collection_lifecycle(self, store, db_col):
        db, col = db_col
        cols = store.collections(db).collect()
        assert [c["col_name"] for c in cols] == ["col1"]
        with pytest.raises(CollectionAlreadyExists):
            store.create_collection(db, "col1", [], ALICE)
        with pytest.raises(DatabaseNotFound):
            store.create_collection("0x" + "00" * 20, "colx", [], ALICE)
        with pytest.raises(InvalidMutation):
            store.create_collection(db, "x" * 21, [], ALICE)  # name cap = 20

    def test_databases_of_owner(self, store):
        store.create_database(ALICE, nonce=1)
        store.create_database(ALICE, nonce=2)
        store.create_database(BOB, nonce=1)
        assert store.databases_of_owner(ALICE).count() == 2
        assert store.databases_of_owner(BOB).count() == 1

    def test_add_index_and_collision(self, store, db_col):
        db, col = db_col
        store.add_index(db, col, [{"path": "/age", "type": "int64"}], ALICE)
        row = store.collections(db).collect()[0]
        paths = {i["path"] for i in json.loads(row["index_fields"])}
        assert paths == {"/city", "/age"}
        # collision on existing path rejected — db_store_v2.rs:1108-1147
        with pytest.raises(IndexAlreadyExists):
            store.add_index(db, col, [{"path": "/city", "type": "string"}], ALICE)
        # collection-owner-only — client_v2.test.ts:277-344
        with pytest.raises(OwnerVerifyFailed):
            store.add_index(db, col, [{"path": "/zz", "type": "string"}], BOB)

    def test_nonce_guard(self, store):
        store.create_database(ALICE, nonce=5)
        with pytest.raises(BadNonce):
            store.create_database(ALICE, nonce=5)
        with pytest.raises(BadNonce):
            store.create_database(ALICE, nonce=4)
        store.create_database(ALICE, nonce=6)  # strictly increasing ok


class TestDocumentCRUD:
    def test_add_docs_sequential_ids(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"city": "beijing"}', '{"city": "x"}'], ALICE)
        assert ids == [1, 2]
        ids2 = store.add_docs(db, col, ['{"city": "y"}'], ALICE)
        assert ids2 == [3]

    def test_get_doc(self, store, db_col):
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"city": "beijing"}'], ALICE)
        row = store.get_doc(db, col, i)
        assert json.loads(row["doc"]) == {"city": "beijing"}
        assert row["owner"] == ALICE
        assert store.get_doc(db, col, 999) is None

    def test_query_docs_with_count(self, store, db_col):
        db, col = db_col
        store.add_docs(db, col, ['{"city": "beijing", "age": 10}'], ALICE)
        store.add_docs(db, col, ['{"city": "beijing2", "age": 20}'], ALICE)
        out, count = store.query_docs(db, col, "/[city = beijing]")
        assert count == 1
        assert json.loads(out.collect()[0]["doc"])["city"] == "beijing"
        # count reflects matched set pre-limit (doc_store.rs:208-213)
        out2, count2 = store.query_docs(db, col, "/* | limit 1")
        rows = out2.collect()
        assert count2 == 2 and len(rows) == 1
        # newest-first: limit 1 yields the LAST insert (client_v2.test.ts:213-239)
        assert json.loads(rows[0]["doc"])["city"] == "beijing2"

    def test_point_get_prunes_doc_buckets(self, spark, tmp_path, monkeypatch):
        """S6 point gets must prune partition directories via doc_bucket —
        the directory-level analog of the reference's /doc/‖db‖id key
        layout (db_doc_key_v2.rs:24-40). A flat directory would scan every
        file of the collection for one id."""
        import rtstore_spark.store.docstore as ds

        monkeypatch.setattr(ds, "DOC_IDS_PER_BUCKET", 10)
        store = DocStore(spark, str(tmp_path / "wbuck"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        ids = store.add_docs(
            db, "c", [json.dumps({"v": i}) for i in range(35)], ALICE
        )
        import os

        buckets = sorted(
            d for d in os.listdir(store._data_path(db, "c"))
            if d.startswith("doc_bucket=")
        )
        assert len(buckets) == 4  # 35 docs / 10 per bucket

        target = ids[25]
        state = store.current_state(db, "c", doc_ids=[target])
        plan = state._jdf.queryExecution().executedPlan().toString()
        assert "doc_bucket" in plan.split("PartitionFilters")[1].split("]")[0]
        row = store.get_doc(db, "c", target)
        assert json.loads(row["doc"]) == {"v": 25}

        # compaction preserves the bucket layout and the pruned plan
        store.compact(db, "c")
        buckets = sorted(
            d for d in os.listdir(store._data_path(db, "c"))
            if d.startswith("doc_bucket=")
        )
        assert len(buckets) == 4
        row = store.get_doc(db, "c", target)
        assert json.loads(row["doc"]) == {"v": 25}

    def test_mixed_flat_and_bucketed_layout_reads_both(self, spark, tmp_path):
        """A collection written by the pre-bucketing code (flat root
        parquet files) must keep its documents visible after the bucketed
        writers append: Spark's partition discovery silently drops
        root-level files once doc_bucket= directories exist, so the reader
        unions the legacy files explicitly."""
        from pyspark.sql import functions as F

        from rtstore_spark.store.docstore import DOC_SCHEMA

        store = DocStore(spark, str(tmp_path / "wmix"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        # legacy flat-layout row, as the pre-bucketing writer laid it out
        legacy = [{"doc_id": 7, "owner": ALICE, "doc": '{"v": "legacy"}',
                   "op": "A", "block": 0, "order": 1}]
        spark.createDataFrame(legacy, schema=DOC_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(store._data_path(db, "c"))
        store.state.observe_doc_ids(db, [7])
        # bucketed append via the current writer
        (new_id,) = store.add_docs(db, "c", ['{"v": "new"}'], ALICE)

        state = {r["doc_id"]: json.loads(r["doc"])["v"]
                 for r in store.current_state(db, "c").collect()}
        assert state == {7: "legacy", new_id: "new"}
        # the pruned point-get path must also see the legacy row
        assert json.loads(store.get_doc(db, "c", 7)["doc"])["v"] == "legacy"
        # ... and legacy docs stay updatable (ownership check reads them)
        store.update_docs(db, "c", [7], ['{"u": 1}'], ALICE)
        assert json.loads(store.get_doc(db, "c", 7)["doc"])["u"] == 1

    def test_query_cache_bounded(self, store, db_col):
        """RunQuery snapshots its matched set for the one-pass count+read;
        the FIFO of store-held references must stay bounded, and an evicted
        result must keep returning its snapshot rows — even after an
        intervening append, since the (rows, count) pair the caller holds
        must never drift from what was returned with it."""
        db, col = db_col
        store.add_docs(db, col, ['{"city": "cached"}'], ALICE)
        results = [
            store.query_docs(db, col, "/[city = cached]")
            for _ in range(store.query_cache_slots + 3)
        ]
        assert len(store._query_caches) == store.query_cache_slots
        first_df, first_count = results[0]  # evicted by now
        # a write AFTER the query must not leak into the held result
        store.add_docs(db, col, ['{"city": "cached"}'], ALICE)
        assert first_count == 1 and first_df.count() == 1
        store.release_query_caches()
        assert not store._query_caches
        assert results[-1][0].count() == 1
        # a fresh query sees the new doc
        _, n = store.query_docs(db, col, "/[city = cached]")
        assert n == 2

    def test_update_merge_patch_preserves_fields(self, store, db_col):
        # EJDB2 patch semantics: doc_store.rs:470-480 — patching
        # {"test":"v1","f1":"f1"} with {"test":"v2"} preserves f1.
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"test": "v1", "f1": "f1"}'], ALICE)
        store.update_docs(db, col, [i], ['{"test": "v2"}'], ALICE)
        doc = json.loads(store.get_doc(db, col, i)["doc"])
        assert doc == {"test": "v2", "f1": "f1"}

    def test_update_null_deletes_key_rfc7386(self, store, db_col):
        db, col = db_col
        (i,) = store.add_docs(db, col, ['{"a": 1, "b": 2}'], ALICE)
        store.update_docs(db, col, [i], ['{"b": null, "c": 3}'], ALICE)
        doc = json.loads(store.get_doc(db, col, i)["doc"])
        assert doc == {"a": 1, "c": 3}

    def test_update_requires_alignment(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}'], ALICE)
        with pytest.raises(InvalidMutation):
            store.update_docs(db, col, ids, [], ALICE)

    def test_ownership_verification(self, store, db_col):
        # owner-only update/delete — client_v2.test.ts:344-712 negatives
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}'], ALICE)
        with pytest.raises(OwnerVerifyFailed):
            store.update_docs(db, col, ids, ['{"a": 2}'], BOB)
        with pytest.raises(OwnerVerifyFailed):
            store.delete_docs(db, col, ids, BOB)
        # still intact
        assert json.loads(store.get_doc(db, col, ids[0])["doc"]) == {"a": 1}

    def test_delete_docs(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}', '{"a": 2}'], ALICE)
        store.delete_docs(db, col, [ids[0]], ALICE)
        assert store.get_doc(db, col, ids[0]) is None
        assert store.current_state(db, col).count() == 1
        _, count = store.query_docs(db, col, "/*")
        assert count == 1

    def test_delete_missing_doc(self, store, db_col):
        db, col = db_col
        with pytest.raises(InvalidMutation):
            store.delete_docs(db, col, [404], ALICE)

    def test_unknown_collection(self, store, db_col):
        db, _ = db_col
        with pytest.raises(CollectionNotFound):
            store.add_docs(db, "nope", ['{"a":1}'], ALICE)

    def test_invalid_json_rejected(self, store, db_col):
        db, col = db_col
        with pytest.raises(Exception):
            store.add_docs(db, col, ["not json"], ALICE)

    def test_compaction_preserves_state(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(db, col, ['{"a": 1}', '{"a": 2}', '{"a": 3}'], ALICE)
        store.update_docs(db, col, [ids[0]], ['{"a": 10}'], ALICE)
        store.delete_docs(db, col, [ids[2]], ALICE)
        before = sorted(
            (r["doc_id"], r["doc"]) for r in store.current_state(db, col).collect()
        )
        store.compact(db, col)
        after = sorted(
            (r["doc_id"], r["doc"]) for r in store.current_state(db, col).collect()
        )
        assert before == after
        # more writes after compaction still work
        store.add_docs(db, col, ['{"a": 4}'], ALICE)
        assert store.current_state(db, col).count() == 3

    def test_compaction_sorts_by_registered_index(self, spark, tmp_path):
        """M8 indexes become physical layout: compact sorts rows by the
        indexed JSON path (then doc_id), so parquet row-group stats prune
        filters on that field — the Spark analog of an EJDB2 secondary
        index."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "widx"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(db, "c", [{"path": "/age", "type": "int64"}], ALICE)
        ages = [50, 10, 5, 40, 20, 30, 7]  # single + double digits: a
        # string-wise sort would give 10 < 5 — the int64 cast must win
        store.add_docs(
            db, "c", [json.dumps({"age": a}) for a in ages], ALICE
        )
        store.compact(db, "c")
        files = sorted(
            glob.glob(
                str(tmp_path / "widx" / "data" / db / "c" / "**" / "*.parquet"),
                recursive=True,
            )
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [json.loads(r["doc"])["age"] for r in rows]
        assert got == sorted(ages)  # physical order = index order


class TestReplay:
    def test_replica_replays_identically(self, spark, tmp_path):
        """S12/S13: a replica replaying the mutation log converges to the
        same doc ids and document state (the doc_ids_map contract)."""
        origin = DocStore(spark, str(tmp_path / "origin"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ids = origin.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        origin.state.next_block()
        origin.update_docs(db, "c", [ids[0]], ['{"v": 10, "w": 5}'], ALICE)
        origin.add_docs(db, "c", ['{"v": 3}'], ALICE)
        origin.delete_docs(db, "c", [ids[1]], ALICE)

        replica = DocStore(spark, str(tmp_path / "replica"))
        replica.replay_from(origin)

        o = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in origin.current_state(db, "c").collect()
        )
        r = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in replica.current_state(db, "c").collect()
        )
        assert o == r and len(o) == 2
        # doc-id counters line up for future writes
        assert replica.state.take_doc_ids(db, 1) == origin.state.take_doc_ids(db, 1)

    def test_range_scan_partition_pruning(self, spark, tmp_path):
        """Block-range scans must prune log partition directories."""
        s = DocStore(spark, str(tmp_path / "pp"))
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        s.add_docs(db, "c", ['{"v": 1}'], ALICE)
        plan = (
            s.get_range_mutations(0, 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [isnotnull(block_bucket" in plan

    def test_block_range_scan(self, spark, tmp_path):
        origin = DocStore(spark, str(tmp_path / "o2"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        origin.state.next_block()  # block 1
        origin.add_docs(db, "c", ['{"v": 1}'], ALICE)
        origin.state.next_block()  # block 2
        origin.add_docs(db, "c", ['{"v": 2}'], ALICE)
        muts = origin.get_range_mutations(1, 2).collect()
        assert len(muts) == 1 and muts[0]["action"] == "add_document"


class TestMergePatchUnit:
    def test_rfc7386_cases(self):
        # RFC 7386 appendix-style cases
        assert merge_patch({"a": "b"}, {"a": "c"}) == {"a": "c"}
        assert merge_patch({"a": "b"}, {"b": "c"}) == {"a": "b", "b": "c"}
        assert merge_patch({"a": "b"}, {"a": None}) == {}
        assert merge_patch({"a": {"b": "c"}}, {"a": {"b": "d", "c": None}}) == {
            "a": {"b": "d"}
        }
        assert merge_patch({"a": [1, 2]}, {"a": [3]}) == {"a": [3]}
        assert merge_patch({"a": "b"}, ["replaced"]) == ["replaced"]
        assert merge_patch(None, {"a": 1}) == {"a": 1}


# UpdateDocument's written doc text: (case, base doc, patch, text). Each text
# is what the pandas-UDF merge (make_json_merge_patch) wrote through
# update_docs, pinned byte for byte.
MERGE_CASES = [
    ("nested_merge", '{"a": {"b": 1, "c": 2}, "x": 1}',
     '{"a": {"b": 9, "d": {"e": 1}}}',
     '{"a":{"b":9,"c":2,"d":{"e":1}},"x":1}'),
    ("null_deletes", '{"a": 1, "b": 2, "n": {"k": 1, "j": 2}}',
     '{"a": null, "n": {"k": null}, "zz": null}',
     '{"b":2,"n":{"j":2}}'),
    ("non_object_list", '{"a": 1}', '[1, {"a": null}]', '[1,{"a":null}]'),
    ("non_object_scalar", '{"a": 1}', '"text"', '"text"'),
    ("array_replaced", '{"arr": [1, 2, 3], "o": {"arr": [{"x": 1}]}}',
     '{"arr": [4], "o": {"arr": []}}',
     '{"arr":[4],"o":{"arr":[]}}'),
    ("unicode", '{"name": "é ✓", "k": "\\ud83d\\ude00"}',
     '{"emoji": "\U0001F600", "name": "ü", "é": {"✓": 1}}',
     '{"emoji":"\\ud83d\\ude00","k":"\\ud83d\\ude00","name":"\\u00fc",'
     '"\\u00e9":{"\\u2713":1}}'),
    ("empty_base", "{}", '{"a": {"b": null, "c": 1}, "d": null}',
     '{"a":{"c":1}}'),
    ("numbers", '{"f": 1.5, "big": 12345678901234567890, "e": 1e400}',
     '{"g": -0.0, "i": 10}',
     '{"big":12345678901234567890,"e":Infinity,"f":1.5,"g":-0.0,"i":10}'),
]

# one UpdateDocument naming the same id twice: each patch merges against
# the stored version, and both merged versions are written
DUP_BASE = '{"d": {"k": 1}}'
DUP_PATCHES = ['{"d": {"p": 1}}', '{"d": null, "q": [2]}']
DUP_TEXTS = ['{"d":{"k":1,"p":1}}', '{"q":[2]}']


class TestUpdateMergePin:
    def test_udf_still_produces_pinned_texts(self, spark):
        from rtstore_spark.functions.merge_patch import make_json_merge_patch

        pairs = [(b, p) for _, b, p, _ in MERGE_CASES]
        pairs += [(DUP_BASE, p) for p in DUP_PATCHES]
        df = spark.createDataFrame(pairs, "d string, p string")
        got = [r[0] for r in df.select(make_json_merge_patch()("d", "p"))
               .collect()]
        assert got == [t for *_, t in MERGE_CASES] + DUP_TEXTS

    def test_update_docs_writes_pinned_texts(self, store, db_col):
        db, col = db_col
        ids = store.add_docs(
            db, col, [b for _, b, _, _ in MERGE_CASES] + [DUP_BASE], ALICE
        )
        store.update_docs(db, col, ids[:-1], [p for _, _, p, _ in MERGE_CASES],
                          ALICE, seq=(7, 1))
        store.update_docs(db, col, [ids[-1]] * 2, DUP_PATCHES, ALICE,
                          seq=(7, 2))
        written = sorted(
            (r["doc_id"], r["order"], r["doc"], r["owner"], r["block"])
            for r in store._read_docs(store._data_path(db, col))
            .filter("op = 'U'").collect()
        )
        want = [(i, 1, t, ALICE, 7) for i, (*_, t) in zip(ids, MERGE_CASES)]
        want += sorted((ids[-1], 2, t, ALICE, 7) for t in DUP_TEXTS)
        assert written == want


class TestZOrderCompaction:
    def test_two_numeric_indexes_interleave(self, spark, tmp_path):
        """With two numeric indexes registered, compact() lays rows out in
        Z-order (bit-interleaved range-normalized ranks) — not a chained
        sort, which would cluster only the leading column. Physical row
        order must equal the independently-computed Morton order."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "wz"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": "/x", "type": "int64"}, {"path": "/y", "type": "int64"}],
            ALICE,
        )
        pts = [(x, y) for x in range(4) for y in range(4)]
        store.add_docs(
            db, "c", [json.dumps({"x": x, "y": y}) for x, y in pts], ALICE
        )
        store.compact(db, "c")

        def z(x, y):  # same normalization: min 0, max 3, 16-bit ranks
            rx, ry = x * 65535 // 3, y * 65535 // 3
            v = 0
            for b in range(16):
                v |= ((rx >> b) & 1) << (2 * b)
                v |= ((ry >> b) & 1) << (2 * b + 1)
            return v

        files = sorted(
            glob.glob(str(tmp_path / "wz" / "data" / db / "c" / "**" / "*.parquet"),
                      recursive=True)
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [(json.loads(r["doc"])["x"], json.loads(r["doc"])["y"]) for r in rows]
        assert got == sorted(pts, key=lambda p: z(*p))
        # a chained sort would have produced plain (x, y) order — require
        # the interleave to actually differ from it
        assert got != sorted(pts)

    def test_mixed_index_types_keep_chained_sort(self, spark, tmp_path):
        """A string index among the registered paths falls back to the
        lexicographic chain (Z-order needs numeric ranks)."""
        store = DocStore(spark, str(tmp_path / "wzm"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": "/x", "type": "int64"}, {"path": "/s", "type": "string"}],
            ALICE,
        )
        store.add_docs(
            db, "c",
            [json.dumps({"x": v, "s": f"s{v}"}) for v in (50, 10, 5, 40)],
            ALICE,
        )
        store.compact(db, "c")
        rows = [
            json.loads(r["doc"])["x"]
            for r in store.current_state(db, "c")
            .orderBy("doc_id").collect()
        ]
        assert sorted(rows) == [5, 10, 40, 50]  # state intact either way


class TestZOrderManyColumns:
    def test_four_numeric_indexes_stay_in_sign_safe_bits(self, spark, tmp_path):
        """With 4 numeric indexes, 16 bits/column would place bits at
        position 63 (the long's sign — inverting the sort) and beyond
        (wrapping via JVM shift masking). The per-column width must drop
        to 63//k so the interleave stays a valid non-negative Morton
        order."""
        import glob

        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "wz4"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        store.add_index(
            db, "c",
            [{"path": f"/{c}", "type": "int64"} for c in "wxyz"],
            ALICE,
        )
        pts = [
            (w, x, y, z)
            for w in range(2) for x in range(2) for y in range(2) for z in range(2)
        ]
        store.add_docs(
            db, "c",
            [json.dumps(dict(zip("wxyz", p))) for p in pts],
            ALICE,
        )
        store.compact(db, "c")

        def zval(p):  # eb = min(16, 63//4) = 15 bits per column
            scale = (1 << 15) - 1
            ranks = [v * scale // 1 for v in p]  # min 0, max 1
            out = 0
            for i, r in enumerate(ranks):
                for b in range(15):
                    out |= ((r >> b) & 1) << (b * 4 + i)
            return out

        assert all(zval(p) >= 0 for p in pts)
        files = sorted(
            glob.glob(str(tmp_path / "wz4" / "data" / db / "c" / "**" / "*.parquet"),
                      recursive=True)
        )
        rows = []
        for f in files:
            rows += pq.read_table(f, columns=["doc"]).to_pylist()
        got = [tuple(json.loads(r["doc"])[c] for c in "wxyz") for r in rows]
        assert got == sorted(pts, key=zval)


# ---------------------------------------------------------------------------
# driver-row frames: every frame the store builds from driver rows goes
# through Arrow (DocStore._local_df); these pin it against the pickled-list
# path it replaced, table by table
# ---------------------------------------------------------------------------

DB1 = "0x" + "01" * 20
PINNED_ROWS = {
    "databases": (DocStore.DB_SCHEMA, [
        {"db_addr": DB1, "sender": ALICE, "desc": "d", "db_type": "event",
         "meta": '{"tables": ["t"]}', "block": 3, "order": 1},
        {"db_addr": DB1, "sender": BOB, "desc": None, "db_type": "deleted",
         "meta": None, "block": 2**40, "order": 2**31 - 1},
    ]),
    "collections": (DocStore.COL_SCHEMA, [
        {"db_addr": DB1, "col_name": "c", "sender": ALICE, "block": 1,
         "index_fields": '[{"path": "/a", "type": "string"}]', "order": 2},
        {"db_addr": DB1, "col_name": "", "index_fields": None, "sender": "",
         "block": 0, "order": 0},
    ]),
    "docs": (DOC_SCHEMA, [
        {"doc_id": 7, "owner": ALICE, "doc": '{"x": "é ✓"}', "op": "A",
         "block": 1, "order": 3},
        {"doc_id": 2**53 + 1, "owner": None, "doc": None, "op": "D",
         "block": 1, "order": 4},
    ]),
    "log": (LOG_SCHEMA, [
        {"id": "ab" * 32, "sender": ALICE, "nonce": 5, "action": "add_document",
         "db_addr": DB1, "col_name": "c", "payload": '{"docs": ["{}"]}',
         "doc_ids": "[7]", "block": 1, "order": 3},
        {"id": "cd" * 32, "sender": BOB, "nonce": 0, "action": "add_index",
         "db_addr": None, "col_name": None, "payload": None, "doc_ids": None,
         "block": 9, "order": -1},
    ]),
    "wire_archive": (WIRE_ARCHIVE_SCHEMA, [
        {"id": "m1", "payload": b"\x00\xff{}", "signature": "0x" + "5" * 130,
         "block": 5, "order": 0},
        {"id": "m2", "payload": b"", "signature": "", "block": 6, "order": 1},
    ]),
}


class TestDriverRowFrames:
    @pytest.mark.parametrize("table", sorted(PINNED_ROWS))
    def test_arrow_frame_matches_list_path(self, spark, store, tmp_path, table):
        """Same schema (nullability included) and same values as the
        pickled-list frame, in memory and after a parquet round trip."""
        import pyarrow.parquet as pq

        schema, rows = PINNED_ROWS[table]
        old = spark.createDataFrame(rows, schema=schema)
        new = store._local_df(rows, schema)
        assert new.schema == old.schema == schema
        assert [r.asDict() for r in new.collect()] == rows
        assert new.collect() == old.collect()
        for name, df in (("old", old), ("new", new)):
            df.coalesce(1).write.parquet(str(tmp_path / name))
        back = {
            name: spark.read.parquet(str(tmp_path / name))
            for name in ("old", "new")
        }
        assert back["new"].schema == back["old"].schema
        assert back["new"].collect() == back["old"].collect()
        (f_old,) = (tmp_path / "old").glob("*.parquet")
        (f_new,) = (tmp_path / "new").glob("*.parquet")
        assert pq.read_schema(f_new) == pq.read_schema(f_old)

    def test_store_tables_read_back_pinned_rows(self, spark, tmp_path):
        """Each store table written through the public API reads back the
        pinned rows, and its files carry the declared nullability."""
        import pyarrow.parquet as pq

        store = DocStore(spark, str(tmp_path / "w"))
        db = store.create_database(ALICE, nonce=1, desc="d", seq=(1, 1))
        idx = [{"path": "/a", "type": "string"}]
        store.create_collection(db, "c", idx, ALICE, seq=(1, 2))
        store.add_docs(db, "c", ['{"x": "é"}'], ALICE, doc_ids=[7], seq=(1, 3))
        store.delete_docs(db, "c", [7], ALICE, seq=(1, 4))
        store.archive_wire_envelope("m1", b"\x00\xff", "0xsig", 1, 5)
        store.flush_wire_archive()
        assert db == derive_db_addr(ALICE, 1)

        def rows(df, drop=()):
            return sorted(
                ({k: v for k, v in r.asDict().items() if k not in drop}
                 for r in df.collect()),
                key=lambda r: (r["block"], r["order"]),
            )

        assert rows(store.databases()) == [
            {"db_addr": db, "sender": ALICE, "desc": "d", "db_type": "doc",
             "meta": None, "block": 1, "order": 1},
        ]
        assert rows(store._read(store._col_path(), store.COL_SCHEMA)) == [
            {"db_addr": db, "col_name": "c", "index_fields": json.dumps(idx),
             "sender": ALICE, "block": 1, "order": 2},
        ]
        assert rows(store._read_docs(store._data_path(db, "c"))) == [
            {"doc_id": 7, "owner": ALICE, "doc": '{"x": "é"}', "op": "A",
             "block": 1, "order": 3, "doc_bucket": 0},
            {"doc_id": 7, "owner": ALICE, "doc": None, "op": "D",
             "block": 1, "order": 4, "doc_bucket": 0},
        ]
        log = rows(store.mutation_log(), drop=("id", "payload"))
        assert [
            (r["action"], r["nonce"], r["col_name"], r["doc_ids"]) for r in log
        ] == [
            ("create_doc_db", 1, None, None),
            ("add_collection", 0, "c", None),
            ("add_document", 0, "c", "[7]"),
            ("delete_document", 0, "c", "[7]"),
        ]
        assert rows(store.wire_archive()) == [
            {"id": "m1", "payload": bytearray(b"\x00\xff"), "signature": "0xsig",
             "block": 1, "order": 5, "block_bucket": 0},
        ]
        declared = {
            "__databases": store.DB_SCHEMA, "__collections": store.COL_SCHEMA,
            "data": DOC_SCHEMA, "mutation_log": LOG_SCHEMA,
            "wire_archive": WIRE_ARCHIVE_SCHEMA,
        }
        files = [
            f for f in store.fs.list_files_recursive(store.root)
            if f.endswith(".parquet")
        ]
        assert len(files) == 1 + 1 + 2 + 4 + 1
        for f in files:
            table = os.path.relpath(f, store.root).split(os.sep)[0]
            want = [(x.name, x.nullable) for x in declared[table].fields]
            got = [(x.name, x.nullable) for x in pq.read_schema(f)]
            assert got == want, f

    @pytest.mark.parametrize("table", sorted(PINNED_ROWS))
    @pytest.mark.parametrize("fault", [None, "1", 1.5])
    def test_bad_row_raises_before_any_write(self, store, db_col, table, fault):
        """A None in a non-nullable field or a wrongly typed value raises
        and leaves no new file in the store. A float in a long column is
        the case Arrow alone would let through (it truncates)."""
        db, col = db_col
        schema, rows = PINNED_ROWS[table]
        bad = dict(rows[0])
        if fault is None:
            field = next(f.name for f in schema.fields if not f.nullable)
            bad[field] = None
        else:
            bad["block"] = fault
        writers = {
            "databases": lambda: store._append(
                [bad], store.DB_SCHEMA, store._db_path()),
            "collections": lambda: store._append(
                [bad], store.COL_SCHEMA, store._col_path()),
            "docs": lambda: store._append_doc_rows(
                [bad], store._data_path(db, col)),
            "log": lambda: store._log(*(bad[f.name] for f in LOG_SCHEMA.fields[1:]),
                                      mid=bad["id"]),
            "wire_archive": lambda: store._flush_wire_rows([bad]),
        }
        if table == "log" and fault is None:
            bad["sender"] = None  # _log derives the id; null a plain field
        before = store.fs.list_files_recursive(store.root)
        with pytest.raises((TypeError, ValueError)):
            writers[table]()
        assert store.fs.list_files_recursive(store.root) == before


def _count_jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; (result, jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestCatalogCache:
    def test_second_instance_writes_are_seen(self, spark, store, db_col):
        db, col = db_col
        assert store._col_row(db, "c2") is None  # cache warm, without c2
        other = DocStore(spark, store.root)
        other.create_collection(db, "c2", [{"path": "/k", "type": "string"}],
                                ALICE)
        assert store._indexed_paths(db, "c2") == [("/k", "string")]
        (i,) = store.add_docs(db, "c2", ['{"k": "v"}'], ALICE)
        assert json.loads(store.get_doc(db, "c2", i)["doc"]) == {"k": "v"}

    def test_add_index_visible_at_once(self, store, db_col):
        db, col = db_col
        assert store._indexed_paths(db, col) == [("/city", "string")]
        store.add_index(db, col, [{"path": "/age", "type": "int64"}], ALICE)
        assert store._indexed_paths(db, col) == [
            ("/city", "string"), ("/age", "int64"),
        ]
        with pytest.raises(IndexAlreadyExists):
            store.add_index(db, col, [{"path": "/age", "type": "int64"}], ALICE)

    def test_pointer_flip_reloads(self, store, db_col, monkeypatch):
        db, col = db_col
        loads = []
        collections = store.collections
        monkeypatch.setattr(
            store, "collections",
            lambda *a: loads.append(a) or collections(*a),
        )
        before = store._col_row(db, col)
        assert store._col_row(db, col) == before and len(loads) == 1
        store.compact_catalogs()
        assert store._col_row(db, col) == before and len(loads) == 2
        assert store._col_cache[0][0].endswith("gen-000001")
        assert store._col_row(db, col) == before and len(loads) == 2

    def test_missing_collection_still_raises(self, store, db_col):
        db, col = db_col
        store._require_col(db, col)  # warm
        with pytest.raises(CollectionNotFound):
            store.add_docs(db, "nope", ['{"a": 1}'], ALICE)
        with pytest.raises(CollectionNotFound):
            store.get_doc("0x" + "00" * 20, col, 1)
        with pytest.raises(CollectionNotFound):
            store.add_index(db, "nope", [{"path": "/a"}], ALICE)

    def test_cache_hit_submits_no_jobs(self, spark, store, db_col):
        db, col = db_col
        store._require_col(db, col)  # warm
        _, jobs = _count_jobs(
            spark, "catalog-cache-hit",
            lambda: (store._require_col(db, col),
                     store._indexed_paths(db, col),
                     store._col_row(db, "absent")),
        )
        assert jobs == 0


class TestWritePathJobCounts:
    """Spark jobs per store call — the per-layer attribution the traced
    benchmark reports (spark.jobs.write / spark.jobs.getdoc)."""

    def test_write_jobs_and_get_at_most_two(self, spark, store, db_col):
        db, col = db_col
        store.add_docs(db, col, ['{"city": "warm"}'], ALICE)
        (i,), add_jobs = _count_jobs(
            spark, "pin-add-docs",
            lambda: store.add_docs(db, col, ['{"city": "x"}'], ALICE),
        )
        assert add_jobs == 0  # doc and log rows are written by the driver
        _, update_jobs = _count_jobs(
            spark, "pin-update-docs",
            lambda: store.update_docs(db, col, [i], ['{"n": 1}'], ALICE),
        )
        assert update_jobs == 1  # the owner point read
        row, get_jobs = _count_jobs(
            spark, "pin-get-doc", lambda: store.get_doc(db, col, i)
        )
        assert json.loads(row["doc"]) == {"city": "x", "n": 1}
        assert get_jobs <= 2
        _, delete_jobs = _count_jobs(
            spark, "pin-delete-docs",
            lambda: store.delete_docs(db, col, [i], ALICE),
        )
        assert delete_jobs == 1  # the owner point read
        assert store.get_doc(db, col, i) is None


class TestTornWrite:
    """A driver-row append whose rename fails after the temp bytes are
    written publishes nothing: readers see exactly what they saw before."""

    @staticmethod
    def _snapshot(store, db, col):
        return (
            sorted(
                (r["doc_id"], r["doc"])
                for r in store.current_state(db, col).collect()
            ),
            sorted(
                (r["block"], r["order"], r["action"])
                for r in store.mutation_log().collect()
            ),
            store._col_row(db, col),
        )

    @staticmethod
    def _visible_parquet(store):
        return [
            f for f in store.fs.list_files_recursive(store.root)
            if f.endswith(".parquet")
            and not os.path.basename(f).startswith((".", "_"))
        ]

    def test_failed_rename_publishes_nothing(self, spark, tmp_path, monkeypatch):
        import rtstore_spark.store.fs as fsmod

        store = DocStore(spark, str(tmp_path / "torn"))
        db = store.create_database(ALICE, nonce=1)
        store.create_collection(db, "c", [], ALICE)
        (i,) = store.add_docs(db, "c", ['{"v": 1}'], ALICE)
        store.archive_wire_envelope("m1", b"\x01", "0xsig", 1, 0)
        store.flush_wire_archive()
        before = self._snapshot(store, db, "c")
        files = self._visible_parquet(store)

        temps = []
        real_replace = os.replace

        def replace(src, dst):
            if not dst.endswith(".parquet"):  # the state file still commits
                return real_replace(src, dst)
            temps.append((os.path.basename(src), os.path.getsize(src)))
            raise OSError("simulated crash before rename")

        monkeypatch.setattr(fsmod.os, "replace", replace)
        with pytest.raises(OSError, match="simulated crash"):
            store.add_docs(db, "c", ['{"v": 2}'], ALICE)
        with pytest.raises(OSError, match="simulated crash"):
            store.update_docs(db, "c", [i], ['{"v": 3}'], ALICE)
        with pytest.raises(OSError, match="simulated crash"):
            store.create_collection(db, "c2", [], ALICE)
        with pytest.raises(OSError, match="simulated crash"):
            store._log(ALICE, 0, "add_index", db, "c", None, None, 9, 0)
        store.archive_wire_envelope("m2", b"\x02", "0xsig", 2, 0)
        with pytest.raises(OSError, match="simulated crash"):
            store.flush_wire_archive()
        # every attempt wrote its temp bytes, under a hidden name
        assert len(temps) == 5
        assert all(name.startswith(".") and size > 0 for name, size in temps)
        assert self._visible_parquet(store) == files
        assert not [
            f for f in store.fs.list_files_recursive(store.root)
            if os.path.basename(f).startswith(".")
        ]
        assert self._snapshot(store, db, "c") == before
        assert store._col_row(db, "c2") is None
        # the failed flush put its rows back; the next flush writes them
        assert [r["id"] for r in store._wire_buffer] == ["m2"]
        monkeypatch.undo()
        store.flush_wire_archive()
        assert store._wire_buffer == []
        assert sorted(
            r["id"] for r in store.wire_archive().collect()
        ) == ["m1", "m2"]
