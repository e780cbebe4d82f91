"""Replication fidelity: every mutation the origin applies must reach a
replica — through log replay (add_index, nonces) AND through cold-storage
rollups after the hot log is GC'd (self-describing payload envelopes)."""

from __future__ import annotations

import json

import pytest

from rtstore_spark.errors import InvalidMutation
from rtstore_spark.sources.rollup import RollupExecutor
from rtstore_spark.store import DocStore
from rtstore_spark.store.ingest import Ingest

ALICE = "0x" + "aa" * 20


class TestLogReplayFidelity:
    def test_add_index_replicates(self, spark, tmp_path):
        """AddIndex is a logged mutation: a replica replaying the log must
        end with the same registered indexes (it previously never logged,
        so replicas silently lost every index registration)."""
        origin = DocStore(spark, str(tmp_path / "origin"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        origin.add_index(db, "c", [{"path": "/x", "type": "int64"}], ALICE)
        origin.add_docs(db, "c", ['{"x": 1}'], ALICE)

        replica = DocStore(spark, str(tmp_path / "replica"))
        replica.replay_from(origin)
        row = replica._col_row(db, "c")
        assert json.loads(row["index_fields"]) == [{"path": "/x", "type": "int64"}]
        # and the origin's duplicate-registration rejection still holds there
        with pytest.raises(Exception, match="/x"):
            replica.add_index(db, "c", [{"path": "/x", "type": "int64"}], ALICE)

    def test_add_collection_log_keeps_real_nonce(self, spark, tmp_path):
        """The log must record the nonce each mutation consumed — a replica
        replaying it ends with the origin's sequencer nonce state."""
        origin = DocStore(spark, str(tmp_path / "o2"))
        ing = Ingest(origin)
        from rtstore_spark.store.ingest import digest_signature

        p = {"action": "create_database", "body": {"desc": "d"}}
        b = json.dumps(p, sort_keys=True)
        ing.send_mutation(p, digest_signature(b, 1, ALICE), ALICE, 1)
        db = origin.databases().collect()[0]["db_addr"]
        p2 = {"action": "add_collection", "db_addr": db, "col_name": "c", "body": {}}
        b2 = json.dumps(p2, sort_keys=True)
        ing.send_mutation(p2, digest_signature(b2, 7, ALICE), ALICE, 7)

        logged = {
            r["action"]: r["nonce"]
            for r in origin.mutation_log().collect()
        }
        assert logged["add_collection"] == 7

        replica = DocStore(spark, str(tmp_path / "r2"))
        replica.replay_from(origin)
        assert replica.state.nonce_of(ALICE) == origin.state.nonce_of(ALICE) == 7

    def test_event_db_tables_share_parent_seq(self, spark, tmp_path):
        """Event-db table creation is an effect of ONE mutation: it must not
        mint extra (block, order) keys (which collide with other mutations
        in a batch block) nor extra log rows, and replay must still
        recreate the tables from the logged meta."""
        origin = DocStore(spark, str(tmp_path / "o3"))
        db = origin.create_database(
            ALICE, nonce=1, db_type="event", meta={"tables": ["t1", "t2"]}
        )
        log = origin.mutation_log().collect()
        assert [r["action"] for r in log] == ["create_event_db"]
        # the catalog rows exist and share the parent's (block, order)
        cols = {r["col_name"]: r for r in origin.collections(db).collect()}
        assert set(cols) == {"t1", "t2"}

        replica = DocStore(spark, str(tmp_path / "r3"))
        replica.replay_from(origin)
        assert {r["col_name"] for r in replica.collections(db).collect()} == {"t1", "t2"}

    def test_event_db_meta_validated(self, spark, tmp_path):
        store = DocStore(spark, str(tmp_path / "o4"))
        with pytest.raises(InvalidMutation, match="duplicate"):
            store.create_database(
                ALICE, nonce=1, db_type="event", meta={"tables": ["d", "d"]}
            )
        with pytest.raises(InvalidMutation, match="too long"):
            store.create_database(
                ALICE, nonce=2, db_type="event",
                meta={"tables": ["a_table_name_well_over_twenty_chars"]},
            )


class TestRollupReplay:
    def test_cold_storage_replay_after_gc(self, spark, tmp_path):
        """The full disaster path: mutate → rollup → gc the hot log →
        rebuild a fresh store from rollups alone, byte-identical state."""
        origin = DocStore(spark, str(tmp_path / "cold_o"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ids = origin.add_docs(db, "c", ['{"v": 1}', '{"v": 2}'], ALICE)
        origin.update_docs(db, "c", [ids[0]], ['{"v": 10}'], ALICE)
        origin.delete_docs(db, "c", [ids[1]], ALICE)
        origin.state.next_block()  # close the block so rollup covers it

        ex = RollupExecutor(spark, str(tmp_path / "cold_o" / "coldroot"))
        out = ex.rollup(origin.mutation_log(), open_block=origin.state.block)
        assert out is not None and out["rows"] == 5
        ex.gc(origin, min_gc_offset=0)

        fresh = DocStore(spark, str(tmp_path / "cold_r"))
        applied = ex.replay_into(fresh)
        assert applied == 5
        want = sorted(
            (r["doc_id"], r["doc"]) for r in origin.current_state(db, "c").collect()
        )
        got = sorted(
            (r["doc_id"], r["doc"]) for r in fresh.current_state(db, "c").collect()
        )
        # the merge UDF serializes compactly (sort_keys, no spaces) — both
        # stores byte-identically
        assert got == want == [(ids[0], '{"v":10}')]
        # mutation ids survived the round trip: the replica's log ids equal
        # the rollup's signature column (which carries the origin's ids)
        roll_ids = sorted(
            r["signature"] for r in ex.read_rollups().select("signature").collect()
        )
        fresh_ids = sorted(r["id"] for r in fresh.mutation_log().collect())
        assert fresh_ids == roll_ids and len(fresh_ids) == 5

    def test_foreign_rollup_refuses_replay(self, spark, tmp_path):
        """A reference-era rollup (payload = opaque bytes) must raise, not
        silently skip history."""
        ex = RollupExecutor(spark, str(tmp_path / "foreign"))
        df = spark.createDataFrame(
            [(bytearray(b"\x08\x01raw-protobuf"), "sig", 0, 1, None)],
            "payload binary, signature string, block long, order int, doc_ids string",
        )
        import os

        path = os.path.join(ex.rollup_dir, "0_0.gz.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        row = {
            "tx_id": "rollup_0_0", "start_block": 0, "end_block": 0,
            "last_rollup_tx": None, "version_id": "v2", "rows": 1,
            "compress_size": 1, "time_ms": 0, "created_ms": 0,
        }
        from rtstore_spark.sources.rollup import MANIFEST_SCHEMA

        spark.createDataFrame([row], schema=MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(ex.manifest_path)
        fresh = DocStore(spark, str(tmp_path / "foreign_r"))
        with pytest.raises(ValueError, match="self-describing"):
            ex.replay_into(fresh)


class TestGcRecordRanges:
    def test_consecutive_rounds_do_not_overlap(self, spark, tmp_path):
        origin = DocStore(spark, str(tmp_path / "gco"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ex = RollupExecutor(spark, str(tmp_path / "gco" / "cold"))
        # two rollup+gc rounds over disjoint block ranges
        for i in range(2):
            origin.add_docs(db, "c", [f'{{"v": {i}}}'], ALICE)
            origin.state.next_block()
            assert ex.rollup(origin.mutation_log(), open_block=origin.state.block)
            ex.gc(origin, min_gc_offset=0)
        recs = sorted(
            (r["start_block"], r["end_block"])
            for r in ex.scan_gc_records().collect()
        )
        assert len(recs) == 2
        assert recs[1][0] == recs[0][1] + 1  # contiguous, not overlapping


class TestSetWiseReplay:
    """store/replay.py: replica catch-up is a batch apply, not a driver
    loop — O(collections touched) Spark jobs regardless of mutation count,
    and byte-identical end state."""

    @staticmethod
    def _build_origin(spark, path, n_adds):
        origin = DocStore(spark, path)
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c", [], ALICE)
        ids = origin.add_docs(
            db, "c", [f'{{"v": {i}}}' for i in range(n_adds)], ALICE
        )
        origin.state.next_block()
        origin.update_docs(db, "c", [ids[0]], ['{"v": -1}'], ALICE)
        origin.update_docs(db, "c", [ids[0]], ['{"w": 2}'], ALICE)
        origin.delete_docs(db, "c", [ids[1]], ALICE)
        return origin, db, ids

    @staticmethod
    def _replay_counting_jobs(spark, origin, dest, group):
        sc = spark.sparkContext
        replica = DocStore(spark, dest)
        sc.setJobGroup(group, "replay")
        try:
            replica.replay_from(origin)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return replica, len(sc.statusTracker().getJobIdsForGroup(group))

    def test_job_count_independent_of_mutation_count(self, spark, tmp_path):
        """Replaying a 10×-larger log must not cost 10× the Spark jobs:
        the set-wise applier's job count depends on collections touched,
        not mutations (the round-4 scale-killer was O(mutations) driver
        round-trips)."""
        small, _, _ = self._build_origin(spark, str(tmp_path / "o_s"), 3)
        large, _, _ = self._build_origin(spark, str(tmp_path / "o_l"), 30)

        _, jobs_small = self._replay_counting_jobs(
            spark, small, str(tmp_path / "r_s"), "replay-small"
        )
        _, jobs_large = self._replay_counting_jobs(
            spark, large, str(tmp_path / "r_l"), "replay-large"
        )
        # identical mutation MIX (same ops, same collections) → identical
        # plan shape; only the add row count differs. Tiny slack for AQE.
        assert jobs_large <= jobs_small + 2, (jobs_small, jobs_large)

    def test_full_lifecycle_converges(self, spark, tmp_path):
        """A doc added, updated twice and deleted INSIDE the replayed batch
        (A→U*→D folding), another surviving with a folded patch chain —
        current_state, log ids, nonces and doc counters all converge."""
        origin, db, ids = self._build_origin(spark, str(tmp_path / "lc_o"), 4)
        replica = DocStore(spark, str(tmp_path / "lc_r"))
        replica.replay_from(origin)

        want = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in origin.current_state(db, "c").collect()
        )
        got = sorted(
            (r["doc_id"], r["doc"], r["owner"])
            for r in replica.current_state(db, "c").collect()
        )
        assert got == want
        # folded chain merged both patches into the survivor
        survivor = dict(
            (r["doc_id"], r["doc"])
            for r in replica.current_state(db, "c").collect()
        )[ids[0]]
        assert json.loads(survivor) == {"v": -1, "w": 2}
        # verbatim log copy: identical mutation ids
        assert sorted(r["id"] for r in replica.mutation_log().collect()) == sorted(
            r["id"] for r in origin.mutation_log().collect()
        )
        # sequencer convergence: ids keep flowing from the origin's counter
        assert (
            replica.state.doc_counter(db)
            == origin.state.doc_counter(db)
        )
        new_ids = replica.add_docs(db, "c", ['{"v": 99}'], ALICE)
        assert new_ids[0] == max(ids) + 1

    def test_multi_collection_batch(self, spark, tmp_path):
        """Doc ops spanning several collections in one batch land in the
        right tables, including a collection created mid-batch."""
        origin = DocStore(spark, str(tmp_path / "mc_o"))
        db = origin.create_database(ALICE, nonce=1)
        origin.create_collection(db, "c1", [], ALICE)
        origin.add_docs(db, "c1", ['{"a": 1}'], ALICE)
        origin.create_collection(db, "c2", [], ALICE)  # created mid-log
        c2_ids = origin.add_docs(db, "c2", ['{"b": 2}', '{"b": 3}'], ALICE)
        origin.delete_docs(db, "c2", [c2_ids[0]], ALICE)

        replica = DocStore(spark, str(tmp_path / "mc_r"))
        replica.replay_from(origin)
        for col in ("c1", "c2"):
            want = sorted(
                (r["doc_id"], r["doc"])
                for r in origin.current_state(db, col).collect()
            )
            got = sorted(
                (r["doc_id"], r["doc"])
                for r in replica.current_state(db, col).collect()
            )
            assert got == want, col
        assert [r["doc_id"] for r in replica.current_state(db, "c2").collect()] == [
            c2_ids[1]
        ]


class TestSendMutationContract:
    def test_missing_fields_are_invalid_mutation(self, spark, tmp_path):
        """Well-signed but incomplete payloads reject with InvalidMutation
        (the response contract), never a raw KeyError."""
        from rtstore_spark.store.ingest import digest_signature

        store = DocStore(spark, str(tmp_path / "sm"))
        ing = Ingest(store)
        cases = [
            {"action": "add_document", "body": {"docs": ["{}"]}},     # no db_addr
            {"action": "add_collection", "db_addr": "0x0"},            # no col_name
            {"action": "update_document", "db_addr": "0x0",
             "col_name": "c", "body": {"ids": [1]}},                   # no patches
            {"action": "add_document", "db_addr": "0x0",
             "col_name": "c", "body": {}},                             # no docs
        ]
        for i, p in enumerate(cases, start=1):
            b = json.dumps(p, sort_keys=True)
            with pytest.raises(InvalidMutation, match="missing"):
                ing.send_mutation(p, digest_signature(b, i, ALICE), ALICE, i)


class TestParallelCollectionReplay:
    def test_many_collections_overlap_and_converge(
        self, spark, tmp_path, monkeypatch
    ):
        """A replayed batch touching many collections runs its
        per-collection append rounds through the bounded pool — writes
        measurably overlap (two tasks in flight at once) instead of
        paying O(collections) sequential driver-blocking rounds — and the
        replica still converges exactly."""
        import threading
        import time

        from rtstore_spark.store import replay as R

        origin = DocStore(spark, str(tmp_path / "o_many"))
        db = origin.create_database(ALICE, nonce=1)
        n_cols = 10
        expected = {}
        for i in range(n_cols):
            origin.create_collection(db, f"c{i}", [], ALICE)
            ids = origin.add_docs(db, f"c{i}", [f'{{"c": {i}}}'], ALICE)
            expected[f"c{i}"] = ids

        active = [0]
        peak = [0]
        gate = threading.Lock()
        inner = R._replay_collection

        def tracked(replica, dbx, col, actions, doc):
            with gate:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            try:
                return inner(replica, dbx, col, actions, doc)
            finally:
                with gate:
                    active[0] -= 1

        monkeypatch.setattr(R, "_replay_collection", tracked)
        replica = DocStore(spark, str(tmp_path / "r_many"))
        replica.replay_from(origin)

        assert peak[0] >= 2, f"no overlap: peak concurrency {peak[0]}"
        for i in range(n_cols):
            rows = replica.current_state(db, f"c{i}").collect()
            assert [r["doc_id"] for r in rows] == expected[f"c{i}"]
            assert json.loads(rows[0]["doc"]) == {"c": i}
