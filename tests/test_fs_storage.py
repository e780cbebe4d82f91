"""Object-store safety of the storage plane.

The control plane (pointer files, listings, cleanup) runs through the
swappable FS interface in ``store/fs.py``; snapshot swaps are generation
writes + `_current` pointer flips, never directory renames. These tests pin:

- LocalFS and HadoopFS behave identically (HadoopFS goes through the JVM
  Hadoop ``FileSystem`` client — the path every object-store scheme takes);
- a crash between the snapshot write and the pointer flip leaves readers on
  the old state, never a half state;
- a full DocStore lifecycle works when every control-plane call is routed
  through HadoopFS;
- log GC and catalog compaction swap via the pointer, and a *fresh* store
  instance (a new reader resolving the pointer from scratch) sees identical
  data.
"""

from __future__ import annotations

import json
import os

import pytest

from rtstore_spark.store.docstore import CURRENT_POINTER, DocStore
from rtstore_spark.store.fs import HadoopFS, LocalFS, fs_for

ALICE = "0x" + "aa" * 20


def _exercise_fs(fs, root: str, failing_rename) -> dict:
    """Run the whole interface against one root; return observations.
    ``failing_rename()`` is a context manager under which ``fs``'s rename
    step fails; it yields the list of temp names the rename was given."""
    fs.makedirs(os.path.join(root, "d1", "d2"))
    fs.write_text_atomic(os.path.join(root, "d1", "a.txt"), "alpha")
    fs.write_text_atomic(os.path.join(root, "d1", "d2", "b.txt"), "beta")
    # overwrite must replace, not append
    fs.write_text_atomic(os.path.join(root, "d1", "a.txt"), "alpha2")
    obs = {
        "exists_dir": fs.exists(os.path.join(root, "d1")),
        "exists_missing": fs.exists(os.path.join(root, "nope")),
        "read": fs.read_text(os.path.join(root, "d1", "a.txt")),
        "read_missing": fs.read_text(os.path.join(root, "nope")),
        "read_binary": fs.read_binary(os.path.join(root, "d1", "a.txt")),
        "read_binary_missing": fs.read_binary(os.path.join(root, "nope")),
        "listdir": fs.listdir(os.path.join(root, "d1")),
        "listdir_missing": fs.listdir(os.path.join(root, "nope")),
        "recursive": [
            os.path.basename(f)
            for f in fs.list_files_recursive(os.path.join(root, "d1"))
        ],
        "du": fs.du(os.path.join(root, "d1")),
    }
    # a fresh object lands whole, in a directory the call creates
    blob = bytes(range(256)) * 3
    fs.write_bytes_atomic(os.path.join(root, "d3", "c.bin"), blob)
    obs["bytes_roundtrip"] = fs.read_binary(os.path.join(root, "d3", "c.bin"))
    obs["bytes_listdir"] = fs.listdir(os.path.join(root, "d3"))
    # a failed rename publishes nothing and leaves no temp behind; the
    # temp it wrote was a hidden (.-prefixed) sibling of the target
    with failing_rename() as temps:
        try:
            fs.write_bytes_atomic(os.path.join(root, "d3", "e.bin"), b"torn")
        except OSError:
            obs["failed_write_raised"] = True
    obs["failed_temp_names_hidden"] = [
        t.startswith(".") and t != "e.bin" for t in temps
    ]
    obs["after_failed_write"] = fs.listdir(os.path.join(root, "d3"))
    fs.delete(os.path.join(root, "d1", "d2"), recursive=True)
    obs["after_delete"] = fs.listdir(os.path.join(root, "d1"))
    fs.delete(os.path.join(root, "nope"))  # missing: no error
    return obs


class _RenameFails:
    """A Hadoop ``FileSystem`` proxy whose ``rename`` reports failure."""

    def __init__(self, fs, temps):
        self._fs, self._temps = fs, temps

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        self._temps.append(src.getName())
        return False


class TestFSInterface:
    def test_local_and_hadoop_parity(self, spark, tmp_path):
        """HadoopFS over a local root must observe exactly what LocalFS
        observes — the storage plane cannot care which one it got."""
        import contextlib

        import rtstore_spark.store.fs as fsmod

        @contextlib.contextmanager
        def local_rename_fails():
            temps = []

            def replace(src, dst):
                temps.append(os.path.basename(src))
                raise OSError("simulated rename failure")

            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(fsmod.os, "replace", replace)
                yield temps

        hfs = HadoopFS(spark)

        @contextlib.contextmanager
        def hadoop_rename_fails():
            temps = []
            real = hfs._fs
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(hfs, "_fs", lambda p: _RenameFails(real(p), temps))
                yield temps

        local = _exercise_fs(LocalFS(), str(tmp_path / "l"), local_rename_fails)
        hadoop = _exercise_fs(hfs, str(tmp_path / "h"), hadoop_rename_fails)
        assert local == hadoop
        assert local["read"] == "alpha2"
        assert local["listdir"] == ["a.txt", "d2"]
        assert local["recursive"] == ["a.txt", "b.txt"]
        assert local["du"] == len("alpha2") + len("beta")
        assert local["bytes_roundtrip"] == bytes(range(256)) * 3
        assert local["bytes_listdir"] == ["c.bin"]
        assert local["failed_write_raised"] is True
        assert local["failed_temp_names_hidden"] == [True]
        assert local["after_failed_write"] == ["c.bin"]
        assert local["after_delete"] == ["a.txt"]

    def test_fs_for_scheme_routing(self, spark):
        assert isinstance(fs_for("/tmp/x"), LocalFS)
        assert isinstance(fs_for("s3a://bucket/x", spark), HadoopFS)
        assert isinstance(fs_for("file:///tmp/x", spark), HadoopFS)


@pytest.fixture()
def store(spark, tmp_path):
    s = DocStore(spark, str(tmp_path / "store"))
    db = s.create_database(ALICE, nonce=1)
    s.create_collection(db, "c", [], ALICE)
    return s, db


class TestPointerFlipCrashSafety:
    def test_crash_before_flip_keeps_old_state(self, store, monkeypatch):
        """Kill the process between the snapshot write and the pointer
        flip: readers must still see the pre-compaction state exactly, and
        a later successful compaction must converge to the same rows."""
        s, db = store
        ids = s.add_docs(db, "c", [json.dumps({"v": i}) for i in range(6)], ALICE)
        s.update_docs(db, "c", [ids[0]], ['{"v": 100}'], ALICE)
        s.delete_docs(db, "c", [ids[5]], ALICE)
        before = sorted(
            (r["doc_id"], r["doc"]) for r in s.current_state(db, "c").collect()
        )

        def boom(root, gen):
            raise RuntimeError("simulated crash before pointer flip")

        monkeypatch.setattr(s, "_flip_pointer", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            s.compact(db, "c")
        # snapshot dir exists but the pointer was never flipped → readers
        # stay on the old (root-level) layout, bit-for-bit
        monkeypatch.undo()
        assert s._current_gen(s._data_root(db, "c")) is None
        mid = sorted(
            (r["doc_id"], r["doc"]) for r in s.current_state(db, "c").collect()
        )
        assert mid == before
        # a retried compaction picks a fresh generation, flips, cleans up
        s.compact(db, "c")
        after = sorted(
            (r["doc_id"], r["doc"]) for r in s.current_state(db, "c").collect()
        )
        assert after == before
        root = s._data_root(db, "c")
        live = s._current_gen(root)
        assert live is not None
        assert set(s.fs.listdir(root)) == {live, CURRENT_POINTER}

    def test_fresh_reader_resolves_pointer(self, store, spark):
        """A brand-new store instance (new reader process) must resolve the
        flipped pointer and see identical data — the cross-process contract
        an os.rename swap could not give on an object store."""
        s, db = store
        s.add_docs(db, "c", [json.dumps({"v": i}) for i in range(4)], ALICE)
        s.compact(db, "c")
        s.add_docs(db, "c", ['{"v": 99}'], ALICE)  # post-compact append
        reader = DocStore(spark, s.root)
        assert sorted(
            (r["doc_id"], r["doc"]) for r in reader.current_state(db, "c").collect()
        ) == sorted(
            (r["doc_id"], r["doc"]) for r in s.current_state(db, "c").collect()
        )
        assert reader.current_state(db, "c").count() == 5


class TestHadoopFSStorage:
    def test_full_lifecycle_through_hadoop_fs(self, spark, tmp_path):
        """Every control-plane call routed through the Hadoop FileSystem
        client: create → add → update → delete → compact → read back."""
        s = DocStore(spark, str(tmp_path / "hstore"), fs=HadoopFS(spark))
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        ids = s.add_docs(db, "c", [json.dumps({"v": i}) for i in range(5)], ALICE)
        s.update_docs(db, "c", [ids[1]], ['{"v": 11}'], ALICE)
        s.delete_docs(db, "c", [ids[4]], ALICE)
        s.compact(db, "c")
        rows = {
            r["doc_id"]: json.loads(r["doc"])["v"]
            for r in s.current_state(db, "c").collect()
        }
        assert rows == {ids[0]: 0, ids[1]: 11, ids[2]: 2, ids[3]: 3}
        assert json.loads(s.get_doc(db, "c", ids[1])["doc"]) == {"v": 11}


class TestGcAndCatalogRewrite:
    def test_gc_drops_partitions_path_stays_stable(
        self, spark, tmp_path, monkeypatch
    ):
        """Log GC is partition-granular: block_bucket= directories below
        the watermark bucket are deleted in place — no pointer, no rename,
        and the log PATH never changes, so a live tail-sync stream keeps
        its source across GC rounds. Appends after GC land in the same
        directory a fresh reader lists."""
        import rtstore_spark.store.docstore as ds
        from rtstore_spark.sources.rollup import RollupExecutor

        monkeypatch.setattr(ds, "LOG_BLOCKS_PER_BUCKET", 1)
        s = DocStore(spark, str(tmp_path / "gcs"))
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        for i in range(3):
            s.add_docs(db, "c", [json.dumps({"v": i})], ALICE)
            s.state.next_block()
        ex = RollupExecutor(spark, s.root)
        assert ex.rollup(s.mutation_log(), open_block=s.state.block) is not None
        path_before = s._log_path()
        watermark = ex.gc(s, min_gc_offset=0)
        assert watermark > 0
        # same directory, no generation pointer, rolled buckets gone
        assert s._log_path() == path_before
        assert s._current_gen(s._log_root()) is None
        remaining = s.mutation_log()
        assert remaining.filter(f"block < {watermark}").count() == 0
        # post-GC appends land in the stable path and a fresh reader sees
        # exactly the same log
        s.add_docs(db, "c", ['{"v": 99}'], ALICE)
        reader = DocStore(spark, s.root)
        assert reader.mutation_log().count() == s.mutation_log().count() >= 1

    def test_compact_catalogs_collapses_files(self, spark, tmp_path):
        s = DocStore(spark, str(tmp_path / "cats"))
        for n in range(1, 5):
            db = s.create_database(ALICE, nonce=n)
            s.create_collection(db, "c", [], ALICE)
        dbs_before = sorted(d["db_addr"] for d in s.databases_latest())
        cols_before = sorted(
            (r["db_addr"], r["col_name"]) for r in s.collections().collect()
        )
        n_files = len(
            [f for f in s.fs.list_files_recursive(s._db_path()) if f.endswith(".parquet")]
        )
        assert n_files == 4  # one per create — the problem being fixed
        s.compact_catalogs()
        assert (
            len([f for f in s.fs.list_files_recursive(s._db_path()) if f.endswith(".parquet")])
            == 1
        )
        assert sorted(d["db_addr"] for d in s.databases_latest()) == dbs_before
        assert (
            sorted((r["db_addr"], r["col_name"]) for r in s.collections().collect())
            == cols_before
        )
        # catalogs stay writable after the rewrite
        db = s.create_database(ALICE, nonce=9)
        assert len(s.databases_latest()) == 5


class TestSequentialAutoCompact:
    def test_direct_api_writer_stays_bounded(self, spark, tmp_path):
        """A long-lived direct-API writer (one file per mutation) that
        closes a block after each mutation keeps its collection's live
        file count bounded through close_block's sweep, with no document
        ever lost."""
        s = DocStore(spark, str(tmp_path / "seqac"))
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        for i in range(9):
            s.add_docs(db, "c", [json.dumps({"v": i})], ALICE)
            s.close_block(compact_every=3, max_files=2)
            # every 3rd block sweeps past 2 files → at most (threshold +
            # sweep interval) live files at any point
            assert s._live_file_count(s._data_root(db, "c")) <= 2 + 3
        vals = sorted(
            json.loads(r["doc"])["v"] for r in s.current_state(db, "c").collect()
        )
        assert vals == list(range(9))


class TestUriRootStore:
    def test_full_lifecycle_on_file_uri_root(self, spark, tmp_path):
        """A store rooted at a scheme-qualified URI exercises the exact
        code path an object-store deployment takes: fs_for picks HadoopFS,
        every control-plane op speaks the Hadoop client, pointer files and
        generation dirs live under the URI, and Spark reads/writes resolve
        the same scheme."""
        root = "file://" + str(tmp_path / "uristore")
        s = DocStore(spark, root)
        assert isinstance(s.fs, HadoopFS)
        db = s.create_database(ALICE, nonce=1)
        s.create_collection(db, "c", [], ALICE)
        ids = s.add_docs(db, "c", [json.dumps({"v": i}) for i in range(6)], ALICE)
        s.update_docs(db, "c", [ids[0]], ['{"v": 100}'], ALICE)
        s.delete_docs(db, "c", [ids[5]], ALICE)
        s.compact(db, "c")
        s.add_docs(db, "c", ['{"v": 7}'], ALICE)  # post-compact append
        rows = {
            r["doc_id"]: json.loads(r["doc"])["v"]
            for r in s.current_state(db, "c").collect()
        }
        assert rows == {ids[0]: 100, ids[1]: 1, ids[2]: 2, ids[3]: 3,
                        ids[4]: 4, 7: 7}
        # catalogs + log live under the URI too
        s.compact_catalogs()
        assert len(s.databases_latest()) == 1
        assert s.mutation_log().count() >= 5
        # a fresh store on the same URI resolves pointers identically
        reader = DocStore(spark, root)
        assert reader.current_state(db, "c").count() == 6


class TestGenerationRetention:
    def test_superseded_generation_survives_one_rewrite(self, store, spark):
        """An in-flight cross-process reader that resolved the pointer
        before a rewrite must be able to finish its scan: cleanup keeps the
        immediately-superseded generation as a grace window and drops it
        only on the NEXT rewrite."""
        s, db = store
        s.add_docs(db, "c", [json.dumps({"v": i}) for i in range(4)], ALICE)
        s.compact(db, "c")
        root = s._data_root(db, "c")
        g1 = s._current_gen(root)
        # a reader process resolves the pointer now → it scans g1's files
        s.add_docs(db, "c", ['{"v": 50}'], ALICE)
        s.compact(db, "c")
        g2 = s._current_gen(root)
        assert g2 != g1
        names = set(s.fs.listdir(root))
        assert g1 in names and g2 in names  # grace window held
        # the pinned reader's scan of g1 still completes (4 compacted docs
        # plus the post-compact append that landed in the then-live g1)
        assert spark.read.parquet(os.path.join(root, g1)).count() == 5
        # the next rewrite retires g1, keeps g2
        s.add_docs(db, "c", ['{"v": 60}'], ALICE)
        s.compact(db, "c")
        names = set(s.fs.listdir(root))
        assert g1 not in names and g2 in names
        assert s.current_state(db, "c").count() == 6


class TestGenerationCommitHelper:
    """store.fs.begin_generation/commit_generation — the shared manifest
    protocol all three index writers (seen filter, pq, bm25) refit onto
    in round 9. Their crash/concurrency suites exercise it end-to-end;
    this pins the helper's own contract directly."""

    def test_flip_and_grace_of_one_sweep(self, tmp_path):
        from rtstore_spark.store.fs import (
            begin_generation,
            commit_generation,
            parse_gen_pointer,
        )

        fs, root = LocalFS(), str(tmp_path / "genc")
        fs.makedirs(root)
        names = []
        for i in range(3):
            prev_gen, prev_name, gen_name = begin_generation(fs, root)
            assert prev_gen == i
            os.makedirs(f"{root}/{gen_name}")
            commit_generation(
                fs, root, prev_gen, gen_name, op="t", keep=(prev_name,)
            )
            names.append(gen_name)
        live = parse_gen_pointer(fs.read_text(f"{root}/_current"))[1]
        assert live == names[-1]
        dirs = {d for d in os.listdir(root) if d.startswith("gen-")}
        assert dirs == set(names[-2:])  # live + predecessor, gen-1 swept

    def test_concurrent_advance_refused_and_orphan_swept(self, tmp_path):
        from rtstore_spark.store.fs import begin_generation, commit_generation

        fs, root = LocalFS(), str(tmp_path / "genr")
        fs.makedirs(root)
        pg, pn, g1 = begin_generation(fs, root)
        os.makedirs(f"{root}/{g1}")
        # a racer starts from the same state...
        pg2, pn2, g2 = begin_generation(fs, root)
        os.makedirs(f"{root}/{g2}")
        assert g1 != g2  # unique suffixes: racers never share a dir
        commit_generation(fs, root, pg, g1, op="t", keep=(pn,))
        # ...and must be refused at ITS commit (pointer moved under it)
        with pytest.raises(RuntimeError, match="single-writer"):
            commit_generation(fs, root, pg2, g2, op="t", keep=(pn2,))
        # the loser's orphan dir sweeps on the next successful commit
        pg3, pn3, g3 = begin_generation(fs, root)
        os.makedirs(f"{root}/{g3}")
        commit_generation(fs, root, pg3, g3, op="t", keep=(pn3,))
        dirs = {d for d in os.listdir(root) if d.startswith("gen-")}
        assert dirs == {g1, g3}  # live + predecessor; orphan g2 gone


class TestMaintenanceLease:
    """store.fs.acquire/release_maintenance_lease — round-11 single-
    writer enforcement shared by all six index writers (bm25/pq x
    write/append/compact): a contract violation now fails loudly at
    operation START, naming the holder, instead of (at best) at the
    pre-flip pointer re-check."""

    def test_acquire_release_cycle(self, tmp_path):
        from rtstore_spark.store.fs import (
            acquire_maintenance_lease,
            release_maintenance_lease,
        )

        fs, root = LocalFS(), str(tmp_path / "lease")
        fs.makedirs(root)
        h = acquire_maintenance_lease(fs, root, op="compact_pq_index")
        assert "compact_pq_index" in h
        assert fs.read_text(f"{root}/_lease") is not None
        release_maintenance_lease(fs, root, h)
        assert fs.read_text(f"{root}/_lease") is None
        # free again: a second writer acquires cleanly
        h2 = acquire_maintenance_lease(fs, root, op="append_pq_index")
        release_maintenance_lease(fs, root, h2)

    def test_live_lease_refused_naming_holder(self, tmp_path):
        from rtstore_spark.store.fs import acquire_maintenance_lease

        fs, root = LocalFS(), str(tmp_path / "lease2")
        fs.makedirs(root)
        h = acquire_maintenance_lease(fs, root, op="compact_bm25_index")
        with pytest.raises(RuntimeError) as ei:
            acquire_maintenance_lease(fs, root, op="append_bm25_index")
        msg = str(ei.value)
        assert "maintenance lease" in msg
        assert h in msg  # the HOLDER is named — operators know what to wait for
        assert "stale" in msg  # and told about the ttl takeover rule

    def test_stale_lease_taken_over(self, tmp_path):
        """A crashed holder's lease (older than its ttl) must not brick
        the index: the next writer takes over."""
        import time

        from rtstore_spark.store.fs import acquire_maintenance_lease

        fs, root = LocalFS(), str(tmp_path / "lease3")
        fs.makedirs(root)
        fs.write_text_atomic(
            f"{root}/_lease",
            json.dumps({
                "holder": "append_pq_index:dead:cafe0123",
                "op": "append_pq_index",
                "acquired_unix": time.time() - 10_000,
                "ttl": 900.0,
            }),
        )
        h = acquire_maintenance_lease(fs, root, op="compact_pq_index")
        assert h.startswith("compact_pq_index:")
        rec = json.loads(fs.read_text(f"{root}/_lease"))
        assert rec["holder"] == h

    def test_corrupt_lease_treated_as_stale(self, tmp_path):
        from rtstore_spark.store.fs import acquire_maintenance_lease

        fs, root = LocalFS(), str(tmp_path / "lease4")
        fs.makedirs(root)
        fs.write_text_atomic(f"{root}/_lease", "not json{")
        h = acquire_maintenance_lease(fs, root, op="write_pq_index")
        assert json.loads(fs.read_text(f"{root}/_lease"))["holder"] == h

    def test_release_only_if_ours(self, tmp_path):
        """A stale holder's late cleanup must not delete the takeover's
        fresh lease."""
        import time

        from rtstore_spark.store.fs import (
            acquire_maintenance_lease,
            release_maintenance_lease,
        )

        fs, root = LocalFS(), str(tmp_path / "lease5")
        fs.makedirs(root)
        fs.write_text_atomic(
            f"{root}/_lease",
            json.dumps({
                "holder": "old:1:aa", "op": "x",
                "acquired_unix": time.time() - 10_000, "ttl": 900.0,
            }),
        )
        h = acquire_maintenance_lease(fs, root, op="compact_pq_index")
        release_maintenance_lease(fs, root, "old:1:aa")  # late cleanup
        assert json.loads(fs.read_text(f"{root}/_lease"))["holder"] == h
        release_maintenance_lease(fs, root, h)

    def test_context_manager_releases_on_error(self, tmp_path):
        """A FAILED operation must not hold the store hostage for a
        full ttl."""
        from rtstore_spark.store.fs import (
            acquire_maintenance_lease,
            maintenance_lease,
            release_maintenance_lease,
        )

        fs, root = LocalFS(), str(tmp_path / "lease6")
        fs.makedirs(root)
        with pytest.raises(ValueError, match="boom"):
            with maintenance_lease(fs, root, op="write_bm25_index"):
                raise ValueError("boom")
        assert fs.read_text(f"{root}/_lease") is None
        h = acquire_maintenance_lease(fs, root, op="append_bm25_index")
        release_maintenance_lease(fs, root, h)

    def test_read_back_detects_lost_race(self, tmp_path, monkeypatch):
        """Two racers that both pass the free check write distinct
        holders; the loser must detect the winner's id on read-back
        and raise rather than proceed."""
        from rtstore_spark.store import fs as fsmod

        fs, root = LocalFS(), str(tmp_path / "lease7")
        fs.makedirs(root)
        real = fsmod.LocalFS.read_text
        state = {"fired": False}

        def usurping_read(self, p):
            out = real(self, p)
            if p.endswith("/_lease") and out is not None and not state["fired"]:
                state["fired"] = True
                # between our write and our read-back, a racer overwrote
                fs.write_text_atomic(p, out.replace(
                    json.loads(out)["holder"], "racer:9:beef"
                ))
                return real(self, p)
            return out

        monkeypatch.setattr(fsmod.LocalFS, "read_text", usurping_read)
        with pytest.raises(RuntimeError, match="lost the maintenance-lease"):
            fsmod.acquire_maintenance_lease(fs, root, op="append_pq_index")


class TestTagTokenVocabulary:
    """store.fs.is_current_tag_token — the legacy-sanitizer detector
    behind the appenders' loud refusal (round-10 advice: a replayed
    pre-upgrade non-digit tag would silently re-append)."""

    def test_current_forms_accepted(self):
        from rtstore_spark.store.fs import is_current_tag_token, safe_batch_tag

        assert is_current_tag_token("0")
        assert is_current_tag_token("1234567890")
        assert is_current_tag_token(safe_batch_tag("crawl/a"))
        assert is_current_tag_token(safe_batch_tag("we ird\ntag"))

    def test_legacy_stripped_tokens_rejected(self):
        from rtstore_spark.store.fs import is_current_tag_token

        # the old sanitizer stripped 'crawl/a' → 'crawla'
        assert not is_current_tag_token("crawla")
        assert not is_current_tag_token("h" + "z" * 20)  # not hex
        assert not is_current_tag_token("h" + "a" * 19)  # wrong length
        assert not is_current_tag_token("")


class TestSafeBatchTag:
    """store.fs.safe_batch_tag — the shared idempotence-token rule for
    streaming index sinks (bm25 + pq)."""

    def test_digit_tags_pass_through(self):
        from rtstore_spark.store.fs import safe_batch_tag

        # the foreachBatch convention: batch ids stay verbatim, so
        # tokens committed by earlier releases keep matching replays
        assert safe_batch_tag("0") == "0"
        assert safe_batch_tag(17) == "17"

    def test_distinct_raw_tags_never_alias(self):
        from rtstore_spark.store.fs import safe_batch_tag

        # the old strip-to-alnum sanitizer collapsed these into '12'
        assert safe_batch_tag("1-2") != safe_batch_tag("12")
        assert safe_batch_tag("1-2") != safe_batch_tag("1_2")
        # deterministic (replay of the same raw tag must match)
        assert safe_batch_tag("a b") == safe_batch_tag("a b")
        # hashed tokens are h-prefixed: disjoint from digit tokens
        assert safe_batch_tag("x").startswith("h")
        # filesystem-safe either way
        assert safe_batch_tag("we/ird\ntag").isalnum()
