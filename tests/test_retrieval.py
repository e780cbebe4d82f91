"""BM25 inverted-index retrieval (operators/retrieval.py).

Correctness strategy, strongest first:
1. LITERAL ROWS for several queries on the real sf0.001 documents
   table: the batch path must return exactly the pinned (id, score) rows
   per query. The rows were recorded from an independent single-query
   corpus scan that agreed with the batch path row for row.
2. DuckDB replay of the full BM25 arithmetic on a small corpus.
3. Persistence: write → read round trip; rebuild pointer flip; crash
   before the flip leaves the previous generation live.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from rtstore_spark.operators.retrieval import (
    append_bm25_index,
    bm25_batch_topk,
    bm25_build,
    bm25_search_batch,
    compact_bm25_index,
    read_bm25_index,
    write_bm25_index,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    from rtstore_spark.tables import load_table

    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


QUERIES = [
    (0, "model training data"),
    (1, "quality corpus analysis"),
    (2, "the of and"),            # stopword-only: low idf, many hits
    (3, "zzzunseen tokenzzz"),    # no corpus hits: empty result set
]


# (id, score) top-7 per QUERIES qid over the sf0.001 documents
PINNED_K7 = {
    0: [(276, 0.524768), (89, 0.517608), (114, 0.515265), (446, 0.510071),
        (126, 0.506805), (153, 0.503896), (61, 0.502539)],
    1: [],
    2: [(493, 0.467941), (92, 0.455164), (477, 0.447714), (102, 0.445152),
        (42, 0.437639), (312, 0.435825), (76, 0.434017)],
    3: [],
}


class TestBatchMatchesSingleQuery:
    def test_rows_pinned_k7(self, spark, docs):
        queries = spark.createDataFrame(QUERIES, "qid long, text string")
        batch = {
            qid: [(r["id"], r["score"]) for r in rows]
            for qid, rows in _group(
                bm25_batch_topk(
                    docs, "text", "doc_id", queries, k=7
                ).collect()
            ).items()
        }
        for qid, _ in QUERIES:
            assert batch.get(qid, []) == PINNED_K7[qid], f"query {qid} diverged"

    def test_k_cap_and_ordering(self, spark, docs):
        queries = spark.createDataFrame(
            [(9, "model data")], "qid long, text string"
        )
        out = bm25_batch_topk(docs, "text", "doc_id", queries, k=3).collect()
        assert len(out) == 3
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)

    def test_single_tokenize_via_materialized_postings(self, spark, docs):
        # the index-free path materializes the postings to an
        # operator-private temp parquet, so the SEARCH plan consumes the
        # corpus tokenize zero times (it ran once, in the eager build):
        # no Generate (explode) node anywhere, and both postings
        # consumers read the scratch parquet. An unpersisted plan ran
        # the tokenize+explode+(term,id) aggregate twice (probe +
        # term-df build — column pruning differentiates the subtrees,
        # so exchange reuse could never dedupe them).
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        out = bm25_batch_topk(docs, "text", "doc_id", queries, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly TWO Generates, both the tiny query-term explode (probe
        # arm + term-df restriction arm). The CORPUS explode appears zero
        # times — it ran once, in the eager build job (the unmaterialized
        # plan carried FOUR Generates: corpus + query on each arm).
        assert plan.count("Generate") == 2
        assert "rtstore_bm25_batch_" in plan
        # and a fresh call must NOT reuse the first call's files: the
        # materialization is per-call (no cross-invocation result reuse)
        out2 = bm25_batch_topk(docs, "text", "doc_id", queries, k=5)
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        import re

        def scratch_dirs(p):
            return set(re.findall(r"rtstore_bm25_batch_\w+/\w+", p))

        assert scratch_dirs(plan), "scratch path missing from plan"
        assert scratch_dirs(plan).isdisjoint(scratch_dirs(plan2))


def _group(rows):
    g: dict = {}
    for r in rows:
        g.setdefault(r["qid"], []).append(r)
    return g


def _manifest(spark, path):
    """The live generation's increment manifest (store/increments.py)."""
    from rtstore_spark.store.fs import fs_for
    from rtstore_spark.store.increments import live_base, read_manifest

    return read_manifest(fs_for(path, spark), live_base(spark, path))


def _stored_ledger(spark, path):
    """The ledger lines the live manifest STORES (watermark, then tags)
    — not ``Manifest.ledger()``'s folded view, so a fold that stopped
    compressing digit tags shows up here as extra ``t`` lines."""
    m = _manifest(spark, path)
    wm = [] if m.watermark is None else [f"w{m.watermark}"]
    return wm + list(m.tags)


def _inc_dirs_on_disk(spark, path):
    """Every increment directory under the live generation, committed
    or orphaned."""
    from rtstore_spark.store.increments import live_base

    inc = os.path.join(live_base(spark, path), "inc")
    if not os.path.isdir(inc):
        return []
    return sorted(d for d in os.listdir(inc) if d.startswith("gen-"))


class TestDuckDbReplay:
    def test_bm25_arithmetic_matches_duckdb(self, spark):
        corpus = [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple cherry cherry durian"),
            (4, "durian"),
            (5, "apple apple apple banana banana cherry"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(0, "apple cherry"), (1, "banana durian")],
            "qid long, text string",
        )
        got = [
            (r["qid"], r["id"], r["score"])
            for r in bm25_batch_topk(
                df, "text", "doc_id", queries, k=10
            ).collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE corpus AS SELECT * FROM (VALUES "
            + ",".join(f"({i}, '{t}')" for i, t in corpus)
            + ") AS t(doc_id, text)"
        )
        con.execute(
            "CREATE TABLE queries AS SELECT * FROM (VALUES "
            "(0, 'apple cherry'), (1, 'banana durian')) AS t(qid, qtext)"
        )
        want = con.execute("""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
              FROM corpus
            ),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ),
            tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            qt AS (
              SELECT DISTINCT qid,
                     unnest(string_split_regex(lower(trim(qtext)), '\\s+')) AS term
              FROM queries
            )
            SELECT qt.qid, tf.doc_id,
                   round(sum(
                     ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
                     * (tf.tf * (1.2 + 1))
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                   ), 6) AS score
            FROM qt
            JOIN tf  ON tf.term = qt.term
            JOIN tdf ON tdf.term = qt.term
            JOIN dl  ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
            GROUP BY qt.qid, tf.doc_id
            ORDER BY qt.qid, score DESC, tf.doc_id
        """).fetchall()
        assert got == [(q, d, pytest.approx(s, abs=2e-6)) for q, d, s in want]


class TestPersistence:
    def test_write_read_search_round_trip(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25")
        write_bm25_index(docs, "text", "doc_id", path, n_buckets=8)
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == docs.count()
        assert stats["n_buckets"] == 8
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        via_index = [
            (r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=5
            ).collect()
        ]
        assert via_index == PINNED_K7[0][:5]

    def test_rebuild_flips_pointer_sweeps_with_grace(
        self, spark, docs, tmp_path
    ):
        path = str(tmp_path / "bm25-re")
        write_bm25_index(docs.limit(50), "text", "doc_id", path)
        _, _, s1 = read_bm25_index(spark, path)
        assert s1["n_docs"] == 50
        write_bm25_index(docs.limit(80), "text", "doc_id", path)
        _, _, s2 = read_bm25_index(spark, path)
        assert s2["n_docs"] == 80
        # grace-of-one: the immediate predecessor survives a rebuild (a
        # reader's lazy plans may still reference its files); only
        # OLDER generations sweep
        gens = [d for d in os.listdir(path) if d.startswith("gen-")]
        assert len(gens) == 2
        write_bm25_index(docs.limit(60), "text", "doc_id", path)
        gens = sorted(d for d in os.listdir(path) if d.startswith("gen-"))
        assert len(gens) == 2  # gen-1 retired on the THIRD rebuild
        assert all(not g.startswith("gen-1-") for g in gens)

    def test_empty_corpus_refused_live_generation_survives(
        self, spark, docs, tmp_path
    ):
        path = str(tmp_path / "bm25-empty")
        write_bm25_index(docs.limit(50), "text", "doc_id", path)
        with pytest.raises(ValueError, match="EMPTY corpus"):
            write_bm25_index(
                docs.filter(F.lit(False)), "text", "doc_id", path
            )
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 50  # live generation untouched

    def test_crash_before_flip_leaves_previous_generation(
        self, spark, docs, tmp_path, monkeypatch
    ):
        from rtstore_spark.store import fs as fsmod

        path = str(tmp_path / "bm25-crash")
        write_bm25_index(docs.limit(50), "text", "doc_id", path)

        real = fsmod.LocalFS.write_text_atomic

        def dying(self, p, text):
            if p.endswith("/_current") and "gen-2" in text:
                raise RuntimeError("injected crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_bm25_index(docs.limit(80), "text", "doc_id", path)
        monkeypatch.undo()
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 50  # previous generation fully live

    def test_empty_query_hits_return_no_rows(self, spark, docs, tmp_path):
        queries = spark.createDataFrame(
            [(0, "zzzunseen tokenzzz")], "qid long, text string"
        )
        postings, term_df, stats = bm25_build(docs, "text", "doc_id")
        out = bm25_search_batch(postings, term_df, stats, queries, k=5)
        assert out.count() == 0


class TestPlanShape:
    def test_search_broadcasts_queries_not_postings(self, spark, docs):
        queries = spark.createDataFrame(
            [(0, "model data"), (1, "quality corpus")],
            "qid long, text string",
        )
        postings, term_df, stats = bm25_build(docs, "text", "doc_id")
        plan = (
            bm25_search_batch(postings, term_df, stats, queries, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        # the per-(qid,id) score sum must partial-aggregate map-side
        assert "partial_sum" in plan

    def test_topk_is_two_phase_no_per_qid_full_set_exchange(
        self, spark, docs
    ):
        """The ranking must never funnel a query's full matched set
        through one reducer: phase 1's window partitions by (qid,
        _shard) — a high-df query's candidates spread across n_shards
        reducers — and only the ≤ n_shards·k survivors reach the
        per-qid merge window."""
        import re

        queries = spark.createDataFrame(
            [(0, "the of and")], "qid long, text string"
        )
        postings, term_df, stats = bm25_build(docs, "text", "doc_id")
        plan = (
            bm25_search_batch(postings, term_df, stats, queries, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # phase-1 exchange clusters by BOTH qid and the id-derived shard
        assert re.search(r"hashpartitioning\(qid#\d+L?, _shard#\d+", plan), (
            "phase-1 top-k window is not sharded — full matched set "
            "would hit a single reducer per qid:\n" + plan
        )
        # exactly two ranking Window operators: sharded partial + merge
        n_windows = sum(
            1 for ln in plan.splitlines() if "Window [row_number()" in ln
        )
        assert n_windows == 2, plan


class TestTwoPhaseTopK:
    def test_identical_across_shard_counts(self, spark, docs):
        """n_shards is a pure execution knob: results (including tie
        resolution) must be byte-identical for any value. n_shards=1
        degenerates to the old single-window plan — the differential
        anchor."""
        queries = spark.createDataFrame(QUERIES, "qid long, text string")
        postings, term_df, stats = bm25_build(docs, "text", "doc_id")

        def run(n):
            return [
                (r["qid"], r["id"], r["score"])
                for r in bm25_search_batch(
                    postings, term_df, stats, queries, k=7, n_shards=n
                ).collect()
            ]

        base = run(1)
        assert len(base) > 0
        assert run(8) == base
        assert run(32) == base

    def test_max_df_prune_drops_stopword_terms_before_probe(self, spark):
        corpus = [
            (1, "the apple"),
            (2, "the banana"),
            (3, "the cherry"),
            (4, "the durian apple"),
            (5, "elderberry"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        postings, term_df, stats = bm25_build(df, "text", "doc_id")
        queries = spark.createDataFrame(
            [(0, "the apple"), (1, "the")], "qid long, text string"
        )
        # df("the") = 4/5 = 0.8 > 0.5 → pruned; df("apple") = 2/5 → kept
        out = bm25_search_batch(
            postings, term_df, stats, queries, k=10, max_df_fraction=0.5
        ).collect()
        by_qid = _group(out)
        # qid 0 reduces to the pure "apple" query
        apple_only = bm25_search_batch(
            postings, term_df, stats,
            spark.createDataFrame([(0, "apple")], "qid long, text string"),
            k=10,
        ).collect()
        assert [(r["id"], r["score"]) for r in by_qid[0]] == [
            (r["id"], r["score"]) for r in apple_only
        ]
        # qid 1 is ALL stopwords → zero rows, not a scored stopword scan
        assert 1 not in by_qid

    def test_max_df_prune_never_scans_pruned_postings(self, spark):
        corpus = [(i, "the filler") for i in range(1, 20)] + [
            (99, "needle filler")
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        postings, term_df, stats = bm25_build(df, "text", "doc_id")
        queries = spark.createDataFrame(
            [(0, "the needle")], "qid long, text string"
        )
        pruned = bm25_search_batch(
            postings, term_df, stats, queries, k=100, max_df_fraction=0.5
        )
        # "the" (df 19/20) and "filler" (20/20) pruned → only the
        # needle doc can surface; candidate set is 1 row, not 20
        rows = pruned.collect()
        assert [r["id"] for r in rows] == [99]


class TestIncrementalAppend:
    def _ids(self, rows):
        return sorted(r["id"] for r in rows)

    def test_append_visible_without_rebuild_and_matches_full_rebuild(
        self, spark, docs, tmp_path
    ):
        path = str(tmp_path / "bm25-delta")
        first, second = docs.limit(60), docs.limit(90).subtract(docs.limit(60))
        write_bm25_index(first, "text", "doc_id", path, n_buckets=8)
        append_bm25_index(second, "text", "doc_id", path)
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 90
        queries = spark.createDataFrame(
            [(0, "model training data"), (1, "quality corpus")],
            "qid long, text string",
        )
        via_delta = [
            (r["qid"], r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=8
            ).collect()
        ]
        # ground truth: one full rebuild over the union corpus
        path2 = str(tmp_path / "bm25-full")
        write_bm25_index(
            docs.limit(90), "text", "doc_id", path2, n_buckets=8
        )
        p2, t2, s2 = read_bm25_index(spark, path2)
        via_full = [
            (r["qid"], r["id"], r["score"])
            for r in bm25_search_batch(p2, t2, s2, queries, k=8).collect()
        ]
        assert via_delta == via_full

    def test_stats_fold_exact(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-stats")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        append_bm25_index(
            docs.limit(70).subtract(docs.limit(40)), "text", "doc_id", path
        )
        _, _, folded = read_bm25_index(spark, path)
        _, _, truth = bm25_build(docs.limit(70), "text", "doc_id")
        assert folded["n_docs"] == truth["n_docs"]
        assert folded["sum_dl"] == truth["sum_dl"]
        assert folded["avgdl"] == pytest.approx(truth["avgdl"], rel=0, abs=0)

    def test_termdf_resummed_across_base_and_delta(self, spark, tmp_path):
        path = str(tmp_path / "bm25-df")
        a = spark.createDataFrame(
            [(1, "apple banana"), (2, "apple")], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(3, "apple cherry")], "doc_id long, text string"
        )
        write_bm25_index(a, "text", "doc_id", path)
        append_bm25_index(b, "text", "doc_id", path)
        _, term_df, stats = read_bm25_index(spark, path)
        # read returns the UNFOLDED base+delta union (per-part partial
        # dfs — deliberate: the search path folds AFTER its query-vocab
        # restriction so a maintained index never shuffles the full
        # vocabulary); the partials must SUM to the true dfs
        folded = term_df.groupBy("term").agg(F.sum("df").alias("df"))
        dfs = {r["term"]: r["df"] for r in folded.collect()}
        assert dfs == {"apple": 3, "banana": 1, "cherry": 1}
        assert stats["n_docs"] == 3

    def test_crash_before_manifest_leaves_delta_invisible(
        self, spark, docs, tmp_path, monkeypatch
    ):
        from rtstore_spark.store import fs as fsmod

        path = str(tmp_path / "bm25-dcrash")
        write_bm25_index(docs.limit(50), "text", "doc_id", path)
        real = fsmod.LocalFS.write_text_atomic

        def dying(self, p, text):
            if p.endswith("/inc/_current"):
                raise RuntimeError("injected crash before manifest write")
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            append_bm25_index(
                docs.limit(60).subtract(docs.limit(50)),
                "text", "doc_id", path,
            )
        monkeypatch.undo()
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 50  # orphan delta dir never read
        assert len(_inc_dirs_on_disk(spark, path)) == 1
        assert _manifest(spark, path).names == ()
        # a later successful append sweeps the crashed attempt's orphan
        append_bm25_index(
            docs.limit(60).subtract(docs.limit(50)), "text", "doc_id", path
        )
        deltas = _inc_dirs_on_disk(spark, path)
        assert deltas == list(_manifest(spark, path).names)
        assert len(deltas) == 1  # committed one only; orphan swept
        _, _, s2 = read_bm25_index(spark, path)
        assert s2["n_docs"] == 60

    def test_rebuild_folds_deltas_away(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-fold")
        write_bm25_index(docs.limit(30), "text", "doc_id", path)
        append_bm25_index(
            docs.limit(50).subtract(docs.limit(30)), "text", "doc_id", path
        )
        write_bm25_index(docs.limit(50), "text", "doc_id", path)
        assert _manifest(spark, path).names == ()
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 50

    def test_empty_append_is_noop(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-noop")
        write_bm25_index(docs.limit(20), "text", "doc_id", path)
        append_bm25_index(
            docs.filter(F.lit(False)), "text", "doc_id", path
        )
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 20
        assert _inc_dirs_on_disk(spark, path) == []
        assert _manifest(spark, path).names == ()

    def test_append_without_base_raises(self, spark, docs, tmp_path):
        with pytest.raises(FileNotFoundError, match="no live bm25 index"):
            append_bm25_index(
                docs.limit(5), "text", "doc_id", str(tmp_path / "nope")
            )


class TestStreamingMaintenance:
    def test_replayed_batch_tag_is_noop(self, spark, docs, tmp_path):
        """foreachBatch may re-deliver a committed batch after a crash;
        the tag must make the second append a no-op (a double append
        would double-count term dfs and duplicate results)."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-stream")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        batch = docs.limit(60).subtract(docs.limit(40))
        sink = bm25_index_sink(path, "text", "doc_id")
        sink(batch, 0)
        _, _, s1 = read_bm25_index(spark, path)
        assert s1["n_docs"] == 60
        sink(batch, 0)  # replay of the SAME micro-batch
        _, term_df, s2 = read_bm25_index(spark, path)
        assert s2 == s1
        # the replay committed NO second delta (one delta dir total),
        # so every term's partial dfs sum to a single-counted df
        assert len(_inc_dirs_on_disk(spark, path)) == 1
        assert len(_manifest(spark, path).names) == 1
        sink(batch.limit(0), 1)  # empty batch is also a no-op
        _, _, s3 = read_bm25_index(spark, path)
        assert s3 == s1

    def test_compaction_preserves_tag_ledger(self, spark, docs, tmp_path):
        """Compaction carries the folded deltas' tags into the new
        generation's ledger, so a micro-batch replayed AFTER a
        compaction still no-ops — the property that makes in-sink
        auto-compaction safe mid-stream (only a full rebuild resets the
        ledger)."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-ledger")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        b0 = docs.limit(60).subtract(docs.limit(40))
        sink = bm25_index_sink(path, "text", "doc_id")
        sink(b0, 0)
        compact_bm25_index(spark, path)
        sink(b0, 0)  # replay AFTER the fold must still no-op
        _, _, s = read_bm25_index(spark, path)
        assert s["n_docs"] == 60
        # chained compactions keep accumulating the ledger
        b1 = docs.limit(70).subtract(docs.limit(60))
        sink(b1, 1)
        compact_bm25_index(spark, path)
        sink(b0, 0)
        sink(b1, 1)
        assert read_bm25_index(spark, path)[2]["n_docs"] == 70

    def test_sink_auto_compaction_bounds_delta_count(
        self, spark, docs, tmp_path
    ):
        """compact_every keeps the read plan's union width bounded: the
        sink folds whenever the delta count reaches the bound, replays
        of folded batches still no-op, results match a one-shot build."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-autocompact")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        sink = bm25_index_sink(path, "text", "doc_id", compact_every=2)
        slices = [
            docs.limit(40).subtract(docs.limit(30)),
            docs.limit(50).subtract(docs.limit(40)),
            docs.limit(60).subtract(docs.limit(50)),
        ]
        sink(slices[0], 0)
        sink(slices[1], 1)  # second delta hits the bound → folds
        assert _manifest(spark, path).names == ()  # folded
        assert read_bm25_index(spark, path)[2]["n_docs"] == 50
        sink(slices[2], 2)  # one delta again
        sink(slices[1], 1)  # replay of a FOLDED batch: no-op
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 60
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        via_sink = [
            (r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=8
            ).collect()
        ]
        path2 = str(tmp_path / "bm25-oneshot")
        write_bm25_index(docs.limit(60), "text", "doc_id", path2, n_buckets=8)
        p2, t2, s2 = read_bm25_index(spark, path2)
        via_full = [
            (r["id"], r["score"])
            for r in bm25_search_batch(p2, t2, s2, queries, k=8).collect()
        ]
        assert via_sink == via_full

    def test_tag_ledger_is_watermark_compressed(self, spark, docs, tmp_path):
        """The tag ledger must stay O(1) for a sink-driven stream no
        matter how many compactions chain: digit batch ids fold into
        ONE watermark line (batch ids are monotone under foreachBatch);
        hashed non-digit tags carry individually."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-wm")
        write_bm25_index(docs.limit(30), "text", "doc_id", path)
        sink = bm25_index_sink(path, "text", "doc_id")

        def ledger():
            return _stored_ledger(spark, path)

        lo = 30
        for batch_id in range(4):
            sink(
                docs.limit(lo + 5).subtract(docs.limit(lo)), batch_id
            )
            lo += 5
            compact_bm25_index(spark, path)
        assert ledger() == ["w3"]  # 4 folds, ONE line — not 4 tag lines
        # a hashed (non-digit) tag carries individually alongside
        append_bm25_index(
            docs.limit(55).subtract(docs.limit(50)),
            "text", "doc_id", path, batch_tag="crawl/a",
        )
        compact_bm25_index(spark, path)
        led = ledger()
        assert led[0] == "w3" and len(led) == 2 and led[1].startswith("th")
        # replays of everything still no-op after all those folds
        sink(docs.limit(35).subtract(docs.limit(30)), 0)
        append_bm25_index(
            docs.limit(55).subtract(docs.limit(50)),
            "text", "doc_id", path, batch_tag="crawl/a",
        )
        assert read_bm25_index(spark, path)[2]["n_docs"] == 55

    def test_compact_keep_retains_generations_for_readers(
        self, spark, docs, tmp_path
    ):
        """keep=N retention: a reader's lazy plan must survive N folds.
        With keep=2, two compactions later the original generation's
        files are still on disk and the old plan still evaluates."""
        path = str(tmp_path / "bm25-keep")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        # take a lazy plan against the CURRENT generation
        postings0, term_df0, stats0 = read_bm25_index(spark, path)
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        plan0 = bm25_search_batch(postings0, term_df0, stats0, queries, k=5)
        append_bm25_index(
            docs.limit(40).subtract(docs.limit(30)), "text", "doc_id", path
        )
        compact_bm25_index(spark, path, keep=2)  # fold 1
        append_bm25_index(
            docs.limit(50).subtract(docs.limit(40)), "text", "doc_id", path
        )
        compact_bm25_index(spark, path, keep=2)  # fold 2
        # the round-1 generation survived both folds: the old plan runs
        assert plan0.count() > 0
        gens = [d for d in os.listdir(path) if d.startswith("gen-")]
        assert len(gens) == 3  # live + 2 retained predecessors

    def test_streaming_appends_become_searchable(self, spark, tmp_path):
        """End-to-end: a file-source stream of new documents maintains
        the index via foreachBatch; search sees the streamed docs with
        EXACT BM25 stats (delta fold), no rebuild."""
        import json as _json

        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-live")
        seed = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
        )
        write_bm25_index(seed, "text", "doc_id", path)
        staging = tmp_path / "staging"
        staging.mkdir()
        (staging / "a.jsonl").write_text("\n".join(
            _json.dumps({"doc_id": i, "text": t})
            for i, t in [(3, "alpha delta"), (4, "delta epsilon")]
        ))
        q = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(staging))
            .writeStream
            .option("checkpointLocation", str(tmp_path / "chk"))
            .foreachBatch(bm25_index_sink(path, "text", "doc_id"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 4
        queries = spark.createDataFrame(
            [(0, "delta")], "qid long, text string"
        )
        hits = bm25_search_batch(
            postings, term_df, stats, queries, k=5
        ).collect()
        assert sorted(r["id"] for r in hits) == [3, 4]
        # restart over the SAME checkpoint: no new data → no new deltas
        q = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(staging))
            .writeStream
            .option("checkpointLocation", str(tmp_path / "chk"))
            .foreachBatch(bm25_index_sink(path, "text", "doc_id"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _, _, stats2 = read_bm25_index(spark, path)
        assert stats2["n_docs"] == 4


class TestStaticBucketPruning:
    def test_partition_filters_reach_both_union_branches(
        self, spark, docs, tmp_path
    ):
        """prune_buckets resolves the query terms' buckets driver-side
        and applies them as a LITERAL IN on the partition column —
        static pruning the planner honors through the base+delta UNION
        (dynamic partition pruning from the broadcast side is
        best-effort there). Every parquet scan of the search plan must
        carry a non-empty PartitionFilters on bucket."""
        import re

        path = str(tmp_path / "bm25-prune")
        write_bm25_index(docs.limit(60), "text", "doc_id", path, n_buckets=8)
        append_bm25_index(
            docs.limit(90).subtract(docs.limit(60)), "text", "doc_id", path
        )
        postings, term_df, stats = read_bm25_index(spark, path)
        queries = spark.createDataFrame(
            [(0, "model training")], "qid long, text string"
        )
        plan = (
            bm25_search_batch(postings, term_df, stats, queries, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        scans = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        posting_scans = [s for s in scans if "bucket" in s]
        assert len(posting_scans) >= 2, plan  # base AND delta branch
        assert all("IN" in s or "isin" in s.lower() for s in posting_scans)

    def test_prune_on_off_identical_results(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-prune2")
        write_bm25_index(docs.limit(80), "text", "doc_id", path, n_buckets=8)
        postings, term_df, stats = read_bm25_index(spark, path)
        queries = spark.createDataFrame(QUERIES, "qid long, text string")

        def run(p):
            return [
                (r["qid"], r["id"], r["score"])
                for r in bm25_search_batch(
                    postings, term_df, stats, queries, k=6, prune_buckets=p
                ).collect()
            ]

        assert run(True) == run(False)

    def test_all_terms_pruned_returns_typed_empty(self, spark, docs):
        postings, term_df, stats = bm25_build(docs, "text", "doc_id")
        queries = spark.createDataFrame(
            [(0, "the")], "qid long, text string"
        )
        out = bm25_search_batch(
            postings, term_df, stats, queries, k=5,
            max_df_fraction=0.0,  # prunes every term
        )
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["qid", "id", "score"]
        assert out.schema["id"].dataType == postings.schema["id"].dataType


def _node_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a Spark plan tree string. The
    tree prefix is 3-char segments drawn from {'   ', ':  ', '+- ',
    ':- '}; depth = segment count."""
    nodes = []
    for ln in plan.splitlines():
        if not ln.strip():
            continue
        i = depth = 0
        while True:
            seg = ln[i:i + 3]
            if seg in ("   ", ":  "):
                depth += 1
                i += 3
            elif seg in ("+- ", ":- "):
                depth += 1
                i += 3
                break
            else:
                break
        nodes.append((depth, ln[i:]))
    return nodes


def _ancestor_chains(plan: str, pred) -> list[list[str]]:
    """For each plan node matching ``pred``, its ancestor node texts
    root→parent (indentation-parsed)."""
    chains: list[list[str]] = []
    stack: list[tuple[int, str]] = []
    for depth, text in _node_tree(plan):
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if pred(text):
            chains.append([t for _, t in stack])
        stack.append((depth, text))
    return chains


class TestDeltaFoldPlan:
    def test_no_full_vocab_exchange_on_maintained_index_search(
        self, spark, docs, tmp_path
    ):
        """On a base+delta index the term-df fold must run AFTER the
        query-vocab restriction: each _termdf scan's rows reach a
        BroadcastHashJoin (the broadcast query terms — a map-side
        filter) BEFORE any hashpartitioning-on-term exchange. Folding
        first would shuffle the FULL vocabulary on every search batch
        — the one place a maintained index used to be asymptotically
        worse than a rebuilt one."""
        path = str(tmp_path / "bm25-foldplan")
        write_bm25_index(docs.limit(60), "text", "doc_id", path, n_buckets=8)
        append_bm25_index(
            docs.limit(90).subtract(docs.limit(60)), "text", "doc_id", path
        )
        postings, term_df, stats = read_bm25_index(spark, path)
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        plan = (
            bm25_search_batch(postings, term_df, stats, queries, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # term-df scans are identified by their ReadSchema — toString
        # truncates long /tmp locations, so the _termdf path itself may
        # not survive into the plan text
        chains = _ancestor_chains(
            plan,
            lambda t: "FileScan" in t
            and "ReadSchema: struct<term:string,df:bigint>" in t,
        )
        assert len(chains) >= 2, plan  # base arm AND delta arm
        for chain in chains:
            # walk scan → root: a term-keyed exchange may appear only
            # after the broadcast restriction join
            seen_bhj = False
            for node in reversed(chain):
                if "BroadcastHashJoin" in node:
                    seen_bhj = True
                if "Exchange hashpartitioning(term" in node:
                    assert seen_bhj, (
                        "full-vocab term exchange below the query-vocab "
                        "restriction:\n" + plan
                    )
            assert seen_bhj, "no broadcast restriction above a _termdf scan:\n" + plan


class TestCompaction:
    def _search(self, spark, path, queries, k=8):
        postings, term_df, stats = read_bm25_index(spark, path)
        return [
            (r["qid"], r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=k
            ).collect()
        ]

    def test_compaction_folds_deltas_results_identical(
        self, spark, docs, tmp_path
    ):
        path = str(tmp_path / "bm25-compact")
        write_bm25_index(docs.limit(50), "text", "doc_id", path, n_buckets=8)
        append_bm25_index(
            docs.limit(75).subtract(docs.limit(50)), "text", "doc_id", path
        )
        append_bm25_index(
            docs.limit(90).subtract(docs.limit(75)), "text", "doc_id", path
        )
        queries = spark.createDataFrame(QUERIES, "qid long, text string")
        before = self._search(spark, path, queries)
        _, _, s_before = read_bm25_index(spark, path)
        compact_bm25_index(spark, path)
        assert _manifest(spark, path).names == ()  # union-free
        postings, term_df, s_after = read_bm25_index(spark, path)
        assert s_after == s_before  # exact integer stats fold
        # one row per term again (the persisted fold)
        assert term_df.groupBy("term").count().filter("count > 1").count() == 0
        assert self._search(spark, path, queries) == before

    def test_compaction_without_deltas_is_noop(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-compact-noop")
        write_bm25_index(docs.limit(30), "text", "doc_id", path)
        from rtstore_spark.store.fs import fs_for

        fs = fs_for(path, spark)
        cur0 = fs.read_text(f"{path}/_current")
        compact_bm25_index(spark, path)
        assert fs.read_text(f"{path}/_current") == cur0

    def test_crash_before_flip_leaves_deltad_generation_live(
        self, spark, docs, tmp_path, monkeypatch
    ):
        from rtstore_spark.store import fs as fsmod

        path = str(tmp_path / "bm25-compact-crash")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        append_bm25_index(
            docs.limit(60).subtract(docs.limit(40)), "text", "doc_id", path
        )
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        before = self._search(spark, path, queries)

        real = fsmod.LocalFS.write_text_atomic

        def dying(self, p, text):
            if p.endswith("/_current") and "gen-2" in text:
                raise RuntimeError("injected crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_bm25_index(spark, path)
        monkeypatch.undo()
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 60  # base + delta both still visible
        assert self._search(spark, path, queries) == before

    def test_concurrent_append_mid_compaction_fails_fast_on_lease(
        self, spark, docs, tmp_path
    ):
        """Primary single-writer enforcement: an append racing a live
        compaction bounces off the maintenance lease at operation
        START, naming the holder, and the compaction completes
        untouched — the round-11 upgrade over detecting the race only
        at the compactor's pre-flip re-read."""
        from rtstore_spark.store.fs import (
            acquire_maintenance_lease,
            fs_for,
            release_maintenance_lease,
        )

        path = str(tmp_path / "bm25-lease-race")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        # stand in for a live compaction: hold its lease
        fs = fs_for(path, spark)
        holder = acquire_maintenance_lease(fs, path, op="compact_bm25_index")
        with pytest.raises(RuntimeError) as ei:
            append_bm25_index(
                docs.limit(50).subtract(docs.limit(40)),
                "text", "doc_id", path,
            )
        assert "maintenance lease" in str(ei.value)
        assert "compact_bm25_index" in str(ei.value)  # holder named
        release_maintenance_lease(fs, path, holder)
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 40  # the refused append wrote nothing
        # once released, the append proceeds normally
        append_bm25_index(
            docs.limit(50).subtract(docs.limit(40)), "text", "doc_id", path
        )
        assert read_bm25_index(spark, path)[2]["n_docs"] == 50

    def test_concurrent_append_mid_compaction_raises(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """The pointer-recheck BACKSTOP: an append that commits while
        the compaction is writing — only reachable past the lease,
        here via a simulated stale-lease takeover — must fail the
        compaction loudly; flipping anyway would silently drop the
        appended documents from the folded index."""
        from rtstore_spark.store import fs as fsmod

        path = str(tmp_path / "bm25-compact-race")
        write_bm25_index(docs.limit(40), "text", "doc_id", path)
        append_bm25_index(
            docs.limit(60).subtract(docs.limit(40)), "text", "doc_id", path
        )
        racing = docs.limit(70).subtract(docs.limit(60))

        real = fsmod.LocalFS.write_text_atomic
        fired = {"done": False}

        def racing_appender(self, p, text):
            # the new generation's stats write is the last data write
            # before the manifest re-check — sneak a real append in,
            # bypassing the live lease as a stale takeover would
            if p.endswith("/_stats.json") and "gen-2" in p and not fired["done"]:
                fired["done"] = True
                monkeypatch.setattr(
                    fsmod.LocalFS, "write_text_atomic", real
                )
                os.remove(f"{path}/_lease")
                append_bm25_index(racing, "text", "doc_id", path)
                monkeypatch.setattr(
                    fsmod.LocalFS, "write_text_atomic", racing_appender
                )
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", racing_appender)
        with pytest.raises(RuntimeError, match="concurrent append"):
            compact_bm25_index(spark, path)
        monkeypatch.undo()
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 70  # nothing lost; both deltas live


class TestUriRootIndex:
    def test_full_lifecycle_on_file_uri_root(self, spark, docs, tmp_path):
        """The whole maintained-index lifecycle rooted at a
        scheme-qualified URI — the exact code path an object-store
        deployment takes: fs_for picks HadoopFS, the generation pointer
        / delta manifest / stats files and the orphan sweep all speak
        the Hadoop client, and Spark's own reads/writes resolve the
        same scheme."""
        from rtstore_spark.store.fs import HadoopFS, fs_for

        path = "file://" + str(tmp_path / "bm25-uri")
        assert isinstance(fs_for(path, spark), HadoopFS)
        write_bm25_index(docs.limit(50), "text", "doc_id", path, n_buckets=8)
        append_bm25_index(
            docs.limit(70).subtract(docs.limit(50)), "text", "doc_id", path,
            batch_tag="0",
        )
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 70
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        via_uri = [
            (r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=6
            ).collect()
        ]
        assert len(via_uri) == 6
        # replay no-ops over the URI root too
        append_bm25_index(
            docs.limit(70).subtract(docs.limit(50)), "text", "doc_id", path,
            batch_tag="0",
        )
        _, _, s2 = read_bm25_index(spark, path)
        assert s2["n_docs"] == 70
        # compaction folds over the Hadoop client; results identical
        compact_bm25_index(spark, path)
        p3, t3, s3 = read_bm25_index(spark, path)
        after = [
            (r["id"], r["score"])
            for r in bm25_search_batch(p3, t3, s3, queries, k=6).collect()
        ]
        assert after == via_uri
        assert s3["n_docs"] == 70


class TestCompactedPlanShape:
    def test_search_after_compaction_is_single_arm(
        self, spark, docs, tmp_path
    ):
        """Compaction's payoff in the PLAN: the search over a compacted
        index scans exactly one postings arm and one term-df arm (no
        Union residue), where the delta'd index scanned one per part."""
        path = str(tmp_path / "bm25-arms")
        write_bm25_index(docs.limit(50), "text", "doc_id", path, n_buckets=8)
        append_bm25_index(
            docs.limit(70).subtract(docs.limit(50)), "text", "doc_id", path
        )
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )

        def arm_counts():
            postings, term_df, stats = read_bm25_index(spark, path)
            plan = (
                bm25_search_batch(postings, term_df, stats, queries, k=5)
                ._jdf.queryExecution().executedPlan().toString()
            )
            termdf = sum(
                1 for ln in plan.splitlines()
                if "FileScan" in ln
                and "ReadSchema: struct<term:string,df:bigint>" in ln
            )
            posting = sum(
                1 for ln in plan.splitlines()
                if "FileScan" in ln
                and "ReadSchema: struct<term:string,id:bigint" in ln
            )
            return posting, termdf

        assert arm_counts() == (2, 2)  # base + delta
        compact_bm25_index(spark, path)
        assert arm_counts() == (1, 1)  # union-free


class TestStreamingSafeRebuild:
    """write_bm25_index(carry_ledger=True) — round-11: a full rebuild
    that CARRIES the live generation's committed batch-tag ledger into
    the fresh generation, so a bm25_index_sink stream running THROUGH
    the rebuild keeps its exactly-once guarantee with no checkpoint
    reset (the rebuild corpus contains the committed batches' docs by
    definition; replays must therefore no-op against the new
    generation). Mirrors the reference indexer's never-stop-tailing
    stance (indexer_impl.rs:147-196)."""

    def _ledger(self, spark, path):
        return _stored_ledger(spark, path)

    def test_midstream_rebuild_replays_noop_new_batches_land(
        self, spark, docs, tmp_path
    ):
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-carry")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        sink = bm25_index_sink(path, "text", "doc_id")
        b0 = docs.limit(40).subtract(docs.limit(30))
        b1 = docs.limit(50).subtract(docs.limit(40))
        sink(b0, 0)
        sink(b1, 1)
        # full rebuild MID-STREAM from the whole corpus so far
        write_bm25_index(
            docs.limit(50), "text", "doc_id", path,
            n_buckets=8, carry_ledger=True,
        )
        assert _manifest(spark, path).names == ()  # folded
        assert self._ledger(spark, path) == ["w1"]  # carried, compressed
        # the stream's replayed batches still no-op — no checkpoint reset
        sink(b0, 0)
        sink(b1, 1)
        assert read_bm25_index(spark, path)[2]["n_docs"] == 50
        # and NEW batches land normally
        b2 = docs.limit(60).subtract(docs.limit(50))
        sink(b2, 2)
        postings, term_df, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 60
        # results identical to a one-shot build of the same corpus
        queries = spark.createDataFrame(
            [(0, "model training data")], "qid long, text string"
        )
        via_stream = [
            (r["id"], r["score"])
            for r in bm25_search_batch(
                postings, term_df, stats, queries, k=8
            ).collect()
        ]
        path2 = str(tmp_path / "bm25-carry-oneshot")
        write_bm25_index(docs.limit(60), "text", "doc_id", path2, n_buckets=8)
        p2, t2, s2 = read_bm25_index(spark, path2)
        assert via_stream == [
            (r["id"], r["score"])
            for r in bm25_search_batch(p2, t2, s2, queries, k=8).collect()
        ]

    def test_rebuild_chains_with_compaction_watermark(
        self, spark, docs, tmp_path
    ):
        """Compaction's parked watermark and live delta tags both carry:
        fold → more batches → carry-rebuild → every committed batch
        still no-ops; the next batch id lands."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-carry-chain")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        sink = bm25_index_sink(path, "text", "doc_id")
        slices = [
            docs.limit(30 + 5 * (i + 1)).subtract(docs.limit(30 + 5 * i))
            for i in range(3)
        ]
        sink(slices[0], 0)
        compact_bm25_index(spark, path)  # w0 parked in the ledger
        sink(slices[1], 1)  # live delta tag t1
        write_bm25_index(
            docs.limit(40), "text", "doc_id", path,
            n_buckets=8, carry_ledger=True,
        )
        assert self._ledger(spark, path) == ["w1"]
        sink(slices[0], 0)
        sink(slices[1], 1)
        assert read_bm25_index(spark, path)[2]["n_docs"] == 40
        sink(slices[2], 2)
        assert read_bm25_index(spark, path)[2]["n_docs"] == 45

    def test_hashed_tags_carry_through_rebuild(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-carry-hash")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        batch = docs.limit(40).subtract(docs.limit(30))
        append_bm25_index(
            batch, "text", "doc_id", path, batch_tag="crawl/2026-08"
        )
        write_bm25_index(
            docs.limit(40), "text", "doc_id", path,
            n_buckets=8, carry_ledger=True,
        )
        led = self._ledger(spark, path)
        assert len(led) == 1 and led[0].startswith("th")
        # the hashed tag's replay still no-ops after the rebuild
        append_bm25_index(
            batch, "text", "doc_id", path, batch_tag="crawl/2026-08"
        )
        assert read_bm25_index(spark, path)[2]["n_docs"] == 40

    def test_default_rebuild_resets_ledger(self, spark, docs, tmp_path):
        """carry_ledger=False (default) keeps the historical contract:
        the ledger resets, so a mid-flight stream's replayed batch
        RE-APPENDS — the documented reason a default rebuild requires a
        checkpoint reset."""
        from rtstore_spark.operators.retrieval import bm25_index_sink

        path = str(tmp_path / "bm25-noncarry")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        sink = bm25_index_sink(path, "text", "doc_id")
        b0 = docs.limit(40).subtract(docs.limit(30))
        sink(b0, 0)
        write_bm25_index(docs.limit(40), "text", "doc_id", path, n_buckets=8)
        assert self._ledger(spark, path) == []
        sink(b0, 0)  # replay against a RESET ledger re-appends
        assert read_bm25_index(spark, path)[2]["n_docs"] == 50  # dup'd

    def test_crash_before_flip_keeps_old_ledger_live(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """A carry-rebuild that dies before the pointer flip leaves the
        OLD generation — docs AND ledger — fully live: the stream's
        replays still no-op against it."""
        from rtstore_spark.operators.retrieval import bm25_index_sink
        from rtstore_spark.store import fs as fsmod

        path = str(tmp_path / "bm25-carry-crash")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        sink = bm25_index_sink(path, "text", "doc_id")
        b0 = docs.limit(40).subtract(docs.limit(30))
        sink(b0, 0)
        real = fsmod.LocalFS.write_text_atomic

        def dying(self, p, text):
            if p.endswith("/_current") and "gen-2" in text:
                raise RuntimeError("injected crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_bm25_index(
                docs.limit(40), "text", "doc_id", path,
                n_buckets=8, carry_ledger=True,
            )
        monkeypatch.undo()
        sink(b0, 0)  # old generation's delta tag still live → no-op
        assert read_bm25_index(spark, path)[2]["n_docs"] == 40


class TestLegacyTagGuard:
    def test_tagged_append_onto_legacy_token_raises_and_rebuild_repairs(
        self, spark, docs, tmp_path
    ):
        """Round-10 advice: a non-digit tag committed under the retired
        strip-to-alnum sanitizer can never match its replay (the raw
        tag is unrecoverable) — a tagged append must refuse LOUDLY
        instead of risking a silent duplicate re-append; the
        carry-rebuild drops the unmatchable token and repairs."""
        from rtstore_spark.store.fs import fs_for
        from rtstore_spark.store.increments import MANIFEST, live_base

        path = str(tmp_path / "bm25-legacy")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        # a ledger token the OLD sanitizer would have written for
        # batch_tag='crawl/a' (stripped to alnum, not hashed)
        fs_for(path, spark).write_text_atomic(
            f"{live_base(spark, path)}/{MANIFEST}", "v2\ntcrawla\n"
        )
        batch = docs.limit(40).subtract(docs.limit(30))
        with pytest.raises(RuntimeError, match="strip-to-alnum"):
            append_bm25_index(batch, "text", "doc_id", path, batch_tag="9")
        # untagged appends don't consult replay detection — still fine
        append_bm25_index(batch, "text", "doc_id", path)
        assert read_bm25_index(spark, path)[2]["n_docs"] == 40
        # the advised repair: rebuild (carrying drops the legacy token)
        write_bm25_index(
            docs.limit(40), "text", "doc_id", path,
            n_buckets=8, carry_ledger=True,
        )
        append_bm25_index(
            docs.limit(45).subtract(docs.limit(40)),
            "text", "doc_id", path, batch_tag="9",
        )
        assert read_bm25_index(spark, path)[2]["n_docs"] == 45


class TestRetiredDeltasLayout:
    def test_deltas_manifest_refused_until_rebuild(
        self, spark, docs, tmp_path
    ):
        """A generation written under the retired layout keeps its
        deltas (`_deltas`) or its folded tag ledger (`_tags`, all a
        compaction left behind) where this version does not look:
        reading, appending, compacting and a ledger-carrying rebuild
        must refuse with the rebuild hint instead of silently serving
        base-only results or re-appending a replayed batch; a plain
        rebuild repairs."""
        from rtstore_spark.store.fs import fs_for
        from rtstore_spark.store.increments import live_base

        path = str(tmp_path / "bm25-retired")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        batch = docs.limit(40).subtract(docs.limit(30))
        refused = [
            lambda: read_bm25_index(spark, path),
            lambda: append_bm25_index(
                batch, "text", "doc_id", path, batch_tag="0"
            ),
            lambda: compact_bm25_index(spark, path),
            lambda: write_bm25_index(
                docs.limit(40), "text", "doc_id", path,
                n_buckets=8, carry_ledger=True,
            ),
        ]
        for retired, text in (("_deltas", "delta-1-t0\n"), ("_tags", "w0\n")):
            fs_for(path, spark).write_text_atomic(
                f"{live_base(spark, path)}/{retired}", text
            )
            for op in refused:
                with pytest.raises(
                    RuntimeError, match=f"`{retired}`.*Rebuild the"
                ):
                    op()
            write_bm25_index(
                docs.limit(30), "text", "doc_id", path, n_buckets=8
            )
            assert read_bm25_index(spark, path)[2]["n_docs"] == 30


class TestLeaseOperational:
    def test_stale_lease_takeover_allows_maintenance(
        self, spark, docs, tmp_path
    ):
        """A crashed maintenance process's leftover lease must not
        brick the index: once stale (older than its ttl) the next
        writer takes over and proceeds."""
        import json as _json
        import time

        path = str(tmp_path / "bm25-stale-lease")
        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        with open(f"{path}/_lease", "w") as f:
            f.write(_json.dumps({
                "holder": "compact_bm25_index:dead:cafe0123",
                "op": "compact_bm25_index",
                "acquired_unix": time.time() - 10_000,
                "ttl": 900.0,
            }))
        append_bm25_index(
            docs.limit(40).subtract(docs.limit(30)), "text", "doc_id", path
        )
        assert read_bm25_index(spark, path)[2]["n_docs"] == 40
        assert not os.path.exists(f"{path}/_lease")  # released after


class TestBatchTagAliasing:
    def test_distinct_raw_tags_never_alias(self, spark, tmp_path):
        """'1-2' and '12' used to sanitize to the same token, silently
        dropping the second append as a replay. Non-digit tags now hash
        to distinct tokens; both appends must commit."""
        path = str(tmp_path / "bm25-tags")
        a = spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(2, "beta gamma")], "doc_id long, text string"
        )
        c = spark.createDataFrame(
            [(3, "gamma delta")], "doc_id long, text string"
        )
        write_bm25_index(a, "text", "doc_id", path)
        append_bm25_index(b, "text", "doc_id", path, batch_tag="1-2")
        append_bm25_index(c, "text", "doc_id", path, batch_tag="12")
        _, _, stats = read_bm25_index(spark, path)
        assert stats["n_docs"] == 3  # both deltas committed
        # replays of each raw tag still no-op
        append_bm25_index(b, "text", "doc_id", path, batch_tag="1-2")
        append_bm25_index(c, "text", "doc_id", path, batch_tag="12")
        _, _, s2 = read_bm25_index(spark, path)
        assert s2["n_docs"] == 3


class TestLifecyclePin:
    """The whole maintained-index lifecycle through the public API —
    rebuild → three tagged appends → replayed tag → compact → append →
    carry_ledger rebuild → replay — with the search rows of every
    distinct state pinned literally (they were recorded before the
    increment protocol moved to store/increments.py, so any change of
    what the protocol commits, folds or carries shows here) and every
    replay asserted to be a no-op."""

    def test_rows_pinned_and_replays_noop(self, spark, docs, tmp_path):
        path = str(tmp_path / "bm25-lifecycle")
        queries = spark.createDataFrame(QUERIES, "qid long, text string")

        def rows(lo, hi):
            return docs.limit(hi).subtract(docs.limit(lo))

        def state():
            postings, term_df, stats = read_bm25_index(spark, path)
            return stats["n_docs"], [
                (r["qid"], r["id"], r["score"])
                for r in bm25_search_batch(
                    postings, term_df, stats, queries, k=3
                ).collect()
            ]

        write_bm25_index(docs.limit(30), "text", "doc_id", path, n_buckets=8)
        seen = [state()]
        for tag, (lo, hi) in enumerate([(30, 40), (40, 50), (50, 60)]):
            append_bm25_index(
                rows(lo, hi), "text", "doc_id", path, batch_tag=str(tag)
            )
            seen.append(state())
        append_bm25_index(rows(40, 50), "text", "doc_id", path, batch_tag="1")
        assert state() == seen[-1]  # replayed tag
        compact_bm25_index(spark, path)
        assert state() == seen[-1]
        append_bm25_index(
            rows(60, 70), "text", "doc_id", path, batch_tag="crawl/a"
        )
        seen.append(state())
        write_bm25_index(
            docs.limit(70), "text", "doc_id", path,
            n_buckets=8, carry_ledger=True,
        )
        assert state() == seen[-1]
        for tag, (lo, hi) in [("0", (30, 40)), ("2", (50, 60)),
                              ("crawl/a", (60, 70))]:
            append_bm25_index(
                rows(lo, hi), "text", "doc_id", path, batch_tag=tag
            )
            assert state() == seen[-1]  # carried ledger: replay no-ops
        assert seen == LIFECYCLE_ROWS


# (n_docs, [(qid, id, score), ...]) of each distinct lifecycle state
LIFECYCLE_ROWS = [
    (30, [(0, 1, 0.659114), (0, 14, 0.649614), (0, 16, 0.640935),
          (2, 11, 0.259561), (2, 21, 0.257739), (2, 15, 0.256399)]),
    (40, [(0, 33, 0.778225), (0, 39, 0.74314), (0, 1, 0.699834),
          (2, 11, 0.386655), (2, 21, 0.384001), (2, 15, 0.381339)]),
    (50, [(0, 33, 0.856674), (0, 39, 0.814522), (0, 1, 0.765457),
          (2, 42, 0.505178), (2, 11, 0.463936), (2, 21, 0.460642)]),
    (60, [(0, 33, 0.863109), (0, 39, 0.817993), (0, 51, 0.81518),
          (2, 42, 0.524288), (2, 11, 0.480635), (2, 21, 0.477139)]),
    (70, [(0, 61, 0.839814), (0, 33, 0.826505), (0, 39, 0.780165),
          (2, 42, 0.536741), (2, 11, 0.490975), (2, 15, 0.487359)]),
]
