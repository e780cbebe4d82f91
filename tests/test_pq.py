"""Product quantization (pq_fit / pq_encode / ivf_pq_search_batch).

Every ADC score comes from ``ivf_pq_search_batch``: one query is a
one-row query table (``_one_query``), and plain PQ over every code is a
one-route index (``_one_route``: route 0, one centroid).

Recall calibration (sf0.001 embeddings, m=8, ksub=32, query = vec_id 0):
observed recall@10 vs exact = 0.3 (the synthetic vectors are near-random —
the hard case for any ANN), pq-top10 ⊆ exact-top50 = 1.0, top-1 = the query
itself. Thresholds below sit under those with margin.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rtstore_spark.operators.similarity import (
    brute_force_topk,
    compute_centroids,
    ivf_pq_search_batch,
    pq_encode,
    pq_fit,
    pq_load,
    pq_save,
)

# (id, score) top-10 of query vec_id 0 over every code of the fixture
# model (m=8, ksub=32, seed=7), recorded from the one-vector ADC scan
# that preceded the batch path and agreed with it row for row
PQ_TOP10_Q0 = [
    (0, 0.50152), (443, 0.287006), (257, 0.254715), (232, 0.239956),
    (260, 0.23234), (12, 0.232268), (248, 0.221876), (465, 0.220762),
    (73, 0.20754), (453, 0.206017),
]


def _one_query(codes, model, cents, query, k, nprobe):
    """Top-k of one query vector: a one-row query table through the batch
    scorer, rows in rank order."""
    queries = codes.sparkSession.createDataFrame(
        [(0, [float(x) for x in query])], "qid long, qv array<double>"
    )
    return ivf_pq_search_batch(
        codes, model, cents, queries, "qv", "qid", k=k, nprobe=nprobe
    ).orderBy("rank")


def _one_route(codes, model):
    """Plain PQ over every code: (codes with route 0, one zero centroid)."""
    cents = codes.sparkSession.createDataFrame(
        [(0, [0.0] * model["dim"])], "route int, centroid array<double>"
    )
    return codes.withColumn("route", F.lit(0)), cents


def _plain_pq(codes, model, query, k):
    rcodes, cents = _one_route(codes, model)
    return _one_query(rcodes, model, cents, query, k, nprobe=1)


def _rows(df):
    return [(r["id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def model(emb):
    return pq_fit(emb, "embedding", m=8, ksub=32, seed=7)


@pytest.fixture(scope="module")
def codes(emb, model):
    return pq_encode(emb, "embedding", "vec_id", model)


@pytest.fixture(scope="module")
def query(emb):
    return emb.filter("vec_id = 0").collect()[0]["embedding"]


class TestFit:
    def test_shapes(self, model):
        assert model["m"] == 8 and model["dsub"] == 8 and model["dim"] == 64
        cb = np.asarray(model["codebooks"])
        assert cb.shape == (8, 32, 8)
        assert np.isfinite(cb).all()

    def test_deterministic(self, emb, model):
        again = pq_fit(emb, "embedding", m=8, ksub=32, seed=7)
        assert again["codebooks"] == model["codebooks"]

    def test_seed_changes_codebooks(self, emb, model):
        other = pq_fit(emb, "embedding", m=8, ksub=32, seed=8)
        assert other["codebooks"] != model["codebooks"]

    def test_indivisible_dim_rejected(self, emb):
        with pytest.raises(ValueError, match="not divisible"):
            pq_fit(emb, "embedding", m=7)

    def test_ksub_clipped_to_sample(self, spark):
        tiny = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(3)], "id long, v array<float>"
        )
        m = pq_fit(tiny, "v", m=2, ksub=256)
        assert m["ksub"] == 3

    def test_sampled_fit_bounded_and_deterministic(self, emb):
        a = pq_fit(emb, "embedding", m=8, ksub=8, seed=7, max_train=100)
        b = pq_fit(emb, "embedding", m=8, ksub=8, seed=7, max_train=100)
        assert a["codebooks"] == b["codebooks"]
        assert a["ksub"] == 8


class TestEncode:
    def test_codes_shape_and_range(self, codes, model, emb):
        rows = codes.collect()
        assert len(rows) == emb.count()
        for r in rows:
            assert len(r["codes"]) == model["m"]
            assert all(0 <= c < model["ksub"] for c in r["codes"])

    def test_id_type_preserved(self, spark, model):
        df = spark.createDataFrame(
            [("a", [0.1] * 64)], "sid string, v array<float>"
        )
        out = pq_encode(df, "v", "sid", model)
        assert dict(out.dtypes)["id"] == "string"

    def test_shuffle_free_plan(self, codes):
        plan = codes._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_wrong_dim_raises(self, spark, model):
        bad = spark.createDataFrame([(1, [0.1, 0.2])], "id long, v array<float>")
        with pytest.raises(Exception, match="model dim"):
            pq_encode(bad, "v", "id", model).collect()


class TestTopK:
    def test_top1_is_query_and_candidates_near_exact(
        self, emb, codes, model, query
    ):
        exact50 = {
            r["id"]
            for r in brute_force_topk(emb, "embedding", "vec_id", query, 50).collect()
        }
        got = _plain_pq(codes, model, query, 10).collect()
        ids = [r["id"] for r in got]
        assert ids[0] == 0  # the query vector itself wins
        assert len(set(ids) & exact50) >= 8  # observed 10/10
        exact10 = {
            r["id"]
            for r in brute_force_topk(emb, "embedding", "vec_id", query, 10).collect()
        }
        assert len(set(ids) & exact10) >= 2  # observed 3/10

    def test_scores_match_numpy_adc(self, codes, model, query):
        got = dict(_rows(_plain_pq(codes, model, query, 5)))
        cb = np.asarray(model["codebooks"])
        q = np.asarray(query, dtype=np.float64)
        q /= np.linalg.norm(q)
        dsub = model["dsub"]
        lut = np.stack(
            [cb[j] @ q[j * dsub : (j + 1) * dsub] for j in range(model["m"])]
        )
        code_rows = {
            r["id"]: r["codes"]
            for r in codes.filter(F.col("id").isin(list(got))).collect()
        }
        for i, score in got.items():
            expect = sum(lut[j][c] for j, c in enumerate(code_rows[i]))
            assert score == pytest.approx(expect, abs=1e-6)

    def test_query_dim_mismatch_raises(self, codes, model):
        # validated inside the routing batch: a Spark job's Python error
        with pytest.raises(Exception, match="query dim"):
            _plain_pq(codes, model, [0.1, 0.2], 5).collect()


class TestIvfPq:
    def test_all_probes_matches_plain_pq(self, emb, codes, model, query):
        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding", F.col("label").alias("route")
        )
        cents = compute_centroids(routed, "embedding", "route")
        rcodes = codes.join(routed.select("id", "route"), "id")
        n_routes = cents.count()
        full = _one_query(rcodes, model, cents, query, 10, nprobe=n_routes)
        assert _rows(full) == PQ_TOP10_Q0
        assert _rows(_plain_pq(codes, model, query, 10)) == PQ_TOP10_Q0

    def test_probe_subset_returns_k_from_probed_routes_only(
        self, emb, codes, model, query
    ):
        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding", F.col("label").alias("route")
        )
        cents = compute_centroids(routed, "embedding", "route")
        rcodes = codes.join(routed.select("id", "route"), "id")
        got = _one_query(rcodes, model, cents, query, 5, nprobe=1).collect()
        assert len(got) == 5
        # every hit belongs to the single probed (best) route
        qv = F.array(*[F.lit(float(x)) for x in query])
        from rtstore_spark.operators.similarity import cosine_expr

        best = (
            cents.withColumn("_q", qv)
            .select("route", cosine_expr("centroid", "_q").alias("s"))
            .orderBy(F.col("s").desc())
            .first()["route"]
        )
        members = {
            r["id"] for r in routed.filter(F.col("route") == best).collect()
        }
        assert {r["id"] for r in got} <= members


class TestPersistence:
    def test_save_load_roundtrip(self, spark, codes, model, query, tmp_path):
        path = str(tmp_path / "pq_model")
        pq_save(spark, model, path)
        again = pq_load(spark, path)
        assert again["codebooks"] == model["codebooks"]
        assert _rows(_plain_pq(codes, again, query, 10)) == PQ_TOP10_Q0


class TestDuckDBOracle:
    def test_adc_topk_matches_duckdb_replay(self, emb, codes, model, query, tmp_path):
        """Full independent replay: DuckDB recomputes every document's ADC
        score from the persisted codes and the per-query LUT, and must
        produce the same top-10 (ids AND rounded scores, same tie-break)."""
        import duckdb

        codes.write.mode("overwrite").parquet(str(tmp_path / "codes"))
        cb = np.asarray(model["codebooks"])
        q = np.asarray(query, dtype=np.float64)
        q /= np.linalg.norm(q)
        dsub = model["dsub"]
        lut = [
            (cb[j] @ q[j * dsub : (j + 1) * dsub]).tolist()
            for j in range(model["m"])
        ]
        con = duckdb.connect()
        con.sql(
            "create table lut as select * from (values "
            + ",".join(
                f"({j},{c},{v!r})"
                for j, row in enumerate(lut)
                for c, v in enumerate(row)
            )
            + ") t(j, c, v)"
        )
        oracle = con.sql(
            f"""
            with unn as (
              select id, unnest(codes) as code,
                     generate_subscripts(codes, 1) - 1 as j
              from '{tmp_path}/codes/*.parquet')
            select id, round(sum(v), 6) as score
            from unn join lut on lut.j = unn.j and lut.c = unn.code
            group by id order by score desc, id limit 10
            """
        ).fetchall()
        got = [(i, float(sc)) for i, sc in _rows(_plain_pq(codes, model, query, 10))]
        assert got == [(a, float(b)) for a, b in oracle]


class TestPersistedIndex:
    def test_write_read_query_roundtrip(self, spark, emb, model, query, tmp_path):
        from rtstore_spark.operators.similarity import (
            read_pq_index,
            write_pq_index,
        )

        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding", F.col("label").alias("route")
        )
        path = str(tmp_path / "pq_index")
        write_pq_index(routed, "embedding", "id", "route", model, path)
        codes, cents, loaded = read_pq_index(spark, path)
        assert loaded["codebooks"] == model["codebooks"]
        n_routes = cents.count()
        got = _one_query(codes, loaded, cents, query, 10, nprobe=n_routes)
        # matches the in-memory plain-PQ rows end to end
        assert _rows(got) == PQ_TOP10_Q0


class TestIncrementalIndex:
    def test_append_matches_full_rebuild(self, spark, emb, model, query, tmp_path):
        """Index built on half the corpus + append of the other half must
        answer queries identically to an index built on everything —
        appended rows are routed by the persisted centroids and encoded
        by the persisted codebooks, so the codes tables are equal."""
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
            write_pq_index,
        )

        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding", F.col("label").alias("route")
        )
        half = routed.filter("id < 250")
        rest = emb.filter("vec_id >= 250")
        path = str(tmp_path / "inc")
        write_pq_index(half, "embedding", "id", "route", model, path)
        # full-probe queries must agree with full rebuild AFTER the append;
        # routes come from the index's own centroids (the half-corpus
        # ones), so compare code tables keyed by id instead of trusting
        # label-based routes to coincide
        append_pq_index(rest, "embedding", "vec_id", path)
        codes, cents, loaded = read_pq_index(spark, path)
        assert codes.count() == emb.count()
        # appended rows carry codebook-true codes: equal to direct encode
        direct = {
            r["id"]: r["codes"]
            for r in pq_encode(rest, "embedding", "vec_id", model).collect()
        }
        stored = {
            r["id"]: r["codes"]
            for r in codes.filter("id >= 250").collect()
        }
        assert stored == direct
        # and a full-probe query over the appended index equals plain PQ
        # over the union's codes
        n_routes = cents.count()
        got = _one_query(codes, loaded, cents, query, 10, nprobe=n_routes)
        assert _rows(got) == PQ_TOP10_Q0

    def test_assign_routes_is_nearest_centroid_and_shuffle_free(self, spark):
        from rtstore_spark.operators.similarity import assign_routes

        centers = [[1.0, 0.0], [0.0, 1.0]]
        df = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.2, 5.0]), (3, None)],
            "id long, v array<float>",
        )
        out = assign_routes(df, "v", centers)
        got = {r["id"]: r["route"] for r in out.collect()}
        assert got == {1: 0, 2: 1, 3: -1}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_append_rejects_non_index_layout(self, spark, emb, model, tmp_path):
        from rtstore_spark.operators.similarity import append_pq_index, pq_save

        path = str(tmp_path / "notindex")
        pq_save(spark, model, path + "/_model")
        spark.createDataFrame(
            [(5, [0.0] * 64)], "route int, centroid array<double>"
        ).write.parquet(path + "/_centroids")
        with pytest.raises(ValueError, match="not dense"):
            append_pq_index(emb, "embedding", "vec_id", path)


class TestFitDeterminismAndGuards:
    """Round-5 review fixes: partition-independent fit, clean empty errors."""

    def test_fit_partitioning_invariant(self, emb, model):
        # collect() order is partition-layout-dependent; the fit sorts the
        # sample by content hash, so a different layout must yield the
        # byte-identical codebook
        scrambled = emb.repartition(13)
        again = pq_fit(scrambled, "embedding", m=8, ksub=32, seed=7)
        assert again["codebooks"] == model["codebooks"]

    def test_sampled_fit_partitioning_invariant(self, emb):
        a = pq_fit(emb, "embedding", m=8, ksub=8, seed=7, max_train=100)
        b = pq_fit(
            emb.repartition(5), "embedding", m=8, ksub=8, seed=7, max_train=100
        )
        assert a["codebooks"] == b["codebooks"]

    def test_all_null_vectors_raise_clean(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None)], "id long, v array<float>"
        )
        with pytest.raises(ValueError, match="no vectors to fit"):
            pq_fit(df, "v", m=2)

    def test_null_rows_do_not_inflate_sample_rate(self, spark):
        # 10 real vectors + 90 null rows, max_train=20: nulls must not
        # count toward n (which would shrink the gate to ~2/10000 and
        # usually sample zero rows) — the fit sees all 10 real vectors
        rows = [(i, [float(i % 3), float(i % 5)]) for i in range(10)]
        rows += [(100 + i, None) for i in range(90)]
        df = spark.createDataFrame(rows, "id long, v array<float>")
        m = pq_fit(df, "v", m=2, ksub=16, max_train=20)
        assert m["ksub"] == 10  # clipped to the full non-null sample


class TestAppendCrashSafety:
    """Round-5: append_pq_index inherits the storage plane's
    manifest-pointer protocol — a crash between the increment write and
    the pointer flip leaves the index exactly as it was."""

    @pytest.fixture()
    def base_index(self, spark, emb, model, tmp_path):
        from rtstore_spark.operators.similarity import write_pq_index

        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        path = str(tmp_path / "ivfpq")
        write_pq_index(base, "embedding", "id", "route", model, path)
        return path, base

    def test_crash_before_flip_is_invisible_then_retry_converges(
        self, spark, emb, base_index, monkeypatch
    ):
        import os

        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
        )
        from rtstore_spark.store.fs import LocalFS

        path, base = base_index
        n_base = read_pq_index(spark, path)[0].count()
        inc = emb.filter("vec_id >= 40 and vec_id < 60")

        real = LocalFS.write_text_atomic

        def boom(self, p, text):
            # scoped to the increment POINTER write (the commit): the
            # lease acquisition and the increment's _stats.json write
            # are earlier small writes that must succeed for the
            # "orphan data written, commit never happened" shape
            if p.endswith("/inc/_current"):
                raise RuntimeError("simulated crash before pointer flip")
            return real(self, p, text)

        from rtstore_spark.operators.similarity import resolve_index_base

        monkeypatch.setattr(LocalFS, "write_text_atomic", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_pq_index(inc, "embedding", "vec_id", path)
        monkeypatch.undo()
        # orphan generation on disk (under the live base), never read —
        # uniquely-suffixed, so no later append can clobber or read it
        base = resolve_index_base(spark, path)
        orphans = [
            d for d in os.listdir(f"{base}/inc") if d.startswith("gen-1-")
        ]
        assert len(orphans) == 1
        assert not os.path.exists(f"{base}/inc/_current")
        codes, _, _ = read_pq_index(spark, path)
        assert codes.count() == n_base
        # retry writes a FRESH unique directory, flips, and sweeps the
        # crashed attempt's orphan: exactly one increment dir remains
        append_pq_index(inc, "embedding", "vec_id", path)
        codes, _, _ = read_pq_index(spark, path)
        assert codes.count() == n_base + 20
        ids = [r["id"] for r in codes.collect()]
        assert len(ids) == len(set(ids))  # no duplicate rows from the orphan
        dirs = [d for d in os.listdir(f"{base}/inc") if d.startswith("gen-")]
        assert len(dirs) == 1  # orphan swept on the successful commit

    def test_multiple_appends_stack_generations(self, spark, emb, base_index):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
        )

        path, _ = base_index
        append_pq_index(
            emb.filter("vec_id >= 40 and vec_id < 50"), "embedding", "vec_id", path
        )
        append_pq_index(
            emb.filter("vec_id >= 50 and vec_id < 60"), "embedding", "vec_id", path
        )
        codes, cents, loaded = read_pq_index(spark, path)
        assert codes.count() == 60
        # appended vectors are queryable: vec 55's own code row must rank
        # it in the all-probe top-k
        q = emb.filter("vec_id = 55").collect()[0]["embedding"]
        hits = _one_query(codes, loaded, cents, q, 5, nprobe=4).collect()
        assert 55 in [r["id"] for r in hits]


class TestStreamingMaintenance:
    """pq_index_sink — exactly-once streaming ANN maintenance, the
    mirror of retrieval.bm25_index_sink's contract suite: replayed
    batch tags no-op, distinct raw tags never alias, a crash before the
    pointer flip converges on retry, and a real file-source stream's
    appends become searchable."""

    @pytest.fixture()
    def stream_index(self, spark, emb, model, tmp_path):
        from rtstore_spark.operators.similarity import write_pq_index

        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        path = str(tmp_path / "ivfpq-stream")
        write_pq_index(base, "embedding", "id", "route", model, path)
        return path

    def test_replayed_batch_tag_is_noop(self, spark, emb, stream_index):
        from rtstore_spark.operators.similarity import (
            pq_index_sink,
            read_pq_index,
        )

        sink = pq_index_sink(stream_index, "embedding", "vec_id")
        batch = emb.filter("vec_id >= 40 and vec_id < 60")
        sink(batch, 0)
        assert read_pq_index(spark, stream_index)[0].count() == 60
        sink(batch, 0)  # replay of the SAME micro-batch
        codes, _, _ = read_pq_index(spark, stream_index)
        ids = [r["id"] for r in codes.collect()]
        assert len(ids) == 60 and len(set(ids)) == 60  # no duplicate hits
        sink(batch.limit(0), 1)  # empty batch is also a no-op
        assert read_pq_index(spark, stream_index)[0].count() == 60

    def test_distinct_raw_tags_never_alias(self, spark, emb, stream_index):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
        )

        append_pq_index(
            emb.filter("vec_id >= 40 and vec_id < 50"),
            "embedding", "vec_id", stream_index, batch_tag="1-2",
        )
        append_pq_index(
            emb.filter("vec_id >= 50 and vec_id < 60"),
            "embedding", "vec_id", stream_index, batch_tag="12",
        )
        assert read_pq_index(spark, stream_index)[0].count() == 60
        # replays of each raw tag still no-op
        append_pq_index(
            emb.filter("vec_id >= 40 and vec_id < 50"),
            "embedding", "vec_id", stream_index, batch_tag="1-2",
        )
        assert read_pq_index(spark, stream_index)[0].count() == 60

    def test_crash_before_flip_then_replay_converges_exactly_once(
        self, spark, emb, stream_index, monkeypatch
    ):
        from rtstore_spark.operators.similarity import (
            pq_index_sink,
            read_pq_index,
        )
        from rtstore_spark.store.fs import LocalFS

        sink = pq_index_sink(stream_index, "embedding", "vec_id")
        batch = emb.filter("vec_id >= 40 and vec_id < 60")
        real = LocalFS.write_text_atomic

        def boom(self, p, text):
            if p.endswith("/inc/_current"):  # the commit itself
                raise RuntimeError("simulated crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(LocalFS, "write_text_atomic", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            sink(batch, 0)
        monkeypatch.undo()
        # tag never committed → the foreachBatch replay RUNS the append
        # (overwriting the orphan), exactly once
        assert read_pq_index(spark, stream_index)[0].count() == 40
        sink(batch, 0)
        codes, _, _ = read_pq_index(spark, stream_index)
        ids = [r["id"] for r in codes.collect()]
        assert len(ids) == 60 and len(set(ids)) == 60

    def test_concurrent_append_mid_append_raises(
        self, spark, emb, stream_index, monkeypatch
    ):
        """The pointer-recheck BACKSTOP behind the maintenance lease: an
        append that commits while this one is writing (only possible by
        bypassing the lease — here a simulated stale-lease takeover)
        must fail THIS one loudly — a blind pointer write would discard
        the racer's committed increment (the pointer is the ledger)."""
        import os

        import rtstore_spark.operators.similarity as sim

        real_resolve = sim.resolve_index_base
        calls = {"n": 0}

        def hooked(spark_, p):
            calls["n"] += 1
            if calls["n"] == 2:  # my append's pre-flip backstop
                monkeypatch.setattr(sim, "resolve_index_base", real_resolve)
                # simulate the racer having TAKEN OVER a stale lease:
                # without this the racing append fails fast on the live
                # lease (tested separately) and never reaches the
                # pointer re-check this test exists to pin
                os.remove(f"{stream_index}/_lease")
                sim.append_pq_index(
                    emb.filter("vec_id >= 50 and vec_id < 60"),
                    "embedding", "vec_id", stream_index,
                )
            return real_resolve(spark_, p)

        monkeypatch.setattr(sim, "resolve_index_base", hooked)
        with pytest.raises(RuntimeError, match="concurrent append"):
            sim.append_pq_index(
                emb.filter("vec_id >= 40 and vec_id < 50"),
                "embedding", "vec_id", stream_index,
            )
        monkeypatch.undo()
        # the racer's increment is intact; mine never committed
        codes, _, _ = sim.read_pq_index(spark, stream_index)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(40)) + list(range(50, 60))

    def test_compaction_preserves_tag_ledger(self, spark, emb, stream_index):
        """The folded generation's increment pointer starts with zero
        increments but every committed tag, so a micro-batch replayed
        AFTER a compaction still no-ops."""
        from rtstore_spark.operators.similarity import (
            compact_pq_index,
            pq_index_sink,
            read_pq_index,
        )

        sink = pq_index_sink(stream_index, "embedding", "vec_id")
        batch = emb.filter("vec_id >= 40 and vec_id < 60")
        sink(batch, 0)
        compact_pq_index(spark, stream_index)
        sink(batch, 0)  # replay AFTER the fold must still no-op
        codes, _, _ = read_pq_index(spark, stream_index)
        ids = [r["id"] for r in codes.collect()]
        assert len(ids) == 60 and len(set(ids)) == 60

    def test_sink_auto_compaction_bounds_increment_count(
        self, spark, emb, stream_index
    ):
        from rtstore_spark.operators.similarity import (
            pq_index_sink,
            read_pq_index,
            resolve_index_base,
        )
        from rtstore_spark.store.fs import fs_for
        from rtstore_spark.store.increments import read_manifest

        sink = pq_index_sink(
            stream_index, "embedding", "vec_id", compact_every=2
        )
        sink(emb.filter("vec_id >= 40 and vec_id < 50"), 0)
        sink(emb.filter("vec_id >= 50 and vec_id < 60"), 1)  # bound → fold
        base = resolve_index_base(spark, stream_index)
        m = read_manifest(fs_for(base, spark), base)
        names, tags, wm = list(m.names), list(m.tags), m.watermark
        # folded: zero increments; the digit batch ids compress into
        # ONE watermark line (batch ids are monotone), not per-tag lines
        assert names == [] and tags == [] and wm == 1
        sink(emb.filter("vec_id >= 60 and vec_id < 70"), 2)
        sink(emb.filter("vec_id >= 50 and vec_id < 60"), 1)  # folded replay
        codes, _, _ = read_pq_index(spark, stream_index)
        ids = sorted(r["id"] for r in codes.collect())
        assert ids == list(range(70))

    def test_legacy_count_pointer_still_reads_and_upgrades(
        self, spark, emb, stream_index
    ):
        """Pre-v2 pointer files hold a bare count with directories named
        exactly gen-1..gen-N. They must keep reading, and the next
        append must upgrade to the v2 name-list format without losing
        the legacy increment."""
        import os
        import shutil

        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
            resolve_index_base,
        )

        append_pq_index(
            emb.filter("vec_id >= 40 and vec_id < 50"),
            "embedding", "vec_id", stream_index,
        )
        base = resolve_index_base(spark, stream_index)
        # rewrite the committed increment into the legacy layout
        (name,) = [
            d for d in os.listdir(f"{base}/inc") if d.startswith("gen-1-")
        ]
        shutil.move(f"{base}/inc/{name}", f"{base}/inc/gen-1")
        with open(f"{base}/inc/_current", "w") as f:
            f.write("1")
        assert read_pq_index(spark, stream_index)[0].count() == 50
        append_pq_index(
            emb.filter("vec_id >= 50 and vec_id < 60"),
            "embedding", "vec_id", stream_index,
        )
        codes, _, _ = read_pq_index(spark, stream_index)
        ids = sorted(r["id"] for r in codes.collect())
        assert ids == list(range(60))
        ptr = open(f"{base}/inc/_current").read().splitlines()
        assert ptr[0] == "v2" and "gen-1" in ptr[1:]  # upgraded, kept

    def test_streaming_appends_become_searchable(
        self, spark, emb, model, tmp_path
    ):
        """End-to-end: a file-source stream of new vectors maintains the
        index via foreachBatch; search sees the streamed vectors with no
        rebuild; a restart over the same checkpoint appends nothing."""
        import json as _json

        from rtstore_spark.operators.similarity import (
            pq_index_sink,
            read_pq_index,
            write_pq_index,
        )

        path = str(tmp_path / "ivfpq-live")
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        staging = tmp_path / "staging"
        staging.mkdir()
        new_rows = emb.filter("vec_id >= 40 and vec_id < 60").collect()
        (staging / "a.jsonl").write_text("\n".join(
            _json.dumps({
                "vec_id": r["vec_id"],
                "embedding": [float(x) for x in r["embedding"]],
            })
            for r in new_rows
        ))

        def run_stream():
            q = (
                spark.readStream
                .schema("vec_id long, embedding array<double>")
                .json(str(staging))
                .writeStream
                .option("checkpointLocation", str(tmp_path / "chk"))
                .foreachBatch(pq_index_sink(path, "embedding", "vec_id"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_stream()
        codes, cents, loaded = read_pq_index(spark, path)
        assert codes.count() == 60
        q55 = emb.filter("vec_id = 55").collect()[0]["embedding"]
        hits = _one_query(codes, loaded, cents, q55, 5, nprobe=4).collect()
        assert 55 in [r["id"] for r in hits]
        # restart over the SAME checkpoint: no new data → no new appends
        run_stream()
        assert read_pq_index(spark, path)[0].count() == 60


class TestPqCompaction:
    """compact_pq_index — fold committed increments into a fresh
    generation from the persisted parquet alone: no corpus, no
    re-encode, identical search results, standard crash safety."""

    @pytest.fixture()
    def stacked_index(self, spark, emb, model, tmp_path):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            write_pq_index,
        )

        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        path = str(tmp_path / "ivfpq-compact")
        write_pq_index(base, "embedding", "id", "route", model, path)
        append_pq_index(
            emb.filter("vec_id >= 40 and vec_id < 50"),
            "embedding", "vec_id", path,
        )
        append_pq_index(
            emb.filter("vec_id >= 50 and vec_id < 60"),
            "embedding", "vec_id", path,
        )
        return path

    def _hits(self, spark, emb, path, vec_id=55, k=5):
        from rtstore_spark.operators.similarity import (
            read_pq_index,
        )

        codes, cents, model = read_pq_index(spark, path)
        q = emb.filter(f"vec_id = {vec_id}").collect()[0]["embedding"]
        return [
            (r["id"], r["score"])
            for r in _one_query(codes, model, cents, q, k, nprobe=4).collect()
        ]

    def test_fold_is_union_free_and_results_identical(
        self, spark, emb, stacked_index, monkeypatch
    ):
        import os

        from rtstore_spark.operators.similarity import (
            compact_pq_index,
            read_pq_index,
            resolve_index_base,
        )

        before = self._hits(spark, emb, stacked_index)
        compact_pq_index(spark, stacked_index)
        base = resolve_index_base(spark, stacked_index)
        assert not os.path.exists(f"{base}/inc")  # union-free
        codes, _, _ = read_pq_index(spark, stacked_index)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(60))
        assert len(ids) == len(set(ids))
        assert self._hits(spark, emb, stacked_index) == before
        # a second compaction is a no-op (pointer unchanged)
        from rtstore_spark.store.fs import fs_for

        fs = fs_for(stacked_index, spark)
        cur0 = fs.read_text(f"{stacked_index}/_current")
        compact_pq_index(spark, stacked_index)
        assert fs.read_text(f"{stacked_index}/_current") == cur0

    def test_crash_before_flip_leaves_stacked_generation_live(
        self, spark, emb, stacked_index, monkeypatch
    ):
        from rtstore_spark.operators.similarity import (
            compact_pq_index,
            read_pq_index,
        )
        from rtstore_spark.store import fs as fsmod

        before = self._hits(spark, emb, stacked_index)
        real = fsmod.LocalFS.write_text_atomic

        def dying(self, p, text):
            if p.endswith("/_current") and "gen-2" in text:
                raise RuntimeError("injected crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(fsmod.LocalFS, "write_text_atomic", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_pq_index(spark, stacked_index)
        monkeypatch.undo()
        codes, _, _ = read_pq_index(spark, stacked_index)
        assert codes.count() == 60  # base + both increments still live
        assert self._hits(spark, emb, stacked_index) == before

    def test_concurrent_append_mid_compaction_fails_fast_on_lease(
        self, spark, emb, stacked_index, monkeypatch
    ):
        """Primary single-writer enforcement: an append racing a live
        compaction fails FAST at lease acquisition, naming the holder —
        before building anything — and the compaction completes
        untouched. (The round-10 design detected this race only at the
        compactor's pre-flip re-read, silently late.)"""
        import rtstore_spark.operators.similarity as sim

        real_save = sim.pq_save
        seen = {}

        def racing_save(spark_, model_, p):
            real_save(spark_, model_, p)
            if "err" not in seen:
                # mid-compaction: a real append must bounce off the lease
                with pytest.raises(RuntimeError) as ei:
                    sim.append_pq_index(
                        emb.filter("vec_id >= 60 and vec_id < 70"),
                        "embedding", "vec_id", stacked_index,
                    )
                seen["err"] = str(ei.value)

        monkeypatch.setattr(sim, "pq_save", racing_save)
        sim.compact_pq_index(spark, stacked_index)  # completes normally
        monkeypatch.undo()
        assert "maintenance lease" in seen["err"]
        assert "compact_pq_index" in seen["err"]  # holder named
        # the refused append committed nothing; the fold lost nothing
        codes, _, _ = sim.read_pq_index(spark, stacked_index)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(60))

    def test_concurrent_append_mid_compaction_raises(
        self, spark, emb, stacked_index, monkeypatch
    ):
        """The pointer-recheck BACKSTOP: an append that commits while
        the compaction is writing — only reachable past the lease, here
        via a simulated stale-lease takeover — must fail the compaction
        loudly (flipping anyway would drop the appended vectors from
        the folded generation)."""
        import os

        import rtstore_spark.operators.similarity as sim

        real_save = sim.pq_save
        fired = {"done": False}

        def racing_save(spark_, model_, p):
            real_save(spark_, model_, p)
            if not fired["done"]:
                fired["done"] = True
                # the model copy is the last data write before the
                # increment-pointer re-check — sneak a real append in,
                # bypassing the live lease as a stale takeover would
                os.remove(f"{stacked_index}/_lease")
                sim.append_pq_index(
                    emb.filter("vec_id >= 60 and vec_id < 70"),
                    "embedding", "vec_id", stacked_index,
                )

        monkeypatch.setattr(sim, "pq_save", racing_save)
        with pytest.raises(RuntimeError, match="concurrent append"):
            sim.compact_pq_index(spark, stacked_index)
        monkeypatch.undo()
        # nothing lost: base + all three increments visible
        codes, _, _ = sim.read_pq_index(spark, stacked_index)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(70))


class TestUriRootIndex:
    def test_full_lifecycle_on_file_uri_root(self, spark, emb, model, tmp_path):
        """Maintained ANN index rooted at a scheme-qualified URI — the
        object-store code path: HadoopFS for the root pointer, the v2
        increment pointer, the orphan sweep, and compaction; Spark
        reads/writes resolve the same scheme."""
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            compact_pq_index,
            read_pq_index,
            write_pq_index,
        )
        from rtstore_spark.store.fs import HadoopFS, fs_for

        path = "file://" + str(tmp_path / "ivfpq-uri")
        assert isinstance(fs_for(path, spark), HadoopFS)
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        inc = emb.filter("vec_id >= 40 and vec_id < 60")
        append_pq_index(inc, "embedding", "vec_id", path, batch_tag="0")
        append_pq_index(inc, "embedding", "vec_id", path, batch_tag="0")
        codes, cents, loaded = read_pq_index(spark, path)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(60))  # replay no-op over URI
        q55 = emb.filter("vec_id = 55").collect()[0]["embedding"]
        before = [
            (r["id"], r["score"])
            for r in _one_query(codes, loaded, cents, q55, 5, nprobe=4)
            .collect()
        ]
        assert 55 in [i for i, _ in before]
        compact_pq_index(spark, path)
        codes, cents, loaded = read_pq_index(spark, path)
        assert codes.count() == 60
        after = [
            (r["id"], r["score"])
            for r in _one_query(codes, loaded, cents, q55, 5, nprobe=4)
            .collect()
        ]
        assert after == before


class TestRebuildClearsIncrements:
    def test_in_place_rebuild_retires_stale_increments(
        self, spark, emb, model, tmp_path
    ):
        import os

        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
            write_pq_index,
        )

        path = str(tmp_path / "pq_rebuild")
        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(routed.filter("id < 250"), "embedding", "id", "route",
                       model, path)
        append_pq_index(
            emb.filter("vec_id >= 250 and vec_id < 300"), "embedding",
            "vec_id", path,
        )
        assert read_pq_index(spark, path)[0].count() == 300
        # in-place FULL rebuild: stale increments must not union in (their
        # rows would duplicate ids under possibly-old codebooks)
        write_pq_index(routed.filter("id < 320"), "embedding", "id", "route",
                       model, path)
        codes, _, _ = read_pq_index(spark, path)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(320))
        assert len(ids) == len(set(ids))
        assert not os.path.exists(f"{path}/inc")


# (id, score) top-5 at nprobe=3 over the label-routed index, per query
# vec_id, recorded from the one-query IVF-PQ operator that preceded the
# batch path and agreed with it row for row
PINNED_K5_NPROBE3 = {
    0: [(0, 0.50152), (443, 0.287006), (257, 0.254715), (248, 0.221876),
        (453, 0.206017)],
    7: [(382, 0.295613), (466, 0.253552), (220, 0.223857), (82, 0.220107),
        (353, 0.215073)],
    42: [(42, 0.549003), (478, 0.282256), (242, 0.242632), (329, 0.217039),
         (9, 0.204221)],
}


class TestBatchSearch:
    """ivf_pq_search_batch: a query TABLE against the index in one job."""

    @pytest.fixture(scope="class")
    def index(self, emb, model):
        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        cents = compute_centroids(routed, "embedding", "route")
        codes = pq_encode(emb, "embedding", "vec_id", model).join(
            routed.select("id", "route"), "id"
        )
        return codes, cents

    def test_matches_per_query_operator(self, spark, emb, model, index):
        from rtstore_spark.operators.similarity import ivf_pq_search_batch

        codes, cents = index
        queries = emb.filter("vec_id in (0, 7, 42)").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        batch = ivf_pq_search_batch(
            codes, model, cents, queries, "qv", "qid", k=5, nprobe=3
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append((r["rank"], r["id"], r["score"]))
        for qid in (0, 7, 42):
            want = [(i + 1, *row) for i, row in enumerate(PINNED_K5_NPROBE3[qid])]
            assert sorted(got[qid]) == want, qid
            # a one-row query table answers the same as the batch
            qv = emb.filter(f"vec_id = {qid}").collect()[0]["embedding"]
            one = _one_query(codes, model, cents, qv, 5, nprobe=3)
            assert _rows(one) == PINNED_K5_NPROBE3[qid], qid

    def test_null_queries_dropped_and_ranks_contiguous(
        self, spark, model, index
    ):
        from rtstore_spark.operators.similarity import ivf_pq_search_batch

        codes, cents = index
        queries = spark.createDataFrame(
            [(1, [0.1] * 64), (2, None)], "qid long, qv array<float>"
        )
        out = ivf_pq_search_batch(
            codes, model, cents, queries, "qv", "qid", k=3, nprobe=2
        ).collect()
        qids = {r["query_id"] for r in out}
        assert qids == {1}
        assert sorted(r["rank"] for r in out) == [1, 2, 3]

    def test_plan_no_cartesian_per_query_window(self, spark, emb, model, index):
        from rtstore_spark.operators.similarity import ivf_pq_search_batch

        codes, cents = index
        queries = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        plan = (
            ivf_pq_search_batch(codes, model, cents, queries, "qv", "qid")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "hashpartitioning(query_id" in plan
        assert "SinglePartition" not in plan


class TestRerankExact:
    def test_composes_with_batch_search_and_matches_brute_force(
        self, spark, emb, model, index=None
    ):
        from rtstore_spark.operators.similarity import (
            compute_centroids,
            ivf_pq_search_batch,
            rerank_exact_batch,
        )

        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        cents = compute_centroids(routed, "embedding", "route")
        codes = pq_encode(emb, "embedding", "vec_id", model).join(
            routed.select("id", "route"), "id"
        )
        queries = emb.filter("vec_id in (0, 9)").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        n_routes = cents.count()
        # EXHAUSTIVE candidates (k' = corpus size, all probes) make the
        # re-rank equal brute force exactly — isolating the operator from
        # PQ recall, which on these near-random vectors is deliberately low
        cand = ivf_pq_search_batch(
            codes, model, cents, queries, "qv", "qid",
            k=emb.count(), nprobe=n_routes,
        )
        got = rerank_exact_batch(
            cand, queries, emb, "qv", "qid", "embedding", "vec_id", k=5
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
        for qid in (0, 9):
            qv = emb.filter(f"vec_id = {qid}").collect()[0]["embedding"]
            want = [
                (i + 1, r["id"])
                for i, r in enumerate(
                    brute_force_topk(emb, "embedding", "vec_id", qv, 5).collect()
                )
            ]
            assert sorted(by_q[qid]) == want, qid
            assert by_q[qid][0] == (1, qid) or (1, qid) in by_q[qid]


class TestRebuildCrashSafety:
    def test_crash_mid_rebuild_keeps_base_and_increments_live(
        self, spark, emb, model, tmp_path, monkeypatch
    ):
        """A rebuild that dies before the pointer flip must leave the
        previous generation — base AND its committed increments — fully
        readable; the retry converges."""
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
            write_pq_index,
        )
        from rtstore_spark.store.fs import LocalFS

        path = str(tmp_path / "rebuildcrash")
        routed = emb.select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(routed.filter("id < 250"), "embedding", "id",
                       "route", model, path)
        append_pq_index(
            emb.filter("vec_id >= 250 and vec_id < 300"), "embedding",
            "vec_id", path,
        )
        assert read_pq_index(spark, path)[0].count() == 300

        real = LocalFS.write_text_atomic

        def boom(self, p, text):
            if p.endswith("/_current"):  # the generation-pointer flip
                raise RuntimeError("simulated crash before pointer flip")
            return real(self, p, text)

        monkeypatch.setattr(LocalFS, "write_text_atomic", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_pq_index(routed.filter("id < 320"), "embedding", "id",
                           "route", model, path)
        monkeypatch.undo()
        # the crashed rebuild is invisible: old base + increments intact
        codes, _, _ = read_pq_index(spark, path)
        assert codes.count() == 300
        # retry lands atomically; stale increments retired with their gen
        write_pq_index(routed.filter("id < 320"), "embedding", "id",
                       "route", model, path)
        codes, _, _ = read_pq_index(spark, path)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(320))
        assert len(ids) == len(set(ids))


class TestStreamingSafeRebuildPQ:
    """write_pq_index(carry_ledger=True) — round-11: the RETRAIN
    rebuild that runs with a pq_index_sink stream mid-flight. The fresh
    generation's increment pointer carries every committed batch tag
    (digit tags folded to one watermark), so replays of committed
    batches still no-op and the stream never needs a checkpoint reset —
    which is what makes periodic codebook retraining operationally
    possible under continuous ingest."""

    def test_midstream_retrain_rebuild_carries_ledger(
        self, spark, emb, model, tmp_path
    ):
        from rtstore_spark.operators.similarity import (
            pq_fit,
            pq_index_sink,
            read_pq_index,
            write_pq_index,
        )

        path = str(tmp_path / "pq-carry")
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        sink = pq_index_sink(path, "embedding", "vec_id")
        b0 = emb.filter("vec_id >= 40 and vec_id < 50")
        b1 = emb.filter("vec_id >= 50 and vec_id < 60")
        sink(b0, 0)
        sink(b1, 1)
        # retrain on the full corpus so far, rebuild MID-STREAM
        model2 = pq_fit(emb, "embedding", m=8, ksub=32, seed=9)
        full = emb.filter("vec_id < 60").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(
            full, "embedding", "id", "route", model2, path,
            carry_ledger=True,
        )
        # the new generation serves the RETRAINED codebooks
        codes, _, loaded = read_pq_index(spark, path)
        assert loaded["codebooks"] == model2["codebooks"]
        # replayed batches no-op: no duplicates, no checkpoint reset
        sink(b0, 0)
        sink(b1, 1)
        codes, _, _ = read_pq_index(spark, path)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(60)) and len(set(ids)) == 60
        # new batches land
        sink(emb.filter("vec_id >= 60 and vec_id < 70"), 2)
        codes, _, _ = read_pq_index(spark, path)
        assert sorted(r["id"] for r in codes.collect()) == list(range(70))

    def test_carry_chains_with_compaction_watermark(
        self, spark, emb, model, tmp_path
    ):
        from rtstore_spark.operators.similarity import (
            compact_pq_index,
            pq_index_sink,
            read_pq_index,
            resolve_index_base,
            write_pq_index,
        )
        from rtstore_spark.store.fs import fs_for
        from rtstore_spark.store.increments import read_manifest

        path = str(tmp_path / "pq-carry-chain")
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        sink = pq_index_sink(path, "embedding", "vec_id")
        sink(emb.filter("vec_id >= 40 and vec_id < 50"), 0)
        compact_pq_index(spark, path)  # w0 parked in the pointer
        sink(emb.filter("vec_id >= 50 and vec_id < 60"), 1)
        full = emb.filter("vec_id < 60").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(
            full, "embedding", "id", "route", model, path,
            carry_ledger=True,
        )
        gen = resolve_index_base(spark, path)
        m = read_manifest(fs_for(gen, spark), gen)
        names, tags, wm = list(m.names), list(m.tags), m.watermark
        assert names == [] and tags == [] and wm == 1  # carried+folded
        sink(emb.filter("vec_id >= 40 and vec_id < 50"), 0)
        sink(emb.filter("vec_id >= 50 and vec_id < 60"), 1)
        codes, _, _ = read_pq_index(spark, path)
        assert codes.count() == 60  # both replays no-oped
        sink(emb.filter("vec_id >= 60 and vec_id < 70"), 2)
        codes, _, _ = read_pq_index(spark, path)
        assert sorted(r["id"] for r in codes.collect()) == list(range(70))

    def test_crash_mid_carry_rebuild_keeps_stream_alive(
        self, spark, emb, model, tmp_path, monkeypatch
    ):
        from rtstore_spark.operators.similarity import (
            pq_index_sink,
            read_pq_index,
            write_pq_index,
        )
        from rtstore_spark.store.fs import LocalFS

        path = str(tmp_path / "pq-carry-crash")
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        sink = pq_index_sink(path, "embedding", "vec_id")
        b0 = emb.filter("vec_id >= 40 and vec_id < 50")
        sink(b0, 0)
        real = LocalFS.write_text_atomic

        def boom(self, p, text):
            # the ROOT pointer flip only — the new generation's carried
            # inc/_current and _stats.json writes must succeed first
            if p.endswith("/_current") and "/inc/" not in p:
                raise RuntimeError("simulated crash before pointer flip")
            return real(self, p, text)

        full = emb.filter("vec_id < 50").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        monkeypatch.setattr(LocalFS, "write_text_atomic", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_pq_index(
                full, "embedding", "id", "route", model, path,
                carry_ledger=True,
            )
        monkeypatch.undo()
        # old generation (and its tag ledger) fully live: replay no-ops
        sink(b0, 0)
        codes, _, _ = read_pq_index(spark, path)
        ids = [r["id"] for r in codes.collect()]
        assert sorted(ids) == list(range(50)) and len(set(ids)) == 50


class TestDriftMonitor:
    """Round-11: the codebooks NEVER retrain on append (retraining
    would corrupt stored codes), so a maintained index's recall decays
    silently as the embedding distribution moves. Every append records
    its increment's mean squared reconstruction error in the same
    encode pass; pq_index_drift reads those against the base
    generation's train_mse and pq_index_sink warns past the
    threshold."""

    @pytest.fixture()
    def clustered(self, spark):
        # 4 tight clusters around orthogonal unit patterns: in-
        # distribution vectors reconstruct at a stable (deterministic-
        # fit) training error, so a distribution shift to random
        # directions is unambiguous in the drift RATIO
        rng = np.random.default_rng(11)
        pats = np.eye(8)[[0, 2, 4, 6]]
        rows = [
            (
                i,
                [float(x) for x in pats[i % 4] + rng.normal(0, 1e-3, 8)],
                i % 2,
            )
            for i in range(80)
        ]
        return spark.createDataFrame(rows, "id long, v array<float>, route int")

    def _in_dist(self, spark, lo, hi, seed=17):
        rng = np.random.default_rng(seed)
        pats = np.eye(8)[[0, 2, 4, 6]]
        rows = [
            (i, [float(x) for x in pats[i % 4] + rng.normal(0, 1e-3, 8)])
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, "id long, v array<float>")

    def _shifted(self, spark, lo, hi, seed=23):
        # nowhere near the trained patterns: random directions
        rng = np.random.default_rng(seed)
        rows = [
            (i, [float(x) for x in rng.normal(0, 1.0, 8)])
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, "id long, v array<float>")

    @pytest.fixture()
    def drift_index(self, spark, clustered, tmp_path):
        from rtstore_spark.operators.similarity import pq_fit, write_pq_index

        model = pq_fit(clustered, "v", m=2, ksub=4, seed=3)
        path = str(tmp_path / "pq-drift")
        write_pq_index(clustered, "v", "id", "route", model, path)
        return path

    def test_train_and_increment_stats_recorded(
        self, spark, drift_index, tmp_path
    ):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            pq_index_drift,
        )

        report = pq_index_drift(spark, drift_index)
        assert report["n_base"] == 80
        # pq_fit is deterministic (md5-sorted sample + seeded init), so
        # train_mse is a stable constant for this fixture; its absolute
        # value reflects the kmeans local optimum (seed 3 merges the
        # zero-pattern cluster → ~0.167) — the monitor's contract is
        # about RATIOS against it, not its magnitude
        assert report["train_mse"] is not None
        assert 0.0 < report["train_mse"] < 0.5
        assert report["increments"] == [] and report["drift_ratio"] is None
        # in-distribution append: error comparable to training error
        append_pq_index(
            self._in_dist(spark, 100, 120), "v", "id", drift_index
        )
        report = pq_index_drift(spark, drift_index)
        assert len(report["increments"]) == 1
        inc = report["increments"][0]
        assert inc["n"] == 20 and inc["ratio"] is not None
        assert inc["ratio"] < 2.0  # under the sink's default threshold
        # shifted append: random directions land far from every frozen
        # codeword — error is O(1) vs the ~0.167 training reference
        append_pq_index(
            self._shifted(spark, 200, 220), "v", "id", drift_index
        )
        report = pq_index_drift(spark, drift_index)
        assert len(report["increments"]) == 2
        assert report["increments"][-1]["ratio"] > 3.0
        assert report["drift_ratio"] > 2.0  # row-weighted overall

    def test_sink_warns_on_drift_only(self, spark, drift_index):
        import warnings

        from rtstore_spark.operators.similarity import (
            PQDriftWarning,
            pq_index_sink,
        )

        sink = pq_index_sink(drift_index, "v", "id")
        with warnings.catch_warnings():
            # an in-distribution batch must NOT warn
            warnings.simplefilter("error", PQDriftWarning)
            sink(self._in_dist(spark, 100, 120), 0)
        with pytest.warns(PQDriftWarning, match="drifted") as rec:
            sink(self._shifted(spark, 200, 220), 1)
        # attributed to the sink's caller, not to library internals
        drift = [w for w in rec if issubclass(w.category, PQDriftWarning)]
        assert [w.filename for w in drift] == [__file__]

    def test_sink_drift_warning_disabled(self, spark, drift_index):
        import warnings

        from rtstore_spark.operators.similarity import (
            PQDriftWarning,
            pq_index_sink,
        )

        sink = pq_index_sink(
            drift_index, "v", "id", drift_warn_ratio=None
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error", PQDriftWarning)
            sink(self._shifted(spark, 300, 320), 0)  # no warning machinery

    def test_compaction_carries_train_reference(self, spark, drift_index):
        """Folding increments retires their per-increment stats but the
        base train_mse — the frozen quantizer's quality reference —
        carries verbatim, so post-fold appends still measure against
        the same baseline."""
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            compact_pq_index,
            pq_index_drift,
        )

        before = pq_index_drift(spark, drift_index)["train_mse"]
        append_pq_index(
            self._in_dist(spark, 100, 120), "v", "id", drift_index
        )
        compact_pq_index(spark, drift_index)
        report = pq_index_drift(spark, drift_index)
        assert report["train_mse"] == before
        assert report["increments"] == []  # retired with the fold
        # a post-fold shifted append measures against the SAME baseline
        append_pq_index(
            self._shifted(spark, 200, 220), "v", "id", drift_index
        )
        report = pq_index_drift(spark, drift_index)
        assert report["increments"][-1]["ratio"] > 3.0


class TestLegacyTagGuardPQ:
    def test_tagged_append_onto_legacy_token_raises_and_rebuild_repairs(
        self, spark, emb, model, tmp_path
    ):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            read_pq_index,
            resolve_index_base,
            write_pq_index,
        )
        from rtstore_spark.store.fs import fs_for

        path = str(tmp_path / "pq-legacy")
        base = emb.filter("vec_id < 40").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(base, "embedding", "id", "route", model, path)
        gen = resolve_index_base(spark, path)
        fs = fs_for(gen, spark)
        # a pointer tag line the OLD sanitizer would have written for
        # batch_tag='crawl/a'
        fs.write_text_atomic(f"{gen}/inc/_current", "v2\ntcrawla\n")
        inc = emb.filter("vec_id >= 40 and vec_id < 50")
        with pytest.raises(RuntimeError, match="strip-to-alnum"):
            append_pq_index(inc, "embedding", "vec_id", path, batch_tag="9")
        # untagged appends skip replay detection — still fine
        append_pq_index(inc, "embedding", "vec_id", path)
        assert read_pq_index(spark, path)[0].count() == 50
        # the advised repair: carry-rebuild drops the unmatchable token
        full = emb.filter("vec_id < 50").select(
            F.col("vec_id").alias("id"), "embedding",
            F.col("label").alias("route"),
        )
        write_pq_index(
            full, "embedding", "id", "route", model, path,
            carry_ledger=True,
        )
        append_pq_index(
            emb.filter("vec_id >= 50 and vec_id < 60"),
            "embedding", "vec_id", path, batch_tag="9",
        )
        assert read_pq_index(spark, path)[0].count() == 60


class TestLifecyclePinPQ:
    """The maintained IVF-PQ lifecycle through the public API — rebuild
    → three tagged appends → replayed tag → compact → append →
    carry_ledger rebuild → replay — with the all-probe search rows of
    every distinct state pinned literally (recorded before the increment
    protocol moved to store/increments.py) and every replay asserted to
    be a no-op. All-probe keeps the rows independent of routing, so the
    rebuild (whose centroids come from the larger corpus) must reproduce
    them exactly."""

    def test_rows_pinned_and_replays_noop(self, spark, emb, model, tmp_path):
        from rtstore_spark.operators.similarity import (
            append_pq_index,
            compact_pq_index,
            read_pq_index,
            write_pq_index,
        )

        path = str(tmp_path / "pq-lifecycle")
        q = emb.filter("vec_id = 55").collect()[0]["embedding"]

        def rows(lo, hi):
            return emb.filter(f"vec_id >= {lo} and vec_id < {hi}")

        def state():
            codes, cents, loaded = read_pq_index(spark, path)
            hits = _one_query(
                codes, loaded, cents, q, 5, nprobe=cents.count()
            ).collect()
            return codes.count(), [
                (r["id"], round(r["score"], 6)) for r in hits
            ]

        def routed(hi):
            return emb.filter(f"vec_id < {hi}").select(
                F.col("vec_id").alias("id"), "embedding",
                F.col("label").alias("route"),
            )

        write_pq_index(routed(40), "embedding", "id", "route", model, path)
        seen = [state()]
        for tag, (lo, hi) in enumerate([(40, 50), (50, 60), (60, 70)]):
            append_pq_index(
                rows(lo, hi), "embedding", "vec_id", path, batch_tag=str(tag)
            )
            seen.append(state())
        append_pq_index(
            rows(50, 60), "embedding", "vec_id", path, batch_tag="1"
        )
        assert state() == seen[-1]  # replayed tag
        compact_pq_index(spark, path)
        assert state() == seen[-1]
        append_pq_index(
            rows(70, 80), "embedding", "vec_id", path, batch_tag="crawl/a"
        )
        seen.append(state())
        write_pq_index(
            routed(80), "embedding", "id", "route", model, path,
            carry_ledger=True,
        )
        assert state() == seen[-1]
        for tag, (lo, hi) in [("0", (40, 50)), ("2", (60, 70)),
                              ("crawl/a", (70, 80))]:
            append_pq_index(
                rows(lo, hi), "embedding", "vec_id", path, batch_tag=tag
            )
            assert state() == seen[-1]  # carried ledger: replay no-ops
        assert seen == PQ_LIFECYCLE_ROWS


# (code rows, [(id, score), ...]) of each distinct lifecycle state
PQ_LIFECYCLE_ROWS = [
    (40, [(37, 0.181269), (21, 0.149176), (8, 0.140128), (33, 0.126066),
          (9, 0.094386)]),
    (50, [(40, 0.183183), (37, 0.181269), (21, 0.149176), (8, 0.140128),
          (33, 0.126066)]),
    (60, [(55, 0.545632), (40, 0.183183), (37, 0.181269), (21, 0.149176),
          (58, 0.146393)]),
    (70, [(55, 0.545632), (40, 0.183183), (37, 0.181269), (61, 0.172624),
          (21, 0.149176)]),
    (80, [(55, 0.545632), (40, 0.183183), (37, 0.181269), (61, 0.172624),
          (21, 0.149176)]),
]
