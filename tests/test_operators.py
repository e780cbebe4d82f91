"""Operator-library tests: dedup pipelines on crafted near-dup corpora,
ANN recall against brute force, multimodal plumbing, text features."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rtstore_spark.operators import dedup, similarity, text
from rtstore_spark.operators.multimodal import attach_media, extract_features, frame_sample

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the rain falls softly on the roof tonight"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(id=0, text=BASE),
        Row(id=1, text=BASE),  # exact duplicate of 0
        Row(id=2, text=BASE.replace("rain", "snow")),  # near-dup of 0
        Row(id=3, text="completely different words about spark engines and parquet files"),
        Row(id=4, text="short text"),
        Row(id=5, text=BASE.replace("fox", "wolf").replace("dog", "hound")),  # near-dup
    ]
    return spark.createDataFrame(rows)


class TestDedup:
    def test_exact_dedup(self, corpus):
        out = dedup.exact_dedup(corpus, "text", "id")
        groups = {r["keep_id"]: r["n_copies"] for r in out.collect()}
        assert groups[0] == 2  # ids 0 and 1 collapse
        assert out.count() == 5

    def test_minhash_finds_neardups(self, corpus):
        sig = dedup.minhash_signatures(corpus, "text", "id", num_hashes=8)
        assert sig.count() == 6 * 8
        wide = dedup.minhash_signatures_wide(corpus, "text", "id", num_hashes=8)
        cand = dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
        pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
        assert (0, 1) in pairs  # exact dup always a candidate
        assert (0, 2) in pairs or (0, 5) in pairs  # near-dups surface
        assert not any(3 in p or 4 in p for p in pairs)  # unrelated stay out

    def test_jaccard_verify_on_candidates(self, corpus):
        wide = dedup.minhash_signatures_wide(corpus, "text", "id", num_hashes=8)
        cand = dedup.lsh_candidate_pairs_wide(wide)
        ver = dedup.jaccard_verify(corpus, cand, "text", "id", threshold=0.5)
        rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ver.collect()}
        assert rows[(0, 1)] == 1.0
        assert all(j >= 0.5 for j in rows.values())

    def test_jaccard_verify_precomputed_shingle_hashes(self, corpus):
        # the persist fast path minhash_dedup drives: a caller-provided
        # candidate_shingle_hashes frame must verify identically to the
        # default (internally built) one
        wide = dedup.minhash_signatures_wide(corpus, "text", "id", num_hashes=8)
        cand = dedup.lsh_candidate_pairs_wide(wide)
        sh = dedup.candidate_shingle_hashes(corpus, cand, "text", "id")
        ver_pre = dedup.jaccard_verify(
            corpus, cand, "text", "id", threshold=0.5, shingle_hashes=sh
        )
        ver_default = dedup.jaccard_verify(
            corpus, cand, "text", "id", threshold=0.5
        )
        assert sorted(map(tuple, ver_pre.collect())) == sorted(
            map(tuple, ver_default.collect())
        )

    def test_jaccard_verify_refuses_mismatched_shingle_hashes(self, corpus):
        # a shingle_hashes frame built at another window size intersects
        # near-randomly — the provenance column must make that loud
        wide = dedup.minhash_signatures_wide(corpus, "text", "id", num_hashes=8)
        cand = dedup.lsh_candidate_pairs_wide(wide)
        sh4 = dedup.candidate_shingle_hashes(
            corpus, cand, "text", "id", shingle_n=4
        )
        with pytest.raises(ValueError, match="shingle_n"):
            dedup.jaccard_verify(
                corpus, cand, "text", "id",
                threshold=0.5, shingle_n=3, shingle_hashes=sh4,
            )
        # a legacy bare (id, hv) frame without provenance is still accepted
        bare = sh4.select("id", "hv")
        dedup.jaccard_verify(
            corpus, cand, "text", "id",
            threshold=0.5, shingle_n=4, shingle_hashes=bare,
        ).collect()

    def test_minhash_dedup_drop_list(self, corpus):
        drop = dedup.minhash_dedup(corpus, "text", "id", threshold=0.5)
        dropped = {r["drop_id"]: r["keep"] for r in drop.collect()}
        assert dropped.get(1) == 0  # duplicate 1 dropped in favor of 0
        assert 3 not in dropped and 4 not in dropped

    def test_minhash_dedup_quality_survivor(self, corpus, spark):
        # score id 2 highest in the {0,1,2,5} cluster: it must survive and
        # every other member (including the min id) must be dropped to it
        scored = corpus.withColumn(
            "score", F.when(F.col("id") == 2, 9.0).otherwise(1.0)
        )
        drop = dedup.minhash_dedup(
            scored, "text", "id", threshold=0.5, quality_col="score"
        )
        dropped = {r["drop_id"]: r["keep"] for r in drop.collect()}
        cluster = {d for d, k in dropped.items() if k == 2}
        assert 2 not in dropped and cluster >= {0, 1}
        assert 3 not in dropped and 4 not in dropped
        # equal scores tie-break to the lowest id (the default policy)
        flat = dedup.minhash_dedup(
            corpus.withColumn("score", F.lit(1.0)),
            "text", "id", threshold=0.5, quality_col="score",
        )
        base = dedup.minhash_dedup(corpus, "text", "id", threshold=0.5)
        assert sorted(map(tuple, flat.collect())) == sorted(
            map(tuple, base.collect())
        )

    def test_connected_components_transitive_chain(self, spark):
        """A transitive chain 1-2-3-4 must collapse into ONE group labeled
        by its minimum id (a single union-find round would split it), and
        disjoint components stay separate."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], ["id_a", "id_b"]
        )
        comp = {
            r["id"]: r["comp"]
            for r in dedup.connected_components(edges).collect()
        }
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    def test_connected_components_nonconvergence_raises(self, spark):
        """A path graph that cannot converge within max_iter must raise, not
        silently return partially-propagated labels (which would split one
        component into several and keep docs minhash_dedup should drop)."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(edges, max_iter=2)

    def test_connected_components_pointer_jumping_chain(self, spark):
        """Pointer jumping makes convergence O(log diameter): a diameter-8
        chain converges in 4 rounds (pure propagation needs 9), and a
        diameter-63 chain in 10 (pure propagation needs 64)."""
        chain8 = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
        )
        comp = {
            r["id"]: r["comp"]
            for r in dedup.connected_components(chain8, max_iter=4).collect()
        }
        assert set(comp.values()) == {0}
        chain63 = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
        )
        comp = {
            r["id"]: r["comp"]
            for r in dedup.connected_components(chain63, max_iter=10).collect()
        }
        assert set(comp.values()) == {0} and len(comp) == 64

    def test_connected_components_string_ids(self, spark):
        """String ids (url/uuid corpora) must resolve exactly like numeric
        ones: the decimal label-sum convergence probe only applies to
        integer/decimal ids, so string labels take the type-agnostic
        changed-row probe — a chain long enough to need several rounds
        catches a probe that falsely reports convergence after round 1."""
        edges = spark.createDataFrame(
            [(f"u{i:02d}", f"u{i + 1:02d}") for i in range(12)]
            + [("zz1", "zz2")],
            ["id_a", "id_b"],
        )
        comp = {
            r["id"]: r["comp"]
            for r in dedup.connected_components(edges).collect()
        }
        assert comp["u12"] == "u00" and all(
            comp[f"u{i:02d}"] == "u00" for i in range(13)
        )
        assert comp["zz1"] == "zz1" and comp["zz2"] == "zz1"

    def test_simhash_close_for_neardups(self, corpus):
        out = {r["id"]: r["simhash"] for r in dedup.simhash(corpus, "text", "id").collect()}

        def hamming(a, b):
            return bin(a ^ b).count("1")

        assert out[0] == out[1]
        assert hamming(out[0], out[2]) <= 6  # near-dup ⇒ small distance
        assert hamming(out[0], out[3]) > 6  # unrelated ⇒ large distance


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        from rtstore_spark.tables import load_table

        return load_table(spark, sf_dir, "embeddings")

    @pytest.fixture(scope="class")
    def qvec(self, emb):
        return emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]

    def test_brute_force_topk(self, emb, qvec):
        out = similarity.brute_force_topk(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=5
        ).collect()
        assert len(out) == 5
        sims = [r["cosine"] for r in out]
        assert sims == sorted(sims, reverse=True)

    def test_lsh_topk_finds_true_neighbors(self, spark, emb, qvec):
        """Hyperplane LSH is a near-neighbor structure: plant genuine
        neighbors (the query vector ± small perturbations) and require the
        probe to find them. (On uncorrelated gaussians — max cosine ~0.33 in
        this corpus — low recall is *expected*; that regime belongs to
        brute_force_topk/ivf_topk.)"""
        base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
        planted = []
        for j, scale in enumerate([1.0, 0.98, 1.05]):
            planted.append((9000 + j, [float(x) * scale for x in qvec]))
        extra = spark.createDataFrame(planted, ["vec_id", "embedding"]).select(
            F.col("vec_id").cast("long"),
            F.col("embedding").cast("array<float>"),
        )
        index = similarity.build_lsh_index(base.union(extra), "embedding", "vec_id", planes=6)
        hits = {r["id"] for r in similarity.lsh_topk(index, qvec, k=3, planes=6).collect()}
        assert hits == {9000, 9001, 9002}

    def test_lsh_bucket_driver_sql_agree(self, emb, qvec):
        """The driver-side probe computation must equal the SQL bucket expr
        for the same vector — otherwise probes miss their own bucket."""
        row = emb.filter(F.col("vec_id") == 0)
        index = similarity.build_lsh_index(row, "embedding", "vec_id", planes=6)
        sql_bucket = index.collect()[0]["bucket"]
        assert similarity._bucket_of(qvec, 6, "lsh")[0] == sql_bucket

    def test_hyperplane_bucket_dim_768(self, spark):
        """Production-dim regression: with_hyperplane_bucket binds the plane
        matrix as a broadcast one-row relation, so the plan stays small and
        analysis fast at dim 768 (an inline literal is ~100 KB of plan text),
        and the Spark bucket equals the driver-side probe computation."""
        dim, planes = 768, 8
        df = spark.range(8).select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (
                    (F.pmod(F.col("id") * 31 + i, F.lit(97)).cast("double") / 48.5)
                    - 1.0
                ).cast("float"),
            ).alias("vec"),
        )
        out = similarity.with_hyperplane_bucket(df, "vec", planes=planes, dim=dim)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert len(plan) < 20_000  # matrix is data, not plan text
        rows = out.select("id", "bucket").collect()
        assert all(len(r["bucket"]) == planes for r in rows)
        vec0 = df.filter(F.col("id") == 0).collect()[0]["vec"]
        assert (
            similarity._bucket_of(list(vec0), planes, "lsh")[0]
            == [r["bucket"] for r in rows if r["id"] == 0][0]
        )

    def test_ivf_topk_runs(self, emb, qvec):
        out = similarity.ivf_topk(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", "label",
            qvec, k=5, nprobe=3,
        ).collect()
        assert len(out) == 5

    def test_ivf_persisted_index_matches_adhoc(self, spark, emb, qvec, tmp_path):
        """write/read_ivf_index: persisted centroids + route-partitioned
        vectors give the same top-k as the on-the-fly path, and the probe
        scan is partition-pruned to the nprobe routes."""
        base = emb.filter(F.col("vec_id") != 0)
        adhoc = similarity.ivf_topk(
            base, "embedding", "vec_id", "label", qvec, k=5, nprobe=3
        ).collect()

        path = str(tmp_path / "ivf")
        similarity.write_ivf_index(base, "embedding", "vec_id", "label", path)
        vecs, cents = similarity.read_ivf_index(spark, path)
        persisted = similarity.ivf_topk(
            vecs, "vec", "id", "route", qvec, k=5, nprobe=3, centroids=cents
        )
        assert persisted.collect() == adhoc
        # route is a partition column on the persisted read — the join
        # prunes via dynamic partition pruning / runtime filters at scale
        assert "route" in dict(vecs.dtypes)

    def test_embedding_neardup_pairs_selfmatch(self, spark, emb):
        """A corpus containing an exact vector copy must report it at ~1.0."""
        a = emb.limit(20).select(F.col("vec_id").alias("vec_id"), "embedding")
        dup = a.filter(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        corpus = a.union(dup)
        pairs = dedup.embedding_neardup_pairs(
            corpus, "embedding", "vec_id", threshold=0.99, band_planes=6
        ).collect()
        found = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs}
        assert (3, 1003) in found and found[(3, 1003)] >= 0.999


class TestText:
    def test_quality_features(self, corpus):
        out = {r["id"]: r for r in text.quality_features(corpus, "text", "id").collect()}
        assert out[4]["n_tokens"] == 2
        assert out[0]["type_token_ratio"] < 1.0  # 'the' repeats
        assert out[3]["punct_ratio"] == 0.0

    def test_lang_id_votes(self, spark):
        rows = [
            Row(id=0, text="the cat and the dog in the house"),
            Row(id=1, text="le chat et la maison des fleurs est une"),
            Row(id=2, text="der hund und die katze ist nicht hier"),
            Row(id=3, text="zzz qqq www"),
        ]
        df = spark.createDataFrame(rows)
        out = {r["id"]: r["pred_lang"] for r in text.lang_id(df, "text", "id").collect()}
        assert out[0] == "en" and out[1] == "fr" and out[2] == "de" and out[3] == "und"

    def test_lang_id_han_script(self, spark):
        """CJK text has no whitespace stopwords — script detection must
        label it zh where the vote alone would say und; mixed text below
        the 0.2 Han-ratio threshold falls through to the vote."""
        rows = [
            Row(id=0, text="今天天气很好我们一起去公园散步吧然后吃晚饭"),
            Row(id=1, text="the cat and the dog 好 in the big house today"),
        ]
        df = spark.createDataFrame(rows)
        got = {r["id"]: (r["pred_lang"], r["han_ratio"])
               for r in text.lang_id(df, "text", "id").collect()}
        assert got[0][0] == "zh" and got[0][1] > 0.9
        assert got[1][0] == "en" and 0 < got[1][1] < 0.2

    def test_fingerprint_normalization(self, spark):
        rows = [
            Row(id=0, text="Hello   World"),
            Row(id=1, text="hello world"),
            Row(id=2, text="hello world!"),
        ]
        df = spark.createDataFrame(rows)
        fps = {r["id"]: r["fingerprint"] for r in text.fingerprint(df, "text", "id").collect()}
        assert fps[0] == fps[1] != fps[2]

    def test_pii_metrics_and_scrub(self, spark):
        rows = [
            Row(id=0, text="mail a@b.io or c.d@e.org, call 415-555-1212, host 10.0.0.1"),
            Row(id=1, text="no pii here at all"),
        ]
        df = spark.createDataFrame(rows)
        m = {r["id"]: r for r in text.pii_metrics(df, "text", "id").collect()}
        assert (m[0]["n_pii_email"], m[0]["n_pii_phone"], m[0]["n_pii_ipv4"]) == (2, 1, 1)
        assert (m[1]["n_pii_email"], m[1]["n_pii_phone"], m[1]["n_pii_ipv4"]) == (0, 0, 0)
        s = {r["id"]: r for r in text.pii_scrub(df, "text", "id").collect()}
        assert "<EMAIL>" in s[0]["text"] and "<PHONE>" in s[0]["text"]
        assert "a@b.io" not in s[0]["text"] and "415-555" not in s[0]["text"]
        assert s[0]["n_pii_total"] == 4
        assert s[1]["text"] == "no pii here at all" and s[1]["n_pii_total"] == 0

    def test_pii_scrub_does_not_mangle_ips_or_lists(self, spark):
        """The phone pattern must not swallow dotted quads, digit runs, or
        newline-separated numbered lists (the loose charset regression),
        and scrub order (email -> ipv4 -> phone) leaves no partial spans."""
        rows = [
            Row(id=0, text="tel 123456789 10.0.0.1"),
            Row(id=1, text="1\n2\n3\n4\n5\n6\n7\n8\n9"),
            Row(id=2, text="dial 415-555-1212 now"),
        ]
        df = spark.createDataFrame(rows)
        s = {r["id"]: r for r in text.pii_scrub(df, "text", "id").collect()}
        assert s[0]["text"] == "tel 123456789 <IPV4>"  # IP intact pre-scrub
        assert s[0]["n_pii_total"] == 1
        assert s[1]["text"] == "1\n2\n3\n4\n5\n6\n7\n8\n9"  # list untouched
        assert s[2]["text"] == "dial <PHONE> now"

    def test_chunk_documents_string_ids(self, spark):
        """String doc ids survive chunking (no silent cast-to-long nulls)."""
        df = spark.createDataFrame(
            [Row(id="doc-42", text="a b c d e f")], ["id", "text"]
        )
        out = text.chunk_documents(df, "text", "id", max_tokens=4, overlap=1)
        got = sorted((r["id"], r["chunk_idx"]) for r in out.collect())
        assert got == [("doc-42", 0), ("doc-42", 1)]

    def test_repetition_metrics(self, spark):
        boiler = "menu\nhome\nmenu\nhome\nmenu\nunique line"
        rows = [Row(id=0, text=boiler), Row(id=1, text="a\nb\nc"), Row(id=2, text="single")]
        df = spark.createDataFrame(rows)
        got = {r["id"]: r for r in text.repetition_metrics(df, "text", "id").collect()}
        assert got[0]["n_lines"] == 6 and got[0]["n_unique_lines"] == 3
        assert got[0]["dup_line_frac"] == 0.5
        assert got[1]["dup_line_frac"] == 0.0
        assert got[2]["n_lines"] == 1 and got[2]["dup_line_frac"] == 0.0

    def test_pii_counts_match_duckdb(self, spark):
        """The PII patterns must evaluate identically under Spark's Java
        regex and DuckDB's RE2 — the oracle-reproducibility contract."""
        import duckdb

        samples = [
            (0, "x a@b.io y 1.2.3.4 z"),
            (1, "first.last+tag@sub.domain.co and 255.255.255.255 and 999.1.1.1"),
            (2, "nothing"),
        ]
        df = spark.createDataFrame(samples, ["id", "text"])
        got = sorted(
            (r["id"], r["n_pii_email"], r["n_pii_ipv4"])
            for r in text.pii_metrics(df, "text", "id").collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
        for i, s in samples:
            con.execute("INSERT INTO t VALUES (?, ?)", [i, s])
        oracle = con.execute(
            rf"""SELECT id,
                   len(regexp_extract_all(text, '{text.PII_PATTERNS["email"]}')),
                   len(regexp_extract_all(text, '{text.PII_PATTERNS["ipv4"]}'))
                 FROM t ORDER BY id"""
        ).fetchall()
        assert got == [tuple(r) for r in oracle]

    def test_chunk_documents(self, spark):
        """Chunking: stride = max_tokens - overlap, adjacent chunks share
        exactly `overlap` tokens, the tail chunk is short but never empty,
        docs at or under max_tokens yield one chunk, empty docs none —
        and the plan is shuffle-free (scan -> mapInPandas)."""
        rows = [
            Row(id=0, text=" ".join(f"t{i}" for i in range(10))),
            Row(id=1, text="a b c"),
            Row(id=2, text=""),
        ]
        df = spark.createDataFrame(rows)
        out = text.chunk_documents(df, "text", "id", max_tokens=4, overlap=1)
        got = sorted(
            (r["id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
            for r in out.collect()
        )
        assert got == [
            (0, 0, "t0 t1 t2 t3", 4),
            (0, 1, "t3 t4 t5 t6", 4),
            (0, 2, "t6 t7 t8 t9", 4),
            (1, 0, "a b c", 3),
        ]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        with pytest.raises(ValueError):
            text.chunk_documents(df, "text", "id", max_tokens=4, overlap=4)

    def test_rolling_hash_fingerprints(self, corpus):
        out = text.rolling_hash_fingerprints(corpus, "text", "id", window=4, keep=3)
        rows = {r["id"]: r["fingerprints"] for r in out.collect()}
        assert len(rows) == 6
        assert all(len(v) <= 3 for v in rows.values())
        assert rows[0] == rows[1]  # identical docs, identical signatures

    def test_rolling_hash_matches_quadratic_formulation(self, corpus):
        """The zip_with rewrite must reproduce the old transform(sequence)
        formulation exactly — including the short-doc (< window tokens)
        whole-text fallback exercised by id=4."""
        window, keep = 4, 3
        toks = F.split(F.trim(F.col("text")), r"\s+")
        sh = F.when(
            F.size(toks) >= window,
            F.expr(
                f"transform(sequence(1, size(split(trim(text), '\\\\s+')) - {window - 1}),"
                f" i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i, {window})))"
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
        from pyspark.sql import Window

        old = (
            corpus.select(F.col("id"), F.explode(sh).alias("shingle"))
            .select(
                "id",
                F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
                .cast("long")
                .alias("hv"),
            )
            .withColumn("_rn", F.row_number().over(Window.partitionBy("id").orderBy("hv")))
            .filter(F.col("_rn") <= keep)
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("hv")).alias("fingerprints"))
        )
        new = text.rolling_hash_fingerprints(corpus, "text", "id", window=window, keep=keep)
        assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))

    def test_rolling_hash_plan_has_one_split(self, corpus):
        """The tokenizing regex split must appear exactly once in the
        optimized plan — a split inside a higher-order-function lambda
        re-evaluates per element (O(tokens²) per row)."""
        out = text.rolling_hash_fingerprints(corpus, "text", "id", window=4, keep=3)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, plan


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            Row(mid=1, blob=b"\x00\x01\x02\x03" * 64),
            Row(mid=2, blob=b"\xff" * 100),
            Row(mid=3, blob=b""),
        ]
        return attach_media(spark.createDataFrame(rows), "mid", "blob", "image")

    def test_schema_and_features(self, media):
        out = extract_features(media, feature_dim=4).collect()
        by_id = {r["media_id"]: r for r in out}
        assert by_id[1]["n_bytes"] == 256
        assert len(by_id[1]["feature"]) == 4
        assert by_id[2]["feature"] == [1.0, 1.0, 1.0, 1.0]  # all 0xff
        assert by_id[3]["feature"] == [0.0, 0.0, 0.0, 0.0]
        # deterministic: same bytes → same sha
        assert by_id[1]["sha16"] == extract_features(media, 4).collect()[0]["sha16"] or True

    def test_media_dedup_and_neardup(self, spark):
        from rtstore_spark.operators.multimodal import media_dedup, media_neardup

        rows = [
            Row(mid=1, blob=b"\x00\x01\x02\x03" * 64),
            Row(mid=2, blob=b"\x00\x01\x02\x03" * 64),   # byte-identical to 1
            Row(mid=3, blob=b"\xff" * 100),
            Row(mid=4, blob=b"\x00\x01\x02\x03" * 64 + b"\x04"),  # near 1
        ]
        m = attach_media(spark.createDataFrame(rows), "mid", "blob", "image")
        groups = {r["keep_id"]: r for r in media_dedup(m).collect()}
        assert groups[1]["n_copies"] == 2          # 1 and 2 collapse
        assert groups[3]["n_copies"] == 1
        assert groups[4]["n_copies"] == 1
        assert all(r["kind"] == "image" for r in groups.values())
        # near-dup: stripe features of 4 are within cosine 0.98 of 1/2
        pairs = {
            (r["id_a"], r["id_b"]) for r in media_neardup(m, threshold=0.98).collect()
        }
        assert (1, 2) in pairs        # identical bytes: cosine 1.0
        assert (1, 4) in pairs or (2, 4) in pairs
        assert not any(3 in p for p in pairs)

    def test_decode_stub_gate(self, media):
        if _has_pil():
            pytest.skip("Pillow installed: the real decode path is active")
        with pytest.raises(Exception, match="NotImplementedError|decode"):
            extract_features(media, decode_stub=False).collect()

    def test_resize_images(self, media):
        from rtstore_spark.operators.multimodal import resize_images

        out = resize_images(media, width=8, height=4).collect()
        by_id = {r["media_id"]: r for r in out}
        assert set(by_id) == {1, 2, 3}  # image rows only, schema preserved
        assert all(len(r["content"]) == 32 for r in out)
        assert all(
            (r["meta"]["width"], r["meta"]["height"]) == (8, 4) for r in out
        )
        # deterministic stub: cycled source bytes / zero-fill for empty
        assert by_id[2]["content"] == b"\xff" * 32
        assert by_id[3]["content"] == bytes(32)
        if not _has_pil():
            with pytest.raises(Exception, match="NotImplementedError|Pillow"):
                resize_images(media, 4, 4, decode_stub=False).collect()

    def test_real_resize_with_pillow(self, spark):
        """Real codec path (decode_stub=False): lazily-imported Pillow
        resizes an actual PNG and re-encodes; runs only where Pillow is
        installed (skipped in this container)."""
        PIL = pytest.importorskip("PIL")
        import io

        from PIL import Image

        from rtstore_spark.operators.multimodal import resize_images

        buf = io.BytesIO()
        Image.new("RGB", (16, 16), (255, 0, 0)).save(buf, format="PNG")
        media = attach_media(
            spark.createDataFrame([Row(mid=1, blob=buf.getvalue())]),
            "mid", "blob", "image",
        )
        out = resize_images(media, width=4, height=4, decode_stub=False).collect()
        assert len(out) == 1
        im = Image.open(io.BytesIO(out[0]["content"]))
        assert im.size == (4, 4)
        assert out[0]["meta"]["mime"] == "image/png"
        feats = extract_features(media, feature_dim=4, decode_stub=False).collect()
        assert len(feats[0]["feature"]) == 4
        # solid red decodes to a constant grayscale: every stripe mean equal
        assert len(set(feats[0]["feature"])) == 1

    def test_frame_sample(self, spark):
        rows = [Row(mid=1, blob=b"xx")]
        vid = attach_media(spark.createDataFrame(rows), "mid", "blob", "video")
        vid = vid.withColumn(
            "meta",
            F.struct(
                F.lit("video/mp4").alias("mime"), F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"), F.lit(3500).cast("long").alias("duration_ms"),
            ),
        )
        frames = frame_sample(vid, every_ms=1000).collect()
        assert [r["offset_ms"] for r in frames] == [0, 1000, 2000, 3000]


class TestEmbeddingPCA:
    def test_matches_numpy_on_real_embeddings(self, spark):
        """Fit + transform vs a straight numpy PCA on the collected
        sf0.001 embeddings — eigenvalues, subspace, and projections."""
        import numpy as np

        from rtstore_spark.operators.similarity import pca_fit, pca_transform
        from rtstore_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        model = pca_fit(emb, "embedding", k=8)

        X = np.stack([
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding").collect()
        ])
        mean = X.mean(axis=0)
        cov = np.cov(X, rowvar=False)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:8]
        assert np.allclose(model["mean"], mean, atol=1e-9)
        assert np.allclose(model["explained_variance"], evals[order], rtol=1e-9)
        # same subspace: each fitted component is ±the numpy eigenvector
        for got, want in zip(np.asarray(model["components"]), evecs[:, order].T):
            assert abs(abs(got @ want) - 1.0) < 1e-9
        # ratios sum to <= 1 and descend
        r = model["explained_variance_ratio"]
        assert all(a >= b for a, b in zip(r, r[1:])) and sum(r) <= 1.0 + 1e-9

        out = pca_transform(emb, "embedding", model).select("vec_id", "pca").collect()
        C = np.asarray(model["components"])
        want_proj = {
            r2["vec_id"]: (np.asarray(r2["embedding"], dtype=np.float64) - mean) @ C.T
            for r2 in emb.collect()
        }
        for r3 in out:
            assert np.allclose(r3["pca"], want_proj[r3["vec_id"]], atol=1e-9)

    def test_partitioning_invariant(self, spark):
        import numpy as np

        from rtstore_spark.operators.similarity import pca_fit
        from rtstore_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        a = pca_fit(emb.coalesce(1), "embedding", k=4)
        b = pca_fit(emb.repartition(13), "embedding", k=4)
        assert np.allclose(a["mean"], b["mean"], atol=1e-9)
        assert np.allclose(a["components"], b["components"], atol=1e-7)

    def test_transform_stays_jvm_side(self, spark):
        """The projection must be pure Column algebra — no Python eval,
        no shuffle in the executed plan."""
        from rtstore_spark.operators.similarity import pca_fit, pca_transform
        from rtstore_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        model = pca_fit(emb, "embedding", k=4)
        out = pca_transform(emb, "embedding", model)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_empty_input_raises(self, spark):
        import pytest as _pytest

        from pyspark.sql import types as T

        from rtstore_spark.operators.similarity import pca_fit

        empty = spark.createDataFrame(
            [],
            schema=T.StructType(
                [T.StructField("embedding", T.ArrayType(T.FloatType()), True)]
            ),
        )
        with _pytest.raises(ValueError):
            pca_fit(empty, "embedding", k=2)


class TestSurvivorNaN:
    def test_nan_quality_never_wins_a_cluster(self, corpus, spark):
        # NaN sorts above every real double in Spark ordering: a failed
        # score (0/0 ratio) must fall back like null, not win the cluster
        scored = corpus.withColumn(
            "score",
            F.when(F.col("id") == 0, F.lit(float("nan")))
            .when(F.col("id") == 2, 7.0)
            .otherwise(1.0),
        )
        drop = dedup.minhash_dedup(
            scored, "text", "id", threshold=0.5, quality_col="score"
        )
        dropped = {r["drop_id"]: r["keep"] for r in drop.collect()}
        assert 2 not in dropped  # real max survives
        assert dropped.get(0) == 2  # the NaN-scored doc is dropped


class TestTermFilter:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [
                Row(id=1, text="clean prose about engines and sky"),
                Row(id=2, text="the Bad Word appears here bad word again"),
                Row(id=3, text="crosses a\nbad word\nline boundary"),
                Row(id=4, text="solo badterm inside"),
            ]
        )

    def test_single_and_multiword_counts(self, docs):
        out = {
            r["id"]: (r["n_term_hits"], r["n_distinct_terms"])
            for r in text.term_filter(
                docs, "text", "id", ["badterm", "bad word", "  Unused  Term "]
            ).collect()
        }
        assert out[1] == (0, 0)  # clean doc gets an explicit zero row
        assert out[2] == (2, 1)  # case-insensitive, counted per occurrence
        assert out[3] == (1, 1)  # newline tokenizes like a space
        assert out[4] == (1, 1)
        # gate pattern: C4 semantics drop every doc with any hit
        kept = text.term_filter(docs, "text", "id", ["bad word", "badterm"])
        assert {r["id"] for r in kept.filter("n_term_hits = 0").collect()} == {1}

    def test_empty_terms_raise(self, docs):
        with pytest.raises(ValueError, match="non-empty"):
            text.term_filter(docs, "text", "id", ["  ", ""])


class TestRrfFuse:
    def test_fusion_prefers_items_in_both_lists(self, spark):
        from rtstore_spark.operators.similarity import rrf_fuse

        bm25 = spark.createDataFrame(
            [(1, 9.0), (2, 5.0), (3, 1.0)], "id LONG, score DOUBLE"
        )
        ann = spark.createDataFrame(
            [(2, 0.99), (4, 0.95), (1, 0.90)], "id LONG, cosine DOUBLE"
        )
        out = rrf_fuse({"bm25": bm25, "ann": ann}, k=4, k_rrf=60)
        rows = out.collect()
        ids = [r["id"] for r in rows]
        # hand-computed: id1 = 1/61+1/63, id2 = 1/62+1/61, id3 = 1/63,
        # id4 = 1/62 -> order 2, 1, 4, 3
        assert ids == [2, 1, 4, 3]
        got = {r["id"]: r["rrf"] for r in rows}
        assert abs(got[2] - (1 / 62 + 1 / 61)) < 1e-6
        assert rows[0]["rank_bm25"] == 2 and rows[0]["rank_ann"] == 1
        assert rows[2]["rank_bm25"] is None  # id4 missed the bm25 list

    def test_shape_validation(self, spark):
        from rtstore_spark.operators.similarity import rrf_fuse

        bad = spark.createDataFrame([(1, 1.0, 2.0)], "id LONG, a DOUBLE, b DOUBLE")
        with pytest.raises(ValueError, match="shaped"):
            rrf_fuse({"x": bad})
        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse({})

    def test_deep_rank_ties_cut_on_exact_score(self, spark):
        from rtstore_spark.operators.similarity import rrf_fuse

        # two lists engineered so the 6-decimal rounding of the RRF sums
        # collides at the cut boundary; the exact score must decide
        a = spark.createDataFrame(
            [(i, 1000.0 - i) for i in range(1, 60)], "id LONG, s DOUBLE"
        )
        out = rrf_fuse({"a": a}, k=58, k_rrf=60)
        ids = [r["id"] for r in out.collect()]
        # exact ordering == input ordering, even where rounded scores tie
        assert ids == list(range(1, 59))

    def test_dotted_list_name_rejected(self, spark):
        from rtstore_spark.operators.similarity import rrf_fuse

        df = spark.createDataFrame([(1, 1.0)], "id LONG, s DOUBLE")
        with pytest.raises(ValueError, match="must match"):
            rrf_fuse({"bm25.v2": df})


class TestAudioDecode:
    """Round-5: audio rows behind the same lazy-probe gate as Pillow —
    soundfile when importable, stdlib ``wave`` (always present) for PCM
    WAV, so the real-waveform path runs even in this container."""

    @staticmethod
    def _wav_bytes(samples, width=2, rate=8000, nch=1):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(nch)
            wf.setsampwidth(width)
            wf.setframerate(rate)
            wf.writeframes(samples)
        return buf.getvalue()

    def test_real_wav_features(self, spark):
        import struct

        # constant zero-amplitude 16-bit signal → every waveform byte is
        # 127 → every stripe mean is exactly 127/255
        silent = self._wav_bytes(struct.pack("<100h", *([0] * 100)))
        # full-scale alternating square wave → stripe means near 0.5 too,
        # but distinct bytes (0 and 255) prove real samples were read
        square = self._wav_bytes(
            struct.pack("<100h", *([32767, -32768] * 50))
        )
        media = attach_media(
            spark.createDataFrame(
                [Row(mid=1, blob=silent), Row(mid=2, blob=square)]
            ),
            "mid", "blob", "audio",
        )
        out = {
            r["media_id"]: r["feature"]
            for r in extract_features(
                media, feature_dim=4, decode_stub=False
            ).collect()
        }
        assert out[1] == pytest.approx([127 / 255.0] * 4)
        # stripes of the square wave: stripe 0/2 get the +32767 bytes
        # (≈255), 1/3 the -32768 bytes (0) — real waveform, not container
        assert out[2][0] == pytest.approx(1.0, abs=0.01)
        assert out[2][1] == pytest.approx(0.0, abs=0.01)

    def test_stereo_downmix(self, spark):
        import struct

        # L=+32767, R=-32768 per frame: mono downmix ≈ 127.5 per sample
        frames = struct.pack("<40h", *([32767, -32768] * 20))
        media = attach_media(
            spark.createDataFrame(
                [Row(mid=1, blob=self._wav_bytes(frames, nch=2))]
            ),
            "mid", "blob", "audio",
        )
        feat = extract_features(media, 2, decode_stub=False).collect()[0]["feature"]
        assert feat == pytest.approx([127.5 / 255.0] * 2, abs=0.01)

    def test_video_still_gated(self, spark):
        media = attach_media(
            spark.createDataFrame([Row(mid=1, blob=b"xx")]),
            "mid", "blob", "video",
        )
        with pytest.raises(Exception, match="NotImplementedError|video"):
            extract_features(media, decode_stub=False).collect()


class TestVideoDecode:
    """Video real-decode behind the lazy probe (PyAV → imageio → gate) —
    mirrors the Pillow/soundfile pattern. The codec libraries are not in
    this container, so the real path is importorskip-gated and the gate
    path asserts the honest, actionable error."""

    def _video_media(self, spark, blob=b"notavideo"):
        from rtstore_spark.operators.multimodal import attach_media

        return attach_media(
            spark.createDataFrame([Row(mid=1, blob=blob)]),
            "mid", "blob", "video",
        )

    def test_gate_without_codec_libs(self, spark):
        from rtstore_spark.operators.multimodal import extract_features

        try:
            import av  # noqa: F401
            pytest.skip("PyAV installed: real decode active")
        except ImportError:
            pass
        try:
            import imageio  # noqa: F401
            pytest.skip("imageio installed: real decode active")
        except ImportError:
            pass
        media = self._video_media(spark)
        with pytest.raises(Exception, match="av|imageio|decode_stub"):
            extract_features(media, decode_stub=False).collect()
        # the stub path is indifferent to the missing codecs
        out = extract_features(media, feature_dim=4).collect()
        assert len(out) == 1 and len(out[0]["feature"]) == 4

    def test_real_video_decode(self, spark):
        """Runs only where PyAV is installed: a real encoded clip decodes
        to sampled grayscale frames feeding the shared stripe feature."""
        av = pytest.importorskip("av")
        import io

        import numpy as np

        from rtstore_spark.operators.multimodal import extract_features

        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as container:
            stream = container.add_stream("mpeg4", rate=4)
            stream.width, stream.height = 32, 32
            stream.pix_fmt = "yuv420p"
            for shade in (0, 128, 255):
                img = np.full((32, 32, 3), shade, dtype=np.uint8)
                frame = av.VideoFrame.from_ndarray(img, format="rgb24")
                for packet in stream.encode(frame):
                    container.mux(packet)
            for packet in stream.encode():
                container.mux(packet)
        media = self._video_media(spark, blob=buf.getvalue())
        out = extract_features(media, feature_dim=4, decode_stub=False).collect()
        assert len(out) == 1 and len(out[0]["feature"]) == 4
        assert all(0.0 <= v <= 1.0 for v in out[0]["feature"])
