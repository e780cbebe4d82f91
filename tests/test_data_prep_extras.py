"""Round-4 data-prep additions: cross-shard incremental near-dup (dedup
against a kept corpus via its stored signatures only) and token-budget
domain-mixture sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rtstore_spark.operators import dedup
from rtstore_spark.operators.sampling import mixture_sample

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the rain falls softly on the roof tonight"
)


class TestIncrementalNearDup:
    def test_new_shard_dedups_against_stored_signatures(self, spark):
        """Shard 2 must drop docs near-identical to shard 1 using only
        shard 1's signature table — no reference text anywhere."""
        shard1 = spark.createDataFrame(
            [
                Row(id=1, text=BASE),
                Row(id=2, text="completely different words about spark engines"),
            ]
        )
        ref_sigs = dedup.minhash_signatures_wide(shard1, "text", "id")
        # carry ONLY the signatures forward, like a rolling crawl would
        ref_sigs = spark.createDataFrame(ref_sigs.collect(), ref_sigs.schema)

        shard2 = spark.createDataFrame(
            [
                Row(id=100, text=BASE),  # exact dup of ref 1
                Row(id=101, text=BASE.replace("rain", "snow")),  # near-dup
                Row(id=102, text="fresh novel content with entirely new words here"),
            ]
        )
        pairs = dedup.incremental_neardup(
            shard2, ref_sigs, "text", "id", threshold=0.75
        )
        got = {(r["new_id"], r["ref_id"]): r["est_jaccard"] for r in pairs.collect()}
        assert got[(100, 1)] == 1.0  # exact dup: all minhashes match
        assert (101, 1) in got  # near-dup surfaces via banding + estimate
        assert not any(nid == 102 for nid, _ in got)  # novel doc kept
        # the estimator is the matching-component fraction: k=8 → multiples of 1/8
        assert all(round(j * 8, 6) == int(round(j * 8)) for j in got.values())

    def test_exact_twins_across_the_shard_split(self, spark):
        """Splitting one corpus into (reference, new) surfaces every exact
        cross-twin: the banding is byte-identical on both sides, so an
        exact duplicate can never slip between shards."""
        other = (
            "parquet files stream through arrow batches while executors "
            "exchange shuffle blocks and the scheduler assigns pending tasks"
        )
        docs = [Row(id=i, text=BASE if i % 2 == 0 else other) for i in range(6)]
        df = spark.createDataFrame(docs)
        ref_sigs = dedup.minhash_signatures_wide(
            df.filter("id < 3"), "text", "id"
        )
        inc = dedup.incremental_neardup(
            df.filter("id >= 3"), ref_sigs, "text", "id", threshold=0.99
        )
        got = {(r["new_id"], r["ref_id"]) for r in inc.collect()}
        # parity twins only: new 3,5 ≡ ref 1; new 4 ≡ ref 0 and 2 — the
        # unrelated cross-parity texts never pair
        assert got == {(3, 1), (4, 0), (4, 2), (5, 1)}


class TestMixtureSample:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = []
        for i in range(400):
            rows.append(Row(id=i, domain="web", n_tokens=100))
        for i in range(400, 500):
            rows.append(Row(id=i, domain="code", n_tokens=100))
        for i in range(500, 520):
            rows.append(Row(id=i, domain="books", n_tokens=100))
        return spark.createDataFrame(rows)

    def test_realized_mixture_tracks_targets(self, corpus):
        out = mixture_sample(
            corpus, "id", "domain",
            weights={"web": 0.5, "code": 0.5},
            token_col="n_tokens", total_tokens=20_000,
        )
        tokens = {
            r["domain"]: r["t"]
            for r in out.groupBy("domain").agg(F.sum("n_tokens").alias("t")).collect()
        }
        # target: 10k tokens each; web samples 100/400 docs, code 100/100
        assert tokens.get("code") == 10_000  # f=1.0: everything kept
        assert abs(tokens.get("web", 0) - 10_000) <= 2_500  # hash-gate noise
        assert "books" not in tokens  # unlisted domain dropped

    def test_underweight_domain_caps_at_full(self, corpus):
        # books has 2k tokens but the target asks for 10k: cap at f=1,
        # keep all of it, never upsample silently
        out = mixture_sample(
            corpus, "id", "domain",
            weights={"books": 1.0}, token_col="n_tokens", total_tokens=10_000,
        )
        assert out.count() == 20

    def test_deterministic(self, corpus):
        a = mixture_sample(
            corpus, "id", "domain", {"web": 1.0}, "n_tokens", 5_000
        )
        b = mixture_sample(
            corpus, "id", "domain", {"web": 1.0}, "n_tokens", 5_000
        )
        assert sorted(r["id"] for r in a.collect()) == sorted(
            r["id"] for r in b.collect()
        )

    def test_pure_filter_no_shuffle(self, corpus):
        """The sampling gate must be a pushed-down predicate — zero
        exchanges in the sampled plan (the sizing aggregate is a separate
        tiny job, not part of the output plan)."""
        out = mixture_sample(
            corpus, "id", "domain", {"web": 0.5}, "n_tokens", 10_000
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestBM25:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [
                Row(id=1, text="spark shuffles data between executors"),
                Row(id=2, text="spark spark spark everywhere in the cluster"),
                Row(id=3, text="ducks swim in the pond"),
                Row(id=4, text="the query engine optimizes the plan"),
            ]
        )

    def test_scores_match_hand_computation(self, spark, docs):
        import math

        out = {r["id"]: r["score"] for r in
               _one_query(spark, docs, "spark", k=10).collect()}
        assert set(out) == {1, 2}  # only docs containing the term
        # hand-computed: N=4, df=2, idf = ln(1 + 2.5/2.5) = ln 2
        # avgdl = (5+7+5+6)/4 = 5.75
        k1, b = 1.2, 0.75
        def s(tf, dl):
            return round(math.log(2.0) * tf * (k1 + 1)
                         / (tf + k1 * (1 - b + b * dl / 5.75)), 6)
        assert out[1] == pytest.approx(s(1, 5), abs=1e-6)
        assert out[2] == pytest.approx(s(3, 7), abs=1e-6)
        assert out[2] > out[1]  # tf saturation still ranks the heavy doc up

    def test_multi_term_rare_term_ranks_first(self, spark, docs):
        rows = _one_query(spark, docs, "spark pond", k=2).collect()
        assert len(rows) == 2
        # rare term 'pond' (df=1) outweighs common 'spark' (df=2)
        assert rows[0]["id"] == 3


def _one_query(spark, docs, text, k):
    """BM25 top-k of one query: a one-row query table through the batch
    scorer."""
    from rtstore_spark.operators.retrieval import bm25_batch_topk

    queries = spark.createDataFrame([(0, text)], "qid long, text string")
    return bm25_batch_topk(docs, "text", "id", queries, k=k)


class TestHllSketches:
    def test_rollup_merge_matches_exact_within_error(self, spark):
        """Sketch-rollup workflow: per-group HLLs once, then answer both
        per-group and total distincts by merging — estimates within the
        published ~1.6% (lgK=12) of exact, total NOT the sum of groups
        (overlapping keys dedup through the merge)."""
        from rtstore_spark.operators.sketches import (
            hll_estimate,
            hll_merge,
            hll_rollup,
        )

        df = spark.range(20_000).selectExpr(
            "id % 4 as grp",
            # keys overlap across groups: 12k distinct overall
            "id % 12000 as user",
        )
        roll = hll_rollup(df, "user", by=["grp"])
        per_group = {
            r["grp"]: r["distinct_est"] for r in hll_estimate(roll).collect()
        }
        exact = {
            r["grp"]: r["n"]
            for r in df.groupBy("grp")
            .agg(F.countDistinct("user").alias("n"))
            .collect()
        }
        for g, est in per_group.items():
            assert abs(est - exact[g]) / exact[g] < 0.05
        total = hll_merge(roll).collect()[0]["distinct_est"]
        assert abs(total - 12000) / 12000 < 0.05
        assert total < sum(per_group.values())  # merge deduped the overlap

    def test_merge_to_intermediate_grouping(self, spark):
        from rtstore_spark.operators.sketches import hll_merge, hll_rollup

        df = spark.range(5_000).selectExpr(
            "id % 8 as bucket", "id % 4 as day", "id as user"
        )
        daily = hll_rollup(df, "user", by=["bucket", "day"])
        by_day = {r["day"]: r["distinct_est"] for r in hll_merge(daily, ["day"]).collect()}
        # disjoint users: each day holds exactly 1250
        for est in by_day.values():
            assert abs(est - 1250) / 1250 < 0.05


class TestCrossdocRepetition:
    def test_duckdb_oracle_parity_on_real_docs(self, spark):
        """Spark vs an independent DuckDB replay of the same definition on
        the real sf0.001 documents table — the same cross-engine check the
        driver's CORRECTNESS gate runs, embedded here because the 50-entry
        registry is full."""
        import duckdb

        from rtstore_spark.operators.text import crossdoc_repetition
        from rtstore_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents")
        got = {
            r["id"]: (r["n_shingles"], r["n_common"], r["common_frac"])
            for r in crossdoc_repetition(docs, "text", "doc_id", n=3).collect()
        }
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in duckdb.sql(
                rf"""WITH t AS (
                      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM '{sf}/documents.parquet'),
                    sh AS (
                      SELECT doc_id,
                             list_transform(generate_series(1, len(toks) - 2),
                                            i -> array_to_string(toks[i:i+2], ' ')) AS shingles
                      FROM t WHERE len(toks) >= 3),
                    e AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
                    dfq AS (SELECT shingle, count(*) AS df FROM e GROUP BY shingle),
                    per AS (
                      SELECT doc_id, count(*) AS n_shingles,
                             sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_common
                      FROM e JOIN dfq USING (shingle) GROUP BY doc_id)
                   SELECT d.doc_id, coalesce(n_shingles, 0), coalesce(n_common, 0),
                          round(coalesce(n_common, 0) * 1.0
                                / greatest(coalesce(n_shingles, 0), 1), 6)
                   FROM (SELECT DISTINCT doc_id FROM t) d
                   LEFT JOIN per USING (doc_id)"""
            ).fetchall()
        }
        assert got == want

    def test_templated_docs_flagged_unique_doc_clean(self, spark):
        from rtstore_spark.operators.text import crossdoc_repetition

        template = "click here to subscribe to our newsletter today"
        rows = [
            Row(id=1, text=template),
            Row(id=2, text=template),  # full template copy
            Row(id=3, text="a wholly original sentence about distributed query planning"),
            Row(id=4, text="two words"),  # shorter than n: zero shingles
        ]
        out = {
            r["id"]: r
            for r in crossdoc_repetition(
                spark.createDataFrame(rows), "text", "id", n=3
            ).collect()
        }
        assert out[1]["common_frac"] == 1.0 and out[2]["common_frac"] == 1.0
        assert out[3]["common_frac"] == 0.0
        assert out[4]["n_shingles"] == 0 and out[4]["common_frac"] == 0.0
        assert set(out) == {1, 2, 3, 4}  # every input doc got a row


class TestMixtureStats:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = (
            [Row(id=i, domain="web", n_tokens=100) for i in range(800)]
            + [Row(id=i, domain="code", n_tokens=50) for i in range(800, 1000)]
            + [Row(id=i, domain="books", n_tokens=1000) for i in range(1000, 1010)]
        )
        return spark.createDataFrame(rows)

    def test_proportional_at_t1(self, corpus):
        from rtstore_spark.operators.sampling import mixture_stats

        out = {r["domain"]: r for r in mixture_stats(corpus, "domain", "n_tokens").collect()}
        # 80k + 10k + 10k tokens
        assert out["web"]["n_tokens"] == 80_000
        assert out["web"]["token_share"] == 0.8
        assert out["web"]["weight"] == 0.8  # T=1: weight == share
        assert out["code"]["mean_tokens"] == 50.0
        assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-5

    def test_temperature_flattens_toward_uniform(self, corpus):
        from rtstore_spark.operators.sampling import mixture_stats

        hot = {r["domain"]: r["weight"] for r in mixture_stats(corpus, "domain", "n_tokens", temperature=10.0).collect()}
        # big domain pulled down toward 1/3, small domains pulled up
        assert hot["web"] < 0.8
        assert hot["code"] > 0.1
        assert abs(sum(hot.values()) - 1.0) < 1e-5
        # still ordered by size (flattened, never inverted)
        assert hot["web"] > hot["code"]

    def test_feeds_mixture_sample(self, corpus):
        """The stats output is directly consumable as mixture_sample
        weights — the two operators compose into size-aware sampling."""
        from rtstore_spark.operators.sampling import mixture_sample, mixture_stats

        weights = {
            r["domain"]: r["weight"]
            for r in mixture_stats(corpus, "domain", "n_tokens", temperature=2.0).collect()
        }
        out = mixture_sample(
            corpus, "id", "domain", weights, "n_tokens", total_tokens=20_000
        )
        kept = {r["domain"] for r in out.select("domain").distinct().collect()}
        assert kept == {"web", "code", "books"}

    def test_invalid_temperature_raises(self, corpus):
        from rtstore_spark.operators.sampling import mixture_stats

        with pytest.raises(ValueError):
            mixture_stats(corpus, "domain", "n_tokens", temperature=0.0)


class TestRepeatedSpans:
    def test_shared_passage_yields_maximal_spans(self, spark):
        from rtstore_spark.operators.dedup import repeated_spans

        P = " ".join(f"p{i}" for i in range(12))  # the repeated 12 tokens
        rows = [
            Row(id=1, text="x1 x2 x3 x4 " + P + " y1 y2 y3 y4"),
            Row(id=2, text="z1 z2 " + P + " w1"),
            Row(id=3, text=" ".join(f"u{i}" for i in range(20))),  # unique
        ]
        out = repeated_spans(
            spark.createDataFrame(rows), "text", "id", span_tokens=8
        )
        got = {
            r["id"]: (r["start_tok"], r["end_tok"], r["n_tokens"])
            for r in out.collect()
        }
        # flagged windows merge into ONE maximal span covering exactly the
        # shared passage in each doc
        assert got == {1: (4, 16, 12), 2: (2, 14, 12)}

    def test_within_doc_repetition_counts(self, spark):
        from rtstore_spark.operators.dedup import repeated_spans

        P = " ".join(f"p{i}" for i in range(12))
        df = spark.createDataFrame([Row(id=4, text=P + " m1 m2 " + P)])
        got = sorted(
            (r["start_tok"], r["end_tok"])
            for r in repeated_spans(df, "text", "id", span_tokens=8).collect()
        )
        assert got == [(0, 12), (14, 26)]  # both copies flagged, gap kept

    def test_duckdb_oracle_parity_on_real_docs(self, spark):
        """Independent DuckDB replay (raw shingle strings — the 60-bit hash
        is internal) on the real sf0.001 documents table."""
        import duckdb

        from rtstore_spark.operators.dedup import repeated_spans
        from rtstore_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents")
        got = {
            (r["id"], r["start_tok"], r["end_tok"], r["n_tokens"])
            for r in repeated_spans(
                docs, "text", "doc_id", span_tokens=8
            ).collect()
        }
        want = set(
            duckdb.sql(
                rf"""WITH t AS (
                      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM '{sf}/documents.parquet'),
                    sh0 AS (
                      SELECT doc_id,
                             list_transform(generate_series(1, len(toks) - 7),
                               i -> struct_pack(pos := i - 1,
                                                s := array_to_string(toks[i:i+7], ' '))) AS prs
                      FROM t WHERE len(toks) >= 8),
                    sh AS (SELECT doc_id, unnest(prs) AS pr FROM sh0),
                    e AS (SELECT doc_id, pr.pos AS pos, pr.s AS s FROM sh),
                    cnt AS (SELECT s, count(*) AS c FROM e GROUP BY s),
                    fl AS (SELECT doc_id, pos FROM e JOIN cnt USING (s) WHERE c >= 2),
                    seg0 AS (
                      SELECT doc_id, pos,
                             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                                  THEN 1 ELSE 0 END AS b
                      FROM fl),
                    seg AS (
                      SELECT doc_id, pos,
                             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                      FROM seg0)
                   SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok,
                          max(pos) + 8 - min(pos) AS n_tokens
                   FROM seg GROUP BY doc_id, g"""
            ).fetchall()
        )
        assert got == want and len(got) > 0


class TestHotSpanRouting:
    """Corpus-scale hot span hashes bypass the hv window through a
    partial-aggregated broadcast route (guide §2.5); outputs must be
    byte-identical to the pure-window form, and the hybrid must only
    fire past the detection floor."""

    def _corpus(self, spark):
        # 40 docs sharing one 9-token boilerplate block (2 fully-shared
        # 8-token windows per doc → two hvs with 40 occurrences each)
        block = " ".join(f"b{i}" for i in range(9))
        rows = [
            Row(id=i, text=f"u{i}a u{i}b " + block + f" t{i}")
            for i in range(40)
        ]
        return spark.createDataFrame(rows)

    def test_hot_hash_routed_and_byte_identical(self, spark, monkeypatch):
        df = self._corpus(spark)
        # fixture-scale floor so the 40-occurrence group counts as hot,
        # and neutralize the parallelism break-even gate (it keeps the
        # hybrid off at local core counts by design)
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 8)
        monkeypatch.setattr(dedup, "_HOT_HV_PARALLEL_FACTOR", 0.0)
        hybrid = dedup.substring_dedup(df, "text", "id", span_tokens=8)
        plan = hybrid._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan
        assert "BroadcastHashJoin" in plan  # hot arm: agg + broadcast back
        assert "Window" in plan            # tail keeps the window
        got = sorted(map(tuple, hybrid.collect()))
        # pure-window form (detection floor unreachable): byte-identical
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 10**9)
        pure = dedup.substring_dedup(df, "text", "id", span_tokens=8)
        assert "Union" not in pure._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, pure.collect())) == got

    def test_repeated_spans_hot_route_identical(self, spark, monkeypatch):
        df = self._corpus(spark)
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 8)
        monkeypatch.setattr(dedup, "_HOT_HV_PARALLEL_FACTOR", 0.0)
        hybrid = dedup.repeated_spans(df, "text", "id", span_tokens=8)
        assert "Union" in hybrid._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, hybrid.collect()))
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 10**9)
        pure = dedup.repeated_spans(df, "text", "id", span_tokens=8)
        assert sorted(map(tuple, pure.collect())) == got

    def test_dedup_paragraphs_hot_route_identical(self, spark, monkeypatch):
        rows = [
            Row(id=i, text=f"unique prose {i}\nshared nav header\nmore {i}")
            for i in range(40)
        ]
        df = spark.createDataFrame(rows)
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 8)
        monkeypatch.setattr(dedup, "_HOT_HV_PARALLEL_FACTOR", 0.0)
        hybrid = dedup.dedup_paragraphs(df, "text", "id")
        assert "Union" in hybrid._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, hybrid.collect()))
        monkeypatch.setattr(dedup, "_HOT_HV_MIN_GROUP", 10**9)
        pure = dedup.dedup_paragraphs(df, "text", "id")
        assert sorted(map(tuple, pure.collect())) == got

    def test_detection_floor_keeps_small_corpora_pure_window(self, spark):
        # defaults (floor 4096 + parallelism break-even gate): the
        # 40-occurrence group is NOT hot and the plan stays the
        # single-evaluation pure window
        out = dedup.substring_dedup(self._corpus(spark), "text", "id", span_tokens=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan
        assert plan.count("Generate") == 1


class TestSubstringDedup:
    """substring_dedup: Lee-et-al-style repeat removal, keep-one semantics."""

    P = " ".join(f"p{i}" for i in range(12))

    def test_plan_single_shingle_pass(self, spark):
        """Winner/count selection is a WINDOW over the hv key so the
        shingle explode + md5 subtree is evaluated ONCE (exactly one
        Generate node). The old groupBy + back-join formulation
        re-evaluated it on the probe side — 2× the operator's dominant
        cost (measured 3.99 s → 2.01 s at sf0.1). Same pin for
        repeated_spans, which shares the shape."""
        from rtstore_spark.operators.dedup import repeated_spans, substring_dedup

        df = spark.createDataFrame(
            [Row(id=1, text=self.P), Row(id=2, text=self.P)]
        )
        for out in (
            substring_dedup(df, "text", "id", span_tokens=8),
            repeated_spans(df, "text", "id", span_tokens=8),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Generate") == 1
            assert "CartesianProduct" not in plan

    def test_keep_canonical_cut_copies(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        rows = [
            Row(id=1, text="x1 x2 x3 x4 " + self.P + " y1 y2 y3 y4"),
            Row(id=2, text="z1 z2 " + self.P + " w1"),
            Row(id=3, text=" ".join(f"u{i}" for i in range(20))),
        ]
        out = {
            r["id"]: r
            for r in substring_dedup(
                spark.createDataFrame(rows), "text", "id", span_tokens=8
            ).collect()
        }
        # doc 1 holds the canonical occurrence: byte-identical passthrough
        assert out[1]["text"] == rows[0].text
        assert out[1]["n_tokens_removed"] == 0
        # doc 2 loses exactly the shared passage, keeps its unique prose
        assert out[2]["text"] == "z1 z2 w1"
        assert out[2]["n_tokens_removed"] == 12
        assert out[2]["n_spans_removed"] == 1
        assert out[3]["text"] == rows[2].text  # unique doc untouched

    def test_within_doc_second_occurrence_cut(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        df = spark.createDataFrame(
            [Row(id=4, text=self.P + " m1 m2 " + self.P)]
        )
        r = substring_dedup(df, "text", "id", span_tokens=8).collect()[0]
        assert r["text"] == self.P + " m1 m2"
        assert r["n_tokens_removed"] == 12 and r["n_spans_removed"] == 1

    def test_near_adjacent_repeats_merge_exact_counts(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        # doc 6 repeats two passages from doc 5 separated by a 2-token gap
        # (< span_tokens): the flagged coverages overlap, so the cut is ONE
        # merged span — and the gap tokens it swallows are themselves
        # inside duplicated windows, so the count is exact, not doubled
        q = " ".join(f"q{i}" for i in range(12))
        rows = [
            Row(id=5, text=self.P + " g1 g2 " + q),
            Row(id=6, text="a1 a2 " + self.P + " g1 g2 " + q + " b1"),
        ]
        out = {
            r["id"]: r
            for r in substring_dedup(
                spark.createDataFrame(rows), "text", "id", span_tokens=8
            ).collect()
        }
        assert out[5]["n_tokens_removed"] == 0
        assert out[6]["text"] == "a1 a2 b1"
        assert out[6]["n_tokens_removed"] == 26  # 12 + 2 + 12, once
        assert out[6]["n_spans_removed"] == 1

    def test_short_docs_pass_through(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        df = spark.createDataFrame(
            [Row(id=7, text="tiny  doc"), Row(id=8, text="tiny  doc")]
        )
        out = substring_dedup(df, "text", "id", span_tokens=8).collect()
        assert all(r["text"] == "tiny  doc" for r in out)  # spacing kept
        assert all(r["n_tokens_removed"] == 0 for r in out)

    def test_idempotent(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        rows = [
            Row(id=1, text="x1 x2 " + self.P),
            Row(id=2, text=self.P + " y1 y2"),
            Row(id=4, text=self.P + " m1 m2 " + self.P),
        ]
        once = substring_dedup(
            spark.createDataFrame(rows), "text", "id", span_tokens=8
        ).select("id", "text")
        twice = substring_dedup(once, "text", "id", span_tokens=8)
        assert twice.filter("n_tokens_removed > 0").count() == 0

    def test_duckdb_replay_on_real_docs(self, spark):
        """Independent DuckDB replay of winner selection, interval merge
        and removal counts on the real sf0.001 documents table."""
        import duckdb

        from rtstore_spark.operators.dedup import substring_dedup
        from rtstore_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents")
        out = substring_dedup(docs, "text", "doc_id", span_tokens=8)
        got = {
            (r["doc_id"], r["n_tokens_removed"], r["n_spans_removed"])
            for r in out.filter("n_spans_removed > 0").collect()
        }
        want = set(
            duckdb.sql(
                rf"""WITH t AS (
                      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM '{sf}/documents.parquet'),
                    sh0 AS (
                      SELECT doc_id,
                             list_transform(generate_series(1, len(toks) - 7),
                               i -> struct_pack(pos := i - 1,
                                                s := array_to_string(toks[i:i+7], ' '))) AS prs
                      FROM t WHERE len(toks) >= 8),
                    e AS (SELECT doc_id, pr.pos AS pos, pr.s AS s
                          FROM (SELECT doc_id, unnest(prs) AS pr FROM sh0)),
                    fl AS (SELECT doc_id, pos FROM (
                             SELECT doc_id, pos,
                                    row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn,
                                    count(*) OVER (PARTITION BY s) AS c
                             FROM e) WHERE c >= 2 AND rn > 1),
                    seg0 AS (SELECT doc_id, pos,
                                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                                         THEN 1 ELSE 0 END AS b FROM fl),
                    seg AS (SELECT doc_id, pos,
                                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                            FROM seg0),
                    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
                           FROM seg GROUP BY doc_id, g)
                   SELECT doc_id, sum(e - s) AS n_removed, count(*) AS n_spans
                   FROM sp GROUP BY doc_id"""
            ).fetchall()
        )
        assert got == want and len(got) > 0
        # kept token counts line up too: tokens - removed = rebuilt tokens
        chk = out.filter("n_spans_removed > 0").select(
            "doc_id",
            (F.col("n_tokens") - F.col("n_tokens_removed")).alias("want_kept"),
            F.when(F.length(F.trim("text")) == 0, 0)  # fully-cut doc
            .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
            .alias("got_kept"),
        ).collect()
        assert all(r["want_kept"] == r["got_kept"] for r in chk)
        assert any(r["want_kept"] == 0 for r in chk)  # full-dup docs exist
        # …and a wholly-duplicated document comes back as empty text, the
        # caller's signal to drop the row
        assert out.filter(
            (F.col("n_tokens") == F.col("n_tokens_removed"))
            & (F.length(F.trim("text")) > 0)
        ).count() == 0


class TestDecontaminate:
    """decontaminate: eval-set span removal (every occurrence cut)."""

    Q = " ".join(f"benchq{i}" for i in range(15))  # a 15-token eval item

    def test_matching_spans_cut_everywhere(self, spark):
        from rtstore_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame(
            [
                Row(id=1, text="intro words " + self.Q + " outro prose"),
                Row(id=2, text=self.Q + " different unique continuation"),
                Row(id=3, text=" ".join(f"clean{i}" for i in range(30))),
            ]
        )
        bench = spark.createDataFrame(
            [Row(q=self.Q), Row(q="another unrelated eval question")]
        )
        out = {
            r["id"]: r
            for r in decontaminate(
                corpus, bench, "text", "id", bench_text_col="q",
                span_tokens=8,
            ).collect()
        }
        # NO canonical survivor: both occurrences of the eval item go
        assert out[1]["text"] == "intro words outro prose"
        assert out[2]["text"] == "different unique continuation"
        assert out[1]["n_tokens_removed"] == 15
        assert out[2]["n_tokens_removed"] == 15
        assert out[3]["text"].startswith("clean0")  # untouched
        assert out[3]["n_tokens_removed"] == 0

    def test_short_benchmark_doc_cannot_leak(self, spark):
        from rtstore_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame(
            [Row(id=1, text="one two three four five six seven eight nine ten")]
        )
        bench = spark.createDataFrame([Row(text="one two three")])  # < span
        out = decontaminate(corpus, bench, "text", "id", span_tokens=8).collect()
        assert out[0]["n_tokens_removed"] == 0
        assert out[0]["text"].startswith("one two three")

    def test_wholly_contaminated_doc_empties(self, spark):
        from rtstore_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame([Row(id=1, text=self.Q)])
        bench = spark.createDataFrame([Row(text=self.Q)])
        r = decontaminate(corpus, bench, "text", "id", span_tokens=8).collect()[0]
        assert r["text"] == "" and r["n_tokens_removed"] == 15

    def test_plan_broadcast_semi_join_and_per_doc_window(self, spark):
        from rtstore_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame(
            [(i, " ".join(f"t{j}" for j in range(40))) for i in range(20)],
            "id long, text string",
        )
        bench = spark.createDataFrame([Row(text=self.Q)])
        plan = (
            decontaminate(corpus, bench, "text", "id", span_tokens=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # eval hashes broadcast into a semi join: corpus never shuffles
        # to match, and the merge window partitions by doc id
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "hashpartitioning(id" in plan
        assert "SinglePartition" not in plan


class TestSpanStatCollisions:
    def test_kernel_refuses_colliding_input(self, spark):
        from rtstore_spark.operators.dedup import substring_dedup

        df = spark.createDataFrame(
            [(1, "a b c", 3)], "id long, text string, n_tokens int"
        )
        with pytest.raises(ValueError, match="rename the input"):
            substring_dedup(df, "text", "id", span_tokens=2)

    def test_precomputed_bench_hashes_equivalent(self, spark):
        from rtstore_spark.operators.dedup import (
            benchmark_span_hashes,
            decontaminate,
        )

        q = " ".join(f"e{i}" for i in range(12))
        corpus = spark.createDataFrame(
            [(1, "x1 x2 " + q), (2, "clean " * 12)], "id long, text string"
        )
        bench = spark.createDataFrame([(q,)], "text string")
        direct = decontaminate(corpus, bench, "text", "id", span_tokens=8)
        hv = benchmark_span_hashes(bench, "text", 8)
        cached = decontaminate(
            corpus, bench, "text", "id", span_tokens=8, bench_hashes=hv
        )
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, cached.collect())
        )


class TestBenchHashProvenance:
    def test_span_mismatch_refused(self, spark):
        from rtstore_spark.operators.dedup import (
            benchmark_span_hashes,
            decontaminate,
        )

        bench = spark.createDataFrame(
            [(" ".join(f"e{i}" for i in range(15)),)], "text string"
        )
        corpus = spark.createDataFrame([(1, "a b c")], "id long, text string")
        hv13 = benchmark_span_hashes(bench, "text", 13)
        with pytest.raises(ValueError, match="span_tokens"):
            decontaminate(
                corpus, bench, "text", "id", span_tokens=8, bench_hashes=hv13
            )
