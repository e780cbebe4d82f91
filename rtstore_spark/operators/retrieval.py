"""Lexical retrieval at corpus scale: a persisted BM25 inverted index.

Every BM25 score in the package comes from ``bm25_search_batch``: a
query TABLE against postings, the batch shape a training-data pipeline
actually runs (decontamination search: thousands of benchmark queries
against a 100-TB corpus; dedup candidate generation; eval-set
retrieval). One ad-hoc query is a one-row query table. The module has
the same relationship to a corpus scan that
``similarity.write_pq_index``/``ivf_pq_search_batch`` have to
brute-force cosine:

- ``bm25_build``      — one corpus scan → postings (term, id, tf, dl),
  per-term document frequencies, and the global (n_docs, avgdl) stats;
- ``write_bm25_index`` / ``read_bm25_index`` — durable form, postings
  PARTITIONED BY a term-hash bucket so a search's scan prunes to the
  buckets its query terms hash into; atomic generation-pointer rebuilds;
- ``bm25_search_batch`` — (qid, text) queries → top-k (qid, id, score)
  in ONE job: query terms broadcast against the pruned postings scan,
  IDF folded in via a broadcast join on the O(matched-vocab) term-df
  table, per-(qid, id) partial-agg sum, TWO-PHASE per-qid top-k
  (per-(qid, shard) partial top-k, then a merge over the ≤ shards·k
  survivors — no single reducer ever sees a query's full matched set);
- ``append_bm25_index`` / ``compact_bm25_index`` / ``bm25_index_sink``
  — incremental maintenance: new documents land as an increment
  (``<gen>/inc/gen-N-*``, one increment-scoped build, no O(corpus)
  rebuild) unioned at read, folded away by compaction (persisted
  parquet fold, no corpus needed) or the next full rebuild; exactly-once
  under ``foreachBatch`` replay.

The maintenance protocol — increment manifest, batch-tag ledger,
append / rebuild / compact commits, the sink loop — is
``store/increments.py``, shared with the IVF-PQ index; this module
supplies BM25's build, fold and read, plus its own checks (``n_buckets``
agreement across parts, the empty-rebuild refusal, the exact ``sum_dl``
stats fold).

Maintained-index search costs what fresh-index search costs: the term
dfs of base+increments stay UNFOLDED at read and are summed only AFTER the
search restricts them to the broadcast query vocabulary — never an
O(total vocab) shuffle per batch (see read_bm25_index's docstring).

Shuffle bytes scale with MATCHED POSTINGS (docs containing query
terms), never with corpus x queries — the property that makes 10k
decontamination queries against 100 TB a join, not 10k scans. The
optional ``max_df_fraction`` prune drops stopword-grade terms BEFORE
the postings probe, so their matched sets are never materialized.

Scoring is Okapi BM25 (idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf
saturation with length normalization, scores rounded to 6), pinned by
literal rows, a hand computation and a DuckDB replay in the tests.

Reference scope note: the reference engine has no lexical retrieval
(its queries are JQL point/range scans); this operator belongs to the
training-data-pipeline family the build brief adds on top.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_BUCKETS_DEFAULT = 64

_TOKENIZE = r"\s+"


def _tokens(text_col: str):
    return F.split(F.trim(F.lower(F.col(text_col))), _TOKENIZE)


def bm25_build(
    df: DataFrame, text_col: str, id_col: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> tuple[DataFrame, DataFrame, dict]:
    """One corpus scan → (postings, term_df, stats).

    postings: (bucket, term, id, tf, dl) — bucket = pmod(xxhash64(term),
    n_buckets), the partition key a search prunes on; term_df: (term,
    df) document frequencies, O(vocab) rows; stats: {"n_docs", "avgdl",
    "n_buckets"} — the corpus-wide constants BM25 needs (they cover ALL
    documents, including ones a given search never touches)."""
    base = df.select(
        F.col(id_col).alias("id"), _tokens(text_col).alias("_toks")
    ).select("id", "_toks", F.size("_toks").alias("dl"))
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    ).collect()[0]
    stats = {
        "n_docs": int(row["n"]),
        "avgdl": float(row["avgdl"] or 1.0),
        # exact integer token total: delta folds recompute avgdl as
        # sum_dl/n_docs with NO float accumulation error (append_bm25_index)
        "sum_dl": int(row["sum_dl"]),
        "n_buckets": int(n_buckets),
    }
    postings = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "id")  # partial-agg combine before the shuffle
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")  # postings are (term, id)-unique
    )
    return postings, term_df, stats


def _build_into(fs, df, text_col, id_col, n_buckets, out) -> int:
    """Build ``df`` into ``out`` (``postings`` partitioned by bucket,
    ``_termdf``, ``_stats.json``); returns n_docs, writing nothing when
    it is 0."""
    postings, term_df, stats = bm25_build(df, text_col, id_col, n_buckets)
    if stats["n_docs"] == 0:
        return 0
    # the two writes share the corpus-wide tokenize + (term, id)
    # aggregate — cache it so term_df reuses postings' computation
    # instead of re-running the dominant shuffle
    postings = postings.persist()
    try:
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            out + "/postings"
        )
        term_df.write.mode("overwrite").parquet(out + "/_termdf")
    finally:
        postings.unpersist()
    fs.write_text_atomic(out + "/_stats.json", json.dumps(stats))
    return stats["n_docs"]


def write_bm25_index(
    df: DataFrame, text_col: str, id_col: str, path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    carry_ledger: bool = False,
) -> None:
    """Materialize the index: ``<gen>/postings`` partitioned by bucket,
    ``<gen>/_termdf``, ``<gen>/_stats.json`` — a full rebuild committed
    behind the root ``_current`` pointer flip (``store.increments.
    rebuild``: a crash before the flip leaves the previous generation
    live; concurrent writers fail loudly). The rebuild folds every
    increment away by construction.

    ``carry_ledger``: carry the live generation's exactly-once batch-tag
    ledger into the rebuild, so a ``bm25_index_sink`` stream running
    through it never needs a checkpoint reset (the rebuild corpus must
    contain every committed batch's documents). The default resets the
    ledger.

    An EMPTY corpus is refused: the postings directory would hold zero
    part files (unreadable) and the flip would replace a working index."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    spark = df.sparkSession
    fs = fs_for(path, spark)
    if carry_ledger:
        base = increments.live_base(spark, path)
        if base is not None:
            _refuse_retired_layout(fs, path, base)

    def write(out: str) -> None:
        if _build_into(fs, df, text_col, id_col, n_buckets, out) == 0:
            raise ValueError(
                f"write_bm25_index: refusing to commit an EMPTY corpus over "
                f"{path} — the live generation stays untouched"
            )

    increments.rebuild(
        spark, path, op="write_bm25_index", carry_ledger=carry_ledger,
        write=write,
    )


def _refuse_retired_layout(fs, path: str, base: str) -> None:
    # generations written before the shared increment manifest kept their
    # deltas in a `_deltas` file and their folded tag ledger in `_tags`,
    # neither of which this version reads: serving, appending or carrying
    # the ledger would silently drop deltas or re-append replayed batches
    for f in ("_deltas", "_tags"):
        if fs.exists(f"{base}/{f}"):
            raise RuntimeError(
                f"bm25 index {path}: the live generation {base} keeps "
                f"state in the retired `{f}` file, which this version "
                "does not read — its deltas and batch tags would be "
                "silently ignored. Rebuild the index (write_bm25_index) "
                "from the whole corpus before further use"
            )


def _live_base(spark, path: str) -> str:
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    base = increments.live_base(spark, path)
    if base is None:
        raise FileNotFoundError(
            f"no live bm25 index at {path} — write_bm25_index builds the "
            "base generation first"
        )
    _refuse_retired_layout(fs_for(path, spark), path, base)
    return base


def _read_parts(spark, fs, dirs) -> list[tuple[DataFrame, DataFrame, dict]]:
    """[(postings, term_df, stats)] of a base and its increments, in
    order; increments built with another ``n_buckets`` are refused."""
    parts = []
    for d in dirs:
        postings = spark.read.option("basePath", d + "/postings").parquet(
            d + "/postings"
        )
        stats = json.loads(fs.read_text(d + "/_stats.json"))
        if parts and stats.get("n_buckets") != parts[0][2]["n_buckets"]:
            raise RuntimeError(
                f"bm25 increment {d} was built with n_buckets="
                f"{stats.get('n_buckets')} != base "
                f"{parts[0][2]['n_buckets']} — bucket pruning would "
                "silently miss postings; rebuild"
            )
        parts.append((postings, spark.read.parquet(d + "/_termdf"), stats))
    return parts


def _stats_sum_dl(stats: dict) -> int:
    # pre-delta generations lack sum_dl; n·avgdl reconstructs it (avgdl
    # was computed as an exact-division double of the true sum)
    if "sum_dl" in stats:
        return int(stats["sum_dl"])
    return int(round(int(stats["n_docs"]) * float(stats["avgdl"])))


def _union_parts(parts) -> tuple[DataFrame, DataFrame, dict]:
    """(postings, term_df, stats) of base + increments: the arms'
    unionByName — term_df UNFOLDED (per-part partial dfs) — and
    (n_docs, avgdl) folded EXACTLY from the integer ``sum_dl`` totals."""
    postings, term_df = parts[0][0], parts[0][1]
    for p2, t2, _ in parts[1:]:
        postings = postings.unionByName(p2)
        term_df = term_df.unionByName(t2)
    n_docs = sum(int(s["n_docs"]) for _, _, s in parts)
    sum_dl = sum(_stats_sum_dl(s) for _, _, s in parts)
    return postings, term_df, {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 1.0,
        "n_buckets": int(parts[0][2]["n_buckets"]),
    }


def read_bm25_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """Load the LIVE generation — base postings UNIONED with every
    committed increment (``append_bm25_index``), (n_docs, avgdl) folded
    EXACTLY from the integer ``sum_dl`` totals. With no increments the
    plan is the plain base scan (no union node is added).

    On a maintained index the returned ``term_df`` is the RAW
    base+increment union — per-term partial dfs that ADD (ids are unique
    across parts by the append contract), NOT one row per term. It is
    deliberately left unfolded: an aggregate here would run over the
    FULL vocabulary on every search batch, because Catalyst does not
    push the search's query-vocab join below an aggregate —
    ``bm25_search_batch`` folds the partials AFTER restricting to the
    broadcast query terms, an O(query vocab) aggregation instead of
    O(total vocab). A direct consumer that wants the classic (term, df)
    table folds it the same way:
    ``term_df.groupBy("term").agg(F.sum("df").alias("df"))``.
    ``compact_bm25_index`` persists that fold into a fresh generation."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    fs = fs_for(path, spark)
    base = _live_base(spark, path)
    dirs = [base, *increments.increment_dirs(fs, base)]
    parts = _read_parts(spark, fs, dirs)
    return parts[0] if len(parts) == 1 else _union_parts(parts)


def append_bm25_index(
    df: DataFrame, text_col: str, id_col: str, path: str,
    batch_tag: str | None = None,
) -> None:
    """Incremental maintenance: index NEW documents without the
    O(corpus) rebuild ``write_bm25_index`` performs — one scan of
    ``df`` alone into a committed increment (``store.increments.
    append``: a crash before the manifest write leaves an invisible
    orphan; a concurrent writer fails loudly). An empty ``df`` is a
    no-op (unlike an empty REBUILD, which is refused).

    Append contract: ``df``'s ids must be NEW (not in the base or any
    prior increment). A re-appended id would double-count its term dfs
    and surface twice in results — dedup upstream; this operator does
    not scan the O(corpus) base to check.

    ``batch_tag``: an idempotence token for EXACTLY-ONCE streaming
    maintenance (``bm25_index_sink``): an append whose tag the ledger
    already holds is a replay and no-ops. Digit tags are one monotone
    stream's batch ids (folded into a watermark on compaction — one
    sink per index); hand-tagged appends should use non-digit tags,
    which hash and carry individually."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    spark = df.sparkSession
    fs = fs_for(path, spark)

    def write(base: str, out: str) -> bool:
        stats = json.loads(fs.read_text(base + "/_stats.json"))
        n_buckets = int(stats.get("n_buckets", N_BUCKETS_DEFAULT))
        return _build_into(fs, df, text_col, id_col, n_buckets, out) > 0

    increments.append(
        spark, path, op="append_bm25_index", batch_tag=batch_tag,
        resolve_base=_live_base, write=write,
    )


def compact_bm25_index(spark, path: str, keep: int = 1) -> None:
    """Fold committed increments into a fresh generation WITHOUT the
    corpus (``store.increments.compact``): the persisted base+increment
    postings and term-df parquet union into the new generation, per-term
    dfs summed, (n_docs, avgdl) folded from the integer ``sum_dl``
    totals — the same role ``compact_wire_archive`` plays for the
    wire-envelope archive. A reader then sees ONE union-free generation;
    search results are identical by construction. The exactly-once
    ledger carries forward, so in-sink auto-compaction is safe
    mid-stream. ``keep``: predecessor generations retained for readers'
    lazy plans. No-op when there are no increments."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    fs = fs_for(path, spark)

    def fold(base: str, dirs: list[str], out: str) -> None:
        postings, term_df, stats = _union_parts(
            _read_parts(spark, fs, [base, *dirs])
        )
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            out + "/postings"
        )
        term_df.groupBy("term").agg(F.sum("df").alias("df")).write.mode(
            "overwrite"
        ).parquet(out + "/_termdf")
        fs.write_text_atomic(out + "/_stats.json", json.dumps(stats))

    increments.compact(
        spark, path, op="compact_bm25_index", keep=keep,
        resolve_base=_live_base, fold=fold,
    )


def bm25_search_batch(
    postings: DataFrame,
    term_df: DataFrame,
    stats: dict,
    queries: DataFrame,
    qid_col: str = "qid",
    qtext_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    n_shards: int = 32,
    max_df_fraction: float | None = None,
    prune_buckets: bool = True,
) -> DataFrame:
    """All queries against the index in one job → (qid, id, score),
    top-k per query, ordered (qid, score desc, id). ``round_to`` is the
    score's decimal rounding (default 6; cross-engine
    oracles should round the RAW sum once at their comparison precision
    — double-rounding through 6 manufactures exact half-way decimals
    that Spark's BigDecimal-on-shortest-repr and an engine rounding the
    binary value resolve differently).

    Plan shape: the DISTINCT (qid, term) pairs of the query batch
    broadcast twice — once to prune+probe the postings scan (bucket
    partition pruning when the index is the materialized form, then an
    equi-join on term), once against term_df for IDF literals. The only
    data-sized shuffles are the per-(qid, id) score sum (partial-agg
    combined map-side) and the TWO-PHASE per-qid top-k, both over
    matched candidates only.

    Two-phase top-k: a high-df query ("the of and") can match ~the
    whole corpus; ranking it with one per-qid window would funnel its
    entire matched set through a single reducer. Instead, phase 1 takes
    top-k per (qid, shard) — shard = hash(id) mod ``n_shards``, so each
    query's candidates spread over n_shards reducers — and phase 2
    merges the ≤ n_shards·k survivors per query (a bounded, tiny
    window). Both phases order by (score desc, id), so the result is
    IDENTICAL to the single-window form for every k and tie pattern.

    ``max_df_fraction``: optionally drop query terms whose document
    frequency exceeds this fraction of the corpus BEFORE the postings
    probe — the stopword matched sets are then never materialized at
    all (cheaper than any ranking of them, and standard practice for
    decontamination search, where "the" carries no signal). Changes
    scores (the dropped terms' small idf contributions vanish); None
    (default) keeps exact BM25.

    ``prune_buckets`` (default True): resolve the query terms' bucket
    set driver-side (one tiny aggregate, ≤ n_buckets rows) and apply it
    as a LITERAL IN-filter on the postings' partition column — STATIC
    partition pruning the planner honors unconditionally, including
    through the base+delta UNION a maintained index reads as (dynamic
    partition pruning from the broadcast join side is best-effort and
    does not reach through a union). At 100 TB this is the difference
    between scanning the query terms' bucket directories and scanning
    every posting file. Costs one small job on the query batch; results
    are identical either way."""
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"]) or 1.0
    n_buckets = int(stats.get("n_buckets", N_BUCKETS_DEFAULT))
    qterms = (
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(_tokens(qtext_col)).alias("term"),
        )
        .distinct()  # standard short-query BM25: query tf is 0/1
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    # IDF weights come from term_df RESTRICTED to the query vocabulary —
    # the full-vocab table is O(corpus vocabulary) and must never
    # broadcast; the restriction is O(query terms). The restriction runs
    # BEFORE the fold: on a maintained index term_df is the raw
    # base+delta union of per-part dfs (read_bm25_index leaves it
    # unfolded on purpose), and folding first would shuffle the FULL
    # vocabulary on every search batch — the broadcast join is a
    # map-side filter, so the groupBy's exchange carries only matched
    # query terms. On a fresh-built (term-unique) table the fold is an
    # identity over O(query vocab) rows.
    tdf = (
        term_df.join(
            F.broadcast(qterms.select("term").distinct()), "term", "inner"
        )
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    if max_df_fraction is not None:
        tdf = tdf.filter(F.col("df") <= F.lit(float(max_df_fraction) * n_docs))
        # restrict the PROBE side too, so pruned terms' postings are
        # never scanned or joined (tdf here is ≤ query-vocab rows)
        qterms = qterms.join(F.broadcast(tdf.select("term")), "term", "inner")
    # bucket pruning: a LITERAL filter on the PARTITION column of the
    # persisted postings (static pruning; see prune_buckets in the
    # docstring), plus the equi-join on (bucket, term) either way
    if prune_buckets:
        buckets = sorted(
            r["bucket"] for r in qterms.select("bucket").distinct().collect()
        )
        if not buckets:  # every query term pruned / empty batch
            id_type = postings.schema["id"].dataType
            return (
                qterms.select(
                    "qid",
                    F.lit(None).cast(id_type).alias("id"),
                    F.lit(0.0).alias("score"),
                ).filter(F.lit(False))
            )
        postings = postings.filter(F.col("bucket").isin(buckets))
    hits = postings.join(
        F.broadcast(qterms), ["bucket", "term"], "inner"
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        hits.join(F.broadcast(tdf), "term", "inner")
        .select("qid", "id", (idf * tf_part).alias("_s"))
        .groupBy("qid", "id")
        .agg(F.round(F.sum("_s"), round_to).alias("score"))
    )
    # phase 1: partial top-k per (qid, shard) — deterministic shard from
    # the id (NOT spark_partition_id: stable under task retries)
    order = [F.col("score").desc(), F.col("id")]
    w1 = Window.partitionBy("qid", "_shard").orderBy(*order)
    partial = (
        scored.withColumn(
            "_shard", F.pmod(F.xxhash64("id"), F.lit(int(n_shards)))
        )
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_shard")
    )
    # phase 2: merge ≤ n_shards·k survivors per qid — bounded by
    # construction, independent of how many documents matched
    w2 = Window.partitionBy("qid").orderBy(*order)
    return (
        partial.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("qid", F.col("score").desc(), "id")
    )


_BATCH_SCRATCH: str | None = None


def _batch_scratch(spark) -> str:
    """Per-process scratch root for ``bm25_batch_topk``'s single-tokenize
    materialization (and the oracle row ``bm25_maintained_search``'s
    index). One root per process; each ``bm25_batch_topk`` CALL writes a
    fresh subdirectory under it, so a repeat invocation always recomputes from
    the corpus (never reuses a prior call's files) and never deletes
    files a still-lazy earlier result may yet read. The local-tempdir
    default is removed at interpreter exit; a ``$RTSTORE_SCRATCH_DIR``
    root (required on multi-node clusters) follows that storage's own
    lifecycle policy instead."""
    global _BATCH_SCRATCH
    if _BATCH_SCRATCH is None:
        import atexit
        import os
        import shutil
        import tempfile

        # On a multi-node cluster the scratch root must be storage every
        # executor can reach (HDFS/object store) — point
        # $RTSTORE_SCRATCH_DIR at one. The local default is correct only
        # for local[...] masters, where driver and executors share a
        # filesystem; on any other master a driver-local tempdir would
        # make executors commit part files to THEIR local disks and the
        # read-back silently see an empty postings frame — refuse loudly
        # instead.
        root = os.environ.get("RTSTORE_SCRATCH_DIR")
        if root:
            _BATCH_SCRATCH = root.rstrip("/") + "/rtstore_bm25_batch_" + (
                os.urandom(6).hex()
            )
        else:
            master = spark.sparkContext.master
            if not master.startswith("local"):
                raise RuntimeError(
                    "bm25_batch_topk materializes postings to a scratch "
                    "directory every executor must reach; master "
                    f"{master!r} is not local — set $RTSTORE_SCRATCH_DIR "
                    "to shared storage (HDFS/object store)"
                )
            _BATCH_SCRATCH = tempfile.mkdtemp(prefix="rtstore_bm25_batch_")
            atexit.register(shutil.rmtree, _BATCH_SCRATCH, ignore_errors=True)
    return _BATCH_SCRATCH


def bm25_batch_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    qid_col: str = "qid",
    qtext_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    n_shards: int = 32,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Index-free convenience: build the postings and search — ONE corpus
    tokenize for the WHOLE query batch. Use ``write_bm25_index`` +
    ``bm25_search_batch`` when the corpus outlives the query batch.

    The postings are MATERIALIZED to an operator-private temp parquet
    before the search. The search plan consumes the postings twice
    (probe + the term-df build), and the two subtrees are pruned to
    different columns, so exchange reuse cannot deduplicate them — an
    unpersisted plan re-ran the tokenize+explode+(term, id) aggregate
    once per consumer (guide §1.2 step 1). A Spark ``persist`` is the
    wrong fix here: its cache key is the logical plan, so a repeat call
    would silently reuse the first call's postings across invocations.
    The temp write recomputes from the corpus on EVERY call (a fresh
    per-call directory under one per-process scratch root, deleted at
    interpreter exit) — so the returned frame is valid for the process
    lifetime, and each invocation pays exactly one tokenize.
    """
    import os
    import uuid

    postings, _term_df, stats = bm25_build(df, text_col, id_col)
    if stats["n_docs"] > 0:
        base = os.path.join(_batch_scratch(df.sparkSession), uuid.uuid4().hex)
        postings.write.mode("overwrite").parquet(base)
        # explicit schema: no footer inference, and robust even if an
        # all-null-text corpus produced zero posting rows
        postings = df.sparkSession.read.schema(postings.schema).parquet(base)
    # identical to bm25_build's term_df (postings are (term, id)-unique),
    # derived from the materialized frame so it costs a parquet scan,
    # not a second corpus tokenize
    term_df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return bm25_search_batch(
        postings, term_df, stats, queries,
        qid_col=qid_col, qtext_col=qtext_col, k=k, k1=k1, b=b,
        round_to=round_to, n_shards=n_shards,
        max_df_fraction=max_df_fraction,
    )


def bm25_index_sink(
    path: str, text_col: str, id_col: str,
    compact_every: int | None = None,
    compact_keep: int = 2,
):
    """Streaming index maintenance: a ``foreachBatch`` body that appends
    each micro-batch of NEW documents as a committed increment —

        (docs_stream.writeStream
            .option("checkpointLocation", chk)
            .foreachBatch(bm25_index_sink(path, "text", "doc_id",
                                          compact_every=16))
            .trigger(availableNow=True).start())

    — so a continuously-ingested training corpus becomes searchable
    without O(corpus) rebuilds. Exactly-once under Structured
    Streaming's replay model: the micro-batch id is the append's
    ``batch_tag``, so a batch re-delivered after a crash no-ops once
    committed (``store.increments.sink``).

    ``compact_every``: when set, the sink runs ``compact_bm25_index``
    whenever the live generation lists this many increments — a
    SELF-MAINTAINING index whose read plan never exceeds
    ``compact_every`` union arms. ``compact_keep``: predecessor
    generations retained per fold (default 2, vs the manual path's
    grace-of-one) — size it to (longest expected query) /
    (compact_every x batch interval). The base index must exist
    (``write_bm25_index``); mid-stream rebuilds use
    ``carry_ledger=True`` so the stream never needs a checkpoint
    reset. A checkpoint WIPE restarts batch ids at 0, so it needs a
    fresh ledger-resetting rebuild, not more appends."""
    from rtstore_spark.store import increments

    return increments.sink(
        path,
        resolve_base=_live_base,
        append_batch=lambda batch_df, tag: append_bm25_index(
            batch_df, text_col, id_col, path, batch_tag=tag
        ),
        compact_index=compact_bm25_index,
        compact_every=compact_every,
        compact_keep=compact_keep,
    )
