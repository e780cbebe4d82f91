"""Lexical retrieval at corpus scale: a persisted BM25 inverted index.

``text.bm25_topk`` answers ONE query with one pass over the corpus —
right for ad-hoc search, wrong for the batch shapes a training-data
pipeline actually runs (decontamination search: thousands of benchmark
queries against a 100-TB corpus; dedup candidate generation; eval-set
retrieval). This module is the index-based counterpart, the same
relationship ``similarity.write_pq_index``/``ivf_pq_search_batch`` have
to brute-force cosine:

- ``bm25_build``      — one corpus scan → postings (term, id, tf, dl),
  per-term document frequencies, and the global (n_docs, avgdl) stats;
- ``write_bm25_index`` / ``read_bm25_index`` — durable form, postings
  PARTITIONED BY a term-hash bucket so a search's scan prunes to the
  buckets its query terms hash into; atomic generation-pointer rebuilds
  (same single-writer protocol as the ANN index);
- ``bm25_search_batch`` — (qid, text) queries → top-k (qid, id, score)
  in ONE job: query terms broadcast against the pruned postings scan,
  IDF folded in via a broadcast join on the O(matched-vocab) term-df
  table, per-(qid, id) partial-agg sum, TWO-PHASE per-qid top-k
  (per-(qid, shard) partial top-k, then a merge over the ≤ shards·k
  survivors — no single reducer ever sees a query's full matched set);
- ``append_bm25_index`` — incremental maintenance: new documents land
  as a delta generation unioned at read (one delta-scoped build, no
  O(corpus) rebuild), folded away by ``compact_bm25_index`` (persisted
  parquet fold, no corpus needed) or the next full rebuild.

Maintained-index search costs what fresh-index search costs: the term
dfs of base+deltas stay UNFOLDED at read and are summed only AFTER the
search restricts them to the broadcast query vocabulary — never an
O(total vocab) shuffle per batch (see read_bm25_index's docstring).

Shuffle bytes scale with MATCHED POSTINGS (docs containing query
terms), never with corpus x queries — the property that makes 10k
decontamination queries against 100 TB a join, not 10k scans. The
optional ``max_df_fraction`` prune drops stopword-grade terms BEFORE
the postings probe, so their matched sets are never materialized.

Scoring matches ``text.bm25_topk`` exactly (Okapi BM25,
idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation with length
normalization, scores rounded to 6): one query through the batch path
returns byte-identical (id, score) rows — pinned by test.

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


def write_bm25_index(
    df: DataFrame, text_col: str, id_col: str, path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    carry_ledger: bool = False,
) -> None:
    """Materialize the index: ``<gen>/postings`` partitioned by bucket,
    ``<gen>/_termdf``, ``<gen>/_stats.json`` — committed behind the same
    atomic root ``_current`` pointer flip as ``write_pq_index`` (a crash
    anywhere before the flip leaves the previous generation fully live;
    concurrent rebuilds fail loudly on the maintenance lease and the
    single-writer pointer backstop).
    Protocol mechanics live in store.fs.begin/commit_generation.

    ``carry_ledger`` — STREAMING-SAFE rebuild. By default a rebuild
    resets the exactly-once batch-tag ledger, which forces every
    ``bm25_index_sink`` stream feeding this index through a checkpoint
    reset (batch ids restart at 0 only after a checkpoint wipe — the
    worst operation at 100 TB with continuous ingest). With
    ``carry_ledger=True`` the rebuild CARRIES the live generation's
    full committed-tag set (its ``_tags`` ledger plus the tags riding
    in committed delta names, digit tags folded to one watermark line)
    into the fresh generation — the same invariant compaction
    preserves — so a mid-flight sink's replayed batches still no-op
    and the stream NEVER restarts; mirrors the reference indexer's
    never-stop-tailing stance (indexer_impl.rs:147-196). Caller
    contract it rests on: the rebuild corpus ``df`` must CONTAIN every
    committed batch's documents (true by definition for a "rebuild
    from the whole corpus" — the rebuild is how those docs get
    re-indexed). Tokens from the retired pre-hash sanitizer are
    DROPPED during the carry: they can never match a replay anyway
    (the raw tag is unrecoverable), and carrying them would keep
    tripping the appenders' legacy-token guard forever — the rebuild
    IS the advised repair."""
    from rtstore_spark.store.fs import (
        begin_generation,
        commit_generation,
        fs_for,
        is_current_tag_token,
        maintenance_lease,
    )

    spark = df.sparkSession
    fs = fs_for(path, spark)
    fs.makedirs(path)
    with maintenance_lease(fs, path, op="write_bm25_index"):
        prev_gen, prev_name, gen_name = begin_generation(fs, path)
        base = f"{path}/{gen_name}"
        ledger: list[str] = []
        if carry_ledger and prev_name is not None:
            pbase = f"{path}/{prev_name}"
            manifest = fs.read_text(pbase + "/_deltas") or ""
            names = [ln.strip() for ln in manifest.splitlines() if ln.strip()]
            ledger = [
                ln for ln in _committed_ledger_lines(fs, pbase, names)
                if ln.startswith("w") or is_current_tag_token(ln[1:])
            ]
        postings, term_df, stats = bm25_build(df, text_col, id_col, n_buckets)
        if stats["n_docs"] == 0:
            # an empty build must never flip the pointer: the postings
            # directory would hold zero part files (unreadable — schema
            # inference fails) and the sweep would have destroyed the last
            # GOOD generation. A rebuild fed an accidentally-empty filtered
            # corpus fails loudly instead of replacing a working index.
            raise ValueError(
                f"write_bm25_index: refusing to commit an EMPTY corpus over "
                f"{path} — the live generation stays untouched"
            )
        # the two writes share the corpus-wide tokenize + (term, id)
        # aggregate — cache it so term_df reuses postings' computation
        # instead of re-running the dominant shuffle
        postings = postings.persist()
        try:
            postings.write.mode("overwrite").partitionBy("bucket").parquet(
                base + "/postings"
            )
            term_df.write.mode("overwrite").parquet(base + "/_termdf")
        finally:
            postings.unpersist()
        fs.write_text_atomic(base + "/_stats.json", json.dumps(stats))
        if ledger:
            fs.write_text_atomic(base + "/_tags", "\n".join(ledger) + "\n")
        # grace-of-one retention: a reader holding lazy plans against the
        # immediate predecessor must not lose its files mid-query; the
        # predecessor retires on the NEXT rebuild
        commit_generation(
            fs, path, prev_gen, gen_name,
            op="write_bm25_index", keep=(prev_name,),
        )


def _read_index_dir(spark, fs, base: str) -> tuple[DataFrame, DataFrame, dict]:
    postings = spark.read.option("basePath", base + "/postings").parquet(
        base + "/postings"
    )
    term_df = spark.read.parquet(base + "/_termdf")
    stats = json.loads(fs.read_text(base + "/_stats.json"))
    return postings, term_df, stats


def _stats_sum_dl(stats: dict) -> int:
    # pre-delta generations lack sum_dl; n·avgdl reconstructs it (avgdl
    # was computed as an exact-division double of the true sum)
    if "sum_dl" in stats:
        return int(stats["sum_dl"])
    return int(round(int(stats["n_docs"]) * float(stats["avgdl"])))


def _live_index_parts(spark, fs, path: str):
    """The LIVE generation's pieces: (base dir, delta names, [(postings,
    term_df, stats), ...] — base first, then each committed delta in
    manifest order). Shared by ``read_bm25_index`` (lazy union) and
    ``compact_bm25_index`` (persisted fold)."""
    from rtstore_spark.store.fs import parse_gen_pointer

    cur = fs.read_text(f"{path}/_current")
    _, live = parse_gen_pointer(cur)
    if not live:
        raise FileNotFoundError(f"no live bm25 index at {path}")
    base = f"{path}/{live}"
    parts = [_read_index_dir(spark, fs, base)]
    manifest = fs.read_text(base + "/_deltas") or ""
    names = [ln.strip() for ln in manifest.splitlines() if ln.strip()]
    n_buckets = int(parts[0][2]["n_buckets"])
    for name in names:
        part = _read_index_dir(spark, fs, f"{base}/{name}")
        if int(part[2].get("n_buckets", -1)) != n_buckets:
            raise RuntimeError(
                f"bm25 delta {name} was built with n_buckets="
                f"{part[2].get('n_buckets')} != base {n_buckets} — "
                "bucket pruning would silently miss postings; rebuild"
            )
        parts.append(part)
    return base, names, parts


def _union_parts(parts) -> tuple[DataFrame, DataFrame]:
    """(postings, term_df) as the unionByName of every part's arms —
    the ONE definition of how base+delta pieces combine, shared by
    ``read_bm25_index`` (lazy plan) and ``compact_bm25_index``
    (persisted fold). term_df stays UNFOLDED (per-part partials)."""
    postings, term_df = parts[0][0], parts[0][1]
    for p2, t2, _ in parts[1:]:
        postings = postings.unionByName(p2)
        term_df = term_df.unionByName(t2)
    return postings, term_df


def _read_tag_ledger(fs, base: str) -> tuple[int | None, set[str]]:
    """The generation's ``_tags`` ledger → (watermark, carried tokens).

    ``w<int>`` lines are a WATERMARK: micro-batch ids are monotone
    under foreachBatch (batch N+1 never runs before N committed), so
    one integer subsumes every folded digit tag ≤ it — the ledger
    stays O(1) for sink-driven streams no matter how many compactions
    chain. ``t…`` lines are individually-carried tokens (hashed
    non-digit tags, which have no order); these are rare (only the
    public API emits them) and accumulate until a full rebuild."""
    wm: int | None = None
    toks: set[str] = set()
    for ln in (fs.read_text(base + "/_tags") or "").splitlines():
        ln = ln.strip()
        if not ln:
            continue
        if ln.startswith("w") and ln[1:].isdigit():
            wm = max(wm if wm is not None else 0, int(ln[1:]))
        else:
            toks.add(ln)
    return wm, toks


def _ledger_contains(token: str, wm: int | None, toks: set[str]) -> bool:
    if token in toks:
        return True
    body = token[1:]
    return wm is not None and body.isdigit() and int(body) <= wm


def _committed_ledger_lines(fs, base: str, names) -> list[str]:
    """A generation's FULL committed-tag set as ``_tags`` ledger lines:
    the parked ledger (watermark + carried tokens) plus the tags riding
    in the given committed delta names, digit tags folded into one
    watermark line. The ONE definition of "every batch this generation
    has committed", shared by ``compact_bm25_index`` (parks it in the
    folded generation) and ``write_bm25_index(carry_ledger=True)``
    (carries it into a rebuild so mid-flight sinks never restart)."""
    wm, toks = _read_tag_ledger(fs, base)
    for n in names:
        sfx = n.rsplit("-", 1)[-1]
        if sfx.startswith("t"):
            body = sfx[1:]
            if body.isdigit():
                wm = max(wm if wm is not None else 0, int(body))
            else:
                toks.add(sfx)
    return ([f"w{wm}"] if wm is not None else []) + sorted(toks)


def _fold_stats(parts) -> dict:
    n_docs = sum(int(s["n_docs"]) for _, _, s in parts)
    sum_dl = sum(_stats_sum_dl(s) for _, _, s in parts)
    return {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 1.0,
        "n_buckets": int(parts[0][2]["n_buckets"]),
    }


def read_bm25_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """Load the LIVE generation — base postings UNIONED with every
    committed delta (``append_bm25_index``), (n_docs, avgdl) folded
    EXACTLY from the integer ``sum_dl`` totals. With no deltas the plan
    is the plain base scan (no union node is added).

    On a maintained index the returned ``term_df`` is the RAW
    base+delta union — per-term partial dfs that ADD (ids are unique
    across base and deltas by the append contract), NOT one row per
    term. It is deliberately left unfolded: an aggregate here would run
    over the FULL vocabulary on every search batch, because Catalyst
    does not push the search's query-vocab join below an aggregate —
    ``bm25_search_batch`` folds the partials AFTER restricting to the
    broadcast query terms, an O(query vocab) aggregation instead of
    O(total vocab). A direct consumer that wants the classic (term, df)
    table folds it the same way:
    ``term_df.groupBy("term").agg(F.sum("df").alias("df"))``.
    ``compact_bm25_index`` persists that fold into a fresh generation."""
    from rtstore_spark.store.fs import fs_for

    fs = fs_for(path, spark)
    _, _, parts = _live_index_parts(spark, fs, path)
    if len(parts) == 1:
        return parts[0]
    postings, term_df = _union_parts(parts)
    return postings, term_df, _fold_stats(parts)


def append_bm25_index(
    df: DataFrame, text_col: str, id_col: str, path: str,
    batch_tag: str | None = None,
) -> None:
    """Incremental maintenance: index NEW documents without the
    O(corpus) rebuild ``write_bm25_index`` performs. The delta's
    postings/termdf/stats are built from ``df`` ALONE (one scan of the
    new docs), written under ``<live-gen>/delta-N-<uuid>/``, and made
    visible by an atomic rewrite of the ``_deltas`` manifest — the
    mirror of how the reference's index node tails new blocks instead
    of re-indexing (indexer_impl.rs:147-196). A crash before the
    manifest write leaves an orphan directory no reader ever sees
    (retired with its generation). The next full rebuild folds all
    deltas away by construction (it rebuilds from the whole corpus into
    a fresh generation).

    Append contract: ``df``'s ids must be NEW (not present in the base
    or any prior delta). A re-appended id would double-count its term
    dfs and surface twice in results — dedup upstream; this operator
    does not scan the O(corpus) base to check.

    Single-writer, enforced loudly: the generation pointer and the
    delta manifest must both be unchanged across the build, else the
    append raises and its directory is left orphaned (harmless).

    ``batch_tag``: an idempotence token for EXACTLY-ONCE streaming
    maintenance. A tag lands in the delta directory name; an append
    whose tag is already in the manifest is a committed-earlier replay
    and no-ops — the contract Structured Streaming's foreachBatch
    replay model needs (``bm25_index_sink``), same stance as the
    engine's other checkpointed sinks. Non-digit tags are hashed to a
    filesystem-safe token (``store.fs.safe_batch_tag``) so two DISTINCT
    raw tags can never alias into one idempotence token.

    DIGIT-tag contract — single monotone stream. Compaction folds all
    committed digit tags into one WATERMARK (max), after which any
    digit tag ≤ the watermark is treated as a replay and no-ops. That
    is exactly right for the one producer that emits digit tags —
    ``bm25_index_sink``'s foreachBatch batch ids, monotone within one
    checkpointed stream — and exactly wrong for anything else: TWO
    sinks sharing one index, or caller-chosen digit tags that are not
    monotone, will have later appends silently subsumed by the
    watermark and DROPPED. One index, one stream. Callers tagging
    appends by hand should use non-digit tags (e.g. ``crawl/2026-08``),
    which hash and carry individually — they never fall under the
    watermark."""
    import uuid

    from rtstore_spark.store.fs import (
        fs_for,
        is_current_tag_token,
        maintenance_lease,
        parse_gen_pointer,
        safe_batch_tag,
    )

    spark = df.sparkSession
    fs = fs_for(path, spark)
    with maintenance_lease(fs, path, op="append_bm25_index"):
        cur = fs.read_text(f"{path}/_current")
        _, live = parse_gen_pointer(cur)
        if not live:
            raise FileNotFoundError(
                f"append_bm25_index: no live bm25 index at {path} — "
                "write_bm25_index builds the base generation first"
            )
        base = f"{path}/{live}"
        base_stats = json.loads(fs.read_text(base + "/_stats.json"))
        n_buckets = int(base_stats.get("n_buckets", N_BUCKETS_DEFAULT))
        manifest0 = fs.read_text(base + "/_deltas") or ""
        names0 = [ln.strip() for ln in manifest0.splitlines() if ln.strip()]
        if batch_tag is not None:
            batch_tag = safe_batch_tag(batch_tag)
            # committed tags live in two places: live delta dir names, and
            # the generation's _tags ledger where compact_bm25_index parks
            # folded-away batches (digit tags as one watermark, hashed tags
            # individually) — so compaction never forgets a committed batch
            # (only a full rebuild resets)
            wm, toks = _read_tag_ledger(fs, base)
            committed_tokens = [t[1:] for t in toks] + [
                n.rsplit("-", 1)[-1][1:] for n in names0
                if n.rsplit("-", 1)[-1].startswith("t")
            ]
            legacy = [t for t in committed_tokens if not is_current_tag_token(t)]
            if legacy:
                raise RuntimeError(
                    f"append_bm25_index: {path} carries batch tag "
                    f"token(s) committed under the retired strip-to-"
                    f"alnum sanitizer (e.g. {legacy[0]!r}) — replay "
                    "detection cannot match them, so a replayed "
                    "pre-upgrade batch would silently re-append. "
                    "Rebuild the index (write_bm25_index; carry_ledger "
                    "drops the unmatchable tokens) before further "
                    "tagged appends"
                )
            token = f"t{batch_tag}"
            if _ledger_contains(token, wm, toks) or any(
                n.rsplit("-", 1)[-1] == token for n in names0
            ):
                return  # replayed micro-batch: already committed
        postings, term_df, stats = bm25_build(df, text_col, id_col, n_buckets)
        if stats["n_docs"] == 0:
            return  # appending nothing is a no-op (unlike an empty
            # REBUILD, which would destroy a live index and is refused)
        suffix = (
            f"t{batch_tag}" if batch_tag is not None else uuid.uuid4().hex[:8]
        )
        delta_name = f"delta-{len(names0) + 1}-{suffix}"
        dbase = f"{base}/{delta_name}"
        postings = postings.persist()
        try:
            postings.write.mode("overwrite").partitionBy("bucket").parquet(
                dbase + "/postings"
            )
            term_df.write.mode("overwrite").parquet(dbase + "/_termdf")
        finally:
            postings.unpersist()
        fs.write_text_atomic(dbase + "/_stats.json", json.dumps(stats))
        cur2 = fs.read_text(f"{path}/_current")
        if parse_gen_pointer(cur2)[1] != live:
            raise RuntimeError(
                f"append_bm25_index: a rebuild advanced {path} to "
                f"{(cur2 or '').strip()} during this append — the delta "
                "targets a retired generation; re-run against the new one"
            )
        if (fs.read_text(base + "/_deltas") or "") != manifest0:
            raise RuntimeError(
                f"append_bm25_index: concurrent append detected on {path} — "
                "indexes have a single-writer contract; re-run the append"
            )
        fs.write_text_atomic(
            base + "/_deltas", "\n".join([*names0, delta_name]) + "\n"
        )
        # sweep crash orphans: delta-* directories the committed manifest
        # does not list were written by attempts that never committed (no
        # reader resolves them) — without this, retries of a flaky append
        # leak one uniquely-suffixed directory per crash until the next
        # rebuild retires the generation
        committed = {delta_name, *names0}
        for d in fs.listdir(base):
            if d.startswith("delta-") and d not in committed:
                fs.delete(f"{base}/{d}", recursive=True)


def compact_bm25_index(spark, path: str, keep: int = 1) -> None:
    """Fold committed deltas into a fresh generation WITHOUT the corpus.

    ``write_bm25_index`` folds deltas too, but it needs the ORIGINAL
    corpus DataFrame and pays a full re-tokenize; this compaction reads
    only what the index already persists — the base+delta postings and
    term-df parquet union into ``<path>/gen-(N+1)``, per-term dfs
    summed, (n_docs, avgdl) folded from the integer ``sum_dl`` totals
    (exact, no float accumulation) — so maintenance is self-contained,
    the same role ``compact_wire_archive`` plays for the wire-envelope
    archive (store/docstore.py). After compaction a reader sees ONE
    union-free generation: no per-arm scans, one row per term. Search
    results are identical by construction (same posting rows, same
    summed dfs, same stats). No-op when the live generation has no
    deltas.

    Streaming note — shared with ``compact_pq_index``: compaction
    PRESERVES the exactly-once batch-tag ledger. The folded deltas'
    tag tokens are parked in the new generation's ``_tags`` file
    (chained with any tokens already parked there by earlier
    compactions), and ``append_bm25_index`` checks that ledger on
    replay — so a micro-batch committed-but-not-yet-checkpointed
    before a compaction still no-ops after it, which is what makes
    in-sink auto-compaction (``bm25_index_sink(compact_every=…)``)
    safe. A FULL rebuild (``write_bm25_index``) resets the ledger by
    default; rebuilding with a stream mid-flight uses
    ``carry_ledger=True``, which carries this same committed-tag set
    into the fresh generation so the stream never restarts.

    Crash safety is the standard generation protocol
    (store.fs.begin/commit_generation): a crash anywhere before the
    pointer flip leaves the delta'd generation fully live. The index's
    single-writer contract (ONE maintenance process at a time) is
    enforced at operation START by the maintenance lease
    (store.fs.acquire_maintenance_lease — a concurrent writer fails
    fast, naming the holder) and backstopped after the fact at two
    points — ``commit_generation`` re-checks the generation pointer,
    and the delta manifest is compared against the PRE-ENUMERATION
    snapshot both after the parts load and just before the flip. The
    instants between that final re-read and the flip itself remain
    uncheckable (two separate small files cannot be CAS'd together),
    but reaching them now requires a writer that already bypassed the
    lease's loud error — e.g. a stale-lease takeover racing a holder
    that outlived the TTL."""
    from rtstore_spark.store.fs import (
        begin_generation,
        commit_generation,
        fs_for,
        maintenance_lease,
        retained_generations,
    )

    fs = fs_for(path, spark)
    with maintenance_lease(fs, path, op="compact_bm25_index"):
        prev_gen, prev_name, gen_name = begin_generation(fs, path)
        # snapshot the manifest BEFORE enumerating parts: _live_index_parts
        # does real per-delta I/O, so a delta committed during it must be
        # caught by comparison against this snapshot, not one taken after
        manifest0 = (
            fs.read_text(f"{path}/{prev_name}/_deltas") or ""
        ) if prev_name else ""
        base, names, parts = _live_index_parts(spark, fs, path)
        if base != f"{path}/{prev_name}":  # pointer moved between reads
            raise RuntimeError(
                f"compact_bm25_index: a rebuild advanced {path} during "
                "this compaction — re-run against the new generation"
            )
        names0 = [ln.strip() for ln in manifest0.splitlines() if ln.strip()]
        if names != names0:
            raise RuntimeError(
                f"compact_bm25_index: a concurrent append committed on "
                f"{path} while its deltas were being enumerated — re-run "
                "the compaction"
            )
        if not names:
            return  # union-free already: nothing to fold
        out = f"{path}/{gen_name}"
        postings, term_df = _union_parts(parts)
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            out + "/postings"
        )
        term_df.groupBy("term").agg(F.sum("df").alias("df")).write.mode(
            "overwrite"
        ).parquet(out + "/_termdf")
        fs.write_text_atomic(
            out + "/_stats.json", json.dumps(_fold_stats(parts))
        )
        # park the folded deltas' tags (plus the old generation's ledger)
        # so replays still no-op after the fold. Digit tags — the sink's
        # monotone batch ids — compress into ONE watermark line, so the
        # ledger stays O(1) across unbounded chained compactions; hashed
        # (non-digit) tags carry individually. An untagged delta's uuid
        # suffix is hex-only, never 't'-prefixed.
        ledger = _committed_ledger_lines(fs, base, names)
        if ledger:
            fs.write_text_atomic(out + "/_tags", "\n".join(ledger) + "\n")
        if (fs.read_text(base + "/_deltas") or "") != manifest0:
            raise RuntimeError(
                f"compact_bm25_index: a concurrent append committed on "
                f"{path} during this compaction — its delta is not in the "
                "folded generation; re-run the compaction"
            )
        # retention: keep the newest `keep` predecessor generations, not
        # just one — a frequently-folding sink (compact_every on a fast
        # stream) would otherwise sweep the files under a reader whose
        # lazy plan is older than two folds
        retained = set(retained_generations(fs, path, keep, exclude=gen_name))
        retained.add(prev_name)  # the LIVE predecessor survives regardless
        commit_generation(
            fs, path, prev_gen, gen_name,
            op="compact_bm25_index", keep=tuple(retained),
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
    score's decimal rounding (6 matches text.bm25_topk; cross-engine
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
    materialization. One root per process; each CALL writes a fresh
    subdirectory under it, so a repeat invocation always recomputes from
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
    tokenize for the WHOLE query batch (vs one per query with
    ``text.bm25_topk``). Use ``write_bm25_index`` + ``bm25_search_batch``
    when the corpus outlives the query batch.

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
    each micro-batch of NEW documents as a delta generation —

        (docs_stream.writeStream
            .option("checkpointLocation", chk)
            .foreachBatch(bm25_index_sink(path, "text", "doc_id",
                                          compact_every=16))
            .trigger(availableNow=True).start())

    — so a continuously-ingested training corpus becomes searchable
    without O(corpus) rebuilds, mirroring how the reference's index
    node tails new blocks (indexer_impl.rs:147-196). Exactly-once under
    Structured Streaming's replay model: the micro-batch id is the
    delta's ``batch_tag``, so a batch re-delivered after a crash
    no-ops once its delta is committed (the append itself is atomic
    behind the ``_deltas`` manifest write).

    ``compact_every``: when set, the sink runs ``compact_bm25_index``
    whenever the live generation's delta count reaches this bound — a
    SELF-MAINTAINING index whose read plan never exceeds
    ``compact_every`` union arms. Safe mid-stream because compaction
    parks the folded tags in the ``_tags`` ledger (replays of folded
    batches still no-op; digit batch ids fold to one watermark line,
    so the ledger stays O(1) forever), and crash-safe at every point:
    a compaction that dies before its flip leaves the delta'd
    generation live and retries on a later batch.

    ``compact_keep``: predecessor generations retained per fold
    (default 2, vs the manual path's grace-of-one) — a concurrent
    reader's lazy plan survives ``compact_keep`` subsequent folds, so
    size it to (longest expected query) / (compact_every x batch
    interval). The base index must exist (``write_bm25_index``); full
    rebuilds remain the deep-maintenance path — run them MID-STREAM
    with ``write_bm25_index(..., carry_ledger=True)``, which carries
    the committed batch-tag ledger into the fresh generation so this
    sink's replayed batches still no-op and the stream never needs a
    checkpoint reset. Checkpoint-reset rule (shared with the streaming
    state tables): batch ids restart at 0 after a checkpoint WIPE, so
    wiping the checkpoint requires a fresh ledger-resetting rebuild,
    not more appends."""
    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        append_bm25_index(
            batch_df, text_col, id_col, path, batch_tag=str(batch_id)
        )
        if compact_every is not None:
            from rtstore_spark.store.fs import fs_for, parse_gen_pointer

            fs = fs_for(path, spark)
            _, live = parse_gen_pointer(fs.read_text(f"{path}/_current"))
            manifest = fs.read_text(f"{path}/{live}/_deltas") or ""
            if sum(1 for ln in manifest.splitlines() if ln.strip()) >= compact_every:
                compact_bm25_index(spark, path, keep=compact_keep)

    return apply
