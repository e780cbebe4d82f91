"""Deduplication operators.

Pipeline shape for near-dup at 100 TB (the one the inventory's oracle queries
exercise at small scale):

    shingle (map-local) → minhash (partial-agg min) → band (map-local)
    → bucket self-join (shuffle on band key only) → jaccard verify
    (exact, on candidates only)

Nothing here is O(n²) in the corpus; every shuffle key is a bounded hash.
All hashes are md5-derived and engine-reproducible (same family as
``inventory._hash32``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash32(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _hash60(col):
    """60-bit md5 prefix as a long — for set membership where 32 bits
    would start colliding (collision-safe shingle identity: ~2^-60 per
    pair vs ~2^-32)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Universal-hash coefficients (a_i odd < 2^20, b_i < 2^32), md5-derived
    so any engine can reproduce them. h_i(x) = (a_i * x + b_i) mod 2^32 with
    x < 2^32 keeps a_i*x < 2^52 — exact in signed 64-bit everywhere."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh_a:{i}".encode()).hexdigest()[:8], 16) % (1 << 20) | 1
        b = int(hashlib.md5(f"mh_b:{i}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per exact text: the lowest id wins.

    Returns (text_hash, keep_id, n_copies). GroupBy key is the 128-bit md5 —
    the full text never shuffles.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("keep_id"))
        .groupBy("text_hash")
        .agg(F.min("keep_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    distinct: bool = True,
    keep_short: bool = True,
    positional: bool = False,
) -> DataFrame:
    """n-token shingles per document (long form: id, shingle).

    ``distinct=True`` gives set semantics (required for jaccard) at the cost
    of a full shuffle of the shingle strings. Operators whose aggregate is
    duplicate-invariant (minhash: min over a multiset == min over its set)
    pass ``distinct=False`` and skip that shuffle entirely.

    ``keep_short=True`` emits the whole document as one shingle when it has
    fewer than ``n`` tokens (every doc gets a signature — required for
    minhash/winnowing); ``keep_short=False`` emits nothing for short docs
    (the contamination-scan contract: a doc without a full n-gram cannot
    leak one).

    Formulated as a zip_with chain over n shifted slices so ``toks`` is
    referenced O(n) times per ROW — a ``transform(sequence(...), i ->
    slice(toks, i, n))`` lambda re-evaluates the split per *element*
    (Catalyst inlines project aliases into lambdas; no CSE across
    higher-order functions), which is O(tokens²) regex work. This shape is
    also shuffle-free: scan → project → explode, so the downstream minhash
    partial-agg is the pipeline's first (and only) exchange. A window-lead
    tokenizer would be ~3× faster on local[32] but shuffles the entire
    token stream — the wrong trade at corpus scale.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    ln = f"greatest(size(toks) - {n - 1}, 1)"
    chain = f"slice(toks, 1, {ln})"
    for j in range(2, n + 1):
        chain = f"zip_with({chain}, slice(toks, {j}, {ln}), (a, b) -> concat(a, ' ', b))"
    short = (
        "array(concat_ws(' ', toks))"
        if keep_short
        else "cast(array() as array<string>)"
    )
    sh = f"CASE WHEN size(toks) >= {n} THEN {chain} ELSE {short} END"
    if positional:
        # (id, pos, shingle) with pos = 0-based token offset of the
        # shingle's first token — the chain array is positional by
        # construction, so posexplode is free. distinct is ignored
        # (a position is unique within its doc).
        return t.selectExpr("id", f"posexplode({sh}) AS (pos, shingle)")
    out = t.selectExpr("id", f"explode({sh}) AS shingle")
    return out.distinct() if distinct else out


def minhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Wide-form minhash: (id, mh0..mh{k-1}).

    One shingle explode, ``k`` hash expressions per row, ONE partial-agg
    shuffle of (id, k mins). The long-form alternative (explode a hash-index
    column) multiplies the shuffle input ``k``-fold for no benefit — at
    corpus scale that is k× the shuffle bytes of the whole shingle set.
    """
    e = shingles(df, text_col, id_col, n=shingle_n, distinct=False)
    base = e.select("id", _hash32(F.col("shingle")).alias("hx"))
    coeffs = minhash_coeffs(num_hashes)
    # expression strings: one py4j round trip per expression instead of one
    # per F.* composition call (driver plan-build latency)
    hexprs = [
        f"({a}L * hx + {b}L) % 4294967296 AS hv{h}"
        for h, (a, b) in enumerate(coeffs)
    ]
    return (
        base.selectExpr("id", *hexprs)
        .groupBy("id")
        .agg(*[F.expr(f"min(hv{h}) AS mh{h}") for h in range(num_hashes)])
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Long-form minhash signatures: (id, h, minhash), h in [0, num_hashes).

    Computed wide then unpivoted (stack is a zero-shuffle projection)."""
    wide = minhash_signatures_wide(df, text_col, id_col, num_hashes, shingle_n)
    stack = ", ".join(f"{h}, mh{h}" for h in range(num_hashes))
    return wide.select(
        "id", F.expr(f"stack({num_hashes}, {stack}) as (h, minhash)")
    ).select("id", F.col("h").cast("int"), "minhash")


def _band_join(banded: DataFrame) -> DataFrame:
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_sig") == F.col("b.band_sig")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _band_wide(wide: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, band_sig) from wide signatures: band signatures are
    string concats of adjacent minhash columns (pure projection), then one
    explode — no groupBy before any bucket join."""
    band_structs = ", ".join(
        "struct({b} AS band, concat_ws('-', {cols}) AS band_sig)".format(
            b=b,
            cols=", ".join(
                f"cast(mh{b * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return wide.selectExpr(
        "id", f"explode(array({band_structs})) AS bs"
    ).selectExpr("id", "bs.band AS band", "bs.band_sig AS band_sig")


def lsh_candidate_pairs_wide(
    wide: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Band the wide signatures (``_band_wide``) and self-join on (band,
    band signature): docs agreeing on ALL rows of any band become a
    candidate pair — the standard (1 - (1 - s^r)^b) probability curve.
    Returns distinct (id_a, id_b) with id_a < id_b."""
    return _band_join(_band_wide(wide, bands, rows_per_band))


def candidate_shingle_hashes(
    df: DataFrame, candidates: DataFrame, text_col: str, id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, hv, shingle_n): the DISTINCT 60-bit shingle hashes of every
    document named by a candidate pair — ``jaccard_verify``'s working
    set, exposed so a caller that drives an eager consumer
    (``minhash_dedup`` → connected components) can persist it for the
    duration of the call and hand it in via ``shingle_hashes=`` (the
    frame is referenced three times inside the verify plan: sizes + both
    intersection arms). ``shingle_n`` is a literal provenance column
    (the ``benchmark_span_hashes``/``decontaminate`` pattern):
    ``jaccard_verify`` refuses a frame built at a different shingle
    size, which would otherwise silently produce wrong jaccard values.

    The candidate-id semi-join carries NO broadcast hint: the candidate
    set grows with the corpus (a near-dup-heavy 100-TB corpus can yield
    hundreds of millions of candidate ids), so a forced broadcast would
    OOM exactly when the operator matters most. AQE picks the strategy
    from runtime sizes — broadcast while the set is small, shuffled
    left-semi on the 8-byte id key once it isn't.
    """
    # one explode, not a two-arm union: each union arm would hold its own
    # copy of the candidate plan (evaluated twice per action for callers
    # that don't persist it — same hazard fixed in connected_components)
    wanted = candidates.selectExpr(
        "explode(array(id_a, id_b)) AS id"
    ).distinct()
    return (
        shingles(df, text_col, id_col, n=shingle_n, distinct=False)
        .join(wanted, "id", "left_semi")  # AQE-sized; no forced broadcast
        .select("id", _hash60(F.col("shingle")).alias("hv"))
        .distinct()
        .withColumn("shingle_n", F.lit(int(shingle_n)))
    )


def jaccard_verify(
    df: DataFrame, candidates: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.8, shingle_n: int = 3,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    The candidate set bounds the join: shingles are exploded once, then
    semi-joined to candidates — never a corpus-wide self-join. Shingles
    are reduced to 60-bit md5-derived longs BEFORE the distinct and the
    intersection join, so the shuffles move 8-byte keys instead of raw
    n-gram strings (~5-10× fewer shuffle bytes at corpus scale; a 60-bit
    collision within one pair's shingle union is ~2^-60 — far below the
    threshold sensitivity of the jaccard ratio).

    ``shingle_hashes``: a precomputed (possibly persisted)
    ``candidate_shingle_hashes`` frame. The verify plan references that
    subtree three times (sizes + both intersection join arms); an eager
    caller that persists it evaluates the corpus shingle explode once
    instead of three times (measured inside minhash_dedup at sf0.1:
    4.25 s → 3.51 s median). Default None builds it lazily — the right
    call for consumers that only ever evaluate the result once. A frame
    carrying the ``shingle_n`` provenance column is REFUSED when its
    recorded size differs from this call's ``shingle_n`` — hashes built
    at another window size intersect near-randomly and would silently
    produce wrong jaccard values (the ``decontaminate``/``bench_hashes``
    pattern; the probe reads ONE row — the column is stamped as a single
    literal — so it stays bounded even on an unpersisted frame).
    Returns (id_a, id_b, jaccard) above threshold.
    """
    if shingle_hashes is None:
        sh = candidate_shingle_hashes(
            df, candidates, text_col, id_col, shingle_n
        )
    else:
        sh = shingle_hashes
        if "shingle_n" in sh.columns:
            # candidate_shingle_hashes stamps the column as ONE literal,
            # so one row decides — head(1) keeps the probe a
            # CollectLimit(1) (bounded even on an unpersisted frame,
            # where a distinct() would evaluate the whole candidate
            # explode once more). A hand-built frame mixing sizes is
            # outside the provenance contract; its first row decides.
            first = sh.select("shingle_n").head(1)
            sizes_seen = [int(first[0]["shingle_n"])] if first else []
            # an EMPTY frame is valid provenance (no candidates → no
            # hashes), not a mismatch; only a CONFLICTING recorded size
            # is the silently-wrong-jaccard failure mode
            if sizes_seen and sizes_seen != [int(shingle_n)]:
                raise ValueError(
                    f"jaccard_verify: shingle_hashes were built at "
                    f"shingle_n={sizes_seen}, this call uses "
                    f"shingle_n={shingle_n} — rebuild with "
                    "candidate_shingle_hashes at the matching size"
                )
    sh = sh.select("id", "hv")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "hv")
    b = sh.select(F.col("id").alias("id_b"), "hv")
    inter = (
        candidates.join(a, "id_a")
        .join(b, ["id_b", "hv"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Exact connected components by min-label propagation with pointer
    jumping: (id, comp) where comp = the minimum id in the node's component.

    Each round does two steps:

    1. **propagate** — every node takes min(own label, neighbor labels):
       one join + one partial-agg shuffle over the edge list.
    2. **jump** — every node replaces its label with its label's label
       (comp ← comp-of-comp): a self-join of the label table on
       ``comp == id``. Labels only ever decrease and every label is a
       node id, so the jump is always defined and monotone.

    The jump compounds propagation geometrically: the distance a label
    has travelled roughly doubles per round, so a path graph of diameter
    d converges in O(log d) rounds instead of O(d) — a chain of 1000
    near-dups needs ~10 rounds, not 1000. Dense near-dup clusters still
    finish in 2-3 rounds. Lineage is truncated per round
    (localCheckpoint) so plans stay flat.

    Terminates when no label changes: for integer/decimal ids, one
    partial-aggregated exact label-sum per round (labels are monotone
    non-increasing, so the sum is unchanged exactly at the fixed
    point); for other id types, a join of new vs old labels probing
    for one changed row.
    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds: partially-propagated labels would silently split
    one component into several groups, and ``minhash_dedup`` would keep
    documents it should drop. With jumping, the default max_iter=25
    covers components of diameter ~2^25 — effectively any real graph.
    """
    # The symmetric edge list is probed EVERY round (nbr_min join) — an
    # unpersisted plan would re-run the caller's whole candidate+verify
    # pipeline once per iteration (plus once for the convergence check;
    # measured 2.9× end-to-end on minhash_dedup at sf0.1). One eager
    # localCheckpoint pins a single evaluation; the edge list is
    # near-dup pairs only — bounded, tiny next to any corpus.
    # Symmetrization is ONE explode over the edge rows, not a two-arm
    # union: each union arm held its own copy of the caller's verified-
    # pairs plan, so the checkpoint's single action still evaluated that
    # pipeline twice (guide §1.2 step 1 — don't compute things twice;
    # measured 5.77 s → 4.25 s median on minhash_dedup at sf0.1).
    sym = (
        edges.selectExpr(
            "explode(array(named_struct('src', id_a, 'dst', id_b),"
            " named_struct('src', id_b, 'dst', id_a))) AS e"
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    # Convergence probe: labels are MONOTONE non-increasing (least()
    # bounds propagation by the old label; the jump replaces comp with
    # comp's own label, which is <= comp), so the label-table sum
    # strictly decreases on any change and is unchanged exactly at the
    # fixed point. One partial-aggregated scan of the fresh checkpoint
    # replaces the old probe — a per-round JOIN of the new and old
    # label tables (two extra shuffles per iteration). decimal(38,0)
    # keeps the sum exact for any INTEGER id domain: a wrapped int64
    # sum could in principle collide back to equality and stop a round
    # early. The sum probe exists only for ids the cast preserves
    # losslessly — for any other id type (string/uuid doc ids, floats)
    # the cast would be lossy or null/raising, so those fall back to
    # the r11 probe: join new vs old labels and look for one changed
    # row (two extra shuffles per round, but type-agnostic).
    _sum_probe = isinstance(
        labels.schema["comp"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )
    _label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev_sum = labels.agg(_label_sum).collect()[0][0] if _sum_probe else None
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        propagated = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # Pointer jump: comp ← label(comp). `parent` maps node id → its
        # (post-propagation) label; left join keeps the row even if comp
        # somehow has no label row (cannot happen, but cheap insurance).
        parent = propagated.select(
            F.col("id").alias("comp"), F.col("comp").alias("comp2")
        )
        new_labels = (
            propagated.join(parent, "comp", "left")
            .select("id", F.coalesce(F.col("comp2"), F.col("comp")).alias("comp"))
            .localCheckpoint()
        )
        if _sum_probe:
            new_sum = new_labels.agg(_label_sum).collect()[0][0]
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = not (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .head(1)
            )
        labels = new_labels
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component labels are still changing (graph diameter exceeds "
            "2^max_iter) — raise max_iter"
        )
    return labels


def _pick_survivors(
    comp: DataFrame, df: DataFrame, id_col: str, quality_col: str | None
) -> DataFrame:
    """(drop_id, keep) off a component-label table: keep the minimum id
    per group, or with ``quality_col`` the group's highest-scoring member
    (ties and null scores fall back to the lowest id). Shared by
    ``minhash_dedup`` and ``semdedup`` so the survivor contract cannot
    drift between the lexical and semantic pipelines. The quality re-pick
    is one join + one window over the LABEL table (near-dup docs only,
    tiny next to the corpus), nothing corpus-sized.
    """
    if quality_col is None:
        return comp.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("drop_id"), F.col("comp").alias("keep")
        )
    # NaN sorts ABOVE every real double in Spark ordering, so a score whose
    # computation failed (0/0 ratio, empty-text perplexity) would win its
    # cluster under desc — fold NaN into null so both fall back to min id
    raw = F.col(quality_col)
    score = F.when(F.isnan(raw.cast("double")), F.lit(None)).otherwise(raw)
    q = df.select(F.col(id_col).alias("id"), score.alias("_q"))
    w = Window.partitionBy("comp").orderBy(
        F.col("_q").desc_nulls_last(), F.col("id")
    )
    ranked = comp.join(q, "id", "left").withColumn(
        "_keep", F.first("id").over(w)
    )
    return ranked.filter(F.col("id") != F.col("_keep")).select(
        F.col("id").alias("drop_id"), F.col("_keep").alias("keep")
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8,
    num_hashes: int = 8, bands: int = 4, shingle_n: int = 3,
    quality_col: str | None = None,
) -> DataFrame:
    """Full near-dup pipeline: (drop_id, keep) pairs naming the ids to
    DROP and the group's surviving representative.

    Duplicate groups are EXACT connected components of the verified-pair
    graph (min-label propagation with pointer jumping) — a single
    union-find round would split transitive chains (a~b, b~c with a≁c)
    into two groups and keep a document it should drop.

    Survivor policy: the lowest id per group by default; with
    ``quality_col``, the group's highest-quality document (ties and null
    scores fall back to the lowest id) — what a production corpus prep
    actually wants, since near-dup clusters routinely pair a clean
    canonical page with boilerplate-wrapped copies and the arbitrary
    min-id pick keeps whichever crawled first. The re-pick costs one join
    + one window over the LABEL table (near-dup docs only, tiny next to
    the corpus), nothing corpus-sized.

    Uses the wide signature path end-to-end: banding is a projection off
    the wide aggregate, so the whole candidate generation costs ONE
    shuffle (the minhash partial-agg) plus the band-bucket join — the
    long-form path would add a (id, band) groupBy shuffle for nothing.

    The candidate-pair frame feeds TWO consumers (the single
    explode-based wanted-id projection inside
    ``candidate_shingle_hashes`` and ``jaccard_verify``'s intersection
    join), and the candidates' shingle-hash frame feeds three (pair
    sizes + both intersection arms) — BOTH are persisted for the
    duration of component resolution so the signature+band pipeline and
    the corpus shingle explode each run once, then unpersisted:
    ``connected_components`` eagerly checkpoints the verified edge
    list, so the returned survivor plan references neither (candidates
    13.9 s → 4.8 s, shingle hashes 4.25 s → 3.51 s median at sf0.1).
    """
    from pyspark import StorageLevel

    sig = minhash_signatures_wide(df, text_col, id_col, num_hashes, shingle_n)
    cand = lsh_candidate_pairs_wide(sig, bands, num_hashes // bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = candidate_shingle_hashes(df, cand, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verified = jaccard_verify(
        df, cand, text_col, id_col, threshold, shingle_n, shingle_hashes=sh
    )
    comp = connected_components(verified.select("id_a", "id_b"))
    cand.unpersist()
    sh.unpersist()
    return _pick_survivors(comp, df, id_col, quality_col)


def incremental_neardup(
    new_df: DataFrame,
    ref_signatures: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-shard near-dup: new documents vs an already-kept corpus, using
    ONLY the reference's stored wide minhash signatures
    (``minhash_signatures_wide`` output: id, mh0..mh{k-1}).

    This is the shape a rolling crawl actually needs: shard N+1 must dedup
    against everything kept so far, but the kept corpus's *text* is long
    gone from the pipeline — the dedup state a production run carries
    forward is exactly the signature table (k longs per doc, ~64 bytes at
    k=8: a 10-billion-doc reference fits in ~640 GB of parquet, scanned
    band-pruned, never the corpus itself).

    Shape: new docs are signed (one shuffle over the new shard only), both
    sides band (pure projection), and the band-bucket join — the only
    cross-corpus operation — is an equi-join on the band key. Jaccard is
    then ESTIMATED as the fraction of matching minhash components (the
    standard unbiased estimator; std-err √(j(1−j)/k), so k=8 at j=0.8 is
    ±0.14 — raise ``num_hashes`` for tighter cuts; the threshold
    effectively rounds to ⌈threshold·k⌉/k matches). No exact verify is
    possible without reference text, and none is needed at this stage:
    false positives only drop a few extra near-identical docs.

    Returns (new_id, ref_id, est_jaccard) pairs at/above threshold; drop
    each distinct new_id from the shard.
    """
    missing = [
        f"mh{h}" for h in range(num_hashes) if f"mh{h}" not in ref_signatures.columns
    ]
    if missing:
        raise ValueError(
            f"ref_signatures lacks columns {missing}: the reference table "
            f"must come from minhash_signatures_wide with num_hashes="
            f"{num_hashes} (and the same shingle_n) — signatures from a "
            "different hash family never match and would silently drop "
            "nothing"
        )
    rows_per_band = num_hashes // bands
    new_sigs = minhash_signatures_wide(
        new_df, text_col, id_col, num_hashes, shingle_n
    )
    nb = _band_wide(new_sigs, bands, rows_per_band).withColumnRenamed(
        "id", "new_id"
    )
    rb = _band_wide(ref_signatures, bands, rows_per_band).withColumnRenamed(
        "id", "ref_id"
    )
    cand = (
        nb.join(rb, ["band", "band_sig"])
        .select("new_id", "ref_id")
        .distinct()
    )
    n = new_sigs.select(
        F.col("id").alias("new_id"),
        *[F.col(f"mh{h}").alias(f"n{h}") for h in range(num_hashes)],
    )
    r = ref_signatures.select(
        F.col("id").alias("ref_id"),
        *[F.col(f"mh{h}").alias(f"r{h}") for h in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"n{h}") == F.col(f"r{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    )
    est = matches / F.lit(float(num_hashes))
    return (
        cand.join(n, "new_id")
        .join(r, "ref_id")
        .select("new_id", "ref_id", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint per doc: (id, simhash).

    Wide-form: ``bits`` conditional-sum aggregates over one token explode —
    a single partial-agg shuffle of (id, bits ints). Exploding a bit-index
    column instead would shuffle bits× the token count and need two stages.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    th = tok.select("id", _hash32(F.col("tok")).alias("hv"))
    # Per bit i the classic ±1 vote sum s_i over tokens satisfies
    # s_i = 2*ones_i - n with ones_i = count of tokens whose bit i is set,
    # so "s_i > 0" ⟺ "2*ones_i > n" — same fingerprint from plain 0/1 sums
    # (no per-row CASE branch), one count, exact integers throughout.
    # Built as expression STRINGS: each F.* composition call is a py4j
    # round trip on the driver; the old per-bit when/otherwise chain cost
    # ~1.5k round trips (~0.5 s) per plan build.
    ones = [F.expr(f"sum(shiftright(hv, {i}) & 1) AS o{i}") for i in range(bits)]
    sums = th.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *ones)
    fp = " + ".join(f"if(2 * o{i} > n, {1 << i}L, 0L)" for i in range(bits))
    return sums.selectExpr("id", f"cast({fp} as bigint) AS simhash")


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    num_planes: int = 16, band_planes: int = 8,
) -> DataFrame:
    """Embedding near-duplicates via random-hyperplane LSH + exact verify.

    Hyperplane components are md5-derived pseudo-randoms (deterministic, no
    driver-side RNG state to ship). Sign pattern over ``band_planes`` planes
    forms the bucket key; candidates within a bucket get exact cosine.
    At 100 TB the bucket join is the only shuffle; tune band_planes to bound
    bucket sizes (expected n / 2^band_planes).
    """
    from rtstore_spark.operators.similarity import cosine_expr, with_hyperplane_bucket

    keyed = with_hyperplane_bucket(
        df, vec_col, planes=band_planes, seed="neardup"
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket")
    a, b = keyed.alias("a"), keyed.alias("b")
    cos = cosine_expr("a.v", "b.v")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 256,
    threshold: float = 0.95,
    seed: int = 7,
    max_iter: int = 20,
    quality_col: str | None = None,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings
    with spherical k-means, then drop all but one of each group of
    same-cluster documents whose cosine exceeds ``threshold``.

    Complements ``embedding_neardup_pairs``: hyperplane-LSH buckets are
    data-oblivious (fixed random planes), k-means buckets adapt to the
    corpus's density — near-dups of the *same meaning* land in one
    learned cluster even when a random hyperplane would split them.
    The cost model is the same: pairwise comparison only inside a
    cluster, so the cross-corpus operation is one equi-join on the route
    key; choose k ≈ n / target_cluster_size to bound the quadratic term
    (SemDeDup's own setting). Groups are exact connected components of
    the verified-pair graph (pointer-jumping propagation), with the same
    survivor policy as ``minhash_dedup`` (shared ``_pick_survivors``):
    minimum id, or the group's ``quality_col`` argmax when given.

    Returns (drop_id, keep) pairs; anti-join drop_id against the corpus.
    """
    from rtstore_spark.operators.similarity import cosine_expr, kmeans_routes

    from pyspark import StorageLevel

    routed, _ = kmeans_routes(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "v", "id", k=k, seed=seed, max_iter=max_iter,
    )
    # both sides of the self-join read the routed frame; persist pins ONE
    # assignment scan (model.transform is deterministic, so this is a
    # perf pin, not a correctness one). Unpersisted after component
    # resolution: connected_components eagerly checkpoints the pair
    # list, so the returned survivor plan no longer reads routed.
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = routed.alias("a"), routed.alias("b")
    pairs = (
        a.join(b, "route")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.round(cosine_expr("a.v", "b.v"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    routed.unpersist()
    return _pick_survivors(comp, df, id_col, quality_col)


# Heavy-hitter routing for the hv-window operators (guide §2.5). An hv
# owning at least the break-even share (below) of the occurrence rows
# is "hot": its window group would route that share of the corpus
# through ONE spilling task (WindowExec cannot be split by AQE — skew
# handling applies to joins only). Detection samples DOCUMENTS (so its
# explode runs over the sample, never the corpus): a corpus-scale hot
# hash is cross-document boilerplate, which survives document
# sampling; a repeat confined to one document is bounded by that
# document's length and needs no special routing. NOTE detection is
# EAGER (two Spark jobs at operator-call time once the break-even cut
# is < 1, i.e. defaultParallelism > _HOT_HV_PARALLEL_FACTOR; a sample
# still evaluates the input's full upstream lineage) — callers whose
# input is an expensive unpersisted pipeline should persist it first.
_HOT_HV_SAMPLE = 0.01
# A window group below WindowExec's spill threshold (4096 rows by
# default) is buffered in memory and costs nothing special — groups
# must clear BOTH the share cut and this absolute floor to be worth a
# plan split. This also keeps small-corpus plans byte-stable: the
# hybrid only ever fires where a single window group would actually
# concentrate corpus-scale work in one task.
_HOT_HV_MIN_GROUP = 4096
# Break-even gate (measured + first-principles): routing a hot hv
# costs TWO extra evaluations of the occurrence explode — linear map
# work spread over defaultParallelism tasks — while the window
# straggler it removes costs (share x rows) through ONE task of much
# cheaper per-row streaming. The split wins only when
# share > factor / parallelism, with factor ~ 2 x (explode cost per
# row / window streaming cost per row). Interleaved A/B on local[32]
# (5000-doc x10-repeat fixture, share 8.8%: hybrid 4.22 s vs window
# 3.08 s; 305k-doc fixture, share 35%: 8.71 vs 5.62) shows the window
# winning locally at ANY feasible share — the explode dominates — so
# the factor is sized for warehouse parallelism: at 10k cores the
# hybrid arms at 0.32% share (32 GB+ through one reducer per 10 TB of
# occurrence rows), while local runs keep the single-evaluation
# window plan. Scale-adaptive by construction, not a local[32] tune.
_HOT_HV_PARALLEL_FACTOR = 32.0


def _span_occ_builder(text_col: str, id_col: str, span_tokens: int):
    """The (id, pos, hv) span-window occurrence frame shared by
    ``repeated_spans`` and ``substring_dedup`` — ONE definition so the
    contract ``_detect_hot_hvs``/``_annotate_hv`` rely on cannot drift
    between the two operators (``dedup_paragraphs`` has its own
    paragraph-explode variant)."""

    def _occ(src: DataFrame) -> DataFrame:
        return shingles(
            src, text_col, id_col, n=span_tokens,
            keep_short=False, positional=True,
        ).select("id", "pos", _hash60(F.col("shingle")).alias("hv"))

    return _occ


def _detect_hot_hvs(
    df: DataFrame,
    build,
    min_share: float | None = None,
    sample_fraction: float = _HOT_HV_SAMPLE,
    seed: int = 7,
) -> list:
    """hv values owning at least the break-even share of the occurrence
    rows that ``build(docs)`` produces (and at least
    ``_HOT_HV_MIN_GROUP`` rows outright) — the ``skew.hot_keys``
    pattern applied before the explode. The share cut IS
    ``_HOT_HV_PARALLEL_FACTOR / defaultParallelism`` — the measured
    break-even where one window straggler outweighs the hybrid's two
    extra map passes (see the constant's comment): at local core
    counts the pure window always wins and detection finds nothing; at
    warehouse parallelism sub-percent shares arm the split (0.32% at
    10k cores). A caller-supplied ``min_share`` raises the cut, never
    lowers it below break-even. The sample is only trusted when a true
    hot hash would be expected >= 5 times in it; below that, detection
    falls back to exact counts over the full frame (small inputs are
    exactly where that is cheap). The returned values are candidates:
    callers re-aggregate them EXACTLY, so a sampling overestimate can
    only change the plan shape, never the result."""
    par = max(1, df.sparkSession.sparkContext.defaultParallelism)
    cut = _HOT_HV_PARALLEL_FACTOR / par
    min_share = cut if min_share is None else max(min_share, cut)
    if min_share >= 1.0:
        # no single key can clear the cut — skip the detection jobs too
        return []
    src = build(df.sample(sample_fraction, seed=seed))
    total = src.count()
    frac = sample_fraction
    if total * min_share < 5:
        src = build(df)
        total = src.count()
        frac = 1.0
    if not total:
        return []
    thresh = max(int(total * min_share), int(_HOT_HV_MIN_GROUP * frac), 2)
    rows = (
        src.groupBy("hv")
        .count()
        .filter(F.col("count") >= thresh)
        .collect()
    )
    return [r["hv"] for r in rows]


def _annotate_hv(sh: DataFrame, hot: list, need_win: bool) -> DataFrame:
    """Annotate every (id, pos, hv) occurrence row with its hv's exact
    occurrence count (and, with ``need_win``, the minimal (id, pos)
    winner). The tail rides ONE window over the hv key — single
    evaluation of the occurrence subtree, single shuffle. Detected hot
    hvs are routed skew-style instead: a partial-aggregated groupBy
    (map-side combined — no task ever buffers a hot group) whose tiny
    (<= |hot| rows) result broadcasts back onto the hot rows. Both arms
    compute the SAME exact aggregates, so the union is byte-identical
    to the pure-window form for every input; with ``hot`` empty the
    plan IS the pure-window plan. The split costs two extra
    evaluations of the occurrence subtree (agg build + probe) on the
    hot arm only — linear parallel map work, paid exactly when the
    alternative is a single task owning ``min_share`` of the corpus."""
    cnt_agg = F.count(F.lit(1))
    win_agg = F.min(F.struct("id", "pos"))
    wv = Window.partitionBy("hv")

    def _window(rows: DataFrame) -> DataFrame:
        cols = ["id", "pos", cnt_agg.over(wv).alias("cnt")]
        if need_win:
            cols.append(win_agg.over(wv).alias("win"))
        return rows.select(*cols)

    if not hot:
        return _window(sh)
    is_hot = F.col("hv").isin(hot)
    hot_rows = sh.filter(is_hot)
    aggs = [cnt_agg.alias("cnt")] + ([win_agg.alias("win")] if need_win else [])
    hot_agg = hot_rows.groupBy("hv").agg(*aggs)
    out_cols = ["id", "pos", "cnt"] + (["win"] if need_win else [])
    hot_ann = hot_rows.join(F.broadcast(hot_agg), "hv").select(*out_cols)
    return hot_ann.unionByName(_window(sh.filter(~is_hot)))


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 32,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring spans: for each document, the maximal token
    ranges every position of which starts a ``span_tokens``-token shingle
    occurring at least ``min_count`` times corpus-wide (counting all
    occurrences, including within the same document).

    This is the span-granular form of exact substring dedup ("dedup
    training data" suffix-array style): instead of dropping a whole
    document because part of it is boilerplate, a pipeline surgically
    removes the flagged span and keeps the rest. Doc-level near-dup
    (minhash) and doc-frequency flags (``text.crossdoc_repetition``)
    cannot give the boundaries; this does.

    Returns (id, start_tok, end_tok, n_tokens) — ``start_tok`` 0-based
    inclusive, ``end_tok`` exclusive, so ``end_tok - start_tok =
    n_tokens`` and flagged shingles whose coverages touch or overlap
    (start positions ≤ span_tokens apart) merge into one maximal span —
    returned spans are disjoint by construction.

    Scale shape: positional shingles off the zip_with chain (shuffle-free
    posexplode), hashed to 60-bit longs — every exchange moves (id, pos,
    8-byte hv). The occurrence count rides a WINDOW over the hv key, not
    a groupBy + self-join: the join formulation evaluated the shingle
    explode + md5 TWICE (once under the aggregate, once on the probe
    side — Spark recomputes an unpersisted subtree), which was the
    dominant cost of the whole operator (optimization guide §1.2 step 1:
    don't compute things twice; measured 2× end-to-end on
    substring_dedup, same shape). One full shuffle of (id, pos, hv),
    then one per-doc window merges runs. A hash repeated k times puts k
    rows in one window GROUP — WindowExec spills past
    spark.sql.windowExec.buffer.spill.threshold, so moderate repetition
    degrades to disk streaming, never OOM; CORPUS-SCALE hot hashes
    (sampled detection, ``_detect_hot_hvs``) bypass the window entirely
    through a partial-aggregated broadcast route (``_annotate_hv``,
    guide §2.5), so no single task ever owns a boilerplate span's whole
    occurrence set. A true
    suffix array finds arbitrary-length repeats; the fixed-window
    approximation finds every repeat ≥ span_tokens (as a union of
    flagged windows) with two linear shuffles and no global sort — the
    right trade at corpus scale.
    """
    from pyspark.sql import Window

    _occ = _span_occ_builder(text_col, id_col, span_tokens)
    sh = _occ(df)
    # detected corpus-scale hot hashes bypass the window (guide §2.5);
    # with none detected — the common case — this IS the pure window plan
    hot = _detect_hot_hvs(df, _occ)
    flagged = (
        _annotate_hv(sh, hot, need_win=False)
        .filter(F.col("cnt") >= min_count)
        .select("id", "pos")
    )
    # interval merge: starts p, p' share a span whenever p' - p <=
    # span_tokens (their [p, p+span) coverages touch or overlap), not
    # just when consecutive — two runs a small gap apart would otherwise
    # report two OVERLAPPING rows, breaking the maximal-span contract.
    # Window is per doc, ordered by pos, never global.
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > span_tokens, 1
    ).otherwise(0)
    seg = flagged.withColumn("_seg", F.sum(brk).over(w))
    return (
        seg.groupBy("id", "_seg")
        .agg(F.min("pos").alias("start_tok"), F.max("pos").alias("_last"))
        .select(
            "id",
            "start_tok",
            (F.col("_last") + span_tokens).alias("end_tok"),
            (F.col("_last") + span_tokens - F.col("start_tok")).alias(
                "n_tokens"
            ),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 32,
) -> DataFrame:
    """Exact substring dedup WITH removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", keep-one semantics): every
    corpus-wide repeat of a ``span_tokens``-token-or-longer substring is
    cut from the text of all but its canonical first occurrence — ordered
    by (document id, token position) — and each document's text is rebuilt
    from the tokens it kept.

    The remediation counterpart to ``repeated_spans`` (which flags ALL
    occurrences, boundaries only, no rewrite): a quoted license block or
    syndicated article body survives exactly once in the corpus; every
    other document keeps its unique prose with the repeat excised. The
    canonical occurrence is resolved PER WINDOW HASH, so a long repeated
    region — a run of flagged windows — survives intact wherever its
    windows are canonical (the minimal (id, pos) document) and disappears
    as one merged span everywhere else, including second occurrences
    within the canonical document itself.

    The paper's suffix array finds repeats of arbitrary length ≥ k
    exactly; this fixed-window formulation finds every such repeat as a
    union of flagged k-token windows — identical coverage for repeats
    ≥ ``span_tokens``, none below — with three linear shuffles and no
    global sort, which is the right trade at corpus scale (a distributed
    suffix array shuffles the token stream several times and needs a
    global order).

    Returns the input columns with ``text_col`` rewritten (tokens
    re-joined with single spaces — the same whitespace normalization as
    every shingle operator here) plus ``n_tokens`` (before),
    ``n_tokens_removed`` and ``n_spans_removed``. Documents shorter than
    ``span_tokens`` tokens pass through byte-identical. A document whose
    every token sat in removed spans comes back with EMPTY text
    (``n_tokens == n_tokens_removed``) — the caller's signal to drop the
    row (document-level dedup upstream usually prevents this; it arises
    when a doc is a non-canonical concatenation of repeats). Near-
    idempotent, not strictly: cutting a span splices previously
    non-adjacent tokens together, so a second pass can remove at most
    spans newly formed across cut boundaries (first-pass coverage is
    complete for the ORIGINAL text; the paper's suffix-array form has the
    same property). NOT run by default in ``prepare_corpus``: the paper
    applies it once, corpus-wide, after document-level dedup.

    Scale shape (same exchange discipline as ``repeated_spans``): shingle
    hashes move as (id, pos, 8-byte hv) triples; winner + count are
    WINDOW aggregates over the hv key, not a groupBy + back-join — the
    join formulation re-evaluated the shingle explode + md5 on the probe
    side (Spark recomputes an unpersisted subtree), doubling the
    operator's dominant cost (guide §1.2 step 1; measured 3.99 s → 2.01 s
    at sf0.1, outputs byte-identical across all 5000 docs). One full
    (id, pos, hv) shuffle; a hash repeated k times fills one window
    group, which WindowExec spills past its buffer threshold — disk
    streaming for moderate repetition, never OOM — while CORPUS-SCALE
    hot hashes (sampled detection) bypass the window through a
    partial-aggregated broadcast route (``_annotate_hv``, guide §2.5),
    byte-identical by construction. The run-merge
    window is per doc; the cut-set rides home on an id join where AQE
    broadcasts it in the common case (cuts ≪ corpus). The corpus text
    itself never shuffles — the rewrite is a positional ``filter`` on
    the original split.
    """
    _occ = _span_occ_builder(text_col, id_col, span_tokens)
    sh = _occ(df)
    # detected corpus-scale hot hashes bypass the window (guide §2.5);
    # with none detected — the common case — this IS the pure window plan
    hot = _detect_hot_hvs(df, _occ)
    ann = _annotate_hv(sh, hot, need_win=True)
    flagged = ann.filter(
        (F.col("cnt") >= 2) & (F.struct("id", "pos") != F.col("win"))
    ).select("id", "pos")
    return _cut_flagged_spans(df, flagged, text_col, id_col, span_tokens)


def _cut_flagged_spans(
    df: DataFrame,
    flagged: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int,
) -> DataFrame:
    """Shared removal kernel: merge flagged window starts ``(id, pos)``
    into maximal spans and rebuild each document's text without them
    (the back half of ``substring_dedup`` and ``decontaminate``).

    Interval merge: starts p, p' belong to one span whenever
    p' - p <= span_tokens (their [p, p+span) coverages touch or overlap
    — NOT just consecutive starts: two runs a 10-token gap apart still
    produce overlapping spans at span_tokens=32, and naive run-merging
    would double-count the overlap in n_tokens_removed). Segment id =
    running count of gaps wide enough to break coverage, so merged spans
    are disjoint and their union is exactly the flagged coverage — the
    removed-token fold is exact. The per-doc window shuffles only the
    flagged rows; the corpus text rides home on one id join (AQE
    broadcasts the cut-set in the common case).

    The three stat columns are appended by NAME; an input that already
    carries one of them would come back with duplicate column names
    (ambiguous on first use) — refused up front instead. Callers with a
    colliding annotation rename it around the call (``prepare_corpus``
    stages 3c/3d do exactly that).
    """
    clash = sorted(
        {"n_tokens", "n_tokens_removed", "n_spans_removed"} & set(df.columns)
    )
    if clash:
        raise ValueError(
            f"span removal appends stat column(s) {clash} but the input "
            "already has them — rename the input column(s) first"
        )
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > span_tokens, 1
    ).otherwise(0)
    cuts = (
        flagged.withColumn("_seg", F.sum(brk).over(w))
        .groupBy("id", "_seg")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + span_tokens).alias("e"),
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_cut"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.filter(
        toks,
        lambda _, i: ~F.exists(
            F.col("_cut"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    out_text = F.when(F.col("_cut").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(" ", kept)
    )
    # merged spans never overlap: removed token total is a plain fold
    n_removed = F.coalesce(
        F.aggregate(
            "_cut", F.lit(0), lambda acc, sp: acc + sp["e"] - sp["s"]
        ),
        F.lit(0),
    )
    return (
        df.join(cuts, df[id_col] == cuts["id"], "left")
        .drop(cuts["id"])
        .select(
            *[
                out_text.alias(c) if c == text_col else F.col(c)
                for c in df.columns
            ],
            F.size(toks).alias("n_tokens"),
            n_removed.alias("n_tokens_removed"),
            F.coalesce(F.size("_cut"), F.lit(0)).alias("n_spans_removed"),
        )
    )


def benchmark_span_hashes(
    benchmark: DataFrame, text_col: str, span_tokens: int
) -> DataFrame:
    """The eval set reduced to its DISTINCT ``span_tokens``-token window
    hashes — columns ``(hv, span)``, where ``span`` carries the window
    size as provenance so ``decontaminate`` can refuse a mismatched
    reuse (8-token corpus windows semi-joined against 13-token eval
    hashes match nothing and would silently disable the gate). Compute
    once and persist when the same benchmark gates many corpora/batches;
    eval suites are MBs, so the set broadcasts.
    """
    return (
        shingles(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bid"),
                F.col(text_col).alias("_bt"),
            ),
            "_bt",
            "_bid",
            n=span_tokens,
            keep_short=False,
        )
        .select(
            _hash60(F.col("shingle")).alias("hv"),
            F.lit(span_tokens).alias("span"),
        )
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    span_tokens: int = 13,
    bench_hashes: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination with span REMOVAL: cut from every corpus
    document each token range whose every ``span_tokens``-token window
    also appears verbatim in the benchmark/eval set — the remediation
    counterpart to ``sampling.ngram_contamination`` (which only reports
    doc-level overlap). The standard pre-training hygiene step: a 13-gram
    collision with an eval suite (the GPT-3 appendix setting) is removed
    surgically, so a long document quoting one benchmark question keeps
    its other 10k tokens instead of being dropped whole.

    Unlike ``substring_dedup`` there is no canonical survivor: EVERY
    matching occurrence is cut (the eval set itself is never training
    data). Documents shorter than ``span_tokens`` pass through
    byte-identical, as do benchmark docs too short to leak a full window
    (the ``ngram_contamination`` contract). Returns the corpus columns
    with ``text_col`` rewritten plus ``n_tokens`` / ``n_tokens_removed``
    / ``n_spans_removed``; a wholly-contaminated document comes back with
    empty text, the caller's drop signal.

    Scale shape: the benchmark side reduces to a DISTINCT 8-byte hash
    set (eval suites are MBs against a 100-TB corpus; pass a persisted
    ``bench_hashes`` from ``benchmark_span_hashes`` when the same eval
    set gates many corpora or micro-batches) and broadcasts;
    the corpus windows hit it with a map-side left-semi join — the
    corpus never shuffles for matching, only the flagged (id, pos) rows
    move through the merge window, and the text rides one id join
    (``_cut_flagged_spans``).
    """
    sh = shingles(
        corpus, text_col, id_col, n=span_tokens, keep_short=False,
        positional=True,
    ).select("id", "pos", _hash60(F.col("shingle")).alias("hv"))
    if bench_hashes is not None:
        bench_hv = bench_hashes
        if "span" in bench_hv.columns:
            # provenance check: a hash set built at a different window
            # size matches essentially nothing — the gate would silently
            # no-op, which is the one failure mode decontamination must
            # never have. The span column is one distinct tiny value;
            # the probe is a trivially small job on a (usually persisted)
            # eval-side frame.
            spans = [int(r["span"]) for r in bench_hv.select("span").distinct().collect()]
            # an EMPTY hash set is valid provenance, not a mismatch: a
            # benchmark whose docs are all shorter than span_tokens yields
            # zero windows, and the gate is correctly a no-op (the
            # ngram_contamination short-doc contract) — only a CONFLICTING
            # recorded size is the silently-disabled-gate failure mode
            if spans and spans != [span_tokens]:
                raise ValueError(
                    f"decontaminate: bench_hashes were built at "
                    f"span_tokens={spans}, this call uses "
                    f"span_tokens={span_tokens} — rebuild with "
                    "benchmark_span_hashes at the matching size"
                )
            bench_hv = bench_hv.select("hv")
    else:
        bench_hv = benchmark_span_hashes(
            benchmark, bench_text_col or text_col, span_tokens
        ).select("hv")
    flagged = sh.join(F.broadcast(bench_hv), "hv", "left_semi").select(
        "id", "pos"
    )
    return _cut_flagged_spans(corpus, flagged, text_col, id_col, span_tokens)


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    min_chars: int = 2,
    boilerplate_min_df: int | None = None,
) -> DataFrame:
    """Paragraph-granular exact dedup with text reconstruction (the
    Dolma-style "dedupe paragraphs" stage): every paragraph that occurs
    more than once corpus-wide is removed from all but its canonical
    first occurrence — ordered by (document id, position in document) —
    and each document's text is rebuilt from the paragraphs it kept.

    ``boilerplate_min_df`` additionally removes a paragraph from EVERY
    document — canonical occurrence included — once it appears in at
    least that many distinct documents (the RefinedWeb-style frequent-
    line rule): a navigation header shared by 10k pages is template
    noise with no canonical home, and keeping one copy per corpus is
    still noise. Dedup semantics are unchanged below the cutoff.

    Sits between doc-level dedup (``exact_dedup``/``minhash_dedup``,
    which drop whole documents) and ``repeated_spans`` (which flags
    token ranges but does not rewrite): boilerplate headers, footers and
    license blocks vanish while the unique prose around them survives.
    Paragraphs shorter than ``min_chars`` (after trim) are exempt — they
    are structure (blank lines, list bullets), not content, and deduping
    them would collapse formatting corpus-wide.

    Returns the input columns with ``text_col`` rewritten plus
    ``n_paragraphs`` (before) and ``n_dropped``. Idempotent: a second
    pass finds no duplicate paragraphs and drops nothing.

    Scale shape: paragraphs are hashed to 60-bit longs at the explode,
    so winner selection moves (hash, id, int) rows — never paragraph
    text. In the default mode winner + count are WINDOW aggregates over
    the hv key (single scan: the old groupBy + back-join re-evaluated
    the paragraph explode + md5 on the probe side — guide §1.2 step 1;
    a hot hash's window group spills past the WindowExec buffer
    threshold, never OOMs, and sampled-detected CORPUS-SCALE hot
    paragraph hashes bypass the window through the partial-aggregated
    broadcast route of ``_annotate_hv``). With ``boilerplate_min_df`` the groupBy +
    join formulation stays: the exact distinct-doc count there must be
    a partial-aggregated count_distinct — a collect_set window over the
    10k-doc boilerplate group this rule exists to catch would buffer
    the whole set per occurrence row. The drop-set (one row per REMOVED
    paragraph) is then aggregated per doc and joined back to the corpus
    on the id key, where the original text is filtered positionally in
    place — the corpus text crosses a shuffle at most once (and zero
    times when AQE broadcasts the drop-set, the common case: drops ≪
    corpus).
    """
    paras = F.split(F.col(text_col), sep)

    def _occ(src: DataFrame) -> DataFrame:
        return (
            src.select(F.col(id_col).alias("id"), F.posexplode(paras))
            .filter(F.length(F.trim(F.col("col"))) >= min_chars)
            .select("id", "pos", _hash60(F.col("col")).alias("hv"))
        )

    ex = _occ(df)
    if boilerplate_min_df is None:
        # detected corpus-scale hot paragraph hashes (a nav header shared
        # by 10k pages) bypass the window, guide §2.5; with none detected
        # — the common case — this IS the pure window plan
        hot = _detect_hot_hvs(df, _occ)
        ann = _annotate_hv(ex, hot, need_win=True)
        drops = (
            ann.filter(
                (F.col("cnt") >= 2) & (F.struct("id", "pos") != F.col("win"))
            )
            .groupBy("id")
            .agg(F.sort_array(F.collect_set("pos")).alias("_drop_pos"))
        )
    else:
        winners = ex.groupBy("hv").agg(
            F.min(F.struct("id", "pos")).alias("win"),
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("id").alias("docs"),
        )
        # boilerplate occurrences drop unconditionally; duplicates drop
        # unless they are the canonical (min (id, pos)) occurrence
        is_bp = F.col("docs") >= boilerplate_min_df
        drops = (
            ex.join(winners.filter((F.col("cnt") >= 2) | is_bp), "hv")
            .filter((F.struct("id", "pos") != F.col("win")) | is_bp)
            .groupBy("id")
            .agg(F.sort_array(F.collect_set("pos")).alias("_drop_pos"))
        )
    keep_mask = lambda _, i: ~F.array_contains(F.col("_drop_pos"), i)  # noqa: E731
    kept = F.filter(paras, keep_mask)
    out_text = F.when(
        F.col("_drop_pos").isNull(), F.col(text_col)
    ).otherwise(F.concat_ws(sep, kept))
    return (
        df.join(drops, df[id_col] == drops["id"], "left")
        .drop(drops["id"])
        .select(
            *[
                out_text.alias(c) if c == text_col else F.col(c)
                for c in df.columns
            ],
            F.size(paras).alias("n_paragraphs"),
            F.coalesce(F.size("_drop_pos"), F.lit(0)).alias("n_dropped"),
        )
    )
