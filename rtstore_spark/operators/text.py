"""Text-analysis operators: language/script ID, quality features, token
counting, fingerprints. All built-in Column expressions (JVM, codegen'd) —
the library form of the inventory's text_* queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tiny per-language stopword lists for n-gram-free heuristic lang-id
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "fr": ["le", "la", "les", "et", "des", "est", "que", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "los", "de", "que", "es", "una", "por"],
}


def token_count(df: DataFrame, text_col: str) -> F.Column:
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


def bpe_ish_count(df: DataFrame, text_col: str) -> F.Column:
    """Words + digits + punctuation as separate tokens (BPE-order estimate)."""
    return F.size(
        F.expr(rf"regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")
    )


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality metrics for corpus filtering."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tokens = F.size(toks)
    no_ws = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.!?,;:]", ""))
    n_digit = F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(F.col(text_col), r"[^A-Z]", ""))
    return df.select(
        F.col(id_col).alias("id"),
        n_tokens.alias("n_tokens"),
        no_ws.alias("n_chars_no_ws"),
        F.round(no_ws / F.greatest(n_tokens, F.lit(1)), 6).alias("avg_token_len"),
        F.round(n_punct / F.greatest(no_ws, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_digit / F.greatest(no_ws, F.lit(1)), 6).alias("digit_ratio"),
        F.round(n_upper / F.greatest(no_ws, F.lit(1)), 6).alias("upper_ratio"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


def gopher_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The Gopher corpus-quality rule set (Rae et al. 2021, appendix A1.1)
    as one projection: per-rule signals plus the combined ``gopher_pass``.

    Complements ``quality_features`` (generic per-document ratios) with
    the published heuristic bundle a corpus run applies as a hard gate.
    All signals are Column algebra — one scan, no shuffle, and a
    ``gopher_pass``-only caller lets Catalyst prune the per-rule columns.
    Thresholds are the paper's: 50–100k words, mean word length 3–10,
    symbol-to-word ≤ 0.1, ≤ 90% bullet lines, ≤ 30% ellipsis lines,
    ≥ 80% words with an alphabetic character, ≥ 2 of the 8 core English
    stop words present. (The stop-word rule makes the bundle
    English-centric — run after a lang gate, as the paper does.)
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tokens = F.size(toks)
    nz = F.greatest(n_tokens, F.lit(1))
    no_ws = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    mean_word_len = no_ws / nz
    n_symbols = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\.|…"), F.lit(0))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda s: F.trim(s) != ""
    )
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_lines = F.size(
        F.filter(lines, lambda s: F.trim(s).rlike(r"^([-*•‣▪]|\d+[.)])\s"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda s: F.rtrim(s).rlike(r"(\.\.\.|…)$"))
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(w) for w in _STOPWORDS["en"]]),
        )
    )
    out = df.select(
        F.col(id_col).alias("id"),
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(n_symbols / nz, 6).alias("symbol_word_ratio"),
        F.round(alpha_words / nz, 6).alias("alpha_word_frac"),
        F.round(bullet_lines / n_lines, 6).alias("bullet_line_frac"),
        F.round(ellipsis_lines / n_lines, 6).alias("ellipsis_line_frac"),
        stop_hits.alias("stopword_hits"),
    )
    passes = (
        (F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 100_000)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    return out.withColumn("gopher_pass", passes)


def lang_id(
    df: DataFrame, text_col: str, id_col: str, extra: list | None = None
) -> DataFrame:
    """Language ID: script detection first, then stopword voting.

    A Han-character ratio ≥ 0.2 classifies 'zh' directly — stopword lists
    can't see CJK text (no whitespace-delimited function words), so a pure
    vote labels it 'und'. Latin-script languages fall through to the
    per-language stopword vote; highest wins, 'und' if all zero. Pure
    Column algebra — scores stay JVM-side and scale linearly. (Spark's
    Java regex spells the script class ``\\p{IsHan}``; DuckDB's RE2 spells
    it ``\\p{Han}`` — the oracle mirrors this.)

    ``extra``: additional Columns (aliased) carried through alongside the
    scores — lets callers compute sibling per-doc features in the same
    single projection instead of a join-back on id.
    """
    extra = list(extra or [])
    extra_names = [df.select(c).columns[0] for c in extra]
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    han = F.length(F.regexp_replace(F.col(text_col), r"[^\p{IsHan}]", ""))
    han_ratio = F.round(
        han * F.lit(1.0) / F.greatest(F.length(text_col), F.lit(1)), 6
    )
    out = df.select(
        F.col(id_col).alias("id"), toks.alias("_toks"),
        han_ratio.alias("han_ratio"), *extra,
    )
    score_cols = []
    for lang, words in _STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.array_intersect(F.array_distinct(F.col("_toks")), arr))
        score_cols.append(score.alias(f"score_{lang}"))
    out = out.select("id", "han_ratio", *extra_names, *score_cols)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _STOPWORDS])
    pred = F.when(F.col("han_ratio") >= 0.2, "zh").when(best == 0, "und")
    for lang in _STOPWORDS:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return out.select(
        "id", "han_ratio", *extra_names,
        *[f"score_{lang}" for lang in _STOPWORDS],
        pred.alias("pred_lang"),
    )


# PII patterns shared by pii_metrics / pii_scrub. Deliberately RE2-safe
# (no backreferences, no lookaround) so a SQL oracle (DuckDB) and Spark's
# Java regex agree exactly — the same engine-reproducibility contract the
# md5-derived hashes follow.
# Order matters for scrubbing: email, then ipv4, then phone — the phone
# shape is the loosest, and scrubbing it last (against already-redacted
# text) keeps it from eating pieces of emails or dotted quads. The phone
# pattern requires grouped digits with single [-() ] separators (no '.'
# and no newlines), so dotted quads and numbered lists never match.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"(?:\+?[0-9]{1,3}[-( ]?)?[0-9]{3}[-) ]?[0-9]{3}[- ]?[0-9]{4}",
}


def pii_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc PII match counts (email / phone / ipv4) — the detection half
    of a scrubbing pipeline, cheap enough to run corpus-wide as a quality
    column. Pure Column algebra, one projection, no shuffle."""
    cols = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias(f"n_pii_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    return df.select(F.col(id_col).alias("id"), *cols)


def _pii_scrub_chain(col, classes: list[str]):
    """The one place the scrub ordering + placeholder convention lives:
    returns (scrubbed Column, emitted-placeholder-count Column). Each
    class's count is taken against the text AFTER the previous classes
    were scrubbed, so the count equals the placeholders actually emitted —
    never double-counting a span two patterns both match. Placeholders
    contain no digits, so no later pattern can match inside one. Both
    ``pii_scrub`` and the corpus pipeline's scrub stage call this — the
    guarantees hold for every caller by construction."""
    scrubbed = col
    total = F.lit(0)
    for name in classes:
        pat = PII_PATTERNS[name]
        total = total + F.size(
            F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return scrubbed, total


def pii_scrub_expr(col, classes: list[str] | None = None):
    """Scrubbed-text Column for in-place redaction (e.g. a pipeline stage
    replacing the text column while preserving every other column)."""
    scrubbed, _ = _pii_scrub_chain(col, list(classes or PII_PATTERNS))
    return scrubbed


def pii_scrub(
    df: DataFrame, text_col: str, id_col: str, classes: list[str] | None = None
) -> DataFrame:
    """Redact PII in place: each matched span becomes ``<CLASS>`` (e.g.
    ``<EMAIL>``). Classes scrub in PII_PATTERNS order (email → ipv4 →
    phone; see ``_pii_scrub_chain`` for the ordering/counting contract).
    Returns (id, text, n_pii_total)."""
    scrubbed, total = _pii_scrub_chain(
        F.col(text_col), list(classes or PII_PATTERNS)
    )
    return df.select(
        F.col(id_col).alias("id"),
        scrubbed.alias("text"),
        total.alias("n_pii_total"),
    )


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals for quality filtering: line counts
    and the duplicate-line fraction (boilerplate documents — headers,
    navigation, templated spam — repeat lines heavily). One projection,
    no shuffle; the line arrays never leave the executor."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_unique = F.size(F.array_distinct(lines))
    return df.select(
        F.col(id_col).alias("id"),
        n_lines.alias("n_lines"),
        n_unique.alias("n_unique_lines"),
        F.round(
            F.lit(1.0) - n_unique / F.greatest(n_lines, F.lit(1)), 6
        ).alias("dup_line_frac"),
    )


def crossdoc_repetition(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """CROSS-document repetition: per doc, the fraction of its distinct
    n-gram shingles that also occur in at least ``min_df − 1`` OTHER
    documents. High ``common_frac`` marks boilerplate / templated /
    near-duplicated content that intra-doc signals
    (``repetition_metrics``) cannot see — the corpus-level quality gate
    CCNet/Gopher-style pipelines run before training.

    Returns (id, n_shingles, n_common, common_frac); docs shorter than
    ``n`` tokens report 0 shingles (a doc without a full n-gram cannot
    share one).

    Scale shape: shingles stream through the ``dedup.shingles`` zip_with
    chain (shuffle-free explode), are hashed to 60-bit longs BEFORE the
    per-doc distinct — so every exchange moves (id, 8-byte hv), never the
    shingle strings — then one partial-agg shuffle computes each hash's
    document frequency and an hv-keyed join carries it back to the
    per-doc aggregate. Three exchanges of fixed-width keys, all linear in
    corpus size; the df table groups and joins on the SAME key, so the
    exchange is reusable. No broadcast anywhere: the df table is
    corpus-sized by construction.
    """
    from rtstore_spark.operators.dedup import _hash60, shingles

    sh = (
        shingles(df, text_col, id_col, n=n, distinct=False, keep_short=False)
        .select("id", _hash60(F.col("shingle")).alias("hv"))
        .distinct()  # per-(doc, shingle) sets — df counts docs, not repeats
    )
    docfreq = sh.groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(docfreq, "hv")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_common"),
        )
    )
    # docs with no full n-gram drop out of `sh`; restore them with zeros so
    # every input doc gets a row (the filter-stage contract)
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("common_frac"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 2048,
    overlap: int = 128,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    pre-tokenization chunking stage of a training-data pipeline.
    Returns (id, chunk_idx, chunk_text, n_tokens); chunk boundaries are
    whitespace-token positions, stride = max_tokens - overlap, and the
    final chunk may be short (never empty). Deterministic given the text.

    Arrow-batched ``mapInPandas`` on purpose: an overlapping-window slice
    is not expressible as built-in Columns without referencing the token
    array inside a higher-order-function lambda, which Catalyst inlines
    with no CSE — re-running the tokenizer per chunk (O(L²/stride) per
    row). One Python pass per Arrow batch keeps it linear, stays fully
    distributed (no shuffle: scan → mapInPandas), and the output explodes
    map-locally like the shingle operators.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    # the id keeps the caller's type (string ids are first-class across
    # the operator library; a hard cast to long would null them silently)
    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk_text", T.StringType()),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    )

    def chunker(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, texts, lens = [], [], [], []
            for i, t in zip(pdf["id"], pdf["text"]):
                toks = (t or "").split()
                if not toks:
                    continue
                for ci, s in enumerate(
                    range(0, max(len(toks) - overlap, 1), stride)
                ):
                    seg = toks[s : s + max_tokens]
                    ids.append(i)
                    idxs.append(ci)
                    texts.append(" ".join(seg))
                    lens.append(len(seg))
            yield pd.DataFrame(
                {"id": ids, "chunk_idx": idxs, "chunk_text": texts,
                 "n_tokens": lens}
            )

    src = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(chunker, schema=schema)


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalized md5 fingerprint (whitespace-collapsed, lowercased)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select(F.col(id_col).alias("id"), F.md5(norm).alias("fingerprint"))


def rolling_hash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, window: int = 16, keep: int = 4
) -> DataFrame:
    """Winnowing-style fingerprints: hash every ``window``-token shingle and
    keep the ``keep`` smallest hashes per doc — a compact signature for
    containment detection (doc A quotes doc B).

    Shingling delegates to ``dedup.shingles``'s zip_with chain so the
    tokenizing ``split`` runs once per row. The previous formulation put the
    split inside a ``transform(sequence(...), i -> slice(...))`` lambda —
    Catalyst inlines project aliases into higher-order-function lambdas with
    no CSE, so the regex re-ran per sequence element: O(tokens²) per row,
    a scale-killer on 100k-token documents.
    """
    from pyspark.sql import Window

    from rtstore_spark.operators.dedup import _hash32, shingles

    hashed = shingles(df, text_col, id_col, n=window, distinct=False).select(
        "id", _hash32(F.col("shingle")).alias("hv")
    )
    w = Window.partitionBy("id").orderBy("hv")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= keep)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("hv")).alias("fingerprints"))
    )


def normalize_text(
    df: DataFrame,
    text_col: str,
    form: str | None = "NFC",
    fix_whitespace: bool = True,
) -> DataFrame:
    """Unicode + whitespace normalization — the stage-zero text cleanup
    every corpus pipeline (CCNet, Dolma, RedPajama) runs before hashing,
    dedup or quality scoring, so that byte-different renderings of the
    same text ("café" composed vs decomposed, CRLF vs LF, zero-width
    joiners pasted from the web) stop defeating exact-match operators
    downstream.

    In order: (1) drop C0/C1 control characters (keeping tab + newline;
    CR and CRLF become LF) and the zero-width/BOM code points; (2) apply
    Unicode normalization ``form`` (NFC default; NFKC folds width and
    ligature variants too; None skips); (3) when ``fix_whitespace``,
    collapse horizontal whitespace runs to one space, strip it before
    newlines, cap blank runs at one empty line, and trim the ends.
    Idempotent, and null text stays null.

    Scale shape: steps 1 and 3 are codegen'd ``regexp_replace`` chains —
    one projection, no shuffle, no Python. Step 2 is the one operation
    Spark has no built-in for; it runs as an Arrow-batched scalar pandas
    UDF (a per-batch ``unicodedata.normalize`` over strings, linear and
    shuffle-free) and is skipped entirely with ``form=None``. Output
    matches DuckDB's ``nfc_normalize`` for the default form — pinned by
    the oracle test.
    """
    col = F.col(text_col)
    # CRLF / CR → LF first so the control-strip can keep \n alone
    col = F.regexp_replace(col, r"\r\n?", "\n")
    col = F.regexp_replace(
        col,
        # Java-regex \uXXXX escapes: zero-width space/joiners, word-joiner, BOM
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F"
        "\\u200B\\u200C\\u200D\\u2060\\uFEFF]",
        "",
    )
    out = df.withColumn(text_col, col)
    if form is not None:
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(f"unknown normalization form: {form}")

        @F.pandas_udf(T.StringType())
        def _norm(s):
            import unicodedata

            return s.map(
                lambda x: None if x is None else unicodedata.normalize(form, x)
            )

        out = out.withColumn(text_col, _norm(F.col(text_col)))
    if fix_whitespace:
        c = F.col(text_col)
        c = F.regexp_replace(c, r"[^\S\n]+", " ")   # runs of blanks → one space
        c = F.regexp_replace(c, r" +\n", "\n")      # no trailing space on lines
        c = F.regexp_replace(c, r"\n{3,}", "\n\n")  # ≤ one empty line between paras
        out = out.withColumn(text_col, F.trim(c))
    return out


def keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_token_len: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the ``k`` highest tf·idf tokens.

    The corpus-statistics twin of ``quality_features`` — a training-data
    run uses it to tag documents with content terms for mixture analysis,
    topic sampling, or cheap retrieval labels without any external model.
    Tokens are lowercased whitespace words of at least ``min_token_len``
    chars with the edge punctuation stripped; idf is the smoothed
    ``ln((N+1)/(df+1)) + 1`` (scikit-learn's convention), tf is the raw
    within-doc count. Ties break by token for determinism.

    Returns (id, keywords array<string>, scores array<double>) — arrays
    ordered by descending score.

    Scale shape: one token explode feeding two partial-agg shuffles — the
    per-(doc, token) tf and the per-token document frequency — then an
    equi-join on the token key carries idf back and a per-doc window takes
    the top k (partitioned by id: linear, never a global sort). The doc
    count N is one tiny aggregate. Everything is fixed-width after the
    explode; document text never shuffles.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
        .select(
            "id", F.regexp_replace("t", r"^[^\w]+|[^\w]+$", "").alias("t")
        )
        .filter(F.length("t") >= min_token_len)
    )
    tf = tok.groupBy("id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    docfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1
    scored = tf.join(docfreq, "t").select(
        "id", "t", F.round(F.col("tf") * idf, 6).alias("score")
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.col("t"))
    top = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    return top.groupBy("id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_rk", "t", "score"))
            ),
            lambda s: s["t"],
        ).alias("keywords"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("_rk", "t", "score"))
            ),
            lambda s: s["score"],
        ).alias("scores"),
    )


def cluster_texts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    num_features: int = 1 << 18,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """Content clustering without external embeddings: hashed TF-IDF →
    L2-normalize → k-means. The text counterpart of
    ``similarity.kmeans_routes`` (which routes embedding columns): corpus
    runs use it to discover topical composition, drive per-cluster
    mixture weights (`sampling.mixture_stats` over the cluster column),
    or bound intra-cluster dedup candidates when no embedding exists.

    Returns (id, cluster).

    Scale shape: the feature pipeline is sparse END-TO-END — HashingTF
    emits sparse vectors (num_features is hash-space size, not row
    width), IDF and the normalizer preserve sparsity, and Spark ML's
    k-means computes distances against broadcast centers JVM-side. The
    corpus-sized data never densifies and never gathers on the driver;
    per-iteration cost is one scan plus a k×nnz partial aggregate. The
    hashing trick costs collisions instead of a vocabulary shuffle — the
    standard trade (raise ``num_features`` to trade memory for fidelity).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import IDF, HashingTF, Normalizer

    from rtstore_spark.operators.quality_classifier import drop_training_summary

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    src = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    tf = HashingTF(
        inputCol="_toks", outputCol="_tf", numFeatures=num_features
    ).transform(src)
    # IDF fits one pass (document frequencies), then scales map-side
    idf_model = IDF(inputCol="_tf", outputCol="_tfidf").fit(tf)
    feats = idf_model.transform(tf)
    normed = Normalizer(inputCol="_tfidf", outputCol="_feat", p=2.0).transform(
        feats
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter,
        featuresCol="_feat", predictionCol="cluster",
    ).fit(normed)
    # a retained summary breaks transform on sessions that ever
    # registered an Observation
    drop_training_summary(model, df.sparkSession)
    return model.transform(normed).select("id", "cluster")


def _term_hit_stream(
    df: DataFrame, text_col: str, id_col: str, terms: list[str]
) -> DataFrame:
    """(id, shingle) for every blocklist occurrence — the shared kernel of
    ``term_filter`` and ``prepare_corpus``'s gate. The pipeline anti-joins
    the distinct hit ids directly (it needs no zero rows), so its plan
    scans the source once for the shingle stream instead of inheriting
    term_filter's all-ids zero-restoration join."""
    from rtstore_spark.operators.dedup import shingles

    norm = sorted({" ".join(t.lower().split()) for t in terms if t.strip()})
    if not norm:
        raise ValueError("terms must contain at least one non-empty entry")
    by_n: dict[int, list[str]] = {}
    for t in norm:
        by_n.setdefault(len(t.split()), []).append(t)
    low = df.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_t")
    )
    spark = df.sparkSession
    hits = None
    for n, ts in sorted(by_n.items()):
        sh = shingles(low, "_t", "id", n=n, distinct=False, keep_short=False)
        tdf = spark.createDataFrame([(t,) for t in ts], "shingle STRING")
        h = sh.join(tdf, "shingle").select("id", "shingle")
        hits = h if hits is None else hits.unionByName(h)
    return hits


def term_filter(
    df: DataFrame, text_col: str, id_col: str, terms: list[str]
) -> DataFrame:
    """Blocklist metrics per document: how many times any of ``terms``
    occurs (the C4-style "bad words" gate — C4 dropped every page
    containing a listed term; Raffel et al. 2020, appx. A).

    Returns (id, n_term_hits, n_distinct_terms) for EVERY input doc
    (zeros when clean); gate with
    ``df.join(out.filter("n_term_hits == 0"), id)`` or keep the counts
    as a classifier feature. Matching is case-insensitive on whitespace
    token boundaries — multi-word phrases match exactly n consecutive
    tokens (including across line breaks, which tokenize like spaces).

    Scale shape: terms are grouped by word count and each group joins
    against the corpus's n-shingle stream (``dedup.shingles`` — the
    shuffle-free zip_with chain), so a 10k-phrase blocklist costs one
    equi-join per distinct phrase length, with the term side small by
    construction (AQE broadcasts it; no forced hint — same policy as
    ``ngram_contamination``). The corpus text itself never shuffles: the
    only exchange is the per-doc partial-agg of hit counts.
    """
    hits = _term_hit_stream(df, text_col, id_col, terms)
    per_doc = hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_term_hits"),
        F.count_distinct("shingle").alias("n_distinct_terms"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_term_hits", F.lit(0)).alias("n_term_hits"),
            F.coalesce("n_distinct_terms", F.lit(0)).alias("n_distinct_terms"),
        )
    )
