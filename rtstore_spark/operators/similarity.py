"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — one scan, no shuffle except the
final top-k reduce (Spark compiles orderBy+limit to TakeOrderedAndProject:
per-partition heaps + single merge, never a global sort).

Scale path: hyperplane-LSH bucketing (deterministic md5-derived planes) so a
query probes one bucket (plus optional neighbor buckets), and an IVF-style
variant using per-label/centroid routing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str) -> str:
    """JVM-side dot product over two float-array columns (no Python)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity; the norm-product floor makes a zero vector score
    0 against everything instead of raising DIVIDE_BY_ZERO under ANSI
    mode (or, worse, producing NaN — which Spark orders ABOVE every real
    value, so an all-zero embedding would become everyone's rank-1
    neighbor). No effect on nonzero vectors: any real norm product is
    far above the floor."""
    return F.expr(
        f"({dot_expr(a, b)}) / greatest(sqrt({dot_expr(a, a)})"
        f" * sqrt({dot_expr(b, b)}), 1e-12D)"
    )


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    with_q = df.withColumn("_q", qv)
    cos = cosine_expr(vec_col, "_q")
    return (
        with_q.select(F.col(id_col).alias("id"), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def _plane_component(seed: str, p: int, i: int) -> float:
    """Deterministic pseudo-random in [-1, 1): md5-derived, engine-agnostic."""
    import hashlib

    h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


def _plane_matrix(dim: int, planes: int, seed: str) -> list[list[float]]:
    return [
        [_plane_component(seed, p, i) for i in range(dim)] for p in range(planes)
    ]


def _bucket_expr(planes_col: Column, vec_col: str) -> Column:
    """Sign-pattern bucket of ``vec_col`` against a plane-matrix column
    (array<array<double>>): O(1) expression nodes regardless of dim."""
    return F.array_join(
        F.transform(
            planes_col,
            lambda plane: F.when(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col), plane, lambda x, c: x.cast("double") * c
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
        "",
    )


def hyperplane_bucket(vec_col: str, dim: int, planes: int = 8, seed: str = "lsh") -> Column:
    """Deterministic sign-pattern bucket id for a vector column.

    Plane components are md5-derived pseudo-randoms in [-1, 1) — identical on
    every executor, no RNG state to broadcast. The matrix enters the plan as
    an inline array literal folded through zip_with/aggregate — fine at test
    dims, but its plan text grows with planes × dim; for production dims
    (≥ 256, e.g. 768-d embeddings) use ``with_hyperplane_bucket``, which
    binds the matrix once as a broadcast one-row relation instead.
    """
    plane_arrays = ", ".join(
        "array(" + ", ".join(f"{_plane_component(seed, p, i)!r}D" for i in range(dim)) + ")"
        for p in range(planes)
    )
    return _bucket_expr(F.expr(f"array({plane_arrays})"), vec_col)


def with_hyperplane_bucket(
    df: DataFrame, vec_col: str, planes: int = 8, seed: str = "lsh",
    out_col: str = "bucket", dim: int | None = None,
) -> DataFrame:
    """Scale path: append a hyperplane-LSH ``out_col`` with the plane matrix
    bound ONCE as a broadcast single-row relation (LocalTableScan prints no
    data, so the plan stays small at any dim — an inline planes × dim
    literal is ~100 KB of plan text at dim 768 and slows every analysis
    pass). The broadcast of one row is free; the per-row math is identical
    to ``hyperplane_bucket``.
    """
    if dim is None:
        rows = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        if not rows:  # empty input: degrade to an empty result, not a crash
            return df.withColumn(out_col, F.lit(""))
        dim = rows[0]["d"]
    spark = df.sparkSession
    matrix_df = spark.createDataFrame(
        [(_plane_matrix(dim, planes, seed),)], "_planes: array<array<double>>"
    )
    return (
        df.crossJoin(F.broadcast(matrix_df))
        .withColumn(out_col, _bucket_expr(F.col("_planes"), vec_col))
        .drop("_planes")
    )


def build_lsh_index(
    df: DataFrame, vec_col: str, id_col: str, planes: int = 8, seed: str = "lsh"
) -> DataFrame:
    """Materialize (id, vec, bucket). Write this partitioned by bucket for
    partition-pruned probes at scale."""
    return with_hyperplane_bucket(df, vec_col, planes, seed).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col("bucket"),
    )


def _bucket_of(query_vec: list[float], planes: int, seed: str) -> list[str]:
    """Driver-side bucket computation for a literal query vector, including
    single-bit-flip neighbor buckets (multi-probe)."""
    bits = []
    for p in range(planes):
        dot = sum(float(x) * _plane_component(seed, p, i) for i, x in enumerate(query_vec))
        bits.append("1" if dot >= 0 else "0")
    main = "".join(bits)
    probes = [main]
    for flip in range(planes):  # multi-probe: Hamming-1 neighbors
        b = list(main)
        b[flip] = "0" if b[flip] == "1" else "1"
        probes.append("".join(b))
    return probes


def lsh_topk(
    index: DataFrame, query_vec: list[float], k: int = 10,
    planes: int = 8, seed: str = "lsh", multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: probe the query's bucket (+ Hamming-1 neighbors), exact
    cosine within. With a bucket-partitioned index this is a partition-pruned
    scan of ~(planes+1)/2^planes of the data."""
    probes = _bucket_of(query_vec, planes, seed)
    if not multiprobe:
        probes = probes[:1]
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    hits = index.filter(F.col("bucket").isin(probes)).withColumn("_q", qv)
    cos = cosine_expr("vec", "_q")
    return (
        hits.select("id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def compute_centroids(df: DataFrame, vec_col: str, route_col: str) -> DataFrame:
    """Element-wise mean vector per coarse route: (route, centroid).

    One posexplode + two partial-agg shuffles over (route, i) — rows scale
    with routes × dim, never with the corpus. Persist the result (it is the
    IVF index's tiny hot half) and pass it to ``ivf_topk`` so repeated
    queries skip the corpus scan entirely.
    """
    pos = df.select(
        F.col(route_col).alias("route"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    )
    return (
        pos.groupBy("route", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("route")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select("route", F.expr("transform(pairs, p -> p.c)").alias("centroid"))
    )


def write_ivf_index(
    df: DataFrame, vec_col: str, id_col: str, route_col: str, path: str
) -> None:
    """Materialize the IVF index: vectors parquet-partitioned by route (so a
    probe is a partition-pruned scan of nprobe directories) + persisted
    centroids under ``<path>/_centroids``."""
    df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(route_col).alias("route"),
    ).write.mode("overwrite").partitionBy("route").parquet(path)
    compute_centroids(df, vec_col, route_col).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/_centroids")


def read_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(vectors partitioned by route, centroids) from ``write_ivf_index``."""
    vecs = spark.read.parquet(path)
    cents = spark.read.parquet(path + "/_centroids")
    return vecs, cents


def ivf_topk(
    df: DataFrame, vec_col: str, id_col: str, route_col: str,
    query_vec: list[float], k: int = 10, nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: rank coarse partitions (``route_col``) by centroid
    similarity, scan only the best ``nprobe`` partitions.

    ``centroids``: a persisted (route, centroid) table from
    ``compute_centroids`` — without it they are recomputed from ``df`` (one
    extra corpus scan, fine for ad-hoc use, wasteful for repeated queries).
    When ``df`` is a route-partitioned parquet read (``write_ivf_index``),
    the broadcast-semi-join on route prunes to the probed partitions.
    Exact cosine within the probed partitions.
    """
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    cent = (
        centroids
        if centroids is not None
        else compute_centroids(df, vec_col, route_col)
    ).withColumn("_q", qv)
    ranked = cent.select(
        "route", cosine_expr("centroid", "_q").alias("route_score")
    ).orderBy(F.col("route_score").desc()).limit(nprobe)
    probed = df.join(
        F.broadcast(ranked.select(F.col("route").alias(route_col))), route_col
    ).withColumn("_q", qv)
    cos = cosine_expr(vec_col, "_q")
    return (
        probed.select(F.col(id_col).alias("id"), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# dimensionality reduction — distributed PCA over an embedding column
# ---------------------------------------------------------------------------


def kmeans_routes(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 256,
    seed: int = 7,
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]]]:
    """Learned coarse routing: spherical k-means over the embedding column.

    Returns ``(routed, centers)`` — the input rows with a ``route`` int
    column, and the k cluster centers as plain lists (feed either to
    ``write_ivf_index`` in place of hyperplane buckets, or to
    ``dedup.semdedup``).

    Vectors are L2-normalized first, so Euclidean k-means on the unit
    sphere clusters by cosine geometry (the SemDeDup/IVF convention).
    Distributed shape: Spark ML's KMeans is Lloyd's iterations with the
    k×dim center matrix broadcast each round and distances computed
    JVM-side — per-iteration cost is one scan + one k×dim partial agg,
    nothing corpus-sized ever gathers on the driver. Route assignment is
    ``model.transform`` (same broadcast-centers scan). Choose k ≈
    corpus_size / target_cluster_size: routing cost grows with k·dim per
    row, downstream intra-cluster work shrinks quadratically with
    cluster size.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from rtstore_spark.operators.quality_classifier import drop_training_summary

    norm = F.expr(
        f"transform({vec_col}, x -> cast(x as double) /"
        f" greatest(sqrt({dot_expr(vec_col, vec_col)}), 1e-12))"
    )
    feats = df.withColumn("_feat", array_to_vector(norm))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter,
        featuresCol="_feat", predictionCol="route",
    ).fit(feats)
    # the training summary pins the session inside the serialized model —
    # scoring then breaks on sessions that ever registered an Observation
    drop_training_summary(model, df.sparkSession)
    routed = model.transform(feats).drop("_feat")
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    return routed, centers


def pca_fit(df: DataFrame, vec_col: str, k: int) -> dict:
    """Fit a PCA basis over an embedding column, distributed.

    The sufficient statistics (count, Σx, Σxxᵀ) are computed per Arrow
    batch with ``mapInPandas`` (numpy does the d×d outer-product sums
    inside each executor) and folded on the driver — the collect is one
    row of d + d² doubles **per batch**, never per input row, and the
    fold is associative, so the result is partitioning-invariant. This is
    the standard moments-merge formulation: covariance needs Σxxᵀ, which
    no built-in Column aggregate expresses without a d²-fold row
    explosion, so the Arrow path IS the linear one. At d=768 a partial is
    ~4.7 MB — collect stays driver-safe up to thousands of batches; for
    larger d, tree-aggregate the partials in a second mapInPandas round.

    The d×d eigendecomposition runs on the driver (d is embedding width,
    never corpus size). Components get a deterministic sign (the
    largest-|component| coordinate is made positive) so refits and other
    engines agree exactly, not just up to sign.

    Returns ``{"mean", "components" (k×d, variance-descending),
    "explained_variance", "explained_variance_ratio", "n"}`` — plain
    lists, trivially JSON-persistable next to an IVF index.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if not len(vecs):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "ss": [(m.T @ m).ravel().tolist()],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, schema="n long, s array<double>, ss array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_fit: no vectors to fit")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    ss = np.sum([np.asarray(r["ss"]) for r in rows], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = (ss.reshape(d, d) - n * np.outer(mean, mean)) / max(n - 1, 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps, evs = eigvecs[:, order].T, eigvals[order]
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(np.trace(cov)) or 1.0
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": [float(v) for v in evs],
        "explained_variance_ratio": [float(v / total) for v in evs],
        "n": int(n),
    }


def pca_transform(
    df: DataFrame, vec_col: str, model: dict, out_col: str = "pca"
) -> DataFrame:
    """Project an embedding column onto a fitted PCA basis:
    ``out[i] = (x − mean) · component_i``, appended as ``out_col``
    (array<double>, length k).

    Pure Column algebra — the basis enters the plan as a literal
    array-of-arrays and the per-component mean offsets as a literal array
    (``(x − μ)·c = x·c − μ·c``, and μ·c is a constant), so the projection
    is one ``transform``/``zip_with``/``aggregate`` chain inside
    whole-stage codegen: no shuffle, no Python in the hot path. Like
    ``hyperplane_bucket``, the literal grows with k × d; for very large
    bases bind the matrix as a broadcast one-row relation instead (the
    ``with_hyperplane_bucket`` pattern).
    """
    import numpy as np

    comps = np.asarray(model["components"], dtype=np.float64)
    offsets = comps @ np.asarray(model["mean"], dtype=np.float64)
    comp_lit = F.expr(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{c!r}D" for c in row) + ")" for row in comps
        ) + ")"
    )
    off_lit = F.expr("array(" + ", ".join(f"{o!r}D" for o in offsets) + ")")
    proj = F.transform(
        comp_lit,
        lambda comp, i: F.aggregate(
            F.zip_with(F.col(vec_col), comp, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        - off_lit[i],
    )
    return df.withColumn(out_col, proj)


def rrf_fuse(
    results: dict[str, DataFrame],
    id_col: str = "id",
    k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked result lists (Cormack et al.
    2009): the standard way to combine lexical
    (``retrieval.bm25_batch_topk``) and vector
    (``brute_force_topk``/``lsh_topk``/``ivf_topk``) retrieval without
    score calibration — each list contributes 1/(k_rrf + rank) and the
    sums rank the fused output.

    Each input DataFrame is (id, score) shaped — its single non-id
    column orders it descending (ties break on id, so fusion is
    deterministic). Returns the top ``k`` as (id, rrf, rank_<name>...),
    with null rank for lists that missed the id.

    Scale note: inputs are top-k lists — k rows each, not corpora — so
    the global rank windows and outer joins here are over bounded
    relations by construction; the expensive work already happened
    inside the retrievers.
    """
    if not results:
        raise ValueError("results must contain at least one ranked list")
    import re

    for name in results:
        # names become rank_<name> columns; dots/backticks would mis-parse
        # as nested-field access when referenced
        if not re.fullmatch(r"\w+", name):
            raise ValueError(f"list name {name!r} must match [A-Za-z0-9_]+")
    fused = None
    score = None
    for name, df in sorted(results.items()):
        others = [c for c in df.columns if c != id_col]
        if len(others) != 1:
            raise ValueError(
                f"list {name!r} must be (id, score) shaped, got {df.columns}"
            )
        w = Window.orderBy(F.col(others[0]).desc(), F.col(id_col))
        r = df.select(
            F.col(id_col).alias("id"),
            F.row_number().over(w).alias(f"rank_{name}"),
        )
        fused = r if fused is None else fused.join(r, "id", "full_outer")
        part = F.when(
            F.col(f"rank_{name}").isNotNull(),
            1.0 / (F.lit(k_rrf) + F.col(f"rank_{name}")),
        ).otherwise(0.0)
        score = part if score is None else score + part
    # order and cut on the EXACT score — adjacent deep ranks differ by
    # less than 1e-6, so rounding first could tie distinct scores and
    # drop the truly-higher item at the limit boundary; the rounded
    # column is presentation only
    return (
        fused.select("id", score.alias("_rrf"), *[
            c for c in fused.columns if c != "id"
        ])
        .orderBy(F.col("_rrf").desc(), F.col("id"))
        .limit(k)
        .select(
            "id",
            F.round(F.col("_rrf"), 6).alias("rrf"),
            *[c for c in fused.columns if c != "id"],
        )
    )


def knn_join(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    seed: str = "knn",
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor SELF-join: for every vector, its
    top-``k`` cosine neighbors among vectors sharing at least one LSH
    band — the kNN-graph builder behind graph clustering, SemDeDup-style
    analysis and link-based quality propagation.

    Banding is OR-amplification (same scheme as the minhash pipeline):
    the ``num_planes`` sign bits split into ``bands`` keys of
    ``num_planes/bands`` bits, and a pair is a candidate if ANY band
    matches — recall rises with ``bands`` while per-bucket population
    stays bounded by the band width. Complements the existing surface:
    ``brute_force_topk``/``lsh_topk``/``ivf_topk`` answer one query
    vector, ``embedding_neardup_pairs`` answers a global threshold;
    this answers "everyone's k nearest", which neither shape gives.

    Shape at scale — every exchange is on fixed-width keys, never raw
    vectors except the two id-keyed rejoins: band-bucket equi-join →
    distinct candidate (id, id) pairs (so each pair's cosine is computed
    ONCE however many bands it matched) → two 8-byte-key joins to
    re-attach vectors → exact cosine → per-source window top-k. Bucket
    population is n / 2^(num_planes/bands) in expectation; raise the
    band width if a skewed embedding space concentrates a bucket.

    Returns (id, nbr_id, cosine, rank), rank 1..k per id; vectors whose
    bands matched nothing are absent (no neighbors found — raise
    ``bands`` for more recall).
    """
    if num_planes % bands != 0:
        raise ValueError("num_planes must divide evenly into bands")
    per_band = num_planes // bands
    # (id, v) feeds THREE consumers — the bucket/band stream and both
    # vector rejoins — so persist it rather than trusting ReusedExchange
    # (the semdedup/prepare_corpus precedent); pass ``dim`` to skip the
    # inference job entirely. Cache lifetime: session (see semdedup note).
    from pyspark import StorageLevel

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keyed = with_hyperplane_bucket(
        base, "v", planes=num_planes, seed=seed, dim=dim
    )
    banded = keyed.select(
        "id",
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(f"{b}:"),
                    F.substring("bucket", b * per_band + 1, per_band),
                )
                for b in range(bands)
            ])
        ).alias("band_sig"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, "band_sig")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("id"), F.col("b.id").alias("nbr_id"))
        .distinct()
    )
    # rejoins never need the bucket — read the cheaper pre-bucket frame
    va = base.select(F.col("id"), F.col("v").alias("_va"))
    vb = base.select(F.col("id").alias("nbr_id"), F.col("v").alias("_vb"))
    scored = (
        cand.join(va, "id")
        .join(vb, "nbr_id")
        .select(
            "id", "nbr_id", F.round(cosine_expr("_va", "_vb"), 6).alias("cosine")
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_clusters(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    threshold: float = 0.7,
    num_planes: int = 16,
    bands: int = 4,
    seed: str = "knn",
    dim: int | None = None,
) -> DataFrame:
    """Mutual-kNN clustering: connected components of the graph whose
    edges are vector pairs that (a) appear in EACH OTHER's approximate
    top-``k`` and (b) clear the cosine ``threshold``. Mutuality is the
    classic guard against chaining through hub vectors — a point near a
    cluster boundary lists the hub, but the hub's own top-k is full of
    its true cluster, so the one-way edge is dropped.

    Returns (id, cluster) with cluster = the component's minimum id —
    only for vectors that have at least one mutual edge; everything
    absent is its own singleton (callers left-join and coalesce to id).
    Components are exact (pointer-jumping ``dedup.connected_components``,
    O(log diameter) rounds).

    Cost: one ``knn_join`` (see its shape note) + a self-join of the
    k·n edge list on the canonical pair key + component propagation
    over mutual edges only.
    """
    from rtstore_spark.operators.dedup import connected_components

    g = knn_join(
        df, vec_col, id_col, k=k, num_planes=num_planes, bands=bands,
        seed=seed, dim=dim,
    ).filter(F.col("cosine") >= threshold)
    canon = g.select(
        F.least("id", "nbr_id").alias("id_a"),
        F.greatest("id", "nbr_id").alias("id_b"),
    )
    # a mutual pair contributes one row from each direction
    mutual = (
        canon.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("id_a", "id_b")
    )
    return connected_components(mutual).select(
        "id", F.col("comp").alias("cluster")
    )


# ---------------------------------------------------------------------------
# product quantization — compressed-domain ANN (PQ / IVF-PQ layout)
# ---------------------------------------------------------------------------


def _pq_sample_gate(vec_col: str, per_myriad: int) -> Column:
    """Deterministic content-hash sampling gate (keep ≈ per_myriad/10000):
    md5 of the vector's JSON rendering, first 8 hex digits mod 10000 — the
    same engine-reproducible family as the LSH planes, so a refit on the
    same corpus trains on the same rows regardless of partitioning."""
    h = F.conv(
        F.substring(F.md5(F.to_json(F.struct(F.col(vec_col)))), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(10000)) < per_myriad


def pq_fit(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ksub: int = 256,
    seed: int = 7,
    max_train: int = 65536,
    iters: int = 25,
) -> dict:
    """Fit a product quantizer (Jégou, Douze, Schmid 2011): split the
    L2-normalized vector into ``m`` contiguous subvectors and learn an
    independent ``ksub``-word codebook per subspace with Lloyd's k-means.

    A fitted PQ turns every d-float embedding into ``m`` small ints —
    at m=8, a 64-dim float vector (256 B raw) becomes 8 bytes, a 32×
    compression — and distance evaluation into table lookups
    (``ivf_pq_search_batch``). That is the standard way a 100-TB
    embedding corpus becomes scannable: the CODES table fits where the
    vectors never would, and candidate generation reads codes only;
    exact re-ranking (``brute_force_topk`` on the survivors) touches raw
    vectors for a few hundred rows, not the corpus.

    Training follows the faiss convention: k-means runs on a bounded
    **sample** (``max_train`` rows, deterministic content-hash gate) —
    codebook quality saturates around 100–1000 training points per
    centroid, so sampling is the correct scale behavior, not a shortcut.
    Cost: one count + one gated scan collecting ≤ max_train vectors;
    Lloyd's iterations are driver-side numpy over that sample (m × ksub
    × dsub ≈ a few MB of centroids). Everything is seeded/md5-derived —
    two fits on the same corpus produce byte-identical codebooks.

    Returns ``{"m", "dsub", "ksub", "dim", "codebooks"}`` with codebooks
    as an (m, ksub, dsub) nested list (plain JSON-able floats).
    ``ksub`` is clipped to the training-row count. Raises if the
    dimension does not divide evenly by ``m``.
    """
    import numpy as np

    nonnull = df.filter(F.col(vec_col).isNotNull())
    n = nonnull.count()  # null-vector rows must not inflate the sample rate
    if n == 0:
        raise ValueError("pq_fit: no vectors to fit")
    if n > max_train:
        per_myriad = max(1, int(10000 * max_train / n))
        sample = nonnull.filter(_pq_sample_gate(vec_col, per_myriad))
    else:
        sample = nonnull
    # collect WITH the content key and sort by it driver-side: collect()
    # row order is partition-layout-dependent, and both the k-means init
    # (rng.choice indexes into row order) and tie-breaking depend on it —
    # sorting by the same md5 the sample gate uses makes two fits on the
    # same corpus byte-identical regardless of partitioning/cluster size
    rows = sample.select(
        F.md5(F.to_json(F.struct(F.col(vec_col)))).alias("k"),
        F.col(vec_col).alias("v"),
    ).collect()
    rows.sort(key=lambda r: r["k"])
    if not rows:
        raise ValueError("pq_fit: no vectors to fit (sample gate kept zero rows)")
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    ksub = min(ksub, x.shape[0])
    rng = np.random.RandomState(seed)
    codebooks = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[rng.choice(xs.shape[0], size=ksub, replace=False)].copy()
        for _ in range(iters):
            # ||x - c||² = ||x||² - 2x·c + ||c||²; ||x||² is rank-invariant
            d = -2.0 * xs @ cents.T + (cents**2).sum(axis=1)
            assign = d.argmin(axis=1)
            moved = False
            for c in range(ksub):
                mask = assign == c
                if mask.any():  # empty cluster keeps its center (determinism)
                    nc = xs[mask].mean(axis=0)
                    if not np.array_equal(nc, cents[c]):
                        cents[c] = nc
                        moved = True
            if not moved:
                break
        codebooks.append(cents.tolist())
    return {"m": m, "dsub": dsub, "ksub": ksub, "dim": dim, "codebooks": codebooks}


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, model: dict
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int> of length m).

    Arrow-batched ``mapInPandas``: per batch, each subspace's nearest
    codeword is one numpy GEMM against the (ksub, dsub) codebook —
    argmin over 256 centroids × m subspaces as 2048 codegen'd Column
    expressions would blow past the JVM method-size limit, so the
    batched-BLAS path IS the fast one here (same reasoning as
    ``pca_fit``). Shuffle-free: scan → MapInPandas, nothing else. The
    codebooks ship by value in the closure (m·ksub·dsub floats, ≤ a few
    MB — broadcast-sized by construction). Null vectors are dropped;
    a vector of the wrong dimension raises inside the batch rather than
    mis-encoding. The id column keeps the caller's type.
    """
    return _pq_encode_impl(df, vec_col, id_col, model, with_error=False)


def _pq_encode_impl(
    df: DataFrame, vec_col: str, id_col: str, model: dict, with_error: bool,
) -> DataFrame:
    """``pq_encode`` body; with ``with_error`` an extra ``_qerr`` double
    column carries each row's squared reconstruction error
    ‖x − x̂‖² (x L2-normalized, x̂ the chosen codewords) — computed in
    the SAME numpy pass (the subspace distances already include every
    term: err = Σ_j min_j d, clamped at 0 for float cancellation), so
    quantization-quality monitoring costs nothing extra per batch."""
    import numpy as np

    cb = [np.asarray(c, dtype=np.float64) for c in model["codebooks"]]
    m, dsub, dim = model["m"], model["dsub"], model["dim"]
    cnorms = [(c**2).sum(axis=1) for c in cb]
    id_type = df.schema[id_col].dataType.simpleString()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.dropna(subset=["_v"])
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            if x.shape[1] != dim:
                raise ValueError(
                    f"pq_encode: vector dim {x.shape[1]} != model dim {dim}"
                )
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            err = np.zeros(x.shape[0]) if with_error else None
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d = -2.0 * xs @ cb[j].T + cnorms[j]
                codes[:, j] = d.argmin(axis=1)
                if with_error:
                    # ‖xs − c‖² = ‖xs‖² + (‖c‖² − 2⟨xs,c⟩) — the min of d
                    # is the parenthesized part for the chosen codeword
                    err += (xs**2).sum(axis=1) + d.min(axis=1)
            out = {"id": pdf["id"], "codes": list(codes.tolist())}
            if with_error:
                out["_qerr"] = np.maximum(err, 0.0)
            yield pd.DataFrame(out)

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    schema = f"id {id_type}, codes array<int>"
    if with_error:
        schema += ", _qerr double"
    return src.mapInPandas(encode, schema=schema)


def ivf_pq_search_batch(
    codes: DataFrame,
    model: dict,
    centroids: DataFrame,
    queries: DataFrame,
    query_vec_col: str,
    query_id_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "id",
    codes_col: str = "codes",
    route_col: str = "route",
) -> DataFrame:
    """Batch ANN: every row of a QUERY TABLE against the IVF-PQ index at
    once — the shape every other top-k op here lacks (they take one query
    vector as a literal). This is the RAG-ingestion / semantic-join
    workload: "embed today's million new documents and find each one's
    top-k against the ten-billion-vector index" as ONE Spark job, not a
    driver loop of per-query plans.

    Returns (query_id, id, score, rank), rank 1..k per query, score ≈
    cosine (ADC — the query side stays exact). It is the one ADC scorer:
    a single query is a one-row query table, and plain PQ over every code
    is a one-route index (every code row ``route = 0``, one centroid).

    Scale shape:

    - query routing is an Arrow-batched GEMM against the (routes, dim)
      centroid matrix (same reasoning as ``assign_routes``), emitting
      nprobe (query_id, route) rows per query — never a query×centroid
      cross join;
    - candidates come from ONE equi-join of those route keys against the
      codes table: each query touches only its probed routes' m-byte
      codes, and the join key is a small int, so the big side shuffles
      code rows only where probed (with AQE broadcasting the probe side
      when the query batch is small);
    - scoring rejoins the query VECTORS by query_id (one hash join; the
      raw vectors ride to candidates once, never through the route
      explode) and computes ADC per batch by deduplicating the batch to
      its unique queries (``np.unique``), building each unique query's
      ADC lookup table (lut[j][c] = ⟨q_j, codebook_j[c]⟩) with one
      einsum, and scoring every candidate row with an O(n·m) fancy
      gather (no per-row python loop, no O(n·dim) reconstruction);
    - top-k is a per-query window (partitioned by query_id, never
      SinglePartition).

    Null query vectors are dropped. Dimensions are validated inside the
    batch. Queries with fewer than k candidates in their probed routes
    return what exists (the ivf contract).
    """
    import numpy as np

    cents = centroids.orderBy(route_col).collect()
    centers = np.asarray(
        [list(map(float, r["centroid"])) for r in cents], dtype=np.float64
    )
    routes_ids = [int(r[route_col]) for r in cents]
    centers /= np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)
    n_probe = min(nprobe, len(routes_ids))
    dim = model["dim"]
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    def route_queries(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.dropna(subset=["_qv"])
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_qv"]])
            if x.shape[1] != dim:
                raise ValueError(
                    f"ivf_pq_search_batch: query dim {x.shape[1]} != "
                    f"model dim {dim}"
                )
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ centers.T
            # top-nprobe routes per query, ranked (argsort desc)
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            out = {
                "query_id": np.repeat(pdf["query_id"].to_numpy(), n_probe),
                "route": np.asarray(
                    [routes_ids[j] for j in top.ravel()], dtype=np.int32
                ),
            }
            yield pd.DataFrame(out)

    q_src = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qv")
    )
    probes = q_src.mapInPandas(
        route_queries, schema=f"query_id {qid_type}, route int"
    )
    cand = codes.select(
        F.col(id_col).alias("id"),
        F.col(codes_col).alias("_codes"),
        F.col(route_col).alias("route"),
    ).join(probes, "route")
    # the raw query vectors join the candidates ONCE, keyed by query_id
    cand = cand.join(q_src.filter(F.col("_qv").isNotNull()), "query_id")

    cb = np.asarray(model["codebooks"], dtype=np.float64)  # (m, ksub, dsub)
    m = model["m"]

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # A batch holds each query's vector duplicated once per
            # CANDIDATE row. Deduplicate to the batch's UNIQUE queries
            # first: the per-row python loop (np.stack over every cell)
            # and the normalization then run u times, not n times, and
            # scoring goes through a per-query ADC lookup table, so the
            # gather is O(n·m) instead of reconstructing x̂ at O(n·dim)
            # (dim = m·dsub, an 8× flop cut at dsub=8). Profiled on the
            # bench shape: the row-loop over duplicated vectors WAS the
            # stage's dominant cost, not the arithmetic.
            qid_arr = pdf["query_id"].to_numpy()
            _, first_idx, inv = np.unique(
                qid_arr, return_index=True, return_inverse=True
            )
            q = np.stack(
                [
                    np.asarray(pdf["_qv"].iloc[i], dtype=np.float64)
                    for i in first_idx
                ]
            )  # (u, dim)
            q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            qsub = q.reshape(len(first_idx), m, -1)  # (u, m, dsub)
            lut = np.einsum("ujd,jkd->ujk", qsub, cb)  # (u, m, ksub)
            c = np.asarray(list(pdf["_codes"]), dtype=np.int64)  # (n, m)
            scores = lut[
                inv[:, None], np.arange(m)[None, :], c
            ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "id": pdf["id"],
                    "score": np.round(scores, 6),
                }
            )

    id_type = codes.schema[id_col].dataType.simpleString()
    scored = cand.mapInPandas(
        adc, schema=f"query_id {qid_type}, id {id_type}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def rerank_exact_batch(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_vec_col: str,
    query_id_col: str,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact re-ranking of ANN candidates — the second half of the
    standard 100-TB recipe (``ivf_pq_search_batch`` with k′ ≈ 10·k for
    candidates, then exact cosine on just the survivors): join each
    (query_id, id) candidate pair back to the RAW vectors on both sides,
    score with the JVM ``cosine_expr`` kernel, keep the exact top-``k``
    per query. Raw vectors are touched only for candidate rows — a few
    hundred per query, never the corpus.

    Returns (query_id, id, score, rank) with exact cosine scores
    (rounded to 6, id tie-break) — same shape as the batch search, so
    the two compose: ``rerank_exact_batch(ivf_pq_search_batch(...), …)``.
    Shape: two hash joins on ids (the candidate side is the small one —
    AQE broadcasts it against the corpus scan) + a per-query window.
    """
    cand = candidates.select("query_id", "id")
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
    ).filter(F.col("_qv").isNotNull())
    cv = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_cv")
    ).filter(F.col("_cv").isNotNull())
    scored = (
        cand.join(cv, "id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "id",
            F.round(cosine_expr("_qv", "_cv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def pq_save(spark, model: dict, path: str) -> None:
    """Persist a PQ model as one tiny parquet: rows (j, c, codeword) plus
    the scalar config embedded per-row (self-describing, no side file)."""
    rows = [
        (j, c, list(map(float, w)), model["m"], model["dsub"], model["ksub"], model["dim"])
        for j, cb in enumerate(model["codebooks"])
        for c, w in enumerate(cb)
    ]
    spark.createDataFrame(
        rows, "j int, c int, w array<double>, m int, dsub int, ksub int, dim int"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def pq_load(spark, path: str) -> dict:
    """Reload a model written by ``pq_save``."""
    rows = spark.read.parquet(path).collect()
    head = rows[0]
    m, dsub, ksub, dim = head["m"], head["dsub"], head["ksub"], head["dim"]
    codebooks = [[None] * ksub for _ in range(m)]
    for r in rows:
        codebooks[r["j"]][r["c"]] = list(r["w"])
    return {"m": m, "dsub": dsub, "ksub": ksub, "dim": dim, "codebooks": codebooks}


def write_pq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    route_col: str,
    model: dict,
    path: str,
    carry_ledger: bool = False,
) -> None:
    """Materialize an IVF-PQ index — the durable form of the full ANN
    stack for a corpus that will be queried many times:

    - ``<gen>/codes``      — (id, codes, route) parquet, PARTITIONED BY
      route, so a route-filtered read is a partition-pruned scan of
      those directories over m-byte codes (at m=8 the whole index for a
      billion vectors is ~8 GB + ids — a single executor's disk);
    - ``<gen>/_centroids`` — the coarse router (``compute_centroids``);
    - ``<gen>/_model``     — the PQ codebooks (``pq_save``);
    - ``<gen>/_stats.json``— ``{"n", "train_mse"}``: the corpus size
      and mean squared reconstruction error under these codebooks at
      build time — the frozen-quantizer quality reference every later
      increment's drift ratio is measured against (``pq_index_drift``).

    One corpus scan total: codes are encoded on the way in (the error
    stat rides the same numpy pass). Readers get everything back with
    ``read_pq_index`` and query via ``ivf_pq_search_batch``; exact
    re-ranking (``rerank_exact_batch``) joins survivors back to the raw
    vectors by id.

    A full rebuild behind the root ``_current`` pointer flip
    (``store.increments.rebuild``): a crash before the flip leaves the
    previous generation — base AND its increments — fully live, and
    the flip retires the old generation's increments with its base.
    ``carry_ledger`` carries the exactly-once batch-tag ledger into the
    rebuild so a ``pq_index_sink`` stream never needs a checkpoint
    reset — THE rebuild mode for the retrain-on-drift playbook
    (README), since periodic retrains are mandatory while ingest never
    stops. Contract: the rebuild corpus contains every committed
    batch's vectors.
    """
    import json as _json

    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    spark = df.sparkSession

    def write(base: str) -> None:
        coded = _pq_encode_impl(
            df, vec_col, id_col, model, with_error=True
        ).persist()
        try:
            codes = coded.drop("_qerr").join(
                df.select(
                    F.col(id_col).alias("id"), F.col(route_col).alias("route")
                ),
                "id",
            )
            codes.write.mode("overwrite").partitionBy("route").parquet(
                base + "/codes"
            )
            estats = coded.agg(
                F.count(F.lit(1)).alias("n"), F.avg("_qerr").alias("mse")
            ).collect()[0]
        finally:
            coded.unpersist()
        compute_centroids(df, vec_col, route_col).coalesce(1).write.mode(
            "overwrite"
        ).parquet(base + "/_centroids")
        pq_save(spark, model, base + "/_model")
        fs_for(base, spark).write_text_atomic(
            base + "/_stats.json",
            _json.dumps(
                {"n": int(estats["n"]),
                 "train_mse": float(estats["mse"] or 0.0)}
            ),
        )

    increments.rebuild(
        spark, path, op="write_pq_index", carry_ledger=carry_ledger,
        write=write,
    )
    _retire_root_layout(spark, path)


def _retire_root_layout(spark, path: str) -> None:
    # ONE-TIME MIGRATION HAZARD, documented: the pre-pointer root-layout
    # artifacts predate the generation pointer, so a reader still holding
    # a lazy plan against them loses its files at the first generational
    # rebuild or fold — grace-of-one retention cannot cover a layout the
    # pointer protocol never managed. Quiesce legacy readers first.
    from rtstore_spark.store.fs import fs_for

    fs = fs_for(path, spark)
    for legacy in ("codes", "_centroids", "_model", "inc"):
        fs.delete(f"{path}/{legacy}", recursive=True)


def resolve_index_base(spark, path: str) -> str:
    """The live BASE directory of an index: ``<path>/gen-N`` named by the
    root ``_current`` pointer, or (legacy pre-pointer layout) ``path``
    itself. Every reader and appender resolves through this, so a
    rebuild's pointer flip atomically retargets them all."""
    from rtstore_spark.store import increments

    return increments.live_base(spark, path) or path


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """(codes partitioned by route, centroids, model) from
    ``write_pq_index`` — pass straight to ``ivf_pq_search_batch``. Codes
    are the union of the live base generation and every COMMITTED
    ``append_pq_index`` increment of THAT generation; each union arm is
    its own route-partitioned parquet read, so a route filter skips
    directories in every arm. ``ivf_pq_search_batch`` does not yet
    prune the codes scan to its probed routes (ROADMAP)."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    base = resolve_index_base(spark, path)
    codes = spark.read.parquet(base + "/codes")
    for inc in increments.increment_dirs(fs_for(base, spark), base):
        codes = codes.unionByName(spark.read.parquet(inc))
    return (
        codes,
        spark.read.parquet(base + "/_centroids"),
        pq_load(spark, base + "/_model"),
    )


def assign_routes(
    df: DataFrame, vec_col: str, centers: list[list[float]]
) -> DataFrame:
    """Route each vector to its nearest centroid (cosine geometry:
    vectors and centers are L2-normalized before the distance, matching
    ``kmeans_routes``). Returns the input plus a ``route`` int column.

    Arrow-batched GEMM against the (k, dim) center matrix — the same
    argmin-over-codewords shape as ``pq_encode`` and the same reasoning:
    k×dim distance expressions in codegen would blow the JVM method-size
    limit at real k, while one numpy matmul per batch is the linear
    path. Centers ship by value (k·dim floats — broadcast-sized by
    construction). Shuffle-free. Null vectors get route −1 rather than
    being dropped: the caller decides.
    """
    import numpy as np

    c = np.asarray(centers, dtype=np.float64)
    c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    cn = (c**2).sum(axis=1)
    dim = c.shape[1]
    cols = df.columns

    def route(batches):
        for pdf in batches:
            vecs = pdf["_v"]
            mask = vecs.notna()
            out = np.full(len(pdf), -1, dtype=np.int32)
            if mask.any():
                x = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
                )
                if x.shape[1] != dim:
                    raise ValueError(
                        f"assign_routes: vector dim {x.shape[1]} != "
                        f"centers dim {dim}"
                    )
                x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
                d = -2.0 * x @ c.T + cn
                out[np.asarray(mask)] = d.argmin(axis=1)
            pdf = pdf.drop(columns=["_v"])
            pdf["route"] = out
            yield pdf

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    ) + ", route int"
    return df.withColumn("_v", F.col(vec_col)).mapInPandas(route, schema=schema)


def append_pq_index(
    df: DataFrame, vec_col: str, id_col: str, path: str,
    batch_tag: str | None = None,
) -> None:
    """Incrementally extend a persisted IVF-PQ index with new vectors —
    the daily-crawl maintenance path: encode and route ONLY the new rows
    (one scan of the increment; the existing corpus is never re-read,
    never re-encoded) and append them into the route-partitioned codes
    table. Routing uses the index's own persisted centroids and encoding
    its own codebooks, so appended codes are exactly what a full rebuild
    would have produced for those rows; queries see the union
    immediately.

    The codebooks and centroids themselves are deliberately NOT updated:
    a quantizer that drifts with every append would silently change the
    meaning of already-stored codes (old codes decode against new
    codebooks — garbage). That is the faiss contract too: train once on
    a representative sample, append forever, retrain + rebuild only when
    the corpus distribution has genuinely moved.

    Caller contract: ids must be new (the index does no upsert — append
    of an existing id yields two code rows and duplicate hits).

    Commit and crash safety are ``store.increments.append``: the
    increment lands in ``<base>/inc/gen-N-<tag|nonce>`` and becomes
    visible with one manifest write; a crash before it leaves an
    invisible orphan. ``batch_tag`` is the exactly-once token
    (``pq_index_sink``): a tag the ledger already holds no-ops. Digit
    tags are one monotone stream's batch ids (one sink per index);
    hand-tagged appends should use non-digit tags. An empty ``df`` is a
    no-op (a zero-row increment directory would be schema-less and
    unreadable).

    Drift stat: each increment's ``_stats.json`` records its row count
    and mean squared reconstruction error under the frozen codebooks —
    computed in the same encode pass, surfaced by ``pq_index_drift``
    and the sink's drift warning (the quantizer never retrains on
    append, so growing error is the one silent degradation this family
    has; see the README retrain playbook)."""
    import json as _json

    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    spark = df.sparkSession

    def write(base: str, out: str) -> bool:
        if df.isEmpty():
            return False
        model = pq_load(spark, base + "/_model")
        cents = spark.read.parquet(
            base + "/_centroids"
        ).orderBy("route").collect()
        if [int(r["route"]) for r in cents] != list(range(len(cents))):
            raise ValueError(
                "append_pq_index: centroid table routes are not dense "
                "0..k-1 — not a write_pq_index layout"
            )
        centers = [list(map(float, r["centroid"])) for r in cents]
        routed = assign_routes(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec")),
            "_vec",
            centers,
        )
        coded = _pq_encode_impl(
            routed, "_vec", "id", model, with_error=True
        ).persist()
        try:
            codes = coded.drop("_qerr").join(
                routed.select("id", "route"), "id"
            )
            codes.write.mode("overwrite").partitionBy("route").parquet(out)
            estats = coded.agg(
                F.count(F.lit(1)).alias("n"), F.avg("_qerr").alias("mse")
            ).collect()[0]
        finally:
            coded.unpersist()
        fs_for(out, spark).write_text_atomic(
            f"{out}/_stats.json",
            _json.dumps(
                {"n": int(estats["n"]), "mse": float(estats["mse"] or 0.0)}
            ),
        )
        return True

    increments.append(
        spark, path, op="append_pq_index", batch_tag=batch_tag,
        resolve_base=resolve_index_base, write=write,
    )


def compact_pq_index(spark, path: str, keep: int = 1) -> None:
    """Fold committed increments into a fresh base generation WITHOUT
    the corpus — the ANN mirror of ``retrieval.compact_bm25_index``,
    both through ``store.increments.compact``.

    ``write_pq_index`` folds increments too, but it re-encodes the
    whole corpus; this compaction reads only what the index already
    persists: the base+increment code rows union into the new
    generation's ``codes`` (no re-encode, no re-route — every row was
    produced under the SAME codebooks/centroids, which copy over
    verbatim). A reader then sees ONE union-free generation — one
    route-partitioned scan per probe instead of one per increment arm.
    The exactly-once ledger carries forward, so in-sink auto-compaction
    is safe mid-stream. Search results are identical by construction.
    ``keep``: predecessor generations retained for readers' lazy plans.
    No-op when there are no committed increments.

    Drift bookkeeping: the base generation's ``_stats.json`` (build-time
    ``train_mse`` — the frozen quantizer's quality reference) carries
    into the folded generation VERBATIM; the folded increments'
    per-increment drift stats retire with them (their signal was
    delivered at append time — ``pq_index_drift`` / the sink warning).
    Compaction never RETRAINS the codebooks, so a drifting embedding
    distribution degrades recall until a ``write_pq_index`` rebuild —
    that is exactly what the drift ratio exists to surface."""
    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    fs = fs_for(path, spark)

    def fold(base: str, dirs: list[str], out: str) -> None:
        codes = spark.read.parquet(base + "/codes")
        for inc in dirs:
            codes = codes.unionByName(spark.read.parquet(inc))
        codes.write.mode("overwrite").partitionBy("route").parquet(
            out + "/codes"
        )
        spark.read.parquet(base + "/_centroids").coalesce(1).write.mode(
            "overwrite"
        ).parquet(out + "/_centroids")
        pq_save(spark, pq_load(spark, base + "/_model"), out + "/_model")
        base_stats = fs.read_text(base + "/_stats.json")
        if base_stats is not None:
            fs.write_text_atomic(out + "/_stats.json", base_stats)

    legacy = increments.live_base(spark, path) is None
    increments.compact(
        spark, path, op="compact_pq_index", keep=keep,
        resolve_base=resolve_index_base, fold=fold,
    )
    if legacy and increments.live_base(spark, path) is not None:
        _retire_root_layout(spark, path)  # the root layout's first fold


class PQDriftWarning(UserWarning):
    """A maintained PQ index's incoming vectors reconstruct materially
    worse than the corpus the codebooks were trained on — recall is
    silently degrading; schedule a retraining rebuild
    (``write_pq_index(carry_ledger=True)``; README retrain playbook)."""


def pq_index_drift(spark, path: str) -> dict:
    """Quantizer-drift report for a maintained IVF-PQ index — the
    monitor for the ONE unmonitored degradation this index family has:
    appends encode with FROZEN codebooks (retraining on append would
    corrupt already-stored codes), so as the embedding distribution
    moves, reconstruction error — and with it recall — degrades with
    no query-visible symptom. Every append records its increment's
    mean squared reconstruction error in the same encode pass; this
    reads those stats against the base generation's build-time
    ``train_mse`` and returns::

        {"train_mse": float|None,        # None: pre-drift-stat index
         "n_base": int|None,
         "increments": [{"name", "n", "mse", "ratio"}, ...],
         "drift_ratio": float|None}      # row-weighted mean inc mse
                                         #   / train_mse

    ``ratio`` ≈ 1 means incoming vectors quantize as well as the
    training corpus; sustained growth means the codebooks no longer
    fit the data — time for the retrain playbook (README). Control-
    plane reads only (tiny json files); no Spark job. Increments
    appended by pre-drift-stat builds are skipped (no stats file);
    compaction retires increment stats with the increments themselves,
    so the report covers appends since the last fold."""
    import json as _json

    from rtstore_spark.store import increments
    from rtstore_spark.store.fs import fs_for

    base = resolve_index_base(spark, path)
    fs = fs_for(base, spark)
    bs = fs.read_text(base + "/_stats.json")
    train = _json.loads(bs) if bs else None
    train_mse = float(train["train_mse"]) if train else None
    names = increments.read_manifest(fs, base).names
    incs = []
    tot_n, tot_err = 0, 0.0
    for name in names:
        s = fs.read_text(f"{base}/inc/{name}/_stats.json")
        if s is None:
            continue
        rec = _json.loads(s)
        n, mse = int(rec["n"]), float(rec["mse"])
        ratio = (
            round(mse / max(train_mse, 1e-12), 4)
            if train_mse is not None else None
        )
        incs.append({"name": name, "n": n, "mse": mse, "ratio": ratio})
        tot_n += n
        tot_err += n * mse
    drift = (
        round((tot_err / tot_n) / max(train_mse, 1e-12), 4)
        if (tot_n and train_mse is not None) else None
    )
    return {
        "train_mse": train_mse,
        "n_base": int(train["n"]) if train else None,
        "increments": incs,
        "drift_ratio": drift,
    }


def pq_index_sink(
    path: str, vec_col: str, id_col: str,
    compact_every: int | None = None,
    compact_keep: int = 2,
    drift_warn_ratio: float | None = 2.0,
):
    """Streaming ANN index maintenance: a ``foreachBatch`` body that
    appends each micro-batch of NEW vectors as a committed increment —

        (vectors_stream.writeStream
            .option("checkpointLocation", chk)
            .foreachBatch(pq_index_sink(path, "embedding", "vec_id"))
            .trigger(availableNow=True).start())

    — the ANN mirror of ``retrieval.bm25_index_sink``, both built on
    ``store.increments.sink``: a continuously-ingested embedding corpus
    becomes searchable without O(corpus) re-encodes, exactly-once under
    Structured Streaming's replay model (the micro-batch id is the
    increment's ``batch_tag``). The base index must exist
    (``write_pq_index``).

    ``compact_every``: when set, the sink runs ``compact_pq_index``
    whenever the committed increment count reaches this bound — a
    SELF-MAINTAINING index whose read plan never exceeds
    ``compact_every`` union arms. ``compact_keep``: predecessor
    generations retained per fold (default 2, vs the manual path's
    grace-of-one) — size it to (longest expected query) /
    (compact_every x batch interval). Periodic RETRAINING rebuilds
    (``write_pq_index(..., carry_ledger=True)``) run mid-stream without
    a checkpoint reset. A checkpoint WIPE restarts batch ids at 0, so
    it needs a fresh ledger-resetting rebuild, not more appends.

    ``drift_warn_ratio``: after each committed batch the sink reads
    the index's drift report (``pq_index_drift`` — the codes' mean
    reconstruction error is recorded in the same encode pass) and
    emits a ``PQDriftWarning`` when the newest increment's error
    exceeds this multiple of the base generation's ``train_mse`` —
    the operator's rebuild-time signal (recall degrades silently
    otherwise; README retrain playbook). None disables."""
    from rtstore_spark.store import increments

    def append_batch(batch_df: DataFrame, tag: str) -> None:
        append_pq_index(batch_df, vec_col, id_col, path, batch_tag=tag)
        if drift_warn_ratio is None:
            return
        import warnings

        report = pq_index_drift(batch_df.sparkSession, path)
        last = report["increments"][-1] if report["increments"] else None
        if last and last["ratio"] is not None and (
            last["ratio"] > drift_warn_ratio
        ):
            warnings.warn(
                f"pq_index_sink: increment {last['name']} of "
                f"{path} reconstructs at {last['mse']:.3g} MSE = "
                f"{last['ratio']:.2f}x the codebooks' training "
                f"error ({report['train_mse']:.3g}) — the "
                "embedding distribution has drifted from the "
                "training corpus and recall is degrading; "
                "schedule write_pq_index(carry_ledger=True) with "
                "retrained codebooks (README retrain playbook)",
                PQDriftWarning,
                stacklevel=3,  # the foreachBatch caller of the sink
            )

    return increments.sink(
        path,
        resolve_base=resolve_index_base,
        append_batch=append_batch,
        compact_index=compact_pq_index,
        compact_every=compact_every,
        compact_keep=compact_keep,
    )
