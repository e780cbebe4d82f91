"""Trainable text-quality classifier — the fastText-style corpus filter.

The standard LLM-data recipe (GPT-3/CCNet-style quality filtering: score
web text against a high-quality seed corpus and keep probabilistically)
needs a TRAINABLE classifier, not just the static heuristics in
operators/text.py (gopher_rules, quality_score). This is the idiomatic
Spark version: a Pipeline of RegexTokenizer → [unigrams ∥ bigrams] →
HashingTF → IDF → LogisticRegression. Everything is Spark ML, so both
training and scoring run as JVM transforms — no Python in the scoring
hot path, and the fitted model broadcasts to executors like any
PipelineModel.

Scale: scoring a 100-TB corpus is one map-side transform per partition
(hashing trick keeps the feature space fixed at ``num_features``
regardless of vocabulary); training cost is bounded by the LABELED set,
which is sampled — never the whole corpus.

Scope note: this replaces the reference's... nothing — the reference has
no ML surface (SURVEY §2.9). It belongs to the data-prep operator family
the engine adds on top.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import (
    HashingTF,
    IDF,
    NGram,
    RegexTokenizer,
    VectorAssembler,
)
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, functions as F


def quality_fit(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 1 << 18,
    use_bigrams: bool = True,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> PipelineModel:
    """Fit the quality classifier on a labeled sample.

    ``label_col``: 1.0 = high quality (the seed/reference distribution),
    0.0 = reject class (e.g. unfiltered crawl). Returns a PipelineModel
    (save/load with its own ``.save(path)`` / ``PipelineModel.load``).
    """
    stages = [
        RegexTokenizer(
            inputCol=text_col, outputCol="_words",
            pattern=r"[^\p{L}\p{N}']+", toLowercase=True, minTokenLength=1,
        ),
        HashingTF(inputCol="_words", outputCol="_tf_w", numFeatures=num_features),
    ]
    if use_bigrams:
        # separate hash spaces per n-gram order, assembled — all JVM
        # transforms (no SQLTransformer: its temp-view round trip breaks
        # on plans carrying Observation/CollectMetrics nodes, which the
        # prepare_corpus audit adds)
        stages += [
            NGram(n=2, inputCol="_words", outputCol="_bigrams"),
            HashingTF(inputCol="_bigrams", outputCol="_tf_b",
                      numFeatures=num_features),
            VectorAssembler(inputCols=["_tf_w", "_tf_b"], outputCol="_tf"),
        ]
    else:
        stages += [VectorAssembler(inputCols=["_tf_w"], outputCol="_tf")]
    stages += [
        IDF(inputCol="_tf", outputCol="_features"),
        LogisticRegression(
            featuresCol="_features", labelCol=label_col,
            regParam=reg_param, maxIter=max_iter,
            # explicit prefixed outputs: the defaults (probability/
            # prediction/rawPrediction) collide with corpora that already
            # carry a classifier's output columns
            probabilityCol="_quality_prob_vec",
            predictionCol="_quality_pred",
            rawPredictionCol="_quality_raw",
        ),
    ]
    model = Pipeline(stages=stages).fit(
        labeled.withColumn(label_col, F.col(label_col).cast("double"))
    )
    drop_training_summary(model, labeled.sparkSession)
    return model


def drop_training_summary(model, spark) -> None:
    """Strip training summaries from a fitted model: a ``PipelineModel``'s
    stages, or one bare model (``KMeansModel``, ...).

    A summary pins the TRAINING SparkSession inside the model, and the
    prediction UDF serializes the model per task — "Task not
    serializable: ObservationManager" as soon as the session has ever
    registered an ``Observation`` (e.g. a PrepAudit elsewhere in the
    process). Summaries are training-time metadata scoring never needs;
    save/load drops them too. Best-effort across Spark versions."""
    empty = spark._jvm.scala.Option.empty()
    for stage in getattr(model, "stages", [model]):
        try:
            if getattr(stage, "hasSummary", False):
                stage._java_obj.setSummary(empty)
        except Exception:  # noqa: BLE001 — private API; tolerate changes
            pass


def quality_score(
    model: PipelineModel,
    df: DataFrame,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Append P(high quality) per document; drops the pipeline's working
    columns so the output is the input + one double column."""
    scored = model.transform(df)
    keep = df.columns
    return scored.select(
        *keep,
        vector_to_array(F.col("_quality_prob_vec")).getItem(1).alias(out_col),
    )


# Shipped operating point: the F1-argmax of the round-8 calibration
# sweep (tools/quality_calibration.py → QUALITY_CALIBRATION_r08.json,
# synthetic-v2 corpus with a boundary continuum: F1 0.895 at 0.25 vs
# 0.864 at the old symmetric 0.5 — the curve favors recall because
# borderline admits cost bounded contamination that downstream dedup/
# decontamination stages catch). Calibrate on YOUR corpus with the same
# tool and pass the argmax explicitly when it differs.
DEFAULT_KEEP_THRESHOLD = 0.25


def quality_filter(
    model: PipelineModel,
    df: DataFrame,
    threshold: float = DEFAULT_KEEP_THRESHOLD,
    out_col: str = "quality_prob",
    pareto_alpha: float | None = None,
    seed: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """Keep documents the classifier likes.

    Two published policies:
    - hard threshold (default): keep ``score >= threshold``;
    - GPT-3's stochastic variant (``pareto_alpha`` set): keep when
      ``score >= 1 - pareto_sample``, i.e. admit lower-scored docs with
      decaying probability so the kept set is not a cliff edge. The
      Pareto draw hashes ONLY (``text_col``, seed) — not the score or
      any metadata column — so the uniform draw for a document is
      DETERMINISTIC given (text, seed): refitting the model moves the
      score (and hence which side of the cut a doc lands on) but never
      reshuffles the random draws themselves.
    """
    scored = quality_score(model, df, out_col=out_col)
    if pareto_alpha is None:
        return scored.filter(F.col(out_col) >= threshold)
    if text_col not in df.columns:
        raise ValueError(
            f"quality_filter: text_col {text_col!r} not in input columns "
            f"(needed for the deterministic Pareto draw)"
        )
    # inverse-CDF Pareto(alpha) sample from a deterministic per-row
    # uniform in (0, 1]: u = (hash64 mod M + 1) / M
    m = F.lit(1 << 31)
    u = (F.abs(F.xxhash64(F.col(text_col), F.lit(seed))) % m + 1) / m
    pareto = F.pow(u, F.lit(-1.0 / pareto_alpha)) - F.lit(1.0)
    return scored.filter(F.col(out_col) >= F.lit(1.0) - pareto)
