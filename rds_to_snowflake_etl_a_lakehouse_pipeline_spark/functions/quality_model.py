"""Trained quality classifier for corpus filtering (model-based tier).

The heuristic tier (:mod:`.text` — ``quality_score``, Gopher flags)
encodes fixed thresholds; production pretraining pipelines add a
LEARNED filter on top: a small linear classifier trained on a labeled
seed (e.g. "reference-corpus pages vs random crawl" — the public
fastText-classifier recipe from the GPT-3 / LLaMA / CCNet papers),
then applied to the full corpus. This module is that tier on Spark ML:

- :func:`quality_features` projects each document to a small dense
  vector of the same signals the heuristic tier uses — all pure
  Catalyst expressions, computed in one scan pass, no Python;
- :func:`fit_quality_classifier` fits a seeded logistic regression on
  a LABELED SAMPLE (thousands of rows — the fit is a bounded job, the
  100 TB corpus is never iterated);
- :func:`score_quality` applies the model with one JVM
  ``model.transform`` pass — scoring scales like any narrow projection.

LBFGS probabilities are floating-point optimizer internals, not
SQL-expressible: that path is pinned by pytest (separation on a
held-out synthetic set, determinism for a fixed seed), with the
oracle-checked heuristic twin ``t_quality_score`` as the baseline.
The nearest-centroid tier at the bottom of this module is the
deterministic, engine-replayable trainer the t_quality_model DuckDB
oracle hash-checks (the grid-KMeans pattern applied to
classification).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    repetition_ratio,
    stopword_ratio,
    token_count,
)

#: feature column names, in vector order (stored with the model for audit)
FEATURE_NAMES = (
    "f_n_tokens",
    "f_mean_word_len",
    "f_alpha_ratio",
    "f_digit_ratio",
    "f_punct_ratio",
    "f_upper_ratio",
    "f_stopword_ratio",
    "f_repetition_ratio",
)


def _safe_div(num: Column, den: Column) -> Column:
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def quality_features(col: Column | str) -> list[Column]:
    """The per-document feature projections, each aliased to its
    :data:`FEATURE_NAMES` entry. One scan pass, pure Catalyst."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_tok = token_count(c).cast("double")
    return [
        F.log1p(n_tok).alias("f_n_tokens"),
        _safe_div(n_chars, n_tok).alias("f_mean_word_len"),
        _safe_div(
            F.length(F.regexp_replace(c, r"[^A-Za-z]", "")), n_chars
        ).alias("f_alpha_ratio"),
        _safe_div(
            F.length(F.regexp_replace(c, r"[^0-9]", "")), n_chars
        ).alias("f_digit_ratio"),
        _safe_div(
            F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", "")), n_chars
        ).alias("f_punct_ratio"),
        _safe_div(
            F.length(F.regexp_replace(c, r"[^A-Z]", "")), n_chars
        ).alias("f_upper_ratio"),
        stopword_ratio(c).alias("f_stopword_ratio"),
        repetition_ratio(c).alias("f_repetition_ratio"),
    ]


def _featurize(df: DataFrame, text_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    feats = quality_features(text_col)
    return df.withColumn(
        "_features",
        array_to_vector(
            F.array(*[f.cast("double") for f in feats])
        ),
    )


def fit_quality_classifier(
    labeled: DataFrame,
    text_col: str,
    label_col: str,
    max_iter: int = 50,
    reg_param: float = 0.01,
):
    """Fit the logistic-regression quality model on a labeled seed
    (``label_col``: 1 = keep-quality, 0 = reject). The seed should be
    a bounded sample — the model has ``len(FEATURE_NAMES)`` weights
    and saturates at a few thousand examples; never feed it the full
    corpus. Deterministic (LBFGS on a fixed feature order)."""
    from pyspark.ml.classification import LogisticRegression

    fit_df = _featurize(labeled, text_col).withColumn(
        "_label", F.col(label_col).cast("double")
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol="_label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=True,
    )
    model = lr.fit(fit_df)
    # Detach the training summary: scoring serializes the model into
    # tasks, and the summary holds the fit DataFrame whose session
    # state (e.g. the ObservationManager once any df.observe ran in
    # the session) is not serializable. A save/load roundtrip yields
    # the same weights with hasSummary=False.
    import shutil
    import tempfile

    from pyspark.ml.classification import LogisticRegressionModel

    tmp = tempfile.mkdtemp(prefix="quality-model-")
    try:
        model.write().overwrite().save(tmp + "/m")
        return LogisticRegressionModel.load(tmp + "/m")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def score_quality(
    df: DataFrame, model, text_col: str, prob_col: str = "quality_prob"
) -> DataFrame:
    """Append ``prob_col`` = P(quality) to every document: featurize
    (one Catalyst projection) + one JVM ``model.transform`` pass.
    Filter downstream with ``F.col(prob_col) >= tau`` — pick tau on a
    validation sample for the recall/precision trade the corpus
    needs."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_featurize(df, text_col))
    return scored.withColumn(
        prob_col, F.round(vector_to_array("probability")[1], 6)
    ).drop("_features", "rawPrediction", "probability", "prediction")


# ---------------------------------------------------------------------------
# Nearest-centroid quality model: the deterministic, engine-replayable
# trainer (the grid-KMeans pattern applied to classification)
# ---------------------------------------------------------------------------
#
# LBFGS logistic regression (above) is the scale-path default, but its
# weights are float-optimizer internals no other engine reproduces. The
# minimum-distance (nearest-class-centroid) classifier is the classic
# deterministic alternative: per-class feature means, assign by squared
# distance. With coordinates quantized to integers, the class means are
# exact integer sums / counts — no float aggregation order exists to
# drift between engines or partitionings — so the WHOLE model (fit and
# every scoring decision) replays in any ANSI engine. That is what the
# t_quality_model DuckDB oracle hash-checks.

CENTROID_QUANT = 1 << 20

#: centroid-impl feature names, in vector order. Same signals as
#: FEATURE_NAMES but every expression is bit-replayable: the log1p
#: squash becomes the rational x/(x+c) (libm ln is not guaranteed
#: bit-identical across engines), and NULL text maps to all-zero
#: features instead of NULLs.
CENTROID_FEATURE_NAMES = (
    "f_tok_sat",
    "f_mwl_sat",
    "f_alpha_ratio",
    "f_digit_ratio",
    "f_punct_ratio",
    "f_upper_ratio",
    "f_stopword_ratio",
    "f_repetition_ratio",
)


def centroid_quality_features(col: Column | str) -> list[Column]:
    """The per-document features of the nearest-centroid model — each
    a single chain of integer lengths, IEEE divisions, and round(·, 6)
    that Spark and DuckDB evaluate identically (see module note)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_tok = F.coalesce(token_count(c), F.lit(0)).cast("double")
    mwl = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))

    def ratio(pattern: str) -> Column:
        return F.when(
            n_chars > 0,
            F.length(F.regexp_replace(c, pattern, "")).cast("double") / n_chars,
        ).otherwise(F.lit(0.0))

    return [
        (n_tok / (n_tok + F.lit(50.0))).alias("f_tok_sat"),
        (mwl / (mwl + F.lit(5.0))).alias("f_mwl_sat"),
        ratio("[^A-Za-z]").alias("f_alpha_ratio"),
        ratio("[^0-9]").alias("f_digit_ratio"),
        ratio(r"[^!-/:-@\[-`{-~]").alias("f_punct_ratio"),
        ratio("[^A-Z]").alias("f_upper_ratio"),
        F.coalesce(stopword_ratio(c), F.lit(0.0)).alias("f_stopword_ratio"),
        F.coalesce(repetition_ratio(c), F.lit(0.0)).alias("f_repetition_ratio"),
    ]


def _centroid_fq(text_col: str) -> Column:
    """array<bigint> of round(feature × 2^20) — the quantized feature
    vector both the fit sums and every scoring distance run on."""
    return F.array(
        *[
            F.round(f * F.lit(float(CENTROID_QUANT)), 0).cast("long")
            for f in centroid_quality_features(text_col)
        ]
    )


def fit_quality_centroids(
    labeled: DataFrame, text_col: str, label_col: str
) -> dict[int, list[float]]:
    """Fit the nearest-centroid quality model on a labeled seed:
    per-class means of the quantized features, as exact integer sums /
    counts (``float(s)/float(n)`` — one correctly-rounded division,
    identical in Python, Spark, and DuckDB). Returns
    ``{label: centroid}`` in quantized units. Like the LBFGS fit, the
    seed should be a bounded sample; raises if a class is absent."""
    rows = (
        labeled.select(
            F.col(label_col).cast("int").alias("_label"),
            _centroid_fq(text_col).alias("_fq"),
        )
        .select("_label", F.posexplode("_fq").alias("pos", "val"))
        .groupBy("_label", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    by_label: dict[int, dict[int, tuple[int, int]]] = {}
    for r in rows:
        by_label.setdefault(r["_label"], {})[r["pos"]] = (r["s"], r["n"])
    if set(by_label) != {0, 1}:
        raise ValueError(
            f"fit_quality_centroids: need both classes, got {sorted(by_label)}"
        )
    dim = len(CENTROID_FEATURE_NAMES)
    return {
        lbl: [
            float(by_label[lbl][p][0]) / float(by_label[lbl][p][1])
            for p in range(dim)
        ]
        for lbl in (0, 1)
    }


def score_quality_centroids(
    df: DataFrame,
    centroids: dict[int, list[float]],
    text_col: str,
    out_col: str = "keep",
) -> DataFrame:
    """Append ``out_col`` = nearest centroid is the keep class
    (squared distance in quantized units, deterministic array-order
    fold; exact ties keep). One scan pass, no Python, no shuffle."""

    def dist(cent: list[float]) -> Column:
        lit = F.array(*[F.lit(float(v)) for v in cent])
        return F.aggregate(
            F.zip_with(
                _centroid_fq(text_col),
                lit,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return df.withColumn(out_col, dist(centroids[1]) <= dist(centroids[0]))
