"""Quality-classifier inference over hashed n-gram features — the
fastText-style corpus filter (Joulin 2016 ``fastText``; the quality
classifiers of GPT-3 appendix A / CCNet / FineWeb-Edu are this shape:
linear model over hashed bag-of-n-grams, threshold on the score).

Training happens OFFLINE (a model is a few-hundred-KB artifact of
labelled data, fit anywhere); what a 100 TB pipeline needs from the
engine is the INFERENCE pass — score every document with zero shuffle
and no Python in the hot path. The model's weight vector ships as a
1-row broadcast array (the ``decontaminate_bloom`` dense-state
pattern), features are the same hashed n-gram buckets DSIR uses
(:func:`~data_validation_engine_spark.llmops.dsir.ngram_buckets`, so
one per-row projection can feed both importance resampling and quality
scoring), and the score is an ordered left fold over the per-row
feature array — engine-exact when the weights are exactly
representable, which is what puts the logit surface on the oracle
gate.

No reference counterpart (`/root/reference` has no corpus surface).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dsir import (
    DEFAULT_BUCKETS,
    ngram_buckets,
)

__all__ = [
    "char_ngram_buckets",
    "classifier_score",
    "classifier_filter",
    "classifier_fit",
    "classifier_eval",
]


def char_ngram_buckets(
    text: Column,
    *,
    n: int = 3,
    buckets: int = DEFAULT_BUCKETS,
    seed: str = "",
    lowercase: bool = True,
) -> Column:
    """``array<int>``: hashed CHARACTER n-gram features — the actual
    fastText recipe (Bojanowski 2017 subword units), and the feature
    space that keeps working where word grams fail: short texts,
    languages without whitespace word boundaries, noisy tokenization.
    Whitespace runs collapse to single spaces first (formatting must
    not change features); texts shorter than ``n`` contribute their
    whole (non-empty) text as one gram; NULL/blank → empty array.
    Pure per-row projection, zero shuffle."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    t = F.trim(
        F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", " ")
    )
    if lowercase:
        t = F.lower(t)
    ln = F.length(t)

    def bucket_of(g: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}|chr{n}|"), g)), 1, 15
                ),
                16,
                10,
            ).cast("long")  # 60-bit value: long, not decimal
            % F.lit(buckets)
        ).cast("int")

    return (
        F.when(
            ln >= n,
            F.transform(
                F.sequence(F.lit(1), ln - F.lit(n) + F.lit(1)),
                lambda i: bucket_of(F.substring(t, i, n)),
            ),
        )
        .when(ln >= 1, F.array(bucket_of(t)))
        .otherwise(F.array().cast("array<int>"))
    )


def _features(
    text: Column,
    *,
    n_buckets: int,
    n_max: int,
    seed: str,
    char_n: int | None,
) -> Column:
    """Word-gram (default) or character-gram feature buckets — every
    classifier entry point routes through here so train and inference
    can never disagree on the feature space."""
    if char_n is not None:
        return char_ngram_buckets(
            text, n=char_n, buckets=n_buckets, seed=seed
        )
    return ngram_buckets(text, n_max=n_max, buckets=n_buckets, seed=seed)



def classifier_score(
    df: DataFrame,
    text_col: str,
    weights: list[float],
    *,
    bias: float = 0.0,
    n_max: int = 2,
    seed: str = "",
    average: bool = True,
    char_n: int | None = None,
    out_col: str = "clf_logit",
    prob_col: str | None = None,
    n_feats_col: str | None = None,
    features_col: str | None = None,
) -> DataFrame:
    """Score every row with a linear bag-of-hashed-n-grams model:
    ``logit = bias + Σ_f w[f]`` over the text's n-gram feature buckets
    (``average=True`` divides by the feature count — the fastText
    mean-pooling form; a zero-feature text scores ``bias`` in both
    forms). ``len(weights)`` IS the bucket count, and must match the
    bucket count the model was trained with.

    ``prob_col`` additionally emits ``sigmoid(logit)`` — transcendental
    (libm), so production-only: threshold on the LOGIT for anything
    hashed or cross-engine (sigmoid is monotone, every probability
    threshold is a logit threshold — :func:`classifier_filter` does the
    conversion).

    Scale shape: the weight vector rides ONE broadcast 1-row array
    (8 bytes × buckets — ~2 MB at 2^18, the documented bounded
    control-plane class), features are a per-row projection, and the
    score is a per-row ordered fold: zero shuffle, zero join rows, no
    Python. The fold order is the feature-array order, so scores are
    deterministic under any partitioning.

    ``features_col`` names a PRE-COMPUTED feature-bucket array column
    on ``df`` (produced by :func:`~.dsir.ngram_buckets` /
    :func:`char_ngram_buckets` with the SAME n_max/char_n/seed/bucket
    parameters — the caller owns that contract) and skips the per-row
    feature hashing entirely. The optimization lever for multi-surface
    scoring: hashing every word/char gram through md5 dominates the
    inference pass, so a caller scoring the same corpus under k
    configurations (sum/mean/threshold surfaces, eval) computes the
    array once — ideally on a persisted frame — instead of k times.
    Scores are bit-identical because the fold consumes the same array.
    """
    if len(weights) < 2:
        raise ValueError(
            f"weights must have >= 2 entries (the bucket count), got "
            f"{len(weights)}"
        )
    n_buckets = len(weights)
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [([float(w) for w in weights],)], "__clf_w array<double>"
    )
    feats = (
        F.col(features_col)
        if features_col is not None
        else _features(
            F.col(text_col),
            n_buckets=n_buckets, n_max=n_max, seed=seed, char_n=char_n,
        )
    )
    total = F.aggregate(
        feats,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(F.col("__clf_w"), b + F.lit(1)),
    )
    n_feats = F.size(feats)
    logit = F.lit(float(bias)) + F.when(n_feats > 0, total).otherwise(
        F.lit(0.0)
    ) / (
        F.when(n_feats > 0, n_feats).otherwise(F.lit(1))
        if average
        else F.lit(1)
    )
    out = df.crossJoin(F.broadcast(wdf)).withColumn(out_col, logit)
    if prob_col is not None:
        out = out.withColumn(
            prob_col,
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(out_col))),
        )
    if n_feats_col is not None:
        out = out.withColumn(n_feats_col, n_feats)
    return out.drop("__clf_w")


def classifier_filter(
    df: DataFrame,
    text_col: str,
    weights: list[float],
    *,
    bias: float = 0.0,
    n_max: int = 2,
    seed: str = "",
    average: bool = True,
    char_n: int | None = None,
    threshold_prob: float = 0.5,
    keep_col: str | None = None,
    score_col: str = "clf_logit",
    features_col: str | None = None,
) -> DataFrame:
    """Keep rows the classifier scores at or above ``threshold_prob``.

    The comparison happens in LOGIT space — ``threshold_prob`` is
    converted once on the driver (``ln(p/(1-p))``, plain Python math),
    so the distributed plan never evaluates a sigmoid: same decisions,
    no transcendental in the hot path. ``keep_col`` flags instead of
    filtering (audit mode, the ``select_token_budget`` convention);
    the logit stays in ``score_col`` either way.
    """
    if not 0.0 < threshold_prob < 1.0:
        raise ValueError(
            f"threshold_prob must be in (0, 1), got {threshold_prob}"
        )
    cut = math.log(threshold_prob / (1.0 - threshold_prob))
    scored = classifier_score(
        df, text_col, weights,
        bias=bias, n_max=n_max, seed=seed, average=average,
        char_n=char_n, out_col=score_col, features_col=features_col,
    )
    decision = F.col(score_col) >= F.lit(cut)
    if keep_col is not None:
        return scored.withColumn(keep_col, decision)
    return scored.where(decision)


def classifier_eval(
    df: DataFrame,
    text_col: str,
    label_col: str,
    weights: list[float],
    *,
    bias: float = 0.0,
    n_max: int = 2,
    seed: str = "",
    average: bool = True,
    char_n: int | None = None,
    threshold_prob: float = 0.5,
    group_cols: list[str] | None = None,
    features_col: str | None = None,
) -> DataFrame:
    """Distributed holdout evaluation of a fitted classifier: score ``df`` with the same feature space
    and logit-cut decision as :func:`classifier_filter`, compare
    against the 0/1 (or boolean) ``label_col``, and emit ONE row per
    group (one total row without ``group_cols``) of confusion counts
    plus threshold metrics::

        n, tp, fp, tn, fn            -- exact longs
        precision = tp / (tp + fp)   -- NULL when nothing predicted +
        recall    = tp / (tp + fn)   -- NULL when no positive labels
        f1        = 2pr / (p + r)    -- NULL when p or r is NULL/0
        accuracy  = (tp + tn) / n

    The float metrics are single correctly-rounded divisions of exact
    integers (the ``ecdf``/mean-logit class — engine-exact, so the
    counts AND metrics can ride an oracle-hashed frame). Labels are
    validated loudly exactly as :func:`classifier_fit` (NULL or non-0/1
    raises; booleans cast). ``group_cols`` gives per-slice metrics
    (per language, per source) from the same single pass.

    Scale shape: inference is the zero-shuffle broadcast-weights
    projection; the only shuffle is the final group-count-bounded
    aggregation (map-side combined — ≤ one result row per group).
    Model selection over k thresholds/models = k cheap passes over a
    label-bounded holdout, never the corpus.
    """
    decided = classifier_filter(
        df, text_col, weights,
        bias=bias, n_max=n_max, seed=seed, average=average,
        char_n=char_n, threshold_prob=threshold_prob,
        keep_col="__clf_keep", features_col=features_col,
    )
    _lbl = F.col(label_col).cast("double")
    y = (
        F.when(_lbl.isin(0.0, 1.0), _lbl)
        .otherwise(
            F.raise_error(
                F.lit(
                    f"classifier_eval: '{label_col}' must be 0/1 and "
                    "non-NULL — filter or impute labels first"
                )
            )
        )
        .cast("double")
    )
    pred = F.col("__clf_keep")

    def cell(c: Column) -> Column:
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    counted = decided.groupBy(*(group_cols or [])).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cell(pred & (y == 1.0)).alias("tp"),
        cell(pred & (y == 0.0)).alias("fp"),
        cell(~pred & (y == 0.0)).alias("tn"),
        cell(~pred & (y == 1.0)).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    # local expressions, NOT lateral references to sibling aliases —
    # LCA resolution on computed siblings is the documented Spark 4
    # hazard class; f1 re-derives p/r (deterministic, same doubles)
    p = F.when(tp + fp > 0, tp.cast("double") / (tp + fp))
    r = F.when(tp + fn > 0, tp.cast("double") / (tp + fn))
    return counted.select(
        *(group_cols or []),
        "n", "tp", "fp", "tn", "fn",
        p.alias("precision"),
        r.alias("recall"),
        F.when(p + r > 0, 2.0 * p * r / (p + r)).alias("f1"),
        ((tp + tn).cast("double") / F.col("n")).alias("accuracy"),
    )


# re-exported so classifier users can size feature spaces consistently
# with the DSIR side of the pipeline
DEFAULT_CLASSIFIER_BUCKETS = DEFAULT_BUCKETS


def classifier_fit(
    df: DataFrame,
    text_col: str,
    label_col: str,
    *,
    n_buckets: int = 4096,
    n_max: int = 2,
    seed: str = "",
    average: bool = True,
    char_n: int | None = None,
    epochs: int = 20,
    lr: float = 0.5,
    l2: float = 0.0,
) -> tuple[list[float], float]:
    """Train the linear bag-of-hashed-n-grams quality classifier by
    full-batch logistic-regression gradient descent — the companion of
    :func:`classifier_score` (train here, filter at corpus scale with
    the returned weights). ``label_col`` must be 0/1 (1 = keep-quality
    positive class); returns ``(weights, bias)`` sized so that
    ``classifier_score(corpus, text_col, weights, bias=bias,
    average=average, n_max=n_max, seed=seed)`` reproduces the trained
    scores.

    Per epoch, ONE distributed pass: the per-row residual
    ``sigmoid(logit) − y`` is a projection over the current broadcast
    weights, the per-bucket gradient ``Σ residual · count_b / N`` is an
    explode + map-side-combined aggregation (≤ ``n_buckets`` result
    rows — a bounded control-plane collect, the same class as
    :func:`~.sketch.heavy_hitters`' cells), and the driver applies the
    update ``w −= lr · (grad + l2·w)`` on ``n_buckets`` doubles (the
    ``pca_fit``-eigensolve pattern: driver math on control-plane-sized
    state, never on data). Training data is label-bounded (quality
    classifiers train on thousands of labelled docs), so ``epochs``
    cheap passes are fine; the expensive corpus-wide step is inference,
    which stays zero-shuffle.

    Determinism: the gradient aggregation sums doubles in partition
    order, so trained weights can differ in low-order bits between
    runs/partitionings (the ``moment_stats(method="fast")`` class —
    deliberately NON-oracle, FLOATS.md; numpy parity is pytest-pinned
    to tolerance). Rows with NULL labels raise; rows with no features
    still carry the bias gradient.
    """
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if lr <= 0:
        raise ValueError(f"lr must be positive, got {lr}")
    spark = df.sparkSession
    # cast FIRST so boolean label columns (a natural keep/drop store)
    # become 1.0/0.0 before the 0/1 validation — comparing boolean vs
    # int literals under Spark 4 ANSI analysis would fail instead of
    # giving the documented loud error
    _lbl = F.col(label_col).cast("double")
    label = (
        F.when(_lbl.isin(0.0, 1.0), _lbl)
        .otherwise(
            F.raise_error(
                F.lit(
                    f"classifier_fit: '{label_col}' must be 0/1 and "
                    "non-NULL — filter or impute labels first"
                )
            )
        )
        .cast("double")
    )
    feats = _features(
        F.col(text_col),
        n_buckets=n_buckets, n_max=n_max, seed=seed, char_n=char_n,
    )
    base = df.select(label.alias("__y"), feats.alias("__f")).persist()
    try:
        n = base.count()
        if n == 0:
            raise ValueError("classifier_fit: empty input")
        weights = [0.0] * n_buckets
        bias = 0.0
        for _ in range(epochs):
            wdf = spark.createDataFrame(
                [(weights,)], "__clf_w array<double>"
            )
            n_feats = F.size("__f")
            total = F.aggregate(
                F.col("__f"),
                F.lit(0.0),
                lambda acc, b: acc
                + F.element_at(F.col("__clf_w"), b + F.lit(1)),
            )
            denom = (
                F.when(n_feats > 0, n_feats).otherwise(F.lit(1))
                if average
                else F.lit(1)
            )
            logit = F.lit(bias) + F.when(
                n_feats > 0, total
            ).otherwise(F.lit(0.0)) / denom
            resid = (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)) - F.col("__y")
            )
            scored = base.crossJoin(F.broadcast(wdf)).select(
                resid.alias("__r"),
                (
                    F.lit(1.0) / denom if average else F.lit(1.0)
                ).alias("__s"),
                "__f",
            )
            rows = (
                scored.select(
                    "__r", "__s", F.explode("__f").alias("__b")
                )
                .groupBy("__b")
                .agg(
                    F.sum(F.col("__r") * F.col("__s")).alias("__g")
                )
                .collect()
            )
            bias_grad = float(
                scored.agg(F.sum("__r")).first()[0] or 0.0
            ) / n
            grads = [0.0] * n_buckets
            for r in rows:
                grads[r["__b"]] += float(r["__g"]) / n
            weights = [
                w - lr * (g + l2 * w) for w, g in zip(weights, grads)
            ]
            bias -= lr * bias_grad
        return weights, bias
    finally:
        base.unpersist()
