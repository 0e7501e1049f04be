"""Learned quality-classifier filtering — the trained-filter stage of
the CCNet / GPT-3 web-corpus pipelines, re-expressed Spark-first.

Reference pipelines train a small linear classifier on a labeled sample
(high-quality reference pages = positives, raw crawl = negatives) and
score EVERY crawl document with it, keeping the high-score tail
(Brown et al. 2020, "Language Models are Few-Shot Learners", appendix A;
Wenzek et al. 2020, "CCNet"). The reference deepchecks repo has the
sibling concept as model-backed checks (fitted sklearn models); here the
model is trained inside the engine and the 100 TB scoring path never
leaves the JVM:

- **Feature extraction** is one codegen'd projection (`quality_features`)
  — no Python, no shuffle, column-pruned to the text column.
- **Training** is logistic regression with two paths:
  a bounded, gated driver collect (labeled sets are small by nature —
  the SimpleModelComparison `cap+1`-and-raise convention), or
  `distributed=True` full-batch gradient descent where EVERY iteration
  is ONE Spark aggregation over the persisted feature frame — the
  gradient is a (d+1)-vector of sums, map-side combined, so the driver
  traffic per iteration is d+1 doubles regardless of corpus size.
- **Scoring** (`score_quality`) is a single linear + sigmoid expression
  over the same JVM features — a map-only, shuffle-free pass that
  composes with any downstream filter/threshold.

Training is deterministic: zero init, fixed iteration count, float64,
features standardized by Spark-computed moments (one extra agg); the
learned boundary is reproducible run-to-run and across partitionings
because every reduction is a commutative sum.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.pipeline.textstats import STOPWORDS, _tokens

#: feature names produced by :func:`quality_features`, in model order.
QUALITY_FEATURES = (
    "f_log_tokens",
    "f_avg_token_len",
    "f_stopword_ratio",
    "f_punct_ratio",
    "f_upper_ratio",
    "f_digit_ratio",
)

MAX_TRAIN_ROWS = 1_000_000


def _feature_exprs(text_col: str) -> dict:
    """The interpretable quality signals as pure JVM expressions
    (null/empty-safe: blank text maps to all-zero features)."""
    text = F.col(text_col)
    blank = F.coalesce(F.length(F.trim(text)), F.lit(0)) == 0
    toks = _tokens(text_col)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    upper = F.length(text) - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    digit = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))

    def z(expr):
        return F.when(blank, F.lit(0.0)).otherwise(expr).cast("double")

    return {
        "f_log_tokens": z(F.log1p(n.cast("double"))),
        "f_avg_token_len": z(total_len / n.cast("double")),
        "f_stopword_ratio": z(stop / n.cast("double")),
        "f_punct_ratio": z(punct / chars),
        "f_upper_ratio": z(upper / chars),
        "f_digit_ratio": z(digit / chars),
    }


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append the :data:`QUALITY_FEATURES` columns — one projection,
    fully codegen'd, no shuffle."""
    exprs = _feature_exprs(text_col)
    return df.select("*", *[expr.alias(name) for name, expr in exprs.items()])


def _standardization(feat: DataFrame) -> tuple:
    """One aggregation: per-feature mean and (population) std, with a
    1.0 floor on std so constant features stay inert instead of
    dividing by zero."""
    aggs = []
    for name in QUALITY_FEATURES:
        aggs.append(F.avg(name).alias(f"m_{name}"))
        aggs.append(F.stddev_pop(name).alias(f"s_{name}"))
    row = feat.agg(*aggs).collect()[0]
    mean = np.array([row[f"m_{n}"] or 0.0 for n in QUALITY_FEATURES])
    std = np.array([
        s if (s := row[f"s_{n}"]) and s > 1e-12 else 1.0
        for n in QUALITY_FEATURES
    ])
    return mean, std


def _fold_back(w_std: np.ndarray, b_std: float, mean: np.ndarray,
               std: np.ndarray) -> dict:
    """Map standardized-space weights back to raw-feature space so
    scoring needs no centering columns."""
    w_raw = w_std / std
    b_raw = b_std - float(np.dot(w_std, mean / std))
    return {
        "features": list(QUALITY_FEATURES),
        "weights": {n: float(w) for n, w in zip(QUALITY_FEATURES, w_raw)},
        "intercept": b_raw,
    }


def _gd_local(x: np.ndarray, y: np.ndarray, iters: int, lr: float,
              l2: float) -> tuple:
    w = np.zeros(x.shape[1])
    b = 0.0
    n = float(len(y))
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
        err = p - y
        w -= lr * ((x.T @ err) / n + l2 * w)
        b -= lr * float(err.sum()) / n
    return w, b


def train_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    *,
    iters: int = 300,
    lr: float = 1.0,
    l2: float = 1e-6,
    distributed: bool = False,
    max_train_rows: int = MAX_TRAIN_ROWS,
) -> dict:
    """Fit the logistic quality model on a labeled frame and return a
    plain-dict model with keys ``features``, ``weights`` and ``intercept``.

    Default path: the labeled frame is collected (features only — d+1
    doubles per row) behind a ``limit(cap + 1)`` gate that raises a
    descriptive error when the labeled set exceeds ``max_train_rows``;
    training then runs driver-side in float64 numpy, full-batch, zero
    init — deterministic. ``distributed=True`` never collects rows:
    the standardized feature frame is persisted once and each of the
    ``iters`` gradient steps is a single ``agg`` of d+1 sums
    (map-side combined), so it scales to labeled sets of any size at
    the cost of one Spark job per iteration.
    """
    exprs = _feature_exprs(text_col)
    feat = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[expr.alias(name) for name, expr in exprs.items()],
    ).filter(F.col("__y").isNotNull())
    mean, std = _standardization(feat)

    if not distributed:
        rows = feat.limit(max_train_rows + 1).collect()
        if len(rows) > max_train_rows:
            raise ValueError(
                f"labeled training set exceeds max_train_rows="
                f"{max_train_rows}; pass distributed=True (full-batch "
                f"gradient aggregation) or pre-sample the labeled frame"
            )
        x = (np.array([[r[n] for n in QUALITY_FEATURES] for r in rows])
             - mean) / std
        y = np.array([r["__y"] for r in rows])
        w, b = _gd_local(x, y, iters, lr, l2)
        return _fold_back(w, b, mean, std)

    stdized = feat.select(
        "__y",
        *[((F.col(n) - float(m)) / float(s)).alias(n)
          for n, m, s in zip(QUALITY_FEATURES, mean, std)],
    ).persist()
    try:
        n_rows = float(stdized.count())
        w = np.zeros(len(QUALITY_FEATURES))
        b = 0.0
        for _ in range(iters):
            margin = F.lit(float(b))
            for name, wi in zip(QUALITY_FEATURES, w):
                margin = margin + F.lit(float(wi)) * F.col(name)
            err = (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) - F.col("__y")
            grad_row = stdized.agg(
                *[F.sum(err * F.col(n)).alias(n) for n in QUALITY_FEATURES],
                F.sum(err).alias("__b"),
            ).collect()[0]
            g = np.array([grad_row[n] for n in QUALITY_FEATURES]) / n_rows
            w -= lr * (g + l2 * w)
            b -= lr * grad_row["__b"] / n_rows
        return _fold_back(w, b, mean, std)
    finally:
        stdized.unpersist()


def score_quality(df: DataFrame, text_col: str, model: dict,
                  out_col: str = "quality_score",
                  threshold: float | None = None) -> DataFrame:
    """Score every document with the trained model: one map-only
    projection (features + linear + sigmoid, all codegen'd). With
    ``threshold`` set, also appends ``<out_col>_pred`` (int 0/1) — the
    keep/drop decision of the pipeline's filter stage."""
    exprs = _feature_exprs(text_col)
    margin = F.lit(float(model["intercept"]))
    for name in model["features"]:
        margin = margin + F.lit(float(model["weights"][name])) * exprs[name]
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    out = df.withColumn(out_col, score)
    if threshold is not None:
        out = out.withColumn(
            f"{out_col}_pred",
            (F.col(out_col) >= float(threshold)).cast("int"),
        )
    return out


def quality_filter(df: DataFrame, text_col: str, model: dict,
                   keep_above: float = 0.5) -> DataFrame:
    """The pipeline filter itself: keep documents the classifier scores
    above ``keep_above``. Pure filter over the scoring projection —
    Catalyst pushes it into the scan's surviving-row evaluation."""
    return (
        score_quality(df, text_col, model)
        .filter(F.col("quality_score") > float(keep_above))
        .drop("quality_score")
    )
