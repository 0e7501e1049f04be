"""Spark-side histogram collection for the drift kernels.

ALL categorical columns share one melted ``groupBy(column, value)``
pass per dataset, and ALL numeric columns share one melted pass (exact
distinct-value histogram) or one fused ``percentile_approx`` agg (GK
sketch, the 10^12-row path) — so drift over k columns costs a constant
number of scans, not k (SURVEY.md §2.5 "fused" rows). A suite runs them
once per side for all its drift checks (``Context.histograms``).

Both shapes reduce to mergeable per-partition state (hash-agg partials
/ GK sketches) → tree aggregation, no raw-data shuffle.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.drift.kernels import (
    OTHER_CATEGORY_NAME,
    cramers_v_from_counts,
    emd_from_hist,
    ks_from_hist,
    psi_from_counts,
)
from deepchecks_spark.functions.columns import melt, quote_ident

# Above this many distinct values per numeric column the exact
# distinct-value histogram stops being "small state" and we switch to
# the GK quantile sketch (documented approximation; exact on fixtures).
EXACT_HIST_MAX_DISTINCT = 100_000
SKETCH_POINTS = 1000
SKETCH_ACCURACY = 10_000  # percentile_approx GK accuracy (rank error ≤ 1/this)


def ks_sketch_bound(ks_estimate: float | None = None) -> float:
    """Certified |KS_sketch − KS_exact| when both histograms come from
    the sketch path.

    Envelope-intersection certificate (ROADMAP #4 tightening): with
    m = SKETCH_POINTS equal-weight atoms at the GK quantiles and
    ε = 1/SKETCH_ACCURACY rank error, a side's reconstructed ECDF error
    at a point preceded by k atoms lies in
    ``[−k/(m(m+1)) − ε, (m+1−k)/(m(m+1)) + ε]`` — a width-(1/m + 2ε)
    envelope whose CENTER shifts with k. Differencing the two sides,
    the centers cancel except for the atom-count gap, and
    ``|k1 − k2| ≤ (m+1)·KS_sketch`` pointwise, so

        |KS_sketch − KS_exact| ≤ (1 + KS_sketch)/m + 2ε .

    With ``ks_estimate`` given this data-dependent bound is returned
    (≈ 1/m + 2ε for small drift — 1.8× tighter than the worst case);
    without it, the KS ≤ 1 worst case 2/m + 2ε (the round-2 constant).
    Weight-rounding noise is O(m/2n) per CDF value, negligible for the
    n ≫ m² row counts that select the sketch path."""
    m = SKETCH_POINTS
    eps = 1.0 / SKETCH_ACCURACY
    d = 1.0 if ks_estimate is None else min(max(ks_estimate, 0.0), 1.0)
    return (1.0 + d) / m + 2.0 * eps


def emd_sketch_bound(emd_estimate: float | None = None) -> float:
    """Certified |EMD_sketch − EMD_exact| on sketch-path histograms:
    after joint min-max scaling to [0,1], W1 = ∫|F1−F2| dx over a unit
    range, and |∫|F̂1−F̂2| − ∫|F1−F2|| ≤ ∫|e1−e2| dx. The same
    envelope-intersection argument as ``ks_sketch_bound`` bounds the
    integrand pointwise by (1 + |F̂1−F̂2|)/m + 2ε, which integrates to
    ``(1 + W1_sketch)/m + 2ε`` — the data-dependent bound returned when
    ``emd_estimate`` is given (W1 ≤ 1 worst case without it). (The
    scale endpoints q0/q1 are themselves GK-approximate, which perturbs
    the [0,1] mapping by O(ε) — covered by the same ε term.)"""
    m = SKETCH_POINTS
    eps = 1.0 / SKETCH_ACCURACY
    w = 1.0 if emd_estimate is None else min(max(emd_estimate, 0.0), 1.0)
    return (1.0 + w) / m + 2.0 * eps


# Per-column driver-side histogram cap: a user-declared cat_features=
# ["url"] must not OOM the driver (VERDICT r1 §wrong-4). Inferred
# categoricals (≤150 uniques) never hit this; the reference itself caps
# display/drift at max_num_categories anyway.
MAX_COLLECTED_CATEGORIES = 10_000


def categorical_counts(df: DataFrame, cols: list,
                       max_categories: int = MAX_COLLECTED_CATEGORIES) -> dict:
    """{col: {category(str): count}} in ONE melted aggregation pass, the
    null count under the ``None`` key.

    Per column, the top ``max_categories`` non-null categories by (count
    desc, value asc) are kept exactly and the tail is rolled into
    OTHER_CATEGORY_NAME *inside the aggregation* — a partitioned window
    over the already-reduced (column, value) counts, so the driver never
    collects an unbounded value set. Nulls stay outside that ranking."""
    if not cols:
        return {}
    grouped = melt(df, cols, cast="string").groupBy("column", "value").count()
    # Fast path: a guarded limit on the aggregated output. If no column
    # holds more than max_categories values (every real categorical),
    # this costs nothing beyond the plain collect; only a pathological
    # high-cardinality column pays for the exact top-N window fallback.
    cap_total = len(cols) * (max_categories + 1) + 1
    rows = grouped.limit(cap_total).collect()
    per_column = Counter(r["column"] for r in rows if r["value"] is not None)
    if len(rows) >= cap_total or max(per_column.values(), default=0) > max_categories:
        from pyspark.sql import Window

        w = Window.partitionBy("column").orderBy(F.desc("count"), F.asc("value"))
        ranked = grouped.filter(F.col("value").isNotNull()) \
            .withColumn("__rn", F.row_number().over(w))
        other = (
            ranked.filter(F.col("__rn") > max_categories)
            .groupBy("column")
            .agg(F.sum("count").alias("count"))
            .select("column", F.lit(OTHER_CATEGORY_NAME).alias("value"), "count")
        )
        rows = (ranked.filter(F.col("__rn") <= max_categories).drop("__rn")
                .unionByName(other).unionByName(grouped.filter(F.col("value").isNull()))
                .collect())
    out: dict = {c: {} for c in cols}
    for r in rows:
        out[r["column"]][r["value"]] = out[r["column"]].get(r["value"], 0) + r["count"]
    return out


def place_null_bucket(hist: dict, ignore_na: bool,
                      max_categories: int = MAX_COLLECTED_CATEGORIES) -> dict:
    """One column of :func:`categorical_counts` without its nulls, or
    with them ranked as one more category (first among equal counts, as
    Spark orders NULL) under the same ``max_categories`` cap."""
    if None not in hist:
        return hist
    if ignore_na:
        return {k: v for k, v in hist.items() if k is not None}
    tail = hist.get(OTHER_CATEGORY_NAME, 0)
    ranked = sorted((k for k in hist if k != OTHER_CATEGORY_NAME),
                    key=lambda k: (-hist[k], k is not None, k or ""))
    if len(ranked) <= max_categories and not tail:
        return hist
    out = {k: hist[k] for k in ranked[:max_categories]}
    out[OTHER_CATEGORY_NAME] = tail + sum(hist[k] for k in ranked[max_categories:])
    return out


def categorical_histograms(df: DataFrame, cols: list, ignore_na: bool = True,
                           max_categories: int = MAX_COLLECTED_CATEGORIES) -> dict:
    """:func:`categorical_counts` with the nulls placed per ``ignore_na``."""
    return {c: place_null_bucket(h, ignore_na, max_categories)
            for c, h in categorical_counts(df, cols, max_categories).items()}


def numeric_histograms(df: DataFrame, cols: list, mode: str) -> dict:
    """{col: (values ndarray, counts ndarray)}.

    mode='exact': melted groupBy(column, value).count() — exact ECDF.
    mode='sketch': fused percentile_approx (GK, mergeable) — 1001
    equal-weight quantile samples per column.
    """
    if not cols:
        return {}
    if mode == "exact":
        melted = melt(df, cols, cast="double").filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        )
        rows = melted.groupBy("column", "value").count().collect()
        by_col: dict = {c: [] for c in cols}
        for r in rows:
            by_col[r["column"]].append((r["value"], r["count"]))
        out = {}
        for c in cols:
            pairs = sorted(by_col[c])
            out[c] = (
                np.array([p[0] for p in pairs], dtype=float),
                np.array([p[1] for p in pairs], dtype=np.int64),
            )
        return out
    if mode == "sketch":
        qs = [i / SKETCH_POINTS for i in range(SKETCH_POINTS + 1)]
        aggs = []
        for c in cols:
            col = F.col(quote_ident(c)).cast("double")
            clean = F.when(~F.isnan(col), col)
            aggs.append(F.percentile_approx(clean, qs, SKETCH_ACCURACY).alias(f"q::{c}"))
            aggs.append(F.count(clean).alias(f"n::{c}"))
        row = df.agg(*aggs).first().asDict()
        out = {}
        for c in cols:
            quantiles = row[f"q::{c}"]
            n = row[f"n::{c}"]
            if not quantiles or not n:
                out[c] = (np.array([]), np.array([], dtype=np.int64))
                continue
            vals, counts = np.unique(np.array(quantiles, dtype=float), return_counts=True)
            # equal-weight quantile samples, scaled to the true row count so
            # min_samples guards behave like the reference
            weights = np.maximum(
                np.round(counts / counts.sum() * n).astype(np.int64), 1
            )
            out[c] = (vals, weights)
        return out
    raise ValueError(f"unknown mode {mode!r}")


def numeric_drift_histograms(df: DataFrame, cols: list) -> tuple:
    """(histograms, sketched columns): exact while a column's approx
    distinct count is at most EXACT_HIST_MAX_DISTINCT, else the sketch."""
    if not cols:
        return {}, frozenset()
    row = df.agg(*[F.approx_count_distinct(quote_ident(c)).alias(c) for c in cols]).first()
    sketched = frozenset(c for c in cols if (row[c] or 0) > EXACT_HIST_MAX_DISTINCT)
    out = numeric_histograms(df, [c for c in cols if c not in sketched], "exact")
    out.update(numeric_histograms(df, [c for c in cols if c in sketched], "sketch"))
    return out, sketched


class DriftHistograms(NamedTuple):
    """One side's :func:`categorical_counts` and
    :func:`numeric_drift_histograms`."""

    categorical: dict
    numerical: dict
    sketched: frozenset

    def category_counts(self, col: str, ignore_na: bool) -> dict:
        return place_null_bucket(self.categorical[col], ignore_na)


def calc_drift_score(
    kind: str,
    train_hist,
    test_hist,
    margin_quantile_filter: float = 0.025,
    max_num_categories_for_drift: int | None = None,
    min_category_size_ratio: float = 0.01,
    numerical_drift_method: str = "KS",
    categorical_drift_method: str = "cramers_v",
    balance_classes: bool = False,
    show_categories_by: str = "largest_difference",
    min_samples: int = 10,
):
    """Dispatcher mirroring reference calc_drift_and_plot
    (drift.py:373-556), minus plotting. Returns (score, method_name) or
    ('not_enough_samples', None)."""
    if kind == "numerical":
        v1, c1 = train_hist
        v2, c2 = test_hist
        n1 = int(c1.sum()) if len(c1) else 0
        n2 = int(c2.sum()) if len(c2) else 0
        if n1 < min_samples or n2 < min_samples:
            return "not_enough_samples", None
        if numerical_drift_method.lower() == "emd":
            return (
                emd_from_hist(v1, c1, v2, c2, margin_quantile_filter),
                "Earth Mover's Distance",
            )
        if numerical_drift_method.lower() in ("ks", "kolmogorov-smirnov"):
            return ks_from_hist(v1, c1, v2, c2), "Kolmogorov-Smirnov"
        raise ValueError(f"unknown numerical_drift_method {numerical_drift_method!r}")
    if kind == "categorical":
        n1 = sum(train_hist.values())
        n2 = sum(test_hist.values())
        if n1 < min_samples or n2 < min_samples:
            return "not_enough_samples", None
        sort_by = (
            "difference"
            if show_categories_by == "largest_difference"
            else ("dist1" if show_categories_by == "train_largest" else "dist2")
        )
        if categorical_drift_method.lower() in ("cramer_v", "cramers_v"):
            return (
                cramers_v_from_counts(
                    train_hist,
                    test_hist,
                    balance_classes=balance_classes,
                    min_category_size_ratio=min_category_size_ratio,
                    max_num_categories=max_num_categories_for_drift,
                    sort_by=sort_by,
                ),
                "Cramer's V",
            )
        if categorical_drift_method.lower() == "psi":
            return (
                psi_from_counts(
                    train_hist,
                    test_hist,
                    min_category_size_ratio=min_category_size_ratio,
                    max_num_categories=max_num_categories_for_drift,
                    sort_by=sort_by,
                ),
                "PSI",
            )
        raise ValueError(f"unknown categorical_drift_method {categorical_drift_method!r}")
    raise ValueError(f"unsupported column type for drift: {kind}")


def temporal_drift(df: DataFrame, ts_col: str, value_col: str,
                   granularity: str = "day", n_bins: int = 10) -> DataFrame:
    """Drift TIME SERIES — the continuous-monitoring companion to the
    two-snapshot FeatureDrift check: per ``granularity`` window
    (``date_trunc`` semantics: 'hour' / 'day' / 'week' / 'month'), the
    PSI of ``value_col``'s binned distribution against the FIRST
    window's distribution, with the reference's 0.01 share floor
    (``PSI_MIN_PERCENTAGE``). Output one row per window::

        window_start (string), n_rows, psi

    Binning is fixed-width over the global [min, max] (``n_bins``
    equal intervals, top edge closed) so every window is measured on
    the SAME support — per-window quantile bins would confound drift
    with bin movement.

    Scale shape: fully distributed, nothing collected — one scalar agg
    for the global extremes (broadcast back), then ONE
    map-side-combined ``groupBy(window, bin)`` — the only shuffle that
    sees data volume; totals, the baseline-window distribution and the
    dense window × bin grid all derive from that O(windows × bins)
    table (broadcast joins), and the PSI fold is a tiny final groupBy.
    At 100 TB the cost is the scan plus one (window, bin)-rows
    exchange."""
    ts = F.col(ts_col)
    v = F.col(value_col)
    rows = df.filter(ts.isNotNull() & v.isNotNull()).select(
        F.date_format(F.date_trunc(granularity, ts), "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        v.cast("double").alias("__v"),
    )
    mm = rows.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    binned = rows.crossJoin(F.broadcast(mm)).select(
        "window_start",
        F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0)
        ).otherwise(
            F.least(
                F.floor((F.col("__v") - F.col("__lo"))
                        / (F.col("__hi") - F.col("__lo")) * n_bins),
                F.lit(n_bins - 1),
            )
        ).cast("int").alias("bin"),
    )
    wc = binned.groupBy("window_start", "bin").agg(
        F.count(F.lit(1)).alias("n"))
    wt = wc.groupBy("window_start").agg(F.sum("n").alias("total"))
    first = wt.agg(F.min("window_start").alias("__w0"))
    base = (
        wc.crossJoin(F.broadcast(first))
        .filter(F.col("window_start") == F.col("__w0"))
        .select("bin", F.col("n").alias("__bn"))
    )
    base_total = base.agg(F.sum("__bn").alias("__btot"))
    grid = wt.withColumn(
        "bin", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))))
    j = (
        grid.join(wc, ["window_start", "bin"], "left")
        .join(F.broadcast(base), "bin", "left")
        .crossJoin(F.broadcast(base_total))
        .select(
            "window_start", "total",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("__bn"), F.lit(0)).alias("bn"),
            F.col("__btot"),
        )
    )
    e = F.greatest(F.col("bn") / F.col("__btot").cast("double"), F.lit(0.01))
    a = F.greatest(F.col("n") / F.col("total").cast("double"), F.lit(0.01))
    return (
        j.groupBy("window_start")
        .agg(
            F.max("total").cast("long").alias("n_rows"),
            F.round(F.sum((e - a) * F.log(e / a)), 6).alias("psi"),
        )
        .orderBy("window_start")
    )
