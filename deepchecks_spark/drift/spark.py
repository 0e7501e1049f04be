"""Spark-side histogram collection for the drift kernels.

ALL categorical columns share one melted ``groupBy(column, value)``
pass per dataset, and ALL numeric columns share one melted pass (exact
distinct-value histogram) or one fused ``percentile_approx`` agg (GK
sketch, the 10^12-row path) — so FeatureDrift over k columns costs a
constant number of scans, not k (SURVEY.md §2.5 "fused" rows).

Both shapes reduce to mergeable per-partition state (hash-agg partials
/ GK sketches) → tree aggregation, no raw-data shuffle.
"""

from __future__ import annotations

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


def categorical_histograms(df: DataFrame, cols: list, ignore_na: bool = True,
                           max_categories: int = MAX_COLLECTED_CATEGORIES) -> dict:
    """{col: {category(str): count}} in ONE melted aggregation pass.

    Per-column output is capped at ``max_categories``: the top-N
    categories by (count desc, value asc) are kept exactly and the tail
    is rolled into OTHER_CATEGORY_NAME *inside the aggregation* — a
    partitioned window over the already-reduced (column, value) counts,
    so the driver never collects an unbounded value set."""
    if not cols:
        return {}
    melted = melt(df, cols, cast="string")
    if ignore_na:
        melted = melted.filter(F.col("value").isNotNull())
    grouped = melted.groupBy("column", "value").count()
    if max_categories is None:
        rows = grouped.collect()
    else:
        # Fast path: a guarded limit on the aggregated output. If the
        # limit is NOT hit (every real categorical), this costs nothing
        # beyond the plain collect; only a pathological high-cardinality
        # column pays for the exact top-N window fallback.
        cap_total = len(cols) * max_categories + 1
        rows = grouped.limit(cap_total).collect()
        if len(rows) >= cap_total:
            from pyspark.sql import Window

            w = Window.partitionBy("column").orderBy(F.desc("count"), F.asc("value"))
            ranked = grouped.withColumn("__rn", F.row_number().over(w))
            kept = ranked.filter(F.col("__rn") <= max_categories).drop("__rn")
            other = (
                ranked.filter(F.col("__rn") > max_categories)
                .groupBy("column")
                .agg(F.sum("count").alias("count"))
                .select("column", F.lit(OTHER_CATEGORY_NAME).alias("value"), "count")
            )
            rows = kept.unionByName(other).collect()
    out: dict = {c: {} for c in cols}
    for r in rows:
        key = r["value"] if r["value"] is not None else None
        out[r["column"]][key] = out[r["column"]].get(key, 0) + r["count"]
    return out


def numeric_histograms(
    df: DataFrame,
    cols: list,
    mode: str = "auto",
    distinct_counts: dict | None = None,
    sketched_out: set | None = None,
) -> dict:
    """{col: (values ndarray, counts ndarray)}.

    mode='exact': melted groupBy(column, value).count() — exact ECDF.
    mode='sketch': fused percentile_approx (GK, mergeable) — 1001
    equal-weight quantile samples per column.
    mode='auto': exact when the approx distinct count is small enough.
    ``sketched_out``: pass a set to learn which columns took the sketch
    path (so callers can attach ks_sketch_bound to their scores).
    """
    if not cols:
        return {}
    if mode == "auto":
        if distinct_counts is None:
            row = df.agg(
                *[F.approx_count_distinct(quote_ident(c)).alias(c) for c in cols]
            ).first()
            distinct_counts = row.asDict()
        exact_cols = [c for c in cols if (distinct_counts.get(c) or 0) <= EXACT_HIST_MAX_DISTINCT]
        sketch_cols = [c for c in cols if c not in set(exact_cols)]
        if sketched_out is not None:
            sketched_out.update(sketch_cols)
        out = numeric_histograms(df, exact_cols, "exact") if exact_cols else {}
        if sketch_cols:
            out.update(numeric_histograms(df, sketch_cols, "sketch"))
        return out
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
