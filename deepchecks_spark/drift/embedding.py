"""Embedding-corpus drift — the multivariate companion to the
per-column drift kernels for `array<float>` embedding columns.

The reference's multivariate drift check (
reference/deepchecks/tabular/checks/train_test_validation/multivariate_drift.py)
trains a domain classifier over tabular FEATURES; embeddings have no
named features, so the standard corpus-level statistic is the kernel
maximum mean discrepancy (Gretton et al., JMLR 2012, "A Kernel
Two-Sample Test") estimated with random Fourier features (Rahimi &
Recht, NeurIPS 2007): for the RBF kernel ``k(x,y)=exp(-g*||x-y||^2)``,

    z_j(x) = cos(w_j . x + b_j),  w_j ~ N(0, 2g I),  b_j ~ U[0, 2pi)
    MMD^2  ~= (2/D) * sum_j (mean_A z_j - mean_B z_j)^2

so the whole two-sample statistic collapses to ONE distributive
aggregation per corpus (D feature means + dim coordinate means + a
count), with the projections fixed, seeded constants inlined into the
plan. No pairwise anything, no Python, no shuffle beyond two one-row
exchanges — at 10^12 rows the cost is the two scans.

The same seeded constants are inlined into the DuckDB oracle SQL
(:func:`rff_oracle_sql`), and every dot product folds left-to-right in
both engines, so the comparison is deterministic to the last ulp of
libm cos.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.core.parallel import spread_input
from deepchecks_spark.functions.arrays import double_array_lit
from deepchecks_spark.functions.columns import quote_ident


def rff_params(dim: int, n_features: int, gamma: float, seed: int = 42):
    """Seeded random-Fourier projection constants for the RBF kernel
    ``exp(-gamma * ||x - y||^2)``: returns ``(W, b)`` as plain Python
    float lists (``W`` is n_features x dim, rows ~ N(0, 2*gamma*I);
    ``b`` ~ U[0, 2pi)). Plain floats so the same decimal literals can
    be inlined into both the Spark plan and the oracle SQL."""
    rng = np.random.default_rng(seed)
    w = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(n_features, dim))
    b = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    return [[float(x) for x in row] for row in w], [float(x) for x in b]


def _features_array(vec_col: str, w: list, b: list):
    """All n_features RFF features of a row as ONE array column: a
    single transform over a nested {w, b} literal, instead of
    n_features separate zip_with/aggregate expression trees — Catalyst
    analysis and codegen stay O(1) in the feature count (the
    _pq_books_lit shape trick; profiled at ~15 s of driver/codegen at
    dim 64 x 16 features in the r5 final session for the nested-Add
    form, and still seconds for the per-feature flat form this
    replaces). Each feature's left-fold b + w0*v[1] + w1*v[2] + ... is
    unchanged, so every bit matches the oracle's left-associative SQL
    chain."""
    # TWO Literal nodes total (double_array_lit) instead of a
    # CreateArray/CreateStruct tree of n_features × (dim + 1) element
    # literals: every Catalyst rule pass walks two nodes, and the
    # values are the identical array<array<double>> / array<double>.
    # The transform lambda's second argument is the 0-based feature
    # index, so b_j is fetched from the flat literal — fold start and
    # order (b + w0*v0 + w1*v1 + ...) are unchanged.
    w_lit = double_array_lit([[float(x) for x in w_row] for w_row in w])
    b_lit = double_array_lit([float(b_j) for b_j in b])
    return F.transform(
        w_lit,
        lambda row, j: F.cos(F.aggregate(
            F.zip_with(row, F.col(vec_col),
                       lambda wv, xv: wv * xv.cast("double")),
            F.element_at(b_lit, j + F.lit(1)),
            lambda acc, y: acc + y)),
    )


def _corpus_means(df: DataFrame, vec_col: str, w: list, b: list,
                  dim: int, tag: str) -> DataFrame:
    # the n_features interpreted zip_with folds per row are the heavy
    # map work: spread an under-partitioned scan first (no-op at scale)
    rows = (
        spread_input(df)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(F.col(vec_col), _features_array(vec_col, w, b).alias("__z"))
    )
    # one parsed expression string per aggregate instead of 4-5 chained
    # Column calls each: the (D + dim + 1) aggregates cost (D + dim + 1)
    # py4j round-trips, not ~5x that — measured 0.8 s -> ~0.1 s of
    # driver Python per side at D=16, dim=64. Parsed trees are the
    # identical Avg(ElementAt)/Cast nodes.
    aggs = [F.expr(f"count(1) AS n_{tag}")]
    aggs += [F.expr(f"avg(element_at(__z, {j + 1})) AS z{j}_{tag}")
             for j in range(len(b))]
    vec = quote_ident(vec_col)
    aggs += [F.expr(f"avg(CAST(element_at({vec}, {k + 1}) AS DOUBLE)) AS c{k}_{tag}")
             for k in range(dim)]
    return rows.agg(*aggs)


def embedding_drift(ref: DataFrame, cur: DataFrame, vec_col: str, dim: int,
                    n_features: int = 64, gamma: float | None = None,
                    seed: int = 42) -> DataFrame:
    """RFF-estimated MMD^2 between two embedding corpora plus the
    centroid cosine similarity. One output row::

        n_ref, n_cur, mmd2, centroid_cos

    ``mmd2`` near 0 means the corpora are kernel-indistinguishable at
    this feature resolution; ``centroid_cos`` is the first-moment
    summary (1.0 = identical mean direction). Rows with NULL vectors
    or the wrong dimension are excluded on both sides.

    Scale shape: ONE distributive aggregation per corpus (the RFF
    features and coordinates are codegen'd JVM expressions over the
    array column — no explode, no Python, no Expand), then O(D + dim)
    arithmetic on the two broadcast one-row frames. ``gamma`` defaults
    to ``1/dim`` (the median-heuristic-free convention for unit-ish
    scaled embeddings)."""
    if gamma is None:
        gamma = 1.0 / dim
    w, b = rff_params(dim, n_features, gamma, seed)
    a = _corpus_means(ref, vec_col, w, b, dim, "a")
    c = _corpus_means(cur, vec_col, w, b, dim, "b")
    joined = a.crossJoin(F.broadcast(c))
    # the O(D + 3*dim) final arithmetic as FOUR parsed expression
    # strings instead of ~500 chained Column ops (each a py4j
    # round-trip — measured ~0.9 s of driver Python). SQL + is
    # left-associative and * binds tighter, so the fold order —
    # 0.0 + d0*d0 + d1*d1 + ... — is bit-identical to the Column loop
    # it replaces; 0.0D keeps the double-typed fold start.
    sq = " + ".join(f"(z{j}_a - z{j}_b) * (z{j}_a - z{j}_b)"
                    for j in range(n_features))
    dot = " + ".join(f"c{k}_a * c{k}_b" for k in range(dim))
    na = " + ".join(f"c{k}_a * c{k}_a" for k in range(dim))
    nb = " + ".join(f"c{k}_b * c{k}_b" for k in range(dim))
    return joined.selectExpr(
        "CAST(n_a AS BIGINT) AS n_ref",
        "CAST(n_b AS BIGINT) AS n_cur",
        f"round((0.0D + {sq}) * {2.0 / n_features!r}D, 6) AS mmd2",
        f"round(CASE WHEN (0.0D + {na}) > 0 AND (0.0D + {nb}) > 0 "
        f"THEN (0.0D + {dot}) / (sqrt(0.0D + {na}) * sqrt(0.0D + {nb})) "
        f"END, 6) AS centroid_cos",
    )


def rff_oracle_sql(vec_expr: str, w: list, b: list) -> list:
    """The DuckDB twin of :func:`_features_array` — one
    ``cos(b + w0*vec[1]::DOUBLE + ...)`` string per feature, same
    left-associative fold order as the Spark expression."""
    out = []
    for j in range(len(b)):
        terms = "".join(
            f" + ({wk!r}) * ({vec_expr})[{k + 1}]::DOUBLE"
            for k, wk in enumerate(w[j])
        )
        out.append(f"cos(({b[j]!r}){terms})")
    return out


def embedding_drift_timeseries(df: DataFrame, ts_col: str, vec_col: str,
                               dim: int, granularity: str = "day",
                               n_features: int = 64,
                               gamma: float | None = None,
                               seed: int = 42) -> DataFrame:
    """Embedding-drift TIME SERIES — the multivariate companion to
    :func:`deepchecks_spark.drift.spark.temporal_drift`: per
    ``granularity`` window (``date_trunc`` semantics), the RFF-MMD^2
    of the window's embedding distribution against the FIRST window's.
    One row per window::

        window_start (string), n_rows, mmd2

    (the baseline window reports 0.0 against itself). Rows with NULL
    timestamps, NULL vectors, or the wrong dimension are excluded.

    Scale shape: the RFF features are per-row codegen'd expressions, so
    the whole series is ONE ``groupBy(window)`` aggregation whose
    shuffle carries O(windows x n_features) partial means — the raw
    vectors never enter an exchange; the first-window lookup and the
    per-window MMD are O(windows) broadcast arithmetic after."""
    if gamma is None:
        gamma = 1.0 / dim
    w, b = rff_params(dim, n_features, gamma, seed)
    rows = spread_input(df).filter(
        F.col(ts_col).isNotNull() & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
    ).select(
        F.date_format(F.date_trunc(granularity, F.col(ts_col)),
                      "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        _features_array(vec_col, w, b).alias("__z"),
    )
    # parsed expression strings for the same py4j-chatter reason as
    # embedding_drift: identical Avg/Sub/Mul trees, ~5x fewer driver
    # round-trips building them
    means = rows.groupBy("window_start").agg(
        F.expr("count(1) AS n_rows"),
        *[F.expr(f"avg(element_at(__z, {j + 1})) AS z{j}")
          for j in range(n_features)],
    )
    first = means.crossJoin(
        F.broadcast(means.agg(F.min("window_start").alias("__w0")))
    ).filter(F.col("window_start") == F.col("__w0")).selectExpr(
        *[f"z{j} AS b{j}" for j in range(n_features)])
    sq = " + ".join(f"(z{j} - b{j}) * (z{j} - b{j})"
                    for j in range(n_features))
    return (
        means.crossJoin(F.broadcast(first))
        .selectExpr(
            "window_start",
            "CAST(n_rows AS BIGINT) AS n_rows",
            f"round((0.0D + {sq}) * {2.0 / n_features!r}D, 6) AS mmd2",
        )
        .orderBy("window_start")
    )
