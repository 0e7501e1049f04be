"""Drift kernels: histogram-based engine vs raw-array oracle, plus
Spark-side FeatureDrift/LabelDrift end-to-end."""

from collections import Counter

import numpy as np
import pytest

from deepchecks_spark import Dataset
from deepchecks_spark.drift import (
    cramers_v_from_counts,
    emd_from_hist,
    ks_from_hist,
    preprocess_counts_to_same_bins,
    psi_from_counts,
    weighted_quantile_linear,
)
from deepchecks_spark.checks.traintest import FeatureDrift, LabelDrift
from deepchecks_spark.core.result import ConditionCategory

from tests.oracle_kernels import cramers_v_raw, emd_raw, ks_raw, psi_raw


def _hist(arr):
    v, c = np.unique(np.asarray(arr, float), return_counts=True)
    return v, c


rng = np.random.default_rng(7)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_ks_matches_oracle(seed):
    r = np.random.default_rng(seed)
    d1 = np.round(r.normal(0, 1, 500), 2)  # rounding → ties exercised
    d2 = np.round(r.normal(0.5, 1.2, 700), 2)
    v1, c1 = _hist(d1)
    v2, c2 = _hist(d2)
    assert ks_from_hist(v1, c1, v2, c2) == pytest.approx(ks_raw(d1, d2), abs=1e-12)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_emd_matches_oracle(seed):
    r = np.random.default_rng(seed)
    d1 = np.round(r.normal(0, 1, 400), 2)
    d2 = np.round(r.normal(0.3, 1, 600), 2)
    v1, c1 = _hist(d1)
    v2, c2 = _hist(d2)
    assert emd_from_hist(v1, c1, v2, c2, 0.025) == pytest.approx(emd_raw(d1, d2, 0.025), abs=1e-10)


def test_weighted_quantile_matches_numpy():
    r = np.random.default_rng(3)
    d = np.round(r.normal(0, 5, 1000), 1)
    v, c = _hist(d)
    qs = [0.0, 0.025, 0.25, 0.5, 0.975, 1.0]
    got = weighted_quantile_linear(v, c, qs)
    want = np.quantile(d, qs)
    assert got == pytest.approx(want, abs=1e-12)


@pytest.mark.parametrize("max_cats,min_ratio", [(None, 0.0), (3, 0.0), (None, 0.1), (4, 0.05)])
def test_cramers_v_matches_oracle(max_cats, min_ratio):
    r = np.random.default_rng(11)
    cats = list("abcdefg")
    d1 = r.choice(cats, 800, p=[0.4, 0.25, 0.15, 0.1, 0.05, 0.03, 0.02])
    d2 = r.choice(cats, 900, p=[0.25, 0.35, 0.15, 0.1, 0.07, 0.05, 0.03])
    got = cramers_v_from_counts(
        dict(Counter(d1)), dict(Counter(d2)), min_category_size_ratio=min_ratio,
        max_num_categories=max_cats, sort_by="dist1",
    )
    want = cramers_v_raw(d1, d2, min_ratio, max_cats, "dist1")
    assert got == pytest.approx(want, abs=1e-12)


@pytest.mark.parametrize("sort_by", ["dist1", "dist2", "difference"])
def test_psi_matches_oracle(sort_by):
    r = np.random.default_rng(13)
    cats = list("abcdef")
    d1 = r.choice(cats, 500, p=[0.5, 0.2, 0.1, 0.1, 0.05, 0.05])
    d2 = r.choice(cats, 650, p=[0.3, 0.3, 0.2, 0.1, 0.05, 0.05])
    got = psi_from_counts(
        dict(Counter(d1)), dict(Counter(d2)), min_category_size_ratio=0.0,
        max_num_categories=4, sort_by=sort_by,
    )
    want = psi_raw(d1, d2, 0.0, 4, sort_by)
    assert got == pytest.approx(want, abs=1e-12)


def test_binning_deterministic_tie_break():
    # equal counts → tie broken by key asc (reference preprocessing.py:179)
    c1 = {"b": 5, "a": 5, "c": 5, "d": 1}
    c2 = {"b": 5, "a": 5, "c": 5, "d": 1}
    _, _, cats = preprocess_counts_to_same_bins(c1, c2, 0.0, 2, "dist1")
    assert cats[:2] == ["a", "b"]


def test_cramers_v_identical_single_category():
    assert cramers_v_from_counts({"x": 10}, {"x": 20}) == 0.0


# -- Spark end-to-end -------------------------------------------------------

def test_feature_drift_end_to_end(spark):
    r = np.random.default_rng(42)
    n = 1000
    train_rows = [
        (float(np.round(x, 2)), str(c))
        for x, c in zip(r.normal(0, 1, n), r.choice(["a", "b"], n, p=[0.8, 0.2]))
    ]
    test_rows = [
        (float(np.round(x, 2)), str(c))
        for x, c in zip(r.normal(1.0, 1, n), r.choice(["a", "b"], n, p=[0.5, 0.5]))
    ]
    train = Dataset(spark.createDataFrame(train_rows, "num double, cat string"),
                    cat_features=["cat"], infer_categorical=False)
    test = Dataset(spark.createDataFrame(test_rows, "num double, cat string"),
                   cat_features=["cat"], infer_categorical=False)
    check = FeatureDrift().add_condition_drift_score_less_than(0.2, 0.2)
    result = check.run(train, test)
    num = result.value["num"]
    cat = result.value["cat"]
    assert num["Method"] == "Kolmogorov-Smirnov"
    assert cat["Method"] == "Cramer's V"
    # oracle comparison on the same data
    d1 = np.array([x[0] for x in train_rows])
    d2 = np.array([x[0] for x in test_rows])
    assert num["Drift score"] == pytest.approx(ks_raw(d1, d2), abs=1e-12)
    c1 = [x[1] for x in train_rows]
    c2 = [x[1] for x in test_rows]
    assert cat["Drift score"] == pytest.approx(
        cramers_v_raw(c1, c2, 0.01, None, "difference"), abs=1e-12
    )
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_feature_drift_no_drift_passes(spark):
    rows = [(float(i % 10), "a" if i % 3 else "b") for i in range(300)]
    train = Dataset(spark.createDataFrame(rows, "num double, cat string"),
                    cat_features=["cat"], infer_categorical=False)
    test = Dataset(spark.createDataFrame(rows, "num double, cat string"),
                   cat_features=["cat"], infer_categorical=False)
    check = FeatureDrift().add_condition_drift_score_less_than()
    result = check.run(train, test)
    assert result.value["num"]["Drift score"] == pytest.approx(0.0)
    assert result.conditions_results[0].category == ConditionCategory.PASS


def test_feature_drift_sketch_mode_close_to_exact(spark, monkeypatch):
    import deepchecks_spark.drift.spark as dspark

    r = np.random.default_rng(5)
    train_rows = [(float(x),) for x in r.normal(0, 1, 4000)]
    test_rows = [(float(x),) for x in r.normal(0.5, 1, 4000)]
    train = Dataset(spark.createDataFrame(train_rows, "num double"), infer_categorical=False)
    test = Dataset(spark.createDataFrame(test_rows, "num double"), infer_categorical=False)
    exact_info = FeatureDrift().run(train, test).value["num"]
    # 4000 distinct values: above this gate the column takes the sketch path
    monkeypatch.setattr(dspark, "EXACT_HIST_MAX_DISTINCT", 10)
    sketch_info = FeatureDrift().run(train, test).value["num"]
    assert "Drift score error bound" not in exact_info and "Drift score error bound" in sketch_info
    exact, sketch = exact_info["Drift score"], sketch_info["Drift score"]
    assert sketch == pytest.approx(exact, abs=0.02)


def test_label_drift(spark):
    train_rows = [("a",)] * 800 + [("b",)] * 200
    test_rows = [("a",)] * 500 + [("b",)] * 500
    train = Dataset(spark.createDataFrame(train_rows, "label string"), label="label",
                    infer_categorical=False, cat_features=[])
    test = Dataset(spark.createDataFrame(test_rows, "label string"), label="label",
                   infer_categorical=False, cat_features=[])
    check = LabelDrift().add_condition_drift_score_less_than(0.15)
    result = check.run(train, test)
    want = cramers_v_raw(["a"] * 800 + ["b"] * 200, ["a"] * 500 + ["b"] * 500, 0.01, None, "dist1")
    assert result.value["Method"] == "Cramer's V"
    assert result.value["Drift score"] == pytest.approx(want, abs=1e-12)
    assert result.conditions_results[0].category == ConditionCategory.FAIL


def test_yates_correction_capped_at_observed_expected_gap():
    # scipy>=1.7 caps the Yates shift at |expected-observed| (scipy gh-13875):
    # two near-identical 2-category distributions must give Cramér's V ~0,
    # not a small positive overshoot.
    from deepchecks_spark.drift.kernels import cramers_v_from_counts

    c1 = {"a": 500, "b": 500}
    c2 = {"a": 501, "b": 499}
    v = cramers_v_from_counts(c1, c2)
    assert v == pytest.approx(0.0, abs=1e-9)


def test_ks_sketch_error_bound_at_10m_rows(spark):
    # |KS_sketch − KS_exact| ≤ ks_sketch_bound() on a 10M-row column
    # (ROADMAP #4 / VERDICT r1 next-9). Values on a 100k-point grid so
    # the exact path stays collectable; test side shifted by 0.05 →
    # exact KS = 0.05.
    from pyspark.sql import functions as F
    from deepchecks_spark.drift import ks_from_hist
    from deepchecks_spark.drift.spark import ks_sketch_bound, numeric_histograms

    n = 10_000_000
    base = spark.range(n).select(
        ((F.col("id") * 2654435761) % 100_000 / 100_000.0).alias("x"),
        (F.col("id") % 2).alias("side"),
    )
    train = base.filter("side = 0").select("x")
    test = base.filter("side = 1").select((F.col("x") + 0.05).alias("x"))
    ve1, ce1 = numeric_histograms(train, ["x"], "exact")["x"]
    ve2, ce2 = numeric_histograms(test, ["x"], "exact")["x"]
    exact = ks_from_hist(ve1, ce1, ve2, ce2)
    vs1, cs1 = numeric_histograms(train, ["x"], "sketch")["x"]
    vs2, cs2 = numeric_histograms(test, ["x"], "sketch")["x"]
    sketch = ks_from_hist(vs1, cs1, vs2, cs2)
    assert exact == pytest.approx(0.05, abs=1e-4)
    # the data-dependent envelope-intersection certificate (r5): 1.8×
    # tighter than the worst case at small drift — and still holds
    assert ks_sketch_bound(sketch) < ks_sketch_bound()
    assert abs(sketch - exact) <= ks_sketch_bound(sketch)


def test_feature_drift_reports_sketch_bound(spark, monkeypatch):
    import deepchecks_spark.drift.spark as dspark
    from deepchecks_spark.checks.traintest import FeatureDrift
    from deepchecks_spark.dataset import Dataset

    # force the sketch path by lowering the exact-histogram gate
    monkeypatch.setattr(dspark, "EXACT_HIST_MAX_DISTINCT", 10)
    rows = [(float(i) / 7.0,) for i in range(2000)]
    train = Dataset(spark.createDataFrame(rows[::2], "x double"), infer_categorical=False)
    test = Dataset(spark.createDataFrame(rows[1::2], "x double"), infer_categorical=False)
    result = FeatureDrift().run(train, test)
    info = result.value["x"]
    assert info["Method"] == "Kolmogorov-Smirnov"
    assert info["Drift score error bound"] == dspark.ks_sketch_bound(info["Drift score"])
    assert info["Drift score"] <= info["Drift score error bound"] + 0.01


def test_emd_sketch_error_bound_at_10m_rows(spark):
    from pyspark.sql import functions as F
    from deepchecks_spark.drift import emd_from_hist
    from deepchecks_spark.drift.spark import emd_sketch_bound, numeric_histograms

    n = 10_000_000
    base = spark.range(n).select(
        ((F.col("id") * 2654435761) % 100_000 / 100_000.0).alias("x"),
        (F.col("id") % 2).alias("side"),
    )
    train = base.filter("side = 0").select("x")
    test = base.filter("side = 1").select((F.col("x") * 0.9 + 0.05).alias("x"))
    ve1, ce1 = numeric_histograms(train, ["x"], "exact")["x"]
    ve2, ce2 = numeric_histograms(test, ["x"], "exact")["x"]
    exact = emd_from_hist(ve1, ce1, ve2, ce2, margin_quantile_filter=0.0)
    vs1, cs1 = numeric_histograms(train, ["x"], "sketch")["x"]
    vs2, cs2 = numeric_histograms(test, ["x"], "sketch")["x"]
    sketch = emd_from_hist(vs1, cs1, vs2, cs2, margin_quantile_filter=0.0)
    assert exact > 0.01  # genuinely drifted
    # data-dependent envelope certificate (r5): tighter, still holds
    assert emd_sketch_bound(sketch) < emd_sketch_bound()
    assert abs(sketch - exact) <= emd_sketch_bound(sketch)


@pytest.mark.parametrize("exact_max", [None, 10])  # the exact path; the sketch path
def test_feature_drift_auto_histograms_backticked_numeric_column(spark, monkeypatch, exact_max):
    import deepchecks_spark.drift.spark as dspark
    from deepchecks_spark.functions.columns import quote_ident

    if exact_max is not None:
        monkeypatch.setattr(dspark, "EXACT_HIST_MAX_DISTINCT", exact_max)
    name = "a`b"
    ddl = f"{quote_ident(name)} double"
    train = Dataset(spark.createDataFrame([(float(i % 50),) for i in range(1000)], ddl),
                    infer_categorical=False)
    test = Dataset(spark.createDataFrame([(float(i % 50) + 25,) for i in range(1000)], ddl),
                   infer_categorical=False)
    info = FeatureDrift().run(train, test).value[name]
    assert info["Method"] == "Kolmogorov-Smirnov"
    # half of the test mass lies above the train maximum
    assert info["Drift score"] == pytest.approx(0.5, abs=0.02)
    assert ("Drift score error bound" in info) == (exact_max is not None)


# -- one shared histogram pass per suite --------------------------------------

def _four_drift_checks(**kw):
    from deepchecks_spark.checks.traintest import NewCategoryTrainTest, PredictionDrift

    cap = {k: v for k, v in kw.items() if k == "n_samples"}
    return [FeatureDrift(**kw), LabelDrift(**kw), NewCategoryTrainTest(**cap),
            PredictionDrift("p", **kw)]


def _drift_sides(spark):
    """Train and test holding a categorical column with nulls (and a
    category new in test), a many-valued and a few-valued numeric
    column, a string label with nulls and a prediction column. Each
    side has as many partitions as the session has slots, so the copy a
    suite persists samples the same rows as a lone check.run."""
    slots = spark.sparkContext.defaultParallelism

    def side(s):
        rows = [(None if i % 7 == 0 else ("z" if s and i % 11 == 0 else "abcd"[i * (1 + s) % 4]),
                 i * 0.37 + 50.0 * s, float(i % 9 + s),
                 None if i % 13 == 0 else ("pos" if (i + s * (i // 3)) % 3 == 0 else "neg"),
                 ["pos", "neg", "pos"][i % (2 + s)])
                for i in range(3000)]
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, slots),
                                   "c string, x double, k double, y string, p string")
        return Dataset(df, label="y", cat_features=["c", "p"], infer_categorical=False)

    return side(0), side(1)


@pytest.mark.parametrize("kw", [{}, {"ignore_na": False}, {"n_samples": 1000}],
                         ids=["default", "keep_nulls", "n_samples"])
def test_suite_drift_checks_match_their_own_runs(spark, monkeypatch, kw):
    # inside one suite the four histogram checks read one shared pass
    # (an explicit n_samples cap reads a one-off pass over the sample);
    # each gives the value of its own check.run
    import deepchecks_spark.drift.spark as dspark
    from deepchecks_spark.core.suite import Suite

    monkeypatch.setattr(dspark, "EXACT_HIST_MAX_DISTINCT", 100)  # x sketched, k exact
    train, test = _drift_sides(spark)
    solo = [check.run(train, test).value for check in _four_drift_checks(**kw)]
    suite = [r.value for r in Suite("drift", *_four_drift_checks(**kw)).run(train, test).results]
    assert suite == solo
    features = suite[0]
    assert set(features) == {"c", "p", "x", "k"}
    assert features["x"]["Drift score error bound"] == dspark.ks_sketch_bound(
        features["x"]["Drift score"])
    assert "Drift score error bound" not in features["k"]
    assert suite[2]["c"]["new_categories"] == ["z"]
    assert {suite[1]["Method"], suite[3]["Method"]} == {"Cramer's V"}


def test_suite_runs_one_drift_histogram_pass_per_side(spark, monkeypatch):
    import deepchecks_spark.core.context as ctx_mod
    from deepchecks_spark.core.result import CheckResult
    from deepchecks_spark.core.suite import Suite

    calls = {"categorical": [], "numeric": []}

    def counted(name, fn):
        def wrapper(df, cols):
            calls[name].append(sorted(cols))
            return fn(df, cols)
        return wrapper

    monkeypatch.setattr(ctx_mod, "categorical_counts",
                        counted("categorical", ctx_mod.categorical_counts))
    monkeypatch.setattr(ctx_mod, "numeric_drift_histograms",
                        counted("numeric", ctx_mod.numeric_drift_histograms))
    train, test = _drift_sides(spark)
    results = Suite("drift", *_four_drift_checks()).run(train, test).results
    assert all(isinstance(r, CheckResult) for r in results), results
    # the label joins the categorical pass (task inference: a string)
    assert calls == {"categorical": [["c", "p", "y"]] * 2, "numeric": [["k", "x"]] * 2}


def test_lone_drift_check_scans_only_its_own_columns(spark, monkeypatch):
    # outside a suite nothing shares the histograms: each check's
    # one-off pass holds only the columns it reads
    import deepchecks_spark.core.context as ctx_mod
    from deepchecks_spark.checks.traintest import NewCategoryTrainTest

    calls = []

    def counted(fn):
        def wrapper(df, cols):
            calls.append(sorted(cols))
            return fn(df, cols)
        return wrapper

    monkeypatch.setattr(ctx_mod, "categorical_counts", counted(ctx_mod.categorical_counts))
    monkeypatch.setattr(ctx_mod, "numeric_drift_histograms",
                        counted(ctx_mod.numeric_drift_histograms))
    train, test = _drift_sides(spark)
    for check, cols in ((FeatureDrift(columns=["x"]), ["x"]), (LabelDrift(), ["y"]),
                        (NewCategoryTrainTest(), ["c", "p"])):
        calls.clear()
        check.run(train, test)
        assert [c for c in calls if c] == [cols, cols], (check, calls)


def test_prediction_drift_reads_a_numeric_prediction_like_a_label(spark):
    # a numeric prediction that task inference calls categorical is in
    # the shared numeric pass only: its check reads a one-off
    # categorical pass, and gives the label-drift value of that column
    from deepchecks_spark.checks.traintest import PredictionDrift

    def side(s):
        rows = [(float(i % 4 if s == 0 else i % 3), float(i % 4)) for i in range(400)]
        return Dataset(spark.createDataFrame(rows, "p double, y double"), label="y",
                       cat_features=[], infer_categorical=False)

    train, test = side(0), side(1)
    value = PredictionDrift("p").run(train, test).value
    relabelled = [Dataset(d.df, label="p", cat_features=[], infer_categorical=False)
                  for d in (train, test)]
    assert value["Method"] == "Cramer's V"
    assert value == LabelDrift().run(*relabelled).value


@pytest.mark.parametrize("max_categories", [1, 3, 6, 50])
def test_categorical_histograms_rank_nulls_as_a_category(spark, max_categories):
    # the shared pass keeps nulls apart from the capped categories; a
    # reader that keeps them ranks them as one more category, so both
    # settings equal a capped histogram over the plain values
    from deepchecks_spark.drift.spark import OTHER_CATEGORY_NAME, categorical_histograms

    rows = [(None if i % 4 == 0 else f"v{0 if i % 3 == 0 else i % 9}", f"w{i % 2}")
            for i in range(200)]
    df = spark.createDataFrame(rows, "c string, d string")

    def oracle(values, ignore_na):
        counts = Counter(v for v in values if v is not None or not ignore_na)
        ranked = sorted(counts, key=lambda k: (-counts[k], k is not None, k or ""))
        if len(ranked) <= max_categories:
            return dict(counts)
        out = {k: counts[k] for k in ranked[:max_categories]}
        out[OTHER_CATEGORY_NAME] = sum(counts[k] for k in ranked[max_categories:])
        return out

    for ignore_na in (True, False):
        both = categorical_histograms(df, ["c", "d"], ignore_na, max_categories)
        assert both["c"] == oracle([r[0] for r in rows], ignore_na)
        # a column is capped alone, whatever columns share its pass
        assert both["c"] == categorical_histograms(df, ["c"], ignore_na, max_categories)["c"]
