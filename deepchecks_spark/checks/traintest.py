"""Train/test-validation checks
(reference deepchecks/tabular/checks/train_test_validation/).

The reference does set ops with python ``set``; here they are Spark
semi/anti joins with the small distinct side broadcast, and the drift
checks of a suite read one shared histogram pass per side
(``Context.histograms``, see drift/spark.py). Reference
file:line citations per check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from deepchecks_spark.core.checks import (
    USE_DEFAULT,
    TrainTestCheck,
    format_number,
    format_percent,
    get_condition_passed_message,
)
from deepchecks_spark.core.result import ConditionCategory, ConditionResult
from deepchecks_spark.dataset import is_numeric_type
from deepchecks_spark.drift.spark import calc_drift_score, emd_sketch_bound, ks_sketch_bound
from deepchecks_spark.functions.columns import melt, quote_ident
from deepchecks_spark.functions.strings import baseform_expr

SUPPORTED_CATEGORICAL_METHODS = ("Cramer's V", "PSI")
SUPPORTED_NUMERIC_METHODS = ("Earth Mover's Distance", "Kolmogorov-Smirnov")
# calc_drift_score's parameters that a drift check holds as attributes
_DRIFT_PARAMS = ("margin_quantile_filter", "max_num_categories_for_drift",
                "min_category_size_ratio", "numerical_drift_method", "categorical_drift_method",
                "balance_classes", "show_categories_by", "min_samples")


def _selected(cols, columns, ignore_columns) -> list:
    """``cols`` within ``columns`` and outside ``ignore_columns`` (None: all)."""
    return [c for c in cols if (columns is None or c in columns)
            and (ignore_columns is None or c not in ignore_columns)]


def _drift_score(check, kind: str, train_hist, test_hist) -> tuple:
    """(score or None when a side has too few samples, method name)
    under ``check``'s drift parameters."""
    params = {p: getattr(check, p) for p in _DRIFT_PARAMS if hasattr(check, p)}
    score, method = calc_drift_score(kind, train_hist, test_hist, **params)
    return (None if score == "not_enough_samples" else score), method


def drift_condition(max_cat: float, max_num: float, unit: str, unit_plural: str,
                    allowed_exceeding: int = 0):
    """reference utils/distribution/drift.py drift_condition."""

    def condition(result):
        scores = {
            col: info
            for col, info in result.items()
            if isinstance(info, dict) and "Drift score" in info and info["Drift score"] is not None
        }
        failing = {}
        for col, info in scores.items():
            threshold = max_cat if info["Method"] in SUPPORTED_CATEGORICAL_METHODS else max_num
            if info["Drift score"] >= threshold:
                failing[col] = format_number(info["Drift score"])
        if len(failing) > allowed_exceeding:
            return ConditionResult(
                ConditionCategory.FAIL,
                f"Found {len(failing)} out of {len(scores)} {unit_plural} with drift score above threshold: "
                f"{failing}",
            )
        return ConditionResult(ConditionCategory.PASS, f"Passed for {len(scores)} {unit_plural}")

    return condition


class FeatureDrift(TrainTestCheck):
    """Per-feature distribution drift between train and test.

    Reference: tabular/checks/train_test_validation/feature_drift.py:104-221
    + utils/abstracts/feature_drift.py:42-163. Dispatch: numeric → KS
    (default) / EMD; categorical → Cramér's V (default) / PSI; min 10
    samples per side; value = {col: {'Drift score', 'Method',
    'Importance'}}.

    Spark: one categorical and one numeric histogram pass per side over
    the selected columns, whatever their number. Inside a suite the
    check reads the suite's shared drift pass (``Context.histograms``)
    instead, whatever the number of drift checks.
    """

    DEFAULT_N_SAMPLES = 100_000

    def __init__(self, columns=None, ignore_columns=None, sort_feature_by: str = "drift + importance",
                 margin_quantile_filter: float = 0.025, max_num_categories_for_drift: int | None = None,
                 min_category_size_ratio: float = 0.01, show_categories_by: str = "largest_difference",
                 numerical_drift_method: str = "KS", categorical_drift_method: str = "cramers_v",
                 ignore_na: bool = True, min_samples: int = 10, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.sort_feature_by = sort_feature_by
        self.margin_quantile_filter = margin_quantile_filter
        self.max_num_categories_for_drift = max_num_categories_for_drift
        self.min_category_size_ratio = min_category_size_ratio
        self.show_categories_by = show_categories_by
        self.numerical_drift_method = numerical_drift_method
        self.categorical_drift_method = categorical_drift_method
        self.ignore_na = ignore_na
        self.min_samples = min_samples

    def compute(self, ctx):
        train = ctx.train
        cats = _selected(train.cat_features, self.columns, self.ignore_columns)
        nums = _selected([c for c in train.numerical_features
                          if is_numeric_type(train.schema_of(c))], self.columns, self.ignore_columns)
        train_h, test_h = self._effective_histograms(ctx, cats, nums)
        sketched = train_h.sketched | test_h.sketched
        fi = ctx.feature_importance or {}
        hists = {c: ("categorical", train_h.category_counts(c, self.ignore_na),
                     test_h.category_counts(c, self.ignore_na)) for c in cats}
        hists.update({c: ("numerical", train_h.numerical[c], test_h.numerical[c]) for c in nums})
        value = {}
        for c, hist in hists.items():
            score, method = _drift_score(self, *hist)
            value[c] = {"Drift score": score, "Method": method, "Importance": fi.get(c)}
            if c in sketched and method is not None:
                # sketch-mode score is score ± ε (ROADMAP #4): report ε so
                # threshold conditions near the bound can be flagged; KS
                # gets the data-dependent envelope-intersection bound
                value[c]["Drift score error bound"] = (
                    ks_sketch_bound(value[c]["Drift score"])
                    if method == "Kolmogorov-Smirnov"
                    else emd_sketch_bound(value[c]["Drift score"])
                )
        return value, None

    def add_condition_drift_score_less_than(self, max_allowed_categorical_score: float = 0.2,
                                            max_allowed_numeric_score: float = 0.2,
                                            allowed_num_features_exceeding_threshold: int = 0):
        return self.add_condition(
            f"categorical drift score < {max_allowed_categorical_score} and numerical drift score < "
            f"{max_allowed_numeric_score}",
            drift_condition(max_allowed_categorical_score, max_allowed_numeric_score, "column", "columns",
                            allowed_num_features_exceeding_threshold),
        )

    def reduce_output(self, check_result, aggregation_method: str = "l3_weighted") -> dict:
        """Headline monitoring number(s) from the per-feature drift scores
        (reference feature_drift.py:217-221 + core/reduce_classes.py:
        100-127), weighted by feature importance."""
        from deepchecks_spark.core.reduce import reduce_output as _reduce

        scores = {c: info.get("Drift score") for c, info in check_result.value.items()}
        importance = {c: info.get("Importance") for c, info in check_result.value.items()}
        if all(v is None for v in importance.values()):
            importance = None
        return _reduce(scores, importance, aggregation_method, "Drift Score")


class LabelDrift(TrainTestCheck):
    """Drift of the label column (reference utils/abstracts/label_drift.py:25-105,
    tabular/.../label_drift.py). Condition default 0.15."""

    DEFAULT_N_SAMPLES = 100_000

    def __init__(self, margin_quantile_filter: float = 0.025, max_num_categories_for_drift: int | None = None,
                 min_category_size_ratio: float = 0.01, numerical_drift_method: str = "KS",
                 categorical_drift_method: str = "cramers_v", balance_classes: bool = False,
                 ignore_na: bool = True, min_samples: int = 10, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.margin_quantile_filter = margin_quantile_filter
        self.max_num_categories_for_drift = max_num_categories_for_drift
        self.min_category_size_ratio = min_category_size_ratio
        self.numerical_drift_method = numerical_drift_method
        self.categorical_drift_method = categorical_drift_method
        self.balance_classes = balance_classes
        self.ignore_na = ignore_na
        self.min_samples = min_samples

    def compute(self, ctx):
        label = ctx.train.label_name
        if label is None:
            raise ValueError("LabelDrift requires a label column")
        return self._column_drift(ctx, label), None

    def _column_drift(self, ctx, col: str) -> dict:
        """Drift of one label-like column, categorical or numerical as
        task inference names it (``Context.target_is_numeric``)."""
        if ctx.target_is_numeric(col):
            train_h, test_h = self._effective_histograms(ctx, [], [col])
            score, method = _drift_score(self, "numerical", train_h.numerical[col],
                                        test_h.numerical[col])
        else:
            train_h, test_h = self._effective_histograms(ctx, [col], [])
            score, method = _drift_score(self, "categorical",
                                        train_h.category_counts(col, self.ignore_na),
                                        test_h.category_counts(col, self.ignore_na))
        return {"Drift score": score, "Method": method}

    def add_condition_drift_score_less_than(self, max_allowed_drift_score: float = 0.15):
        def condition(result):
            score = result["Drift score"]
            details = f"Label's drift score {result['Method']} is {format_number(score)}"
            if score is not None and score >= max_allowed_drift_score:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(f"Label drift score < {max_allowed_drift_score}", condition)

    def reduce_output(self, check_result) -> dict:
        """reference label_drift.py:139-141."""
        return {"Label Drift Score": check_result.value["Drift score"]}


class PredictionDrift(LabelDrift):
    """Drift of a model-prediction column (reference tabular/.../
    prediction_drift.py shares the LabelDrift kernels via
    utils/abstracts/label_drift.py): identical computation, applied to a
    named prediction column instead of the label, which is read like a
    label — task inference picks categorical or numerical drift."""

    def __init__(self, prediction_column: str, **kw):
        super().__init__(**kw)
        self.prediction_column = prediction_column

    def compute(self, ctx):
        return self._column_drift(ctx, self.prediction_column), None

    def reduce_output(self, check_result) -> dict:
        """reference prediction_drift.py:197-200."""
        return {"Prediction Drift Score": check_result.value["Drift score"]}


class DatasetsSizeComparison(TrainTestCheck):
    """len(train) / len(test) (reference train_test_validation/
    datasets_size_comparison.py). Counts come from the shared stats pass."""

    def compute(self, ctx):
        value = {
            "Train": ctx.stats("train", tuple(ctx.train.columns)).n_rows,
            "Test": ctx.stats("test", tuple(ctx.test.columns)).n_rows,
        }
        return value, None

    def add_condition_test_train_size_ratio_greater_than(self, ratio: float = 0.01):
        def condition(result):
            r = result["Test"] / result["Train"] if result["Train"] else 0
            details = f"Test-Train size ratio is {format_number(r)}"
            if r <= ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(f"Test-Train size ratio is greater than {ratio}", condition)


class ReferentialIntegrity(TrainTestCheck):
    """Foreign-key containment: every value of a fact-table column must
    exist in a dimension-table column (north-rule "broadcast/sort-merge
    referential checks"; engine addition — the reference has no tabular
    FK check, its closest analogues are the semi-join leakage checks,
    e.g. index_leakage.py).

    run(fact, dimension): value = {'n_rows', 'n_orphans',
    'orphan_ratio', 'sample_orphans'}. Spark: left_anti join of the
    fact side against dimension.select(key).distinct() — the distinct
    dimension key set is the small side, so Catalyst/AQE broadcasts it
    (or falls back to sort-merge for a genuinely large dimension);
    counting is a plain aggregate, only the bounded orphan sample is
    collected.
    """

    def __init__(self, column: str, dim_column: str | None = None,
                 n_to_show: int = 5, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.column = column
        self.dim_column = dim_column or column
        self.n_to_show = n_to_show

    def run(self, fact, dimension, context=None):
        """Fact and dimension tables legitimately have different
        schemas — build the context without the train/test same-schema
        contract."""
        import time as _time

        from deepchecks_spark.core.context import Context as _Ctx

        t0 = _time.time()
        ctx = context if context is not None else _Ctx(
            train=fact, test=dimension, require_same_schema=False)
        value, violations = self.compute(ctx)
        return self._finalize(ctx, value, violations, t0)

    def compute(self, ctx):
        fact_df = self._effective_df(ctx, "train")
        dim_df = self._effective_df(ctx, "test")
        fk = F.col(quote_ident(self.column))
        dim_keys = (
            dim_df.select(F.col(quote_ident(self.dim_column)).alias(self.column))
            .filter(F.col(self.column).isNotNull()).distinct()
        )
        # NULL FKs are not orphans (SQL referential semantics)
        orphans = fact_df.filter(fk.isNotNull()).join(dim_keys, on=self.column, how="left_anti")
        # ONE execution of the fact scan + anti-join (VERDICT r3
        # what's-wrong #2: count + sample used to be two actions over an
        # unpersisted lineage — the most expensive stage ran twice).
        # Persist only the projected key column: count() materializes the
        # cache, the distinct sample then reads InMemoryTableScan, and a
        # clean result skips the second job entirely.
        from pyspark import StorageLevel

        proj = orphans.select(self.column).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_orphans = proj.count()
            sample = [] if n_orphans == 0 else [
                r[self.column] for r in
                proj.distinct().orderBy(F.asc(self.column))
                .limit(self.n_to_show).collect()]
        finally:
            proj.unpersist()
        n_rows = self._effective_n_rows(ctx, "train", fact_df)
        value = {
            "n_rows": n_rows,
            "n_orphans": n_orphans,
            "orphan_ratio": (n_orphans / n_rows) if n_rows else 0.0,
            "sample_orphans": sample,
        }
        return value, None

    def add_condition_orphan_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            ratio = result["orphan_ratio"]
            details = (
                f"Found {format_percent(ratio)} of rows ({result['n_orphans']}) referencing "
                f"missing keys, e.g. {result['sample_orphans']}"
                if result["n_orphans"] else "All foreign keys resolve"
            )
            if ratio > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Orphaned foreign-key ratio is less or equal to {format_percent(max_ratio)}",
            condition,
        )

    def reduce_output(self, check_result) -> dict:
        return {"Orphaned Keys Ratio": check_result.value["orphan_ratio"]}


class NewLabelTrainTest(TrainTestCheck):
    """Labels in test absent from train (reference train_test_validation/
    new_label_train_test.py).

    value = {'n_new_labels_samples', 'n_samples', 'new_labels': {label:
    count}}. Spark: the distinct label sets are tiny → left_anti join
    with the train side broadcast; counts from the test label histogram
    (no second scan).
    """

    MAX_LABEL_CARDINALITY = 100_000

    def compute(self, ctx):
        label = ctx.train.label_name
        if label is None:
            raise ValueError("NewLabelTrainTest requires a label column")
        train_df = self._effective_df(ctx, "train")  # honors explicit n_samples (ADVICE r2)
        test_df = self._effective_df(ctx, "test")
        test_counts = (
            test_df.filter(F.col(label).isNotNull()).groupBy(label).count()
        )
        # No forced broadcast: classification labels are tiny (AQE will
        # broadcast them anyway), but a near-unique regression label would
        # OOM a forced broadcast — let Catalyst/AQE pick the strategy.
        train_distinct = train_df.select(label).filter(F.col(label).isNotNull()).distinct()
        # guarded collect in the SAME job (no extra pre-scan): a
        # near-unique label (misconfigured regression target) would OOM
        # the driver here (VERDICT r2 §wrong-3)
        cap = self.MAX_LABEL_CARDINALITY
        new_rows = (test_counts.join(train_distinct, on=label, how="left_anti")
                    .limit(cap + 1).collect())
        if len(new_rows) > cap:
            raise ValueError(
                f"{self.name()}: label column {label!r} has more than {cap} distinct values "
                "new in test. This check collects the new-label histogram driver-side and "
                "expects a classification-style label; pass a lower-cardinality label or "
                "raise MAX_LABEL_CARDINALITY explicitly.")
        n_test = self._effective_n_rows(ctx, "test", test_df)
        new_labels = {r[label]: r["count"] for r in sorted(new_rows, key=lambda r: str(r[label]))}
        value = {
            "n_new_labels_samples": sum(new_labels.values()),
            "n_samples": n_test,
            "new_labels": new_labels,
        }
        return value, None

    def add_condition_new_labels_number_less_or_equal(self, max_new: int = 0):
        def condition(result):
            n = len(result["new_labels"])
            details = (
                f"Found {n} new labels in test data: {sorted(result['new_labels'], key=str)}"
                if n
                else "No new labels found"
            )
            if n > max_new:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(f"Number of new label values is less or equal to {max_new}", condition)

    def add_condition_new_label_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            ratio = result["n_new_labels_samples"] / result["n_samples"] if result["n_samples"] else 0
            details = f"{format_percent(ratio)} of samples with new labels in test data"
            if ratio > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Ratio of samples with new label is less or equal to {format_percent(max_ratio)}", condition
        )

    def reduce_output(self, check_result) -> dict:
        """reference new_label_train_test.py:108-120 (our value keys)."""
        return {"Samples with New Labels": float(check_result.value["n_new_labels_samples"])}


class NewCategoryTrainTest(TrainTestCheck):
    """Per categorical feature: test categories absent from train.

    Reference: train_test_validation/new_category_train_test.py. value =
    {col: {'n_new_categories', 'ratio_of_new_categories', 'new_categories'}}.
    Spark: one melted categorical-histogram agg per dataset for ALL the
    selected cat features (inside a suite, the suite's shared pass,
    ``Context.histograms``); the set difference runs on the tiny
    collected histograms.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns

    def compute(self, ctx):
        cats = _selected(ctx.train.cat_features, self.columns, self.ignore_columns)
        train_h, test_h = self._effective_histograms(ctx, cats, [])
        value = {}
        for c in cats:
            train_cats = set(train_h.category_counts(c, ignore_na=True))
            test_counts = test_h.category_counts(c, ignore_na=True)
            new = {k: v for k, v in test_counts.items() if k not in train_cats}
            n_test = sum(test_counts.values())
            value[c] = {
                "n_new_categories": len(new),
                "ratio_of_new_categories": (sum(new.values()) / n_test) if n_test else 0.0,
                "new_categories": sorted(new, key=str),
            }
        return value, None

    def add_condition_new_categories_less_or_equal(self, max_new: int = 0):
        def condition(result):
            failing = {
                c: info["n_new_categories"] for c, info in result.items() if info["n_new_categories"] > max_new
            }
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result)} columns with number of new categories above "
                    f"threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(f"Number of new category values is less or equal to {max_new}", condition)

    def add_condition_new_category_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            failing = {
                c: format_percent(info["ratio_of_new_categories"])
                for c, info in result.items()
                if info["ratio_of_new_categories"] > max_ratio
            }
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result)} columns with ratio of new category samples "
                    f"above threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(
            f"Ratio of samples with a new category is less or equal to {format_percent(max_ratio)}", condition
        )

    def reduce_output(self, check_result, aggregation_method: str = "max") -> dict:
        """reference new_category_train_test.py:138-143."""
        from deepchecks_spark.core.reduce import reduce_output as _reduce

        values = {c: info["ratio_of_new_categories"] for c, info in check_result.value.items()}
        return _reduce(values, None, aggregation_method, "New Categories Ratio")


class StringMismatchComparison(TrainTestCheck):
    """Baseforms shared by train & test where test has variant strings
    train lacks (reference train_test_validation/string_mismatch_comparison.py:95-121).

    value per (column, baseform) mirrors the reference: commons /
    variants_only_in_test / variants_only_in_train plus the two percent
    fields (counts over the dataset's row count). Spark: per-dataset
    melted ``groupBy(column, baseform, value).count()`` rolled up to a
    per-baseform (value → count) map, inner join on (column, baseform) —
    only distinct-value-level data shuffles; set ops + percents run on
    the tiny joined rows driver-side.

    ``max_distinct_to_check`` (engine addition, same policy as
    StringMismatch): columns whose approx distinct count exceeds the
    gate on either side are skipped instead of collecting an unbounded
    variant map. One narrow approx_count_distinct agg per side.
    """

    DEFAULT_N_SAMPLES = 1_000_000

    def __init__(self, columns=None, ignore_columns=None, n_samples=USE_DEFAULT,
                 max_distinct_to_check: int = 10_000, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.max_distinct_to_check = max_distinct_to_check

    def compute(self, ctx):
        from deepchecks_spark.checks.integrity import _string_columns

        cols = _string_columns(ctx.train, self.columns, self.ignore_columns)
        value = {c: {} for c in cols}
        if not cols:
            return value, None
        train_df = self._effective_df(ctx, "train")  # honors explicit n_samples (ADVICE r2)
        test_df = self._effective_df(ctx, "test")
        if self.max_distinct_to_check is not None:
            aggs = [F.approx_count_distinct(quote_ident(c)).alias(c) for c in cols]
            tr = train_df.agg(*aggs).first()
            te = test_df.agg(*aggs).first()
            cols = [c for c in cols
                    if max(tr[c] or 0, te[c] or 0) <= self.max_distinct_to_check]
            if not cols:
                return value, None

        def baseform_variant_counts(df, out_name):
            melted = melt(df, cols).filter(F.col("value").isNotNull())
            return (
                melted.withColumn("base", baseform_expr(F.col("value"), allow_empty_result=False))
                .groupBy("column", "base", "value")
                .count()
                .groupBy("column", "base")
                .agg(F.map_from_entries(
                    F.collect_list(F.struct("value", "count"))).alias(out_name))
            )

        train_v = baseform_variant_counts(train_df, "train_counts")
        test_v = baseform_variant_counts(test_df, "test_counts")
        joined = test_v.join(train_v, on=["column", "base"], how="inner").collect()
        n_train = self._effective_n_rows(ctx, "train", train_df)
        n_test = self._effective_n_rows(ctx, "test", test_df)
        for r in joined:
            tv, bv = dict(r["test_counts"]), dict(r["train_counts"])
            only_test = sorted(set(tv) - set(bv))
            if not only_test:
                continue
            only_train = sorted(set(bv) - set(tv))
            value[r["column"]][r["base"]] = {
                "commons": sorted(set(tv) & set(bv)),
                "variants_only_in_test": only_test,
                "variants_only_in_train": only_train,
                "percent_variants_only_in_test":
                    (sum(tv[v] for v in only_test) / n_test) if n_test else 0.0,
                "percent_variants_in_train":
                    (sum(bv[v] for v in only_train) / n_train) if n_train else 0.0,
                # engine back-compat alias (pre-round-2 key)
                "train_variants": sorted(bv),
            }
        return value, None

    @staticmethod
    def _percent_limit_condition(ratio: float):
        """reference string_mismatch_comparison.py:167-180."""
        def condition(result):
            failing = {}
            for col, baseforms in result.items():
                sum_percent = sum(
                    info["percent_variants_only_in_test"] for info in baseforms.values())
                if sum_percent > ratio:
                    failing[col] = format_percent(sum_percent)
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result)} relevant columns with ratio of "
                    f"variants above threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return condition

    def add_condition_no_new_variants(self):
        return self.add_condition("No new variants allowed in test data",
                                  self._percent_limit_condition(0))

    def add_condition_ratio_new_variants_less_or_equal(self, ratio: float):
        return self.add_condition(
            f"Ratio of new variants in test data is less or equal to {format_percent(ratio)}",
            self._percent_limit_condition(ratio),
        )


class IndexTrainTestLeakage(TrainTestCheck):
    """|test index ∩ train index| / |test| (reference train_test_validation/
    index_leakage.py). Spark: left_semi join on the index column — Catalyst
    picks broadcast vs sort-merge by the (distinct) train-side size."""

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, n_index_to_show: int = 5, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.n_index_to_show = n_index_to_show

    def compute(self, ctx):
        index = ctx.train.spec.index_name
        if index is None:
            raise ValueError("IndexTrainTestLeakage requires an index column (DatasetSpec.index_name)")
        train_src = self._effective_df(ctx, "train")  # honors explicit n_samples (ADVICE r2)
        test_src = self._effective_df(ctx, "test")
        test_df = test_src.filter(F.col(index).isNotNull())
        leaked = test_df.join(train_src.select(index).distinct(), on=index, how="left_semi")
        n_leaked = leaked.count()
        n_test = self._effective_n_rows(ctx, "test", test_src)
        ratio = n_leaked / n_test if n_test else 0.0
        violations = (
            leaked.select(index).distinct().orderBy(F.asc(index)).limit(self.n_index_to_show)
        )
        return ratio, violations

    def add_condition_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            details = f"Found {format_percent(result)} of index leakage" if result else "No index leakage found"
            if result > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Ratio of leaking indices is less or equal to {format_percent(max_ratio)}", condition
        )


class DateTrainTestLeakageDuplicates(TrainTestCheck):
    """Test datetimes that exactly appear in train / |test| (reference
    train_test_validation/date_train_test_leakage_duplicates.py).
    Spark: semi join on the datetime column (distinct train side)."""

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, n_to_show: int = 5, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.n_to_show = n_to_show

    def compute(self, ctx):
        dt_col = ctx.train.spec.datetime_name
        if dt_col is None:
            raise ValueError("DateTrainTestLeakageDuplicates requires datetime_name on the dataset")
        test_df = self._effective_df(ctx, "test").filter(F.col(dt_col).isNotNull())
        leaked = test_df.join(
            self._effective_df(ctx, "train").select(dt_col).distinct(), on=dt_col, how="left_semi")
        n_leaked = leaked.count()
        n_test = test_df.count()
        ratio = n_leaked / n_test if n_test else 0.0
        violations = leaked.select(dt_col).distinct().orderBy(F.asc(dt_col)).limit(self.n_to_show)
        return ratio, violations

    def add_condition_leakage_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            details = f"Found {format_percent(result)} leaked dates" if result else "No leaked dates found"
            if result > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Date leakage ratio is less or equal to {format_percent(max_ratio)}", condition
        )


class DateTrainTestLeakageOverlap(TrainTestCheck):
    """Fraction of test rows dated before max(train date) — scalar theta
    predicate (reference train_test_validation/date_train_test_leakage_overlap.py).
    Spark: one max() scalar, broadcast into one avg(test.date < lit)."""

    def compute(self, ctx):
        dt_col = ctx.train.spec.datetime_name
        if dt_col is None:
            raise ValueError("DateTrainTestLeakageOverlap requires datetime_name on the dataset")
        max_train = self._effective_df(ctx, "train").agg(F.max(dt_col).alias("m")).first()["m"]
        if max_train is None:
            return 0.0, None
        ratio_row = (
            self._effective_df(ctx, "test").filter(F.col(dt_col).isNotNull())
            .agg(F.avg((F.col(dt_col) < F.lit(max_train)).cast("double")).alias("r"))
            .first()
        )
        return float(ratio_row["r"] or 0.0), None

    def add_condition_leakage_ratio_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            details = (
                f"Found {format_percent(result)} of test data dates before last training data date"
                if result
                else "No overlap found"
            )
            if result > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Date leakage ratio is less or equal to {format_percent(max_ratio)}", condition
        )


class TrainTestSamplesMix(TrainTestCheck):
    """Exact duplicate rows (features + label) across train and test,
    as a ratio over test (reference train_test_validation/
    train_test_samples_mix.py).

    Spark: null-safe left_semi join of test against
    train.dropDuplicates(cols) — two-stage agg on the train side then a
    semi join; AQE skew-join handles hot keys (web duplicates are
    Zipf-skewed).
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, n_to_show: int = 5, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.n_to_show = n_to_show

    def compute(self, ctx):
        cols = list(ctx.train.features)
        if ctx.train.label_name:
            cols.append(ctx.train.label_name)
        train_src = self._effective_df(ctx, "train")  # honors explicit n_samples (ADVICE r2)
        test_src = self._effective_df(ctx, "test")
        train_dedup = train_src.select(*cols).dropDuplicates(cols)
        cond = [test_src[c].eqNullSafe(train_dedup[c]) for c in cols]
        mixed = test_src.join(train_dedup, on=cond, how="left_semi")
        n_mixed = mixed.count()
        n_test = self._effective_n_rows(ctx, "test", test_src)
        ratio = n_mixed / n_test if n_test else 0.0
        value = {"ratio": ratio}
        violations = mixed.limit(self.n_to_show)
        return value, violations

    def add_condition_duplicates_ratio_less_or_equal(self, max_ratio: float = 0.05):
        """reference utils/abstracts/train_test_samples_mix.py:28-45."""
        def condition(result):
            ratio = result["ratio"]
            details = (
                f"Percent of test data samples that appear in train data: {format_percent(ratio)}"
                if ratio
                else "No samples mix found"
            )
            if ratio > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Percentage of test data samples that appear in train data is less or equal to "
            f"{format_percent(max_ratio)}",
            condition,
        )
