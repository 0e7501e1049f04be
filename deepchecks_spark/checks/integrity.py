"""Data-integrity checks (reference deepchecks/tabular/checks/data_integrity/).

Each check reimplements the reference's *semantics* on Spark primitives:
stats-driven checks read the Context's fused single-scan aggregation
pass; value-driven string checks share one melted
``(column, value) groupBy`` pass; key-driven checks are two-stage
hash aggregations with AQE/salting notes inline. Reference file:line
citations are in each docstring for parity checking.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepchecks_spark.core.checks import (
    USE_DEFAULT,
    SingleDatasetCheck,
    StatsCheck,
    format_number,
    format_percent,
    get_condition_passed_message,
)
from deepchecks_spark.core.result import ConditionCategory, ConditionResult
from deepchecks_spark.functions.columns import melt, quote_ident
from deepchecks_spark.functions.strings import (
    NULL_BASEFORMS,
    baseform_expr,
    is_special_only_expr,
    numeric_like_expr,
)


def _string_columns(ds, columns=None, ignore_columns=None, exclude_cat: bool = False):
    cols = [c for c in ds.columns if isinstance(ds.schema_of(c), T.StringType)]
    if columns is not None:
        cols = [c for c in cols if c in set(columns)]
    if ignore_columns is not None:
        cols = [c for c in cols if c not in set(ignore_columns)]
    if exclude_cat:
        cols = [c for c in cols if c not in set(ds.cat_features)]
    return cols


class ColumnsInfo(SingleDatasetCheck):
    """Role and logical type of each column (reference
    data_integrity/columns_info.py:21-56 + dataset.py:754-781).
    value = {column: role}; pure metadata, no Spark jobs beyond the
    Dataset's own categorical inference."""

    def __init__(self, n_top_columns: int = 10, **kw):
        super().__init__(**kw)
        self.n_top_columns = n_top_columns

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        info = ds.columns_info
        fi = ctx.feature_importance or {}
        if fi:
            # feature-importance ordering (reference column_importance_
            # sorter_dict): role columns first, then by importance desc
            role_rank = {"index": 0, "date": 0, "label": 0}
            info = dict(sorted(
                info.items(),
                key=lambda kv: (role_rank.get(kv[1], 1), -fi.get(kv[0], 0.0), kv[0]),
            ))
        return info, None


class IsSingleValue(StatsCheck):
    """Per-column unique-value count; flags constant columns.

    Reference: data_integrity/is_single_value.py:60-104. value =
    {column: n_unique}. ``ignore_nan=True`` (default) excludes nulls;
    False counts null as a value (reference uses dropna=ignore_nan).
    Spark: served by the fused stats pass — countDistinct excludes
    nulls; the null-inclusive variant adds 1 when null_count > 0.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, ignore_nan: bool = True,
                 n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.ignore_nan = ignore_nan

    def value_from_stats(self, ds, stats):
        value = {}
        for c in _select_cols(ds, self.columns, self.ignore_columns):
            st = stats.per_column[c]
            n_unique = st["distinct"]
            # Spark countDistinct excludes NULL but counts float NaN as a
            # value; pandas nunique(dropna=True) excludes both. Align:
            if self.ignore_nan and st.get("nan_count"):
                n_unique -= 1
            elif not self.ignore_nan and st["null_count"] > 0:
                n_unique += 1
            value[c] = int(n_unique)
        return value

    def add_condition_not_single_value(self):
        def condition(result):
            single = [k for k, v in result.items() if v == 1]
            if single:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(single)} out of {len(result)} columns with a single value: {single}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition("Does not contain only a single value", condition)


class PercentOfNulls(StatsCheck):
    """Per-column null ratio (reference data_integrity/percent_of_nulls.py:72-103).

    value = {column: ratio}; Spark: fused stats pass (one scan for the
    whole suite, avg(isNull) is algebraic → pure map-side partials).
    """

    DEFAULT_N_SAMPLES = 100_000

    def __init__(self, columns=None, ignore_columns=None, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns

    def value_from_stats(self, ds, stats):
        return {c: float(stats.per_column[c]["percent_null"])
                for c in _select_cols(ds, self.columns, self.ignore_columns)}

    def add_condition_percent_of_nulls_not_greater_than(self, threshold: float = 0.05):
        def condition(result):
            failing = {c: format_percent(r) for c, r in result.items() if r > threshold}
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result)} columns with null ratio above threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(
            f"Percent of null values in each column is not greater than {format_percent(threshold)}", condition
        )

    def reduce_output(self, check_result, aggregation_method: str = "max") -> dict:
        """reference percent_of_nulls.py:105-110."""
        from deepchecks_spark.core.reduce import reduce_output as _reduce

        return _reduce(dict(check_result.value), None, aggregation_method, "Null Ratio")


class MixedNulls(SingleDatasetCheck):
    """Counts of each distinct null representation per column.

    Reference: data_integrity/mixed_nulls.py:81-151 — string values
    whose string_baseform ∈ {'none','null','nan','na',''} plus real
    null/NaN variants. value = {'n_samples': n, 'columns': {col:
    {null_repr: {count, percent}}}}. String reprs are keyed
    ``repr(value)`` with double quotes exactly like the reference
    (mixed_nulls.py:126-131); Spark's single NULL maps to key 'null'
    and float NaN to 'NaN' (documented taxonomy collapse, SURVEY §2.6).

    Spark plan: selective filter (baseform ∈ 5 constants) over ONE
    melted (column, value) pass → groupBy(column, value).count().
    The filter passes a tiny fraction of rows, so the shuffle is
    negligible; real-null counts come free from the fused stats pass.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, null_string_list=None,
                 n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.null_string_list = tuple(null_string_list) if null_string_list else NULL_BASEFORMS

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        cols = _select_cols(ds, self.columns, self.ignore_columns)
        df, stats = self._effective_data(ctx, kind)
        rows = []
        str_cols = [c for c in cols if isinstance(ds.schema_of(c), T.StringType)]
        if str_cols and stats.n_rows:
            melted = melt(df, str_cols)
            bf = baseform_expr(F.col("value"), allow_empty_result=False)
            rows = (
                melted.filter(F.col("value").isNotNull() & bf.isin(*self.null_string_list))
                .groupBy("column", "value")
                .count()
                .collect()
            )
        return self.value_from_counts(cols, stats, rows), None

    @staticmethod
    def value_from_counts(cols, stats, null_strings) -> dict:
        """The value over ``cols`` from each distinct null-representation
        string's count (``null_strings``: rows of column, value, count)
        and the null / NaN counts of ``stats``. No Spark job."""
        n_rows = stats.n_rows
        value = {"n_samples": n_rows, "columns": {c: {} for c in cols}}
        for r in null_strings:
            key = '"%s"' % r["value"]  # repr with double quotes, reference :126
            value["columns"][r["column"]][key] = {
                "count": r["count"],
                "percent": r["count"] / n_rows,
            }
        for c in cols:
            st = stats.per_column[c]
            if st["null_count"] > 0:
                value["columns"][c]["null"] = {
                    "count": st["null_count"],
                    "percent": st["null_count"] / n_rows,
                }
            if st.get("nan_count"):
                value["columns"][c]["NaN"] = {
                    "count": st["nan_count"],
                    "percent": st["nan_count"] / n_rows,
                }
        return value

    def add_condition_different_nulls_less_equal_to(self, max_allowed_null_types: int = 1):
        def condition(result):
            failing = {
                c: len(nulls) for c, nulls in result["columns"].items() if len(nulls) > max_allowed_null_types
            }
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result['columns'])} columns with amount of null types "
                    f"above threshold: {failing}",
                )
            return ConditionResult(
                ConditionCategory.PASS, get_condition_passed_message(result['columns'])
            )

        return self.add_condition(
            f"Number of different null types is less or equal to {max_allowed_null_types}", condition
        )

    def reduce_output(self, check_result, aggregation_method: str = "max") -> dict:
        """reference mixed_nulls.py:153-170: per column, the summed
        count over its null kinds (0 when only one kind exists) as a
        fraction of n_samples."""
        from deepchecks_spark.core.reduce import reduce_output as _reduce

        value = check_result.value
        n = value.get("n_samples") or 0
        pct = {}
        for col, reprs in value["columns"].items():
            counts = [info["count"] for info in reprs.values()]
            total = sum(counts) if len(counts) > 1 else 0
            pct[col] = (total / n) if n else 0.0
        return _reduce(pct, None, aggregation_method, "Percent Mixed Nulls")


class MixedDataTypes(StatsCheck):
    """Fraction of number-like vs string-like values in string columns.

    Reference: data_integrity/mixed_data_types.py:105-174. value =
    {col: {} | {'strings': frac, 'numbers': frac, 'strings_examples':
    [...], 'numbers_examples': [...]}} over non-null values; a column
    with all-or-none parseable values yields {}.

    Spark: the number-like count (``try_cast(double) IS NOT NULL``) is
    in the fused stats pass, so the ratios (all the condition reads)
    come from the stats alone. Only ``compute`` (a suite or ``run``)
    fetches the example values, with limit(3) scans for the (rare)
    columns that actually mix. The runner never fetches them: its global
    and per-partition verdicts both call :meth:`value_from_stats`.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns

    def value_from_stats(self, ds, stats):
        value = {}
        for c in _select_cols(ds, self.columns, self.ignore_columns):
            st = stats.per_column[c]
            non_null = st["n"] or 0
            nums = st.get("numeric_like") or 0
            if not isinstance(ds.schema_of(c), T.StringType) or non_null == 0 \
                    or nums in (0, non_null):
                value[c] = {}
                continue
            value[c] = {"strings": (non_null - nums) / non_null, "numbers": nums / non_null}
        return value

    def compute(self, ctx, kind):
        df, stats = self._effective_data(ctx, kind)
        value = self.value_from_stats(ctx.data(kind), stats)
        for c, ratios in value.items():
            if not ratios:
                continue
            qc = F.col(quote_ident(c))
            num_cond = numeric_like_expr(qc)
            for key, cond in (("strings_examples", ~num_cond), ("numbers_examples", num_cond)):
                ratios[key] = [r[0] for r in
                               df.filter(qc.isNotNull() & cond).select(qc).limit(3).collect()]
        return value, None

    def add_condition_rare_type_ratio_not_in_range(self, ratio_range=(0.01, 0.1)):
        """Danger-zone condition, reference mixed_data_types.py:138-174."""

        def condition(result):
            failing = []
            for col, ratios in result.items():
                if not ratios:
                    continue
                rarer = min(ratios["strings"], ratios["numbers"])
                if ratio_range[0] < rarer < ratio_range[1]:
                    failing.append(col)
            if failing:
                return ConditionResult(
                    ConditionCategory.WARN,
                    f"Found {len(failing)} out of {len(result)} columns with non-negligible quantities of "
                    f"samples with a different data type from the majority of samples: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(
            f"Rare data types in column are either more than {format_percent(ratio_range[1])} or less than "
            f"{format_percent(ratio_range[0])} of the data",
            condition,
        )


class SpecialCharacters(StatsCheck):
    """Ratio of samples that are entirely special characters.

    Reference: data_integrity/special_chars.py:80-143 — a sample is
    flagged when it is a non-empty string whose baseform is empty.
    value = {column: ratio}. Spark: ``special_only`` counter in the
    fused stats pass; offending examples via a lazy top-k only for
    flagged columns.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, n_most_common: int = 2,
                 n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.n_most_common = n_most_common

    def value_from_stats(self, ds, stats):
        value = {}
        for c in _select_cols(ds, self.columns, self.ignore_columns):
            st = stats.per_column[c]
            if "special_only" not in st:  # non-string columns never flag
                value[c] = 0.0
                continue
            denom = st["n"] or 0
            value[c] = (st["special_only"] / denom) if denom else 0.0
        return value

    def most_common_special_samples(self, ds, column: str, k: int | None = None) -> list:
        """Deterministic top-k offending samples (orderBy(count desc, value))."""
        k = k or self.n_most_common
        qc = F.col(quote_ident(column))
        flagged = ds.df.filter(
            is_special_only_expr(qc)
        )
        rows = (
            flagged.groupBy(qc.alias("value")).count()
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(k)
            .collect()
        )
        return [(r["value"], r["count"]) for r in rows]

    def add_condition_ratio_of_special_characters_less_or_equal(self, max_ratio: float = 0.001):
        def condition(result):
            failing = {c: format_percent(r) for c, r in result.items() if r > max_ratio}
            if failing:
                return ConditionResult(
                    ConditionCategory.WARN,
                    f"Found {len(failing)} out of {len(result)} relevant columns with ratio above threshold: "
                    f"{failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(
            f"Ratio of samples containing solely special character is less or equal to {format_percent(max_ratio)}",
            condition,
        )


class ClassImbalance(SingleDatasetCheck):
    """Label distribution, normalized & rounded to 2dp.

    Reference: data_integrity/class_imbalance.py:55-117 — value =
    value_counts(normalize=True).round(2) as a dict ordered most→least
    frequent (deterministic tie-break: count desc, label asc).
    Spark: groupBy(label).count() — bounded output (#classes).
    """

    DEFAULT_N_SAMPLES = 10_000_000
    # The label histogram is collected driver-side — fine for
    # classification labels (the reference's assumption too), but a
    # misconfigured near-unique label would OOM the driver. Same gate
    # policy as StringMismatch.max_distinct_to_check (VERDICT r2 §wrong-3).
    MAX_LABEL_CARDINALITY = 100_000

    def __init__(self, ignore_nan: bool = True, n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.ignore_nan = ignore_nan

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        if ds.label_name is None:
            raise ValueError("ClassImbalance requires a dataset with a label")
        label = F.col(quote_ident(ds.label_name))
        df = self._effective_df(ctx, kind)
        if self.ignore_nan:
            df = df.filter(label.isNotNull())
        # guarded collect in the SAME job (no extra pre-scan, exact
        # threshold): a near-unique label (misconfigured regression
        # target) would OOM the driver here (VERDICT r2 §wrong-3);
        # deterministic (count desc, label asc nulls-first) ordering is
        # applied driver-side on the bounded result.
        cap = self.MAX_LABEL_CARDINALITY
        rows = df.groupBy(label.alias("label")).count().limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"{self.name()}: label column {ds.label_name!r} has more than {cap} "
                "distinct values. This check collects the label histogram driver-side "
                "and expects a classification-style label; pass a lower-cardinality "
                "label column or raise MAX_LABEL_CARDINALITY explicitly."
            )
        rows.sort(key=lambda r: (-r["count"], r["label"] is not None,
                                 r["label"] if r["label"] is not None else 0))
        total = sum(r["count"] for r in rows)
        value = {r["label"]: round(r["count"] / total, 2) for r in rows} if total else {}
        return value, None

    def add_condition_class_ratio_less_than(self, class_imbalance_ratio_th: float = 0.1):
        def condition(result):
            keys = list(result.keys())
            ratio = result[keys[-1]] / result[keys[0]]
            details = f"The ratio between least to most frequent label is {format_number(ratio)}"
            if ratio >= class_imbalance_ratio_th:
                return ConditionResult(ConditionCategory.WARN, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            "The ratio between least frequent label to most frequent label is less than or equal "
            f"{class_imbalance_ratio_th}",
            condition,
        )


class DataDuplicates(SingleDatasetCheck):
    """percent_duplicate = 1 − n_distinct_rows / n_rows over selected columns.

    Reference: data_integrity/data_duplicates.py:62-120 (groupby all
    columns, dropna=False). Spark: ONE two-stage hash aggregation —
    ``groupBy(*cols).count()`` (map-side partial aggregation collapses
    duplicate-heavy partitions before the shuffle, which is exactly the
    salting effect needed for skewed web keys; AQE handles residual
    skew) → ``agg(count(1), sum(count))``. Top-k duplicate groups reuse
    the grouped frame via TakeOrdered. Null-safe grouping is Spark's
    default (null keys group together, like pandas dropna=False).
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, n_to_show: int = 5,
                 n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.n_to_show = n_to_show

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        cols = _select_cols(ds, self.columns, self.ignore_columns)
        if not cols:
            raise ValueError("no columns to check")
        df = self._effective_df(ctx, kind)
        grouped = df.groupBy(*[F.col(quote_ident(c)) for c in cols]).count()
        agg = grouped.agg(
            F.count(F.lit(1)).alias("n_unique"), F.coalesce(F.sum("count"), F.lit(0)).alias("n_samples")
        ).first()
        n_unique, n_samples = agg["n_unique"], agg["n_samples"]
        if n_samples == 0:
            raise ValueError("Dataset does not contain any data")
        percent_duplicate = 1 - (1.0 * int(n_unique)) / (1.0 * int(n_samples))
        violations = (
            grouped.filter(F.col("count") > 1)
            .orderBy(F.desc("count"), *[F.asc(quote_ident(c)) for c in cols])
            .limit(self.n_to_show)
        )
        return percent_duplicate, violations

    def add_condition_ratio_less_or_equal(self, max_ratio: float = 0.05):
        """reference utils/abstracts/data_duplicates.py:30-50 — category
        WARN (not FAIL), default max_ratio 0.05."""
        def condition(result):
            details = f"Found {format_percent(result)} duplicate data"
            if result > max_ratio:
                return ConditionResult(ConditionCategory.WARN, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Duplicate data ratio is less or equal to {format_percent(max_ratio)}", condition
        )


class ConflictingLabels(SingleDatasetCheck):
    """Feature-identical rows with different labels.

    Reference: data_integrity/conflicting_labels.py:67-141 — group by
    all features; groups with >1 distinct label are ambiguous; value =
    {'percent': fraction of rows in ambiguous groups, 'samples_indices':
    […]}. Spark: groupBy(features).agg(countDistinct(label), count) —
    two-stage agg, AQE-skew-safe.

    ``salt_buckets``: explicit key salting for pathologically hot
    feature-keys (boilerplate web rows where one key holds a large
    fraction of the corpus). The aggregation becomes groupBy(features,
    salt) → partial label-sets per salt bucket → groupBy(features) final
    merge (flatten + distinct + sum) — identical results, bounded
    per-task state. Map-side combine already bounds the count-style
    aggs; salting additionally bounds the collect_set state per task.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, n_to_show: int = 5,
                 n_samples=USE_DEFAULT, salt_buckets: int | None = None, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.n_to_show = n_to_show
        self.salt_buckets = salt_buckets

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        if ds.label_name is None:
            raise ValueError("ConflictingLabels requires a dataset with a label")
        features = [c for c in _select_cols(ds, self.columns, self.ignore_columns) if c != ds.label_name]
        if not features:
            raise ValueError("no feature columns to check")
        label = F.col(quote_ident(ds.label_name))
        fcols = [F.col(quote_ident(c)) for c in features]
        df = self._effective_df(ctx, kind)
        if self.salt_buckets:
            salted = (
                df.withColumn(
                    "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(self.salt_buckets))
                )
                .groupBy(*fcols, F.col("__salt"))
                .agg(
                    F.collect_set(label).alias("labels_part"),
                    F.count(F.lit(1)).alias("n_part"),
                )
            )
            grouped = salted.groupBy(*fcols).agg(
                F.sort_array(F.array_distinct(F.flatten(F.collect_list("labels_part")))).alias("labels"),
                F.sum("n_part").alias("n_rows"),
            ).withColumn("n_labels", F.size("labels"))
        else:
            grouped = df.groupBy(*fcols).agg(
                F.countDistinct(label).alias("n_labels"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sort_array(F.collect_set(label)).alias("labels"),
            )
        agg = grouped.agg(
            F.coalesce(F.sum(F.when(F.col("n_labels") > 1, F.col("n_rows"))), F.lit(0)).alias("ambiguous_rows"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("total"),
        ).first()
        percent = (agg["ambiguous_rows"] / agg["total"]) if agg["total"] else 0.0
        violations = (
            grouped.filter(F.col("n_labels") > 1)
            .orderBy(F.desc("n_rows"), *[F.asc(quote_ident(c)) for c in features])
            .limit(self.n_to_show)
        )
        return {"percent": percent}, violations

    def add_condition_ratio_of_conflicting_labels_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            ratio = result["percent"]
            details = f"Ratio of samples with conflicting labels: {format_percent(ratio)}"
            if ratio > max_ratio:
                return ConditionResult(ConditionCategory.FAIL, details)
            return ConditionResult(ConditionCategory.PASS, details)

        return self.add_condition(
            f"Ambiguous sample ratio is less or equal to {format_percent(max_ratio)}", condition
        )


class StringMismatch(SingleDatasetCheck):
    """Different variants of the same string baseform.

    Reference: data_integrity/string_mismatch.py:76-121 — per string
    column, group distinct values by string_baseform; baseforms with
    more than one variant are violations. value matches the reference
    shape exactly: {'n_samples': n, 'columns': {col: {baseform:
    [{'variant', 'count', 'percent'}, ...]}}} (string_mismatch.py:86-108;
    variant lists are sorted by variant here — the reference emits
    pandas uniques order, which has no distributed equivalent).

    Spark: one melted pass → groupBy(column, baseform, value).count()
    (two-stage partial agg) → per-(column, baseform) variant counts via
    a second tiny aggregation over the already-reduced frame. Only
    reduced (distinct-value-level) data ever shuffles.

    ``max_distinct_to_check`` (engine addition): free-text columns make
    the collected variant map unbounded; columns whose distinct count
    exceeds the gate are skipped (empty result), same policy as the
    suite runner. The distinct counts come free from the shared fused
    stats pass.
    """

    DEFAULT_N_SAMPLES = 1_000_000

    def __init__(self, columns=None, ignore_columns=None, n_samples=USE_DEFAULT,
                 max_distinct_to_check: int = 10_000, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.max_distinct_to_check = max_distinct_to_check

    def compute(self, ctx, kind):
        ds = ctx.data(kind)
        cols = _string_columns(ds, self.columns, self.ignore_columns)
        if not cols:
            # no string columns → zero Spark jobs beyond the cached count
            return {"n_samples": ctx.n_rows(kind), "columns": {}}, None
        df, stats = self._effective_data(ctx, kind)
        n_rows = stats.n_rows
        value = {"n_samples": n_rows, "columns": {c: {} for c in cols}}
        if self.max_distinct_to_check is not None:
            cols = [
                c for c in cols
                if (stats.per_column[c].get("distinct") or 0) <= self.max_distinct_to_check
            ]
            if not cols:
                return value, None
        melted = melt(df, cols).filter(F.col("value").isNotNull())
        per_variant = (
            melted.withColumn("base", baseform_expr(F.col("value"), allow_empty_result=False))
            .groupBy("column", "base", "value")
            .count()
        )
        from pyspark.sql import Window

        w = Window.partitionBy("column", "base")
        mismatched = (
            per_variant.withColumn("n_variants", F.count(F.lit(1)).over(w))
            .filter(F.col("n_variants") > 1)
            .collect()
        )
        for r in sorted(mismatched, key=lambda r: (r["column"], r["base"], r["value"])):
            value["columns"][r["column"]].setdefault(r["base"], []).append({
                "variant": r["value"],
                "count": r["count"],
                "percent": r["count"] / n_rows,
            })
        return value, None

    @staticmethod
    def _condition_variants_number(result, num_max_variants: int,
                                   max_cols_to_show: int = 5, max_forms_to_show: int = 5):
        """reference string_mismatch.py:183-195, byte-identical details —
        including the reference's PASS message quirk (it passes the
        literal list ['columns'], so PASS always reads '1 relevant
        column')."""
        import itertools

        not_passing: dict = {}
        for col, baseforms in result["columns"].items():
            for base_form, variants_list in baseforms.items():
                if len(variants_list) > num_max_variants:
                    forms = not_passing.setdefault(col, [])
                    if len(forms) < max_forms_to_show:
                        forms.append(base_form)
        if not_passing:
            variants_to_show = dict(itertools.islice(not_passing.items(), max_cols_to_show))
            return ConditionResult(
                ConditionCategory.WARN,
                f"Found {len(not_passing)} out of {len(result['columns'])} columns with amount of "
                f"variants above threshold: {variants_to_show}",
            )
        return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(["columns"]))

    def add_condition_number_variants_less_or_equal(self, num_max_variants: int):
        """reference string_mismatch.py:138-147."""
        return self.add_condition(
            f"Number of string variants is less or equal to {num_max_variants}",
            lambda result: self._condition_variants_number(result, num_max_variants),
        )

    def add_condition_no_variants(self):
        """reference string_mismatch.py:149-152 → _condition_variants_number
        with num_max_variants=0, category WARN."""
        return self.add_condition(
            "No string variants",
            lambda result: self._condition_variants_number(result, 0),
        )

    def add_condition_ratio_variants_less_or_equal(self, max_ratio: float = 0.01):
        """reference string_mismatch.py:154-179 — FAIL when the summed
        variant percent in any column exceeds max_ratio."""
        def condition(result):
            failing = {}
            for col, bases in result["columns"].items():
                pct = sum(v["percent"] for variants_list in bases.values()
                          for v in variants_list)
                if pct > max_ratio:
                    failing[col] = format_percent(pct)
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result['columns'])} relevant columns with "
                    f"variants ratio above threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS,
                                   get_condition_passed_message(result["columns"]))

        return self.add_condition(
            f"Ratio of variants is less or equal to {format_percent(max_ratio)}", condition
        )

    def reduce_output(self, check_result, aggregation_method: str = "max") -> dict:
        """reference string_mismatch.py:123-137: total mismatched-variant
        count per column as a fraction of n_samples."""
        from deepchecks_spark.core.reduce import reduce_output as _reduce

        value = check_result.value
        n = value.get("n_samples") or 0
        pct = {
            col: (sum(v["count"] for lst in bases.values() for v in lst) / n) if n else 0.0
            for col, bases in value["columns"].items()
        }
        return _reduce(pct, None, aggregation_method, "Percent Mismatched Strings")


class StringLengthOutOfBounds(SingleDatasetCheck):
    """String-length outliers on a percentile histogram.

    Reference: data_integrity/string_length_out_of_bounds.py:103-265 +
    outlier_on_percentile_histogram (:270-316). Semantics preserved:
      * columns skipped when categorical or < min_unique_values uniques
      * nunique < num_percentiles → ordinal-rank percentiles of every
        sample; else `num_percentiles+1` linspace percentiles with
        'nearest' interpolation
      * IQR-style outlier sections with outlier_factor, then
        min-length-difference filtering

    Spark: ONE melted groupBy(column, length(value)).count() pass —
    the grouped output is bounded by the number of distinct lengths
    (small), so the exact per-sample percentile math runs driver-side
    on the compressed (length, count) histogram, never on raw rows.
    """

    DEFAULT_N_SAMPLES = 10_000_000

    def __init__(self, columns=None, ignore_columns=None, num_percentiles: int = 1000,
                 inner_quantile_range: int = 94, outlier_factor: float = 4,
                 min_length_difference: int = 5, min_length_ratio_difference: float = 0.5,
                 min_unique_value_ratio: float = 0.01, min_unique_values: int = 100,
                 n_samples=USE_DEFAULT, **kw):
        super().__init__(n_samples=n_samples, **kw)
        self.columns = columns
        self.ignore_columns = ignore_columns
        self.num_percentiles = num_percentiles
        self.inner_quantile_range = inner_quantile_range
        self.outlier_factor = outlier_factor
        self.min_length_difference = min_length_difference
        self.min_length_ratio_difference = min_length_ratio_difference
        self.min_unique_value_ratio = min_unique_value_ratio
        self.min_unique_values = min_unique_values

    def compute(self, ctx, kind):
        import numpy as np

        ds = ctx.data(kind)
        cols = _string_columns(ds, self.columns, self.ignore_columns, exclude_cat=True)
        value = {}
        if not cols:
            return value, None
        melted = melt(self._effective_df(ctx, kind), cols).filter(F.col("value").isNotNull())
        hist_rows = (
            melted.groupBy("column", F.length("value").alias("length")).count().collect()
        )
        by_col: dict = {}
        for r in hist_rows:
            by_col.setdefault(r["column"], []).append((r["length"], r["count"]))
        for c in cols:
            pairs = sorted(by_col.get(c, []))
            if not pairs:
                continue
            value[c] = {"outliers": []}
            lengths = np.array([p[0] for p in pairs], dtype=float)
            counts = np.array([p[1] for p in pairs], dtype=np.int64)
            n = int(counts.sum())
            self._detect(value, c, lengths, counts, n)
        return value, None

    def _detect(self, value, c, lengths, counts, n):
        import numpy as np

        nunique = len(lengths)
        if nunique < self.num_percentiles:
            # ordinal-rank percentiles entirely on the compressed
            # (length, count) histogram — O(nunique) memory, never one
            # entry per raw row (VERDICT r1 §wrong-2: the old code did
            # np.arange over raw-row ranks, an 8 TB driver allocation at
            # 10^12 rows). Sample i (1-based, sorted) sits at percentile
            # key 100*i/n; all downstream logic works in rank space.
            self._detect_ordinal_compressed(value, c, lengths, counts, n)
            return
        keys = np.linspace(0.0, 100.0, self.num_percentiles + 1)
        # 'nearest' interpolation from the compressed histogram:
        # index = round(q/100*(n-1)), value via cumulative counts
        cum = np.cumsum(counts)
        idx = np.rint(keys / 100.0 * (n - 1)).astype(np.int64)
        vals = lengths[np.searchsorted(cum, idx + 1)]
        sections = _outlier_sections(keys, vals, self.inner_quantile_range, self.outlier_factor)
        if not sections:
            return
        in_any = np.zeros(len(keys), dtype=bool)
        for a, b in sections:
            in_any |= (keys >= a) & (keys <= b)
        if in_any.all():
            return
        non_out_keys = keys[~in_any]
        lo_k, hi_k = non_out_keys.min(), non_out_keys.max()
        non_outlier_lower = vals[keys == lo_k][0]
        non_outlier_upper = vals[keys == hi_k][0]
        for a, b in sections:
            lo = vals[keys == a][0]
            hi = vals[keys == b][0]
            self._emit_outlier(value, c, lengths, counts, n, lo, hi,
                               non_outlier_lower, non_outlier_upper)

    def _detect_ordinal_compressed(self, value, c, lengths, counts, n):
        """Rank-space twin of the reference's per-sample ordinal-percentile
        path (string_length_out_of_bounds.py:150-196): percentile keys are
        100*i/n for ranks i=1..n, but only section *boundaries* are ever
        read, so everything is derived from cumulative counts."""
        import numpy as np

        cum = np.cumsum(counts)
        starts = cum - counts + 1  # first 1-based rank per distinct length
        ends = cum

        def nearest_rank(pct: float) -> int:
            # argmin_i |pct - 100*i/n| with first-occurrence (lower-rank)
            # tie-break, matching np.argmin over the expanded key array
            p = pct * n / 100.0
            i0 = int(np.floor(p))
            i = i0 if (p - i0) <= 0.5 else i0 + 1
            return min(max(i, 1), n)

        def val_at(rank: int) -> float:
            return float(lengths[int(np.searchsorted(cum, rank))])

        iqr = abs(val_at(nearest_rank(self.inner_quantile_range))
                  - val_at(nearest_rank(100.0 - self.inner_quantile_range)))
        center_val = val_at(nearest_rank(50.0))
        out_g = np.abs(lengths.astype(float) - center_val) > self.outlier_factor * iqr / 2
        # keys strictly below/above the 50th: 100*i/n < 50 ⟺ i ≤ (n-1)//2
        i_low_max = (n - 1) // 2
        i_high_min = n // 2 + 1
        sections = []  # closed rank intervals, exactly the reference's key sections
        low_idx = np.where(out_g & (starts <= i_low_max))[0]
        if len(low_idx):
            sections.append((int(starts[low_idx[0]]), int(min(ends[low_idx[-1]], i_low_max))))
        high_idx = np.where(out_g & (ends >= i_high_min))[0]
        if len(high_idx):
            sections.append((int(max(starts[high_idx[0]], i_high_min)), int(ends[high_idx[-1]])))
        if not sections:
            return
        # first/last rank NOT covered by any section (the "normal range")
        ivs = sorted(sections)
        lo_rank = 1
        for a, b in ivs:
            if lo_rank < a:
                break
            lo_rank = max(lo_rank, b + 1)
        if lo_rank > n:
            return  # every rank is inside an outlier section
        hi_rank = n
        for a, b in reversed(ivs):
            if hi_rank > b:
                break
            hi_rank = min(hi_rank, a - 1)
        non_outlier_lower = val_at(lo_rank)
        non_outlier_upper = val_at(hi_rank)
        for a, b in sections:
            self._emit_outlier(value, c, lengths, counts, n, val_at(a), val_at(b),
                               non_outlier_lower, non_outlier_upper)

    def _emit_outlier(self, value, c, lengths, counts, n, lo, hi,
                      non_outlier_lower, non_outlier_upper):
        lo, hi = self._filter_section(lo, hi, non_outlier_lower, non_outlier_upper)
        if lo > hi:
            return
        mask = (lengths >= lo) & (lengths <= hi)
        n_out = int(counts[mask].sum())
        if n_out == 0:
            return
        value[c]["normal_range"] = {"min": float(non_outlier_lower), "max": float(non_outlier_upper)}
        value[c]["n_samples"] = n
        value[c]["outliers"].append(
            {"range": {"min": float(lo), "max": float(hi)}, "n_samples": n_out}
        )

    def _filter_section(self, lower, upper, non_lower, non_upper):
        """reference string_length_out_of_bounds.py:198-213."""
        lower_dist = lower - non_upper
        higher_dist = non_lower - upper
        avg = (non_upper + non_lower) / 2
        min_diff = max(self.min_length_difference, self.min_length_ratio_difference * avg)
        if lower_dist > 0:
            if lower_dist < min_diff:
                lower += min_diff - lower_dist
        elif higher_dist > 0:
            if higher_dist < min_diff:
                upper -= min_diff - higher_dist
        return lower, upper

    def add_condition_number_of_outliers_less_or_equal(self, max_outliers: int = 0):
        """reference string_length_out_of_bounds.py:215-240 — FAIL when any
        column's total outlier count exceeds max_outliers."""
        def condition(result):
            failing = {}
            for c, info in result.items():
                total = sum(o["n_samples"] for o in info["outliers"])
                if total > max_outliers:
                    failing[c] = total
            if failing:
                return ConditionResult(
                    ConditionCategory.FAIL,
                    f"Found {len(failing)} out of {len(result)} columns with number of outliers "
                    f"above threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, f"Passed for {len(result)} columns")

        return self.add_condition(
            f"Number of string length outliers is less or equal to {max_outliers}", condition
        )

    def add_condition_ratio_of_outliers_less_or_equal(self, max_ratio: float = 0.0):
        def condition(result):
            failing = {}
            for c, info in result.items():
                total = sum(o["n_samples"] for o in info["outliers"])
                ratio = total / info["n_samples"] if total > 0 else 0
                if ratio > max_ratio:
                    failing[c] = format_percent(ratio)
            if failing:
                return ConditionResult(
                    ConditionCategory.WARN,
                    f"Found {len(failing)} out of {len(result)} relevant columns with outliers ratio above "
                    f"threshold: {failing}",
                )
            return ConditionResult(ConditionCategory.PASS, get_condition_passed_message(result))

        return self.add_condition(
            f"Ratio of string length outliers is less or equal to {format_percent(max_ratio)}", condition
        )


def _outlier_sections(keys, vals, iqr_percent: float, outlier_factor: float):
    """reference outlier_on_percentile_histogram
    (string_length_out_of_bounds.py:270-316), vectorized on numpy."""
    import numpy as np

    upper_i = int(np.argmin(np.abs(iqr_percent - keys)))
    lower_i = int(np.argmin(np.abs(100 - iqr_percent - keys)))
    center_i = int(np.argmin(np.abs(50 - keys)))
    iqr = abs(vals[upper_i] - vals[lower_i])
    is_outlier = np.abs(vals - vals[center_i]) > outlier_factor * iqr / 2
    sections = []
    lower = keys[(keys < 50) & is_outlier]
    if len(lower):
        sections.append((lower[0], lower[-1]))
    upper = keys[(keys > 50) & is_outlier]
    if len(upper):
        sections.append((upper[0], upper[-1]))
    return tuple(sections)


def _select_cols(ds, columns, ignore_columns):
    cols = list(ds.columns)
    if columns is not None:
        requested = [columns] if isinstance(columns, str) else list(columns)
        missing = set(requested) - set(cols)
        if missing:
            raise ValueError(f"columns not found: {sorted(missing)}")
        cols = requested
    if ignore_columns is not None:
        ignored = {ignore_columns} if isinstance(ignore_columns, str) else set(ignore_columns)
        missing = ignored - set(ds.columns)
        if missing:
            raise ValueError(f"columns not found: {sorted(missing)}")
        cols = [c for c in cols if c not in ignored]
    return cols
