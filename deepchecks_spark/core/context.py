"""Context — holder of train/test Datasets + shared precomputed stats
(reference deepchecks/tabular/context.py:161).

The expensive artifacts (the fused column-stats pass, the drift
histograms and the row count) are computed once per dataset and shared
by every check in a suite — the engine-level replacement for the
reference's "one in-memory Context reused across checks"
(tabular/suite.py:76), but with actual scan sharing instead of repeated
pandas traversals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from deepchecks_spark.core.parallel import Once, run_jobs, spread_input
from deepchecks_spark.dataset import Dataset, is_numeric_type
from deepchecks_spark.drift.spark import DriftHistograms, categorical_counts, numeric_drift_histograms
from deepchecks_spark.stats import ColumnStats, column_counts, compute_column_stats


def drift_histograms(dfs: list, cat_cols: list, num_cols: list) -> list:
    """One :class:`DriftHistograms` per frame of ``dfs``: a categorical
    and a numeric pass per frame, all submitted as one ``run_jobs``."""
    legs = []
    for df in dfs:
        legs += [lambda df=df: categorical_counts(df, cat_cols),
                 lambda df=df: numeric_drift_histograms(df, num_cols)]
    got = run_jobs(legs)
    return [DriftHistograms(got[i], *got[i + 1]) for i in range(0, len(got), 2)]


class Context:
    def __init__(self, train, test=None, feature_importance: dict | None = None,
                 with_display: bool = False, require_same_schema: bool = True):
        """``require_same_schema=False`` admits heterogeneous dataset
        pairs (e.g. a fact table against a dimension table for
        ReferentialIntegrity); the reference's train/test contract
        (tabular/context.py:202-217) stays the default."""
        self.train = self._cast(train, "Train")
        self.test = self._cast(test, "Test") if test is not None else None
        self.feature_importance = feature_importance
        self.with_display = with_display
        self._cached_dfs: list = []
        # the sides a suite persisted for its several checks: only then do
        # the drift checks share one histogram pass (BaseCheck._effective_histograms)
        self.persisted: set = set()
        # suite checks run concurrently (Suite.run): the shared passes
        # are single-flight per key so concurrent checks wait for ONE
        # computation instead of duplicating the scan
        self._once = Once()
        if self.test is not None and require_same_schema:
            self._validate_compat()

    @staticmethod
    def _cast(ds, default_name: str) -> Dataset:
        """reference dataset.py:871-901 cast_to_dataset: accept a bare
        DataFrame and wrap it (all columns become features)."""
        if isinstance(ds, Dataset):
            return ds
        if isinstance(ds, DataFrame):
            return Dataset(ds, name=default_name)
        raise TypeError(f"expected Dataset or DataFrame, got {type(ds).__name__}")

    def _validate_compat(self) -> None:
        """reference tabular/context.py:202-217: train/test must share
        schema + label + role columns."""
        tr, te = self.train, self.test
        if set(tr.columns) != set(te.columns):
            raise ValueError(
                "train and test must share columns; "
                f"difference: {sorted(set(tr.columns) ^ set(te.columns))}"
            )
        if tr.label_name != te.label_name:
            raise ValueError("train and test label column must match")

    # -- dataset access ------------------------------------------------------
    def data(self, kind: str) -> Dataset:
        if kind == "train":
            return self.train
        if kind == "test":
            if self.test is None:
                raise ValueError("no test dataset in context")
            return self.test
        raise ValueError(f"unknown dataset kind {kind!r}")

    # -- shared passes ---------------------------------------------------------
    def stats(self, kind: str, columns: tuple | None = None) -> ColumnStats:
        """Fused column stats, computed once per (dataset, column-set)."""
        def compute():
            ds = self.data(kind)
            cols = list(columns) if columns is not None else ds.columns
            return compute_column_stats(ds.df, cols)

        return self._once(("stats", kind, columns), compute)

    def target_is_numeric(self, column: str) -> bool:
        """Task-type inference for a label-like column of train
        (reference tabular/utils/task_inference.py:55-82), once per
        column. Categorical iff a cat feature, not numeric-typed, or
        n_unique/max(n_non_null,1000) < 0.05 AND n_unique ≤ cap (30 for
        ints/whole floats, 5 otherwise)."""
        def infer():
            ds = self.train
            dt = ds.schema_of(column)
            if column in set(ds.cat_features) or not is_numeric_type(dt):
                return False
            n, d, whole = column_counts(ds.df, [column])[column]
            if d == 0:
                return True
            cap = 30 if (not isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType))
                         or whole) else 5
            return not (d / max(n, 1000) < 0.05 and d <= cap)

        return self._once(("target_is_numeric", column), infer)

    def drift_columns(self) -> tuple:
        """(categorical, numerical) columns of :meth:`histograms`: train's
        cat and numeric-typed features, and its label as inferred."""
        ds = self.train
        cats = list(ds.cat_features)
        nums = [c for c in ds.numerical_features if is_numeric_type(ds.schema_of(c))]
        label = ds.label_name
        if label is not None and label not in cats and label not in nums:
            (nums if self.target_is_numeric(label) else cats).append(label)
        return cats, nums

    def histograms(self, kind: str) -> DriftHistograms:
        """``kind``'s drift histograms over :meth:`drift_columns`, shared
        by a suite's drift checks: the first caller submits both sides'
        passes together."""
        def compute():
            kinds = ["train"] + (["test"] if self.test is not None else [])
            cats, nums = self.drift_columns()
            hists = drift_histograms([self.data(k).df for k in kinds], cats, nums)
            return dict(zip(kinds, hists))

        return self._once(("histograms",), compute)[kind]

    def n_rows(self, kind: str) -> int:
        """Row count, reusing the fused stats pass when already computed
        (avoids per-check df.count() round-trips — VERDICT r1 §wrong-6)."""
        hit = next((st for key, st in self._once.done().items()
                    if key[:2] == ("stats", kind)), None)
        if hit is not None:
            return hit.n_rows
        return self._once(("n_rows", kind), lambda: self.data(kind).df.count())

    def persist(self, *kinds: str) -> None:
        """Cache the datasets across the suite's multiple passes, each
        materialised by its row count so the checks never race to build
        the cache.

        The input first goes through ``spread_input``: a source with
        fewer partitions than the cluster has slots (common for
        small/compacted parquet) is repartitioned so every downstream
        pass uses the full parallelism — one shuffle paid once,
        amortized over every check. At real scale the input has far
        more partitions than cores and this is a no-op.

        A frame the CALLER already persisted (e.g. the runner's shared
        input, cached across all its concurrent stages) is left alone
        and NOT recorded for unpersist_all: unpersisting it here would
        drop the owner's cache mid-run — the other runner stages would
        silently fall back to re-scanning the source (observed: the
        suite finishes first, and every later violations/metrics pass
        repaid the scan + repartition).
        """
        fresh = []
        self.persisted.update(kinds)
        for kind in kinds:
            ds = self.data(kind)
            if ds.df.is_cached:
                continue
            ds.df = spread_input(ds.df)
            ds.df.persist()
            self._cached_dfs.append(ds.df)
            fresh.append(kind)
        run_jobs([lambda k=k: self._once(("n_rows", k), self.data(k).df.count)
                  for k in fresh])

    def unpersist_all(self) -> None:
        for df in self._cached_dfs:
            df.unpersist()
        self._cached_dfs = []
