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
from deepchecks_spark.dataset import Dataset, is_numeric_type, sample_rows
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
        # suite checks run concurrently (Suite.run): the shared passes
        # are single-flight per key so concurrent checks wait for ONE
        # computation instead of duplicating the scan; each pass's jobs
        # carry suite.state.<key>
        self._once = Once("suite.state")
        # the (categorical, numeric) drift columns of a suite's checks
        # (BaseCheck.histogram_columns): the first histograms read builds them
        self.declared_histograms: tuple = ((), ())
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
    def stats(self, kind: str) -> ColumnStats:
        """Fused stats over all of ``kind``'s columns, computed once."""
        return self._once(("stats", kind),
                          lambda: compute_column_stats(self.data(kind).df, self.data(kind).columns))

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

    def histograms(self, cats: list, nums: list) -> list:
        """[train, test] drift histograms holding ``cats`` and ``nums``.

        The first read builds the recorded columns (the asked ones when
        nothing was recorded, as for a lone ``check.run``) in one pass
        that submits both sides' categorical and numeric legs together;
        concurrent readers wait for it. A read asking for a column that
        pass does not hold gets a one-off pass over its own columns."""
        dfs = [self.train.df, self.data("test").df]
        cols = self.declared_histograms if any(self.declared_histograms) else (cats, nums)
        held, hists = self._once(("histograms",), lambda: (cols, drift_histograms(dfs, *cols)))
        if set(cats) <= set(held[0]) and set(nums) <= set(held[1]):
            return hists
        return drift_histograms(dfs, cats, nums)

    def sample(self, kind: str, n: int, seed: int) -> DataFrame:
        """``kind``'s rows capped at about ``n`` (``dataset.sample_rows``),
        the whole frame when it holds no more. A capped sample is drawn
        and materialised once (``localCheckpoint``), so every job a check
        runs over it reads the same few rows."""
        df = self.data(kind).df
        total = self.n_rows(kind)
        if total <= n:
            return df
        return self._once(("sample", kind, n, seed),
                          lambda: sample_rows(df, n / total, seed).localCheckpoint())

    def n_rows(self, kind: str) -> int:
        """Row count: the fused stats pass's when it already ran (no
        per-check df.count() round-trip — VERDICT r1 §wrong-6), else one
        count, which ``persist`` takes up front inside a suite."""
        stats = self._once.done().get(("stats", kind))
        if stats is not None:
            return stats.n_rows
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
