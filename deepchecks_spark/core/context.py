"""Context — holder of train/test Datasets + shared precomputed stats
(reference deepchecks/tabular/context.py:161).

The expensive artifacts (the fused column-stats pass and the row count)
are computed once per dataset and shared by every check in a suite —
the engine-level replacement for the reference's "one in-memory Context
reused across checks" (tabular/suite.py:76), but with actual scan
sharing instead of repeated pandas traversals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from deepchecks_spark.core.parallel import Once, spread_input
from deepchecks_spark.dataset import Dataset
from deepchecks_spark.stats import ColumnStats, compute_column_stats


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

    def n_rows(self, kind: str) -> int:
        """Row count, reusing the fused stats pass when already computed
        (avoids per-check df.count() round-trips — VERDICT r1 §wrong-6)."""
        hit = next((st for key, st in self._once.done().items()
                    if key[:2] == ("stats", kind)), None)
        if hit is not None:
            return hit.n_rows
        return self._once(("n_rows", kind), lambda: self.data(kind).df.count())

    def persist(self, kind: str) -> None:
        """Cache the dataset across the suite's multiple passes.

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
        ds = self.data(kind)
        if ds.df.is_cached:
            return
        ds.df = spread_input(ds.df)
        ds.df.persist()
        self._cached_dfs.append(ds.df)

    def unpersist_all(self) -> None:
        for df in self._cached_dfs:
            df.unpersist()
        self._cached_dfs = []
