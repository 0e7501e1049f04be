"""Base check classes (reference deepchecks/core/checks.py:59,268,279,293
and deepchecks/tabular/base_checks.py:44-165) — same API shape, Spark
execution.

A check contributes work to the shared Context (one fused stats pass
where possible) and finalizes a small ``value`` on the driver; its
conditions are pure-python over that value.
"""

from __future__ import annotations

import re
import time
from typing import Any

from deepchecks_spark.core.result import CheckResult, Condition


class _UseDefault:
    """Sentinel: n_samples left at the check's reference default."""

    __slots__ = ()

    def __repr__(self):  # pragma: no cover
        return "USE_DEFAULT"


USE_DEFAULT = _UseDefault()


class BaseCheck:
    """Parameterized computation over 1 or 2 datasets → CheckResult.

    ``n_samples`` cap semantics (reference dataset.py:443-465 samples
    EVERY check's input): by default this engine computes distributive
    stats on the FULL data — the whole point of the fused Spark passes —
    so the reference default caps are recorded but not enforced. When a
    user passes n_samples EXPLICITLY, ``enforce_n_samples`` is set and
    the scan-level checks honor the cap with a deterministic Bernoulli
    sample (fraction = n/total, seeded; count is ~n, not exactly n — the
    distributed-stable analogue of the reference's pandas .sample).
    ML-kernel checks always apply their cap (they sample to the driver
    by design, like the reference).
    """

    DEFAULT_N_SAMPLES: int | None = None  # the reference's per-check default cap

    def __init__(self, n_samples=USE_DEFAULT, random_state: int = 42):
        if isinstance(n_samples, _UseDefault):
            self.n_samples = self.DEFAULT_N_SAMPLES
            self.enforce_n_samples = False
        else:
            self.n_samples = n_samples
            self.enforce_n_samples = n_samples is not None
        self.random_state = random_state
        self.conditions: list[Condition] = []
        self._builder_ctx = None  # (builder_name, bound_kwargs) while one runs

    def __init_subclass__(cls, **kw):
        """Auto-wrap every ``add_condition_*`` builder so its CALL
        arguments (bound via inspect.signature — not frame locals, which
        drift if the builder rebinds a parameter or delegates through a
        helper, ADVICE r2) are recorded for config() round-trips."""
        super().__init_subclass__(**kw)
        import functools
        import inspect

        for attr, fn in list(cls.__dict__.items()):
            if not (attr.startswith("add_condition_") and callable(fn)):
                continue
            sig = inspect.signature(fn)

            def _wrap(fn=fn, sig=sig, attr=attr):
                @functools.wraps(fn)
                def wrapper(self, *a, **k):
                    bound = sig.bind(self, *a, **k)
                    bound.apply_defaults()
                    kwargs = {p: v for p, v in bound.arguments.items() if p != "self"}
                    prev = getattr(self, "_builder_ctx", None)
                    self._builder_ctx = (attr, kwargs)
                    try:
                        return fn(self, *a, **k)
                    finally:
                        self._builder_ctx = prev

                return wrapper

            setattr(cls, attr, _wrap())

    # -- reference core/checks.py:93-109 -----------------------------------
    def add_condition(self, name: str, condition_func, **params) -> "BaseCheck":
        """Attach a condition. When called (directly or via any helper)
        during a default ``add_condition_*`` builder, the builder's name
        and its BOUND call arguments are recorded on the Condition so
        config() round-trips re-create it exactly (reference serializes
        condition objects in core/suite.py:604-683; here the builder call
        is the config unit)."""
        builder = None
        builder_kwargs = None
        ctx = getattr(self, "_builder_ctx", None)
        if ctx is not None:
            builder, builder_kwargs = ctx
        self.conditions.append(Condition(name, condition_func, params,
                                         builder=builder, builder_kwargs=builder_kwargs))
        return self

    def clean_conditions(self) -> "BaseCheck":
        self.conditions = []
        return self

    def name(self) -> str:
        return type(self).__name__

    def header(self) -> str:
        # CamelCase → spaced title, reference Check naming convention
        return re.sub(r"(?<!^)(?=[A-Z])", " ", type(self).__name__)

    def config(self) -> dict:
        """Full parameter snapshot (reference CheckConfig,
        core/checks.py:186-239): every constructor parameter is read back
        from its same-named instance attribute, and conditions carry their
        builder + kwargs so from_config restores thresholds."""
        import inspect

        params = {}
        try:
            sig = inspect.signature(type(self).__init__)
            for pname, p in sig.parameters.items():
                if pname == "self" or p.kind in (p.VAR_KEYWORD, p.VAR_POSITIONAL):
                    continue
                if hasattr(self, pname):
                    params[pname] = getattr(self, pname)
        except (TypeError, ValueError):  # pragma: no cover
            pass
        params.setdefault("n_samples", self.n_samples)
        params.setdefault("random_state", self.random_state)
        params["enforce_n_samples"] = self.enforce_n_samples
        return {
            "check": type(self).__name__,
            "params": params,
            "conditions": [
                {"name": c.name, "builder": c.builder, "kwargs": c.builder_kwargs or {}}
                for c in self.conditions
            ],
        }

    def _effective_df(self, ctx, kind: str):
        """The dataset's DataFrame, Bernoulli-sampled to ~n_samples when
        the cap was explicitly set and the data exceeds it. fraction-
        based (no limit()) so the row set is stable across the multiple
        jobs a check runs on it."""
        ds = ctx.data(kind)
        if not self.enforce_n_samples or self.n_samples is None:
            return ds.df
        total = ctx.n_rows(kind)
        if total <= self.n_samples:
            return ds.df
        return ds.df.sample(False, self.n_samples / total, self.random_state)

    def greater_is_better(self) -> bool:
        """Direction of this check's reduce_output for monitoring alert
        rules (reference core/reduce_classes.py:96-98): every implemented
        reduction here scores drift/violation ratios — lower is better."""
        return False

    def _effective_n_rows(self, ctx, kind: str, df) -> int:
        """Row count of the frame _effective_df returned: the cached
        full-data count when no cap applied (no extra job), else one
        count of the sampled frame."""
        if df is ctx.data(kind).df:
            return ctx.n_rows(kind)
        return df.count()

    def _effective_data(self, ctx, kind: str):
        """(df, ColumnStats): the shared full-data fused pass by default;
        a one-off stats pass over the sampled frame when an explicit
        n_samples cap applies."""
        ds = ctx.data(kind)
        df = self._effective_df(ctx, kind)
        if df is ds.df:
            return df, ctx.stats(kind, tuple(ds.columns))
        from deepchecks_spark.stats import compute_column_stats

        return df, compute_column_stats(df, ds.columns)

    def _effective_histograms(self, ctx, cat_cols: list, num_cols: list) -> list:
        """[train, test] drift histograms: the full-data pass a suite
        shares (``Context.histograms``, once both sides are persisted), or
        a one-off pass over the columns for a lone run, under an explicit
        n_samples cap, or for a column outside the shared pass."""
        from deepchecks_spark.core.context import drift_histograms

        kinds = ("train", "test")
        dfs = [self._effective_df(ctx, k) for k in kinds]
        if ((cat_cols or num_cols) and set(kinds) <= ctx.persisted
                and all(df is ctx.data(k).df for df, k in zip(dfs, kinds))):
            cats, nums = ctx.drift_columns()
            if set(cat_cols) <= set(cats) and set(num_cols) <= set(nums):
                return [ctx.histograms(k) for k in kinds]
        return drift_histograms(dfs, cat_cols, num_cols)

    def _finalize(self, ctx, value, violations=None, t0: float | None = None) -> CheckResult:
        result = CheckResult(value=value, header=self.header(), check=self, violations=violations)
        result.process_conditions()
        if t0 is not None:
            result.run_time = time.time() - t0
        return result


class SingleDatasetCheck(BaseCheck):
    """Runs on one dataset (reference tabular/base_checks.py:44-104)."""

    def run(self, dataset, context=None) -> CheckResult:
        from deepchecks_spark.core.context import Context

        t0 = time.time()
        ctx = context if context is not None else Context(train=dataset)
        value, violations = self.compute(ctx, "train")
        res = self._finalize(ctx, value, violations, t0)
        return res

    def compute(self, context, kind: str):
        """Return (value, violations_df_or_None). kind ∈ {train, test}."""
        raise NotImplementedError


class StatsCheck(SingleDatasetCheck):
    """A check whose value is a function of the dataset's column stats
    alone. The runner evaluates it per input partition by calling
    :meth:`value_from_stats` on each partition's stats, so that method
    must not touch the DataFrame."""

    def compute(self, context, kind: str):
        _, stats = self._effective_data(context, kind)
        return self.value_from_stats(context.data(kind), stats), None

    def value_from_stats(self, ds, stats) -> Any:
        """The check's value from ``ds``'s metadata and ``stats``
        (a :class:`~deepchecks_spark.stats.ColumnStats`); no Spark job."""
        raise NotImplementedError


class TrainTestCheck(BaseCheck):
    """Runs on a (train, test) pair (reference tabular/base_checks.py:121-165)."""

    def run(self, train, test, context=None) -> CheckResult:
        from deepchecks_spark.core.context import Context

        t0 = time.time()
        ctx = context if context is not None else Context(train=train, test=test)
        value, violations = self.compute(ctx)
        return self._finalize(ctx, value, violations, t0)

    def compute(self, context):
        raise NotImplementedError


# -- shared condition helpers ---------------------------------------------

def _truncate_zero_percent(ratio: float, floating_point: int) -> str:
    """Reference utils/strings.py:461-466 truncate_zero_percent."""
    if floating_point == 0:
        return f"{ratio * 100:.0f}%"
    return f"{ratio * 100:.{floating_point}f}".rstrip("0").rstrip(".") + "%"


def format_percent(ratio: float, floating_point: int = 2,
                   scientific_notation_threshold: int = 4,
                   add_positive_prefix: bool = False) -> str:
    """Reference utils/strings.py:469-513 format_percent — used inside
    condition details strings so messages match the reference exactly:
    integer ratios → '{int(ratio)*100}%', tiny ratios → scientific
    notation, near-1 → '99.99%', else trailing-zero-stripped percent."""
    if ratio < 0:
        ratio = -ratio
        prefix = "-"
    else:
        prefix = "+" if add_positive_prefix and ratio != 0 else ""
    if int(ratio) == ratio:
        result = f"{int(ratio) * 100}%"
    elif ratio > 1:
        result = _truncate_zero_percent(ratio, floating_point)
    elif ratio < 10 ** (-(2 + floating_point)):
        if ratio > 10 ** (-(2 + scientific_notation_threshold)):
            result = _truncate_zero_percent(ratio, scientific_notation_threshold)
        else:
            from decimal import Decimal

            result = f"{Decimal(ratio * 100):.{floating_point}E}%"
    elif ratio > (1 - 10 ** (-(2 + floating_point))):
        result = f"99.{'9' * floating_point}%" if floating_point > 0 else "99%"
    else:
        result = _truncate_zero_percent(ratio, floating_point)
    return prefix + result


def get_condition_passed_message(sized, feature: bool = False) -> str:
    """Reference tabular/utils/messages.py:17-32, byte-identical: PASS
    details with singular/plural and the zero-columns special case."""
    verb = "feature" if feature else "column"
    num = sized if isinstance(sized, int) else len(sized)
    if num == 0:
        return f"No relevant {verb}s to check were found"
    message = f"Passed for {num} relevant {verb}"
    if num > 1:
        message += "s"
    return message


def format_number(x, floating_point: int = 5) -> str:
    """Reference utils/strings.py format_number."""
    if isinstance(x, (int,)) or (isinstance(x, float) and x == int(x)):
        return f"{int(x):,}"
    return f"{x:,.{floating_point}f}".rstrip("0").rstrip(".")


def format_list(values, max_elements_to_show: int = 10, max_string_length: int = 40) -> str:
    """Reference utils/strings.py format_list — used in details strings."""
    string_list = [str(v) for v in values[:max_elements_to_show]]
    out = ", ".join(string_list)
    if len(out) > max_string_length:
        out = out[:max_string_length] + "..."
    elif len(values) > max_elements_to_show:
        out += ", ..."
    return out


def format_datetime(value) -> str:
    """Reference utils/strings.py format_datetime (driver-side display)."""
    import datetime

    if isinstance(value, (int, float)):
        value = datetime.datetime.fromtimestamp(value)
    if isinstance(value, datetime.datetime):
        if value.hour == value.minute == value.second == 0:
            return value.strftime("%Y-%m-%d")
        return value.strftime("%Y-%m-%d %H:%M:%S")
    return str(value)


def truncate_string(s: str, max_length: int) -> str:
    """Reference utils/strings.py:67."""
    if len(s) <= max_length:
        return s
    return s[:max_length] + "..."
