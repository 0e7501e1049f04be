"""Suite runner (reference deepchecks/core/suite.py:52,529 +
deepchecks/tabular/suite.py:32-153).

Semantics preserved from the reference:
  * one Context shared by all checks (tabular/suite.py:76-89)
  * checks run in insertion order (BaseSuite holds an OrderedDict)
  * TrainTest checks run once; SingleDataset checks run twice — train
    then test, headers suffixed " - Train Dataset"/" - Test Dataset"
    (tabular/suite.py:104-137)
  * every exception → CheckFailure, the suite never aborts
    (tabular/suite.py:122-123,148-149)
  * per-check run_time recorded (tabular/suite.py:151)

Spark-side difference: the Context persists the input once and shares
the fused stats pass, so N stats-driven checks cost one scan, not N.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from deepchecks_spark.core.checks import SingleDatasetCheck, TrainTestCheck
from deepchecks_spark.core.context import Context
from deepchecks_spark.core.parallel import job_tag, run_jobs
from deepchecks_spark.core.result import CheckFailure, CheckResult


@dataclass
class SuiteResult:
    name: str
    results: list = field(default_factory=list)

    def passed(self, fail_if_warning: bool = True, fail_if_check_not_run: bool = False) -> bool:
        """reference core/suite.py:444-506."""
        for r in self.results:
            if isinstance(r, CheckFailure):
                if fail_if_check_not_run:
                    return False
                continue
            if r.have_conditions() and not r.passed_conditions(fail_if_warning):
                return False
        return True

    def get_not_passed_checks(self, fail_if_warning: bool = True) -> list:
        return [
            r
            for r in self.results
            if isinstance(r, CheckResult)
            and r.have_conditions()
            and not r.passed_conditions(fail_if_warning)
        ]

    def get_failures(self) -> list:
        return [r for r in self.results if isinstance(r, CheckFailure)]

    def to_json(self) -> dict:
        """Headless verdict dump (replaces the reference's HTML display)."""
        out = []
        for r in self.results:
            if isinstance(r, CheckFailure):
                out.append({"header": r.header, "failure": repr(r.exception)})
            else:
                out.append(
                    {
                        "header": r.header,
                        "value": _jsonable(r.value),
                        "run_time": r.run_time,
                        "conditions": [
                            {"name": c.name, "category": c.category.value, "details": c.details}
                            for c in r.conditions_results
                        ],
                    }
                )
        return {"name": self.name, "results": out}


def _jsonable(v):
    import numpy as np

    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, np.ndarray):
        return [_jsonable(x) for x in v.tolist()]
    return v


class Suite:
    def __init__(self, name: str, *checks):
        self.name = name
        self.checks = list(checks)

    def add(self, check) -> "Suite":
        self.checks.append(check)
        return self

    # -- config round-trip (reference core/suite.py:604-683 + CheckConfig
    #    core/checks.py:52,186-239) ---------------------------------------
    def config(self) -> dict:
        return {"name": self.name, "checks": [c.config() for c in self.checks]}

    @classmethod
    def from_config(cls, conf: dict) -> "Suite":
        """Rebuild a suite from config(): checks resolved by class name
        from the checks registry, constructed with the FULL recorded
        parameter dict, and conditions re-attached by invoking the
        recorded add_condition_* builder with its recorded kwargs (the
        reference instead serializes condition closures —
        core/suite.py:604-683). A condition that was added via a custom
        add_condition() call has no recorded builder and raises — a
        rebuilt suite must never silently run with fewer conditions."""
        import deepchecks_spark.checks as registry

        suite = cls(conf["name"])
        for c in conf["checks"]:
            check_cls = getattr(registry, c["check"])
            params = dict(c.get("params", {}))
            enforce = params.pop("enforce_n_samples", None)
            check = check_cls(**params)
            if enforce is not None:
                check.enforce_n_samples = enforce
            for cond in c.get("conditions", []):
                if isinstance(cond, str) or not cond.get("builder"):
                    name = cond if isinstance(cond, str) else cond.get("name")
                    raise ValueError(
                        f"cannot restore condition {name!r} on {c['check']}: no recorded "
                        "add_condition_* builder (custom conditions are not serializable)"
                    )
                getattr(check, cond["builder"])(**cond.get("kwargs", {}))
            suite.add(check)
        return suite

    def run(self, train, test=None, feature_importance=None) -> SuiteResult:
        """Checks are independent jobs over the shared persisted Context:
        submit them through ``run_jobs`` (one leg's scheduler ramp-down
        back-fills the others' ramp-up — guide §2.6) and concatenate
        results in insertion order, so the observable contract (result
        order, values, per-check failure isolation) matches a serial
        loop. Each side is persisted and materialised before the checks
        start, and the shared passes (fused stats, drift histograms) are
        single-flight inside Context, so N concurrent checks reading one
        of them still cost one scan; the drift histograms hold the union
        of the columns the checks declare (``histogram_columns``). Each
        check's jobs carry the tag ``suite.<CheckName>``. A
        SingleDataset check's train/test legs stay sequential within its
        task (same instance).

        ``train`` and ``test`` are Datasets or bare DataFrames (see
        :class:`Context`); the suite builds its own Context over them."""
        ctx = Context(train=train, test=test, feature_importance=feature_importance)

        def _task(check):
            if isinstance(check, TrainTestCheck):
                if ctx.test is None:
                    return [CheckFailure(check, ValueError("check requires a test dataset"),
                                         check.header())]
                return [self._run_one(check, ctx, None)]
            if isinstance(check, SingleDatasetCheck):
                kinds = ["train"] + (["test"] if ctx.test is not None else [])
                suffix = ctx.test is not None
                out = []
                for kind in kinds:
                    r = self._run_one(check, ctx, kind)
                    if suffix and isinstance(r, CheckResult):
                        r.header = f"{r.header} - {kind.title()} Dataset"
                    out.append(r)
                return out
            return [CheckFailure(check, TypeError(f"unknown check type {type(check).__name__}"),
                                 str(check))]

        try:
            ctx.persist("train", *(["test"] if ctx.test is not None else []))
            cats, nums = [], []
            for c in (self.checks if ctx.test is not None else []):
                try:
                    c_cats, c_nums = c.histogram_columns(ctx)
                except Exception:  # noqa: BLE001 — the check's own run reports it
                    continue
                cats += c_cats
                nums += c_nums
            ctx.declared_histograms = (list(dict.fromkeys(cats)), list(dict.fromkeys(nums)))
            tasks = [functools.partial(_task, c) for c in self.checks]
            results = [r for rs in run_jobs(tasks) for r in rs]
        finally:
            ctx.unpersist_all()
        return SuiteResult(self.name, results)

    @staticmethod
    def _run_one(check, ctx: Context, kind: str | None):
        t0 = time.time()
        try:
            with job_tag(ctx.train.df.sparkSession.sparkContext, f"suite.{check.name()}"):
                if kind is None:
                    value, violations = check.compute(ctx)
                else:
                    value, violations = check.compute(ctx, kind)
            return check._finalize(ctx, value, violations, t0)
        except Exception as exc:  # noqa: BLE001 — isolation per reference
            return CheckFailure(check, exc, check.header())
