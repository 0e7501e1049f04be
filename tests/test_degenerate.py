"""Degenerate tables: an empty table, an all-null table and a one-row
table, each as train and as test against a 200-row partner, through the
full suite and through ``run_job``. Every check returns a result; the
only failures are the reference's own deliberate ``ValueError``s."""

import os

import pytest

from deepchecks_spark import Dataset
from deepchecks_spark.core.checks import SingleDatasetCheck
from deepchecks_spark.core.result import CheckFailure
from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.runner import run_job
from deepchecks_spark.suites import full_suite

from test_columns import ADVERSARIAL_NAMES

TYPES = ["double", "int", "string", "string", "string", "string"]
PARTNER = [(i * 0.5, i % 7, "abc"[i % 3], f"v{i % 11}", "pos" if i % 3 else "neg",
            "pos" if i % 4 else "neg") for i in range(200)]
TABLES = {"empty": [], "all_null": [(None,) * 6] * 20, "one_row": [PARTNER[1]]}
# the reference raises these too: no data, too few rows for LoOP, and
# the leakage checks' missing datetime / index column
ALLOWED = ("Dataset does not contain any data", "not enough samples for outlier detection",
           "requires datetime_name", "requires an index column")


def _frame(spark, rows, names):
    return spark.createDataFrame(rows, ", ".join(f"{quote_ident(n)} {t}"
                                                 for n, t in zip(names, TYPES)))


@pytest.mark.parametrize("role", ["train", "test"])
@pytest.mark.parametrize("table", list(TABLES))
def test_full_suite_on_degenerate_tables(spark, table, role):
    names = ["x", "k", "c", "s", "y", "p"]

    def ds(rows):
        return Dataset(_frame(spark, rows, names), label="y", cat_features=["c"])

    degenerate, partner = ds(TABLES[table]), ds(PARTNER)
    train, test = (degenerate, partner) if role == "train" else (partner, degenerate)
    suite = full_suite(label=True)
    results = suite.run(train, test).results
    # a single-dataset check runs on each side
    assert len(results) == sum(2 if isinstance(c, SingleDatasetCheck) else 1
                               for c in suite.checks)
    failures = [r for r in results if isinstance(r, CheckFailure)]
    unexpected = [(r.header, r.exception) for r in failures
                  if not (isinstance(r.exception, ValueError)
                          and any(m in str(r.exception) for m in ALLOWED))]
    assert not unexpected, unexpected


@pytest.mark.parametrize("table", list(TABLES))
def test_run_job_on_degenerate_tables_with_adversarial_names(spark, tmp_path, table):
    names = ADVERSARIAL_NAMES
    label, cat, pred = names[4], names[3], names[5]
    ref = str(tmp_path / "partner")
    _frame(spark, PARTNER, names).write.parquet(ref)
    src = str(tmp_path / table)
    _frame(spark, TABLES[table], names).write.parquet(src)
    out = str(tmp_path / "out")
    manifest = run_job(spark, src, out, label=label, cat_features=[cat],
                       prediction_column=pred, reference_input=ref, resume=False)
    assert set(manifest["stages"].values()) == {"done"}
    verdicts = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert verdicts and not [r for r in verdicts if r["category"] == "ERROR"], verdicts
    # a partition with no scored rows is the performance section's ERROR row
    per_part = spark.read.parquet(os.path.join(out, "partition_verdicts")).collect()
    errors = [r for r in per_part if r["category"] == "ERROR"]
    assert all(r["check"] == "Single Dataset Performance" and "no scored rows" in r["details"]
               for r in errors), errors
