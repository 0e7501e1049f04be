"""The (column, value) melt and its SQL quoting (functions/columns.py):
every multi-column scan must label its rows with the exact column name,
whatever characters the name holds, and no module may hand-write its
own unpivot again."""

import os
import re

import pytest

from deepchecks_spark.functions.columns import melt, quote_ident, sql_str

ADVERSARIAL_NAMES = ["it's", "a`b", "a\\b", "a.b c", "n::x", "ñame"]


def test_quote_ident_and_sql_str():
    assert quote_ident("plain") == "`plain`"
    assert quote_ident("a`b") == "`a``b`"
    assert sql_str("plain") == "'plain'"
    assert sql_str("it's") == "'it\\'s'"
    assert sql_str("a\\b") == "'a\\\\b'"


def test_melt_sql_for_plain_names_matches_hand_written_stack(spark):
    # plain names keep the exact SQL text the engine always emitted, so
    # the parsed (pre-analysis) plans are identical node for node
    df = spark.createDataFrame([("x", 1, 0)], "s string, c int, __pid int")

    def logical(frame):
        return frame._jdf.queryExecution().logical().toString()

    assert logical(melt(df, ["s", "c"], cast="string", keep=("__pid",))) == logical(
        df.selectExpr("__pid", "stack(2, 's', cast(`s` as string), 'c', "
                      "cast(`c` as string)) as (column, value)"))
    assert logical(melt(df, ["s"])) == logical(
        df.selectExpr("stack(1, 's', `s`) as (column, value)"))


@pytest.mark.parametrize("name", ADVERSARIAL_NAMES)
def test_melt_callers_round_trip_adversarial_column_names(spark, name):
    from deepchecks_spark.drift.spark import categorical_histograms
    from deepchecks_spark.runner import (
        drift_partition_rows,
        duplicates_partition_rows,
        flagged_string_values,
        new_category_partition_rows,
        violation_rows,
    )
    from deepchecks_spark.streaming import streaming_violations

    values = ["a", "a", "b", "N/A", "!!", None]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(v,) for v in values], 2),
        f"{quote_ident(name)} string")
    assert df.columns == [name]

    assert {r["column"] for r in melt(df, [name]).collect()} == {name}
    assert set(categorical_histograms(df, [name])) == {name}
    assert {r["column"] for r in flagged_string_values(df, [name]).collect()} == {name}
    assert {r["column"] for r in violation_rows(df, [name]).collect()} == {name}
    assert {r["column"] for r in streaming_violations(df, [name]).collect()} == {name}

    drift = drift_partition_rows(df, [name])
    assert drift and all(r[2].startswith(f"PSI of {name} ") for r in drift)
    # a wrong label on both sides would still join, then be read back
    # under the real name as zero new values: the FAIL proves the label
    ref = spark.createDataFrame([("a",)], f"{quote_ident(name)} string")
    new_cat = new_category_partition_rows(df, ref, [name])
    assert new_cat and {r[3] for r in new_cat} == {"FAIL"}
    # partition 0 repeats "a"; partition 1 holds distinct values only
    dups = duplicates_partition_rows(df, [name])
    assert [r[3] for r in sorted(dups)] == ["FAIL", "PASS"]


def test_no_hand_written_melt_outside_columns_module():
    # every (column, value) unpivot goes through functions.columns.melt,
    # the one place that quotes the names
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "deepchecks_spark")
    allowed = os.path.join(root, "functions", "columns.py")
    stack_sql = re.compile(r"""["']stack\(""")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == allowed:
                continue
            src = open(path, encoding="utf-8").read()
            if re.search(r"as\s*\(\s*column\s*,\s*value\s*\)", src, re.IGNORECASE):
                offenders.append(f"{path}: as (column, value)")
            for m in stack_sql.finditer(src):
                if re.search(r"\(\s*column\s*,\s*value\s*\)", src[m.start():m.start() + 400]):
                    offenders.append(f"{path}:{src.count(chr(10), 0, m.start()) + 1}")
    assert not offenders, offenders
