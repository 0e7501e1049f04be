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
    from deepchecks_spark.checks.traintest import NewCategoryTrainTest
    from deepchecks_spark.runner import (
        drift_partition_rows,
        duplicates_check,
        duplicates_partition_values,
        flagged_string_values,
        new_category_partition_values,
        partition_rows,
        partition_value_counts,
        violation_rows,
    )
    from deepchecks_spark.stats import compute_column_stats, compute_column_stats_by_partition
    from deepchecks_spark.streaming import streaming_violations

    values = ["a", "a", "b", "N/A", "!!", None]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(v,) for v in values], 2),
        f"{quote_ident(name)} string")
    assert df.columns == [name]

    assert {r["column"] for r in melt(df, [name]).collect()} == {name}
    assert set(categorical_histograms(df, [name])) == {name}
    counts = partition_value_counts(df, [name], [name])
    per_part = compute_column_stats_by_partition(df, [name])
    assert {r["column"] for r in flagged_string_values(counts).collect()} == {name}
    assert {r["column"] for r in violation_rows(
        counts, [name], compute_column_stats(df, [name])).collect()} == {name}
    assert {r["column"] for r in streaming_violations(df, [name]).collect()} == {name}

    drift = drift_partition_rows(counts, [name], per_part)
    assert drift and all(r[2].startswith(f"PSI of {name} ") for r in drift)
    # a wrong label on both sides would still join, then be read back
    # under the real name as zero new values: the FAIL proves the label
    ref = spark.createDataFrame([("a",)], f"{quote_ident(name)} string")
    new_cat = partition_rows(
        NewCategoryTrainTest().add_condition_new_category_ratio_less_or_equal(0),
        new_category_partition_values(counts, ref, [name], per_part))
    assert new_cat and {r[3] for r in new_cat} == {"FAIL"}
    # partition 0 repeats "a"; partition 1 holds distinct values only
    dups = partition_rows(duplicates_check([name]), duplicates_partition_values(df, [name]))
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


def test_stats_passes_for_backticked_column_name(spark):
    from deepchecks_spark.stats import compute_column_stats, compute_column_stats_by_partition

    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1.0, "a"), (2.0, None), (None, "b")], 2),
        "`a``b` double, `s``t` string")
    assert df.columns == ["a`b", "s`t"]
    st = compute_column_stats(df).per_column
    assert st["a`b"]["n"] == 2 and st["a`b"]["max"] == 2.0 and st["a`b"]["distinct"] == 2
    assert st["s`t"]["n"] == 2 and st["s`t"]["max_len"] == 1 and st["s`t"]["distinct"] == 2
    parts = compute_column_stats_by_partition(df)
    assert sum(p.per_column["a`b"]["n"] for p in parts.values()) == 2
    assert sum(p.per_column["s`t"]["null_count"] for p in parts.values()) == 1


def test_stats_sql_for_plain_names_matches_raw_backticks(spark):
    # plain names keep the SQL text the fused pass always emitted: the
    # parsed plans are identical node for node
    import datetime

    from pyspark.sql import functions as F

    from deepchecks_spark.functions.strings import is_special_only_expr, numeric_like_expr
    from deepchecks_spark.stats import _agg_exprs, _distinct_key

    df = spark.createDataFrame([(1, 1.5, "x", datetime.date(2024, 1, 1))],
                               "i int, d double, s string, t date")

    def raw(c, stats):
        return [F.expr(f"{fn.format(f'`{c}`')} AS `{name}::{c}`") for name, fn in stats]

    moments = [("min", "min({})"), ("max", "max({})"), ("avg", "avg({})"),
               ("stddev", "stddev({})")]
    hand = [F.expr("count(1) AS __n_rows")]
    hand += raw("i", [("n", "count({})"), ("approx_distinct", "approx_count_distinct({})")]
                + moments)
    hand += raw("d", [("n", "count({})"), ("approx_distinct", "approx_count_distinct({})")]
                + moments + [("nan_count", "sum(CAST(isnan({}) AS BIGINT))")])
    hand += raw("s", [("n", "count({})"), ("approx_distinct", "approx_count_distinct({})")])
    hand += [F.sum(numeric_like_expr(F.col("`s`")).cast("long")).alias("numeric_like::s"),
             F.sum(is_special_only_expr(F.col("`s`")).cast("long")).alias("special_only::s")]
    hand += raw("s", [("min_len", "min(length({}))"), ("max_len", "max(length({}))"),
                      ("avg_len", "avg(length({}))")])
    hand += raw("t", [("n", "count({})"), ("approx_distinct", "approx_count_distinct({})"),
                      ("min", "min({})"), ("max", "max({})")])

    def logical(exprs):
        # alias expression ids are per-call counters, not plan shape
        return re.sub(r"#\d+", "", df.agg(*exprs)._jdf.queryExecution().logical().toString())

    assert logical(_agg_exprs(df, df.columns)) == logical(hand)
    key = df.select(_distinct_key(df.schema["i"].dataType, "i"))
    hand_key = df.selectExpr(
        "CASE WHEN `i` IS NOT NULL THEN cast(named_struct('a', `i`, 'b', null, 'd', null, "
        "'s', null, 'w', null) as struct<a:bigint,b:bigint,d:double,s:string,w:boolean>) END")
    assert key._jdf.queryExecution().logical().toString() == \
        hand_key._jdf.queryExecution().logical().toString()


@pytest.mark.parametrize("module", ["runner.py", "stats.py", "checks/integrity.py", "dataset.py",
                                    "checks/traintest.py", "drift/spark.py", "streaming.py",
                                    "checks/performance.py", "checks/ml.py",
                                    "pipeline/webgraph.py", "pipeline/multimodal.py",
                                    "pipeline/webclean.py", "pipeline/textstats.py",
                                    "pipeline/relational.py", "pipeline/classifier.py",
                                    "drift/embedding.py", "functions/strings.py"])
def test_no_raw_backtick_interpolation(module):
    # identifiers in SQL text go through quote_ident; a raw `{name}`
    # breaks on a name that holds a backtick
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "deepchecks_spark", module)
    src = open(path, encoding="utf-8").read()
    raw = [src.count("\n", 0, m.start()) + 1 for m in re.finditer(r"`\{", src)]
    assert not raw, raw


@pytest.mark.parametrize("name", ADVERSARIAL_NAMES)
def test_webgraph_operators_round_trip_adversarial_column_names(spark, name):
    from deepchecks_spark.pipeline.webgraph import extract_links, host_edges

    url, html, keep = name, name + "_html", name + "_id"
    df = spark.createDataFrame(
        [(1, "https://s1.example/d/p", '<a href="/x">a</a><a href="https://s2.example/y">b</a>')],
        f"{quote_ident(keep)} int, {quote_ident(url)} string, {quote_ident(html)} string")
    links = extract_links(df, html, url, keep_cols=[keep, url])
    assert links.columns == [keep, url, "link_url"]
    assert sorted(r["link_url"] for r in links.collect()) == [
        "https://s1.example/x", "https://s2.example/y"]
    assert [tuple(r) for r in host_edges(links, url, "link_url").collect()] == [
        ("s1.example", "s2.example")]


@pytest.mark.parametrize("name", ADVERSARIAL_NAMES)
def test_multimodal_operators_round_trip_adversarial_column_names(spark, name):
    from deepchecks_spark.pipeline.multimodal import decode_features, resize_stub

    df = spark.createDataFrame([(1, b"\x89PNG payload"), (2, None)],
                               f"{quote_ident(name)} long, payload binary")
    out = decode_features(df, "payload", out_col=name + "_f")
    assert out.columns == [name, "payload", name + "_f"]
    got = {r[name]: r[name + "_f"] for r in out.collect()}
    assert len(got[1]) == 8 and got[2] is None
    resized = resize_stub(df.withColumnRenamed("payload", name + "_b").drop(name),
                          name + "_b", 2, 2, out_col=name)
    assert sorted((r[name] or b"") for r in resized.collect()) == [b"", b"\x89PNG"]
