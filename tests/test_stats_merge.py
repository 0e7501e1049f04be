"""Global column stats merged from per-partition state, the one-group
exact distinct pass, and the runner's warm-pass plan stability.

* ``merge_column_stats`` over ``compute_column_stats_by_partition``'s
  rows must give ``compute_column_stats``' single-pass values: counts,
  min and max exactly, avg / stddev / avg_len up to rounding.
* ``distinct_counts`` must count exactly what ``countDistinct`` counts.
* The runner's suite reads stats merged from its per-partition pass, not
  a second scan, and gives the same verdicts as a plain suite run.
* A second pass over a fresh read of the same input compiles no
  generated code (``CodegenMetrics``' Janino compile counter).
"""

import datetime
import math
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.stats import (
    ColumnStats,
    column_counts,
    compute_column_stats,
    compute_column_stats_by_partition,
    distinct_counts,
    merge_column_stats,
)

MIXED_DDL = ("i int, b bigint, d double, dn double, s string, dt date, "
             "ts timestamp, z int, m decimal(10,2)")
MOMENTS = ("avg", "stddev", "avg_len")


def _mixed_rows(seed: int, n: int) -> list:
    rng = random.Random(seed)

    def maybe(v):
        return None if rng.random() < 0.2 else v

    t0 = datetime.datetime(2024, 1, 1)
    return [(
        maybe(rng.randint(-1000, 1000)),
        maybe(rng.randint(-2**40, 2**40)),
        maybe(rng.uniform(0.0, 1e6)),
        maybe(float("nan") if rng.random() < 0.1 else rng.uniform(-5.0, 5.0)),
        maybe(rng.choice(["a", "bb", "12", "!!", "", "ünï", "3.5"]) * rng.randint(1, 4)),
        maybe(datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randint(0, 2000))),
        maybe(t0 + datetime.timedelta(microseconds=rng.randint(0, 10**12))),
        None,
        maybe(Decimal(rng.randint(-10**6, 10**6)).scaleb(-2)),
    ) for _ in range(n)]


def _same(stat, merged, single):
    if isinstance(single, float) and math.isnan(single):
        return isinstance(merged, float) and math.isnan(merged)
    if stat == "avg" and isinstance(single, Decimal):
        # merged from partition means Spark already rounded at this
        # scale: within one unit in its last place
        ulp = Decimal(1).scaleb(single.as_tuple().exponent)
        return isinstance(merged, Decimal) and abs(merged - single) <= ulp
    if stat in MOMENTS and single is not None and merged is not None:
        return math.isclose(merged, single, rel_tol=1e-12, abs_tol=1e-12)
    return merged == single and type(merged) is type(single)


# (seed, rows, slices): many rows per partition; empty and one-row
# partitions; one row in all (stddev null); every partition one row;
# no rows at all (no partition row to merge)
LAYOUTS = [(1, 300, 7), (2, 9, 16), (3, 1, 4), (4, 40, 40), (5, 0, 3)]


@pytest.mark.parametrize("seed,n,slices", LAYOUTS)
def test_merged_stats_equal_single_pass(spark, seed, n, slices):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(_mixed_rows(seed, n), slices), MIXED_DDL)
    single = compute_column_stats(df)
    parts = compute_column_stats_by_partition(df)
    merged = merge_column_stats(parts, df.columns, distinct_counts(df, df.columns), df.schema)

    assert merged.n_rows == single.n_rows == n
    for c in df.columns:
        m, s = merged.per_column[c], single.per_column[c]
        assert list(m) == list(s), c
        bad = {k: (m[k], s[k]) for k in s if not _same(k, m[k], s[k])}
        assert not bad, (c, bad)
    assert merged.per_column["z"]["n"] == 0 and merged.per_column["z"]["avg"] is None


def test_merge_without_distinct_and_without_partitions():
    st = ColumnStats(n_rows=3, per_column={"x": {
        "n": 2, "approx_distinct": 2, "min": 1, "max": 4, "avg": 2.5,
        "stddev": 2.1213203435596424, "distinct": 2, "null_count": 1,
        "percent_null": 1 / 3}})
    merged = merge_column_stats({0: st})
    assert merged.per_column == {"x": {"n": 2, "min": 1, "max": 4, "avg": 2.5,
                                       "stddev": 2.1213203435596424,
                                       "null_count": 1, "percent_null": 1 / 3}}
    empty = merge_column_stats({})
    assert empty.n_rows == 0 and empty.per_column == {}


def test_distinct_counts_match_count_distinct(spark):
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    nan = float("nan")
    rows = [
        (1, 0.0, 1.0, True, Decimal("1.50"), b"x", [1, None], d1, "a", ("x", None), {"k": None}),
        (1, -0.0, -3.0, False, Decimal("1.5"), b"y", [None, 1], d2, "b", (None, "x"),
         {"k": "null"}),
        (2, nan, 1.0, True, Decimal("2.00"), b"x", [1], None, "a", (None, None), {"k": "x"}),
        (None, nan, None, None, None, None, None, d1, None, None, None),
        (3, 1.0, 0.0, False, Decimal("-2.00"), b"", [], datetime.date(1960, 5, 5), "",
         ("x", None), {"k": None}),
        (3, 2.5, 2.0, False, Decimal("2.00"), b"x", [None], d1, "a", ("", None), {}),
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "i int, d double, e double, f boolean, m decimal(10,2), h binary, a array<int>, "
        "t date, s string, st struct<x:string,y:string>, mp map<string,string>")
    expect = df.agg(*[F.countDistinct(quote_ident(c)).alias(c) for c in df.columns]) \
        .first().asDict()
    assert distinct_counts(df, df.columns) == expect
    # 0.0 and -0.0 are one value, every NaN is one value; a null element
    # or field is part of the value
    assert expect["d"] == 4 and expect["a"] == 5 and expect["st"] == 4
    empty = df.limit(0)
    assert distinct_counts(empty, empty.columns) == {c: 0 for c in df.columns}

    # the non-null counts and the whole-number flag ride on the same job
    whole = {c: F.min(F.expr(f"cast({c} as double) = cast(floor({c}) as double)"))
             for c in ("d", "e", "m")}
    direct = df.agg(*[F.count(quote_ident(c)).alias(c) for c in df.columns],
                    *[w.alias(f"w_{c}") for c, w in whole.items()]).first()
    assert column_counts(df, df.columns) == {
        c: (direct[c], expect[c], direct[f"w_{c}"] if c in whole else None)
        for c in df.columns}
    assert [direct[f"w_{c}"] for c in whole] == [False, True, False]


def _old_global_metric_rows(per_part):
    """global_metric_rows before it called merge_column_stats, kept as the
    oracle for its output rows."""
    total = sum(s.n_rows for s in per_part.values())
    out = [("rows", float(total))]
    cols = {}
    for s in per_part.values():
        for c, st in s.per_column.items():
            agg = cols.setdefault(c, {"nulls": 0, "min": None, "max": None})
            agg["nulls"] += st.get("null_count", 0)
            for k, f in (("min", min), ("max", max)):
                v = st.get(k)
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    agg[k] = v if agg[k] is None else f(agg[k], v)
    for c, agg in sorted(cols.items()):
        out.append((f"{c}.null_frac", (agg["nulls"] / total) if total else 0.0))
        if agg["min"] is not None:
            out.append((f"{c}.min", float(agg["min"])))
            out.append((f"{c}.max", float(agg["max"])))
    return out


@pytest.mark.parametrize("seed,n,slices", LAYOUTS)
def test_global_metric_rows_unchanged(spark, seed, n, slices):
    from deepchecks_spark.runner import global_metric_rows

    # dn is left out: with NaN in the data the old loop's min/max
    # depended on partition order (Python's min/max with NaN); the merge
    # orders NaN last, as Spark does
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(_mixed_rows(seed, n), slices), MIXED_DDL).drop("dn")
    parts = compute_column_stats_by_partition(df)
    rows = global_metric_rows(parts)
    assert rows == _old_global_metric_rows(parts)
    assert [type(v) for _, v in rows] == [float] * len(rows)
    assert global_metric_rows({}) == [("rows", 0.0)]


def test_merged_nan_extremes_follow_spark(spark):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(float("nan"),), (1.0,), (-2.0,), (float("nan"),)], 4),
        "x double")
    merged = merge_column_stats(compute_column_stats_by_partition(df))
    single = compute_column_stats(df)
    assert math.isnan(merged.per_column["x"]["max"]) and math.isnan(single.per_column["x"]["max"])
    assert merged.per_column["x"]["min"] == single.per_column["x"]["min"] == -2.0


def test_merged_decimal_mean_rounds_like_spark(spark):
    # Spark's avg of decimal(10,2) is a decimal(14,6), rounded half up;
    # the partitions [1] and [2, 2] merge to 5/3 at that scale
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(Decimal(1),), (Decimal(2),), (Decimal(2),)], 2),
        "x decimal(10,2)")
    assert sorted(s.n_rows for s in compute_column_stats_by_partition(df).values()) == [1, 2]
    merged = merge_column_stats(compute_column_stats_by_partition(df))
    assert merged.per_column["x"]["avg"] == compute_column_stats(df).per_column["x"]["avg"] \
        == Decimal("1.666667")
    assert str(merged.per_column["x"]["avg"]) == "1.666667"


# -- the runner's seeded suite ------------------------------------------------

def _verdicts(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(os.path.join(out, "verdicts")).collect())


def _plain_suite_verdicts(spark, path):
    from deepchecks_spark.checks.integrity import (
        IsSingleValue,
        MixedDataTypes,
        PercentOfNulls,
        SpecialCharacters,
    )
    from deepchecks_spark.core.suite import Suite
    from deepchecks_spark.dataset import Dataset

    suite = Suite(
        "runner integrity",
        IsSingleValue().add_condition_not_single_value(),
        PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.05),
        SpecialCharacters().add_condition_ratio_of_special_characters_less_or_equal(0.001),
        MixedDataTypes().add_condition_rare_type_ratio_not_in_range(),
    )
    ds = Dataset(spark.read.parquet(path), infer_categorical=True)
    return sorted((r.header, c.name, c.category.value, c.details)
                  for r in suite.run(ds).results for c in r.conditions_results)


@pytest.mark.parametrize("n", [300, 0])
def test_runner_suite_reads_merged_stats(spark, tmp_path, monkeypatch, n):
    import deepchecks_spark.core.context as ctx_mod
    from deepchecks_spark.runner import run_job

    path = str(tmp_path / "in")
    spark.createDataFrame(
        spark.sparkContext.parallelize(_mixed_rows(7, n), 3), MIXED_DDL) \
        .write.parquet(path)
    expect = _plain_suite_verdicts(spark, path)

    calls = []
    real = ctx_mod.compute_column_stats
    monkeypatch.setattr(ctx_mod, "compute_column_stats",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    out = str(tmp_path / "out")
    run_job(spark, path, out, resume=False)
    # no fused global scan inside the suite: its stats are merged
    assert calls == []
    assert _verdicts(spark, out) == expect
    assert len(expect) == 4


def test_run_job_backticked_mixed_type_column(spark, tmp_path):
    # MixedDataTypes' example scans name the column: a backtick in the
    # name must not break their SQL
    from deepchecks_spark.runner import run_job

    name = "a`b"
    values = ["word%d" % i for i in range(95)] + [str(i) for i in range(5)]
    path = str(tmp_path / "in")
    spark.createDataFrame([(v,) for v in values], f"{quote_ident(name)} string") \
        .write.parquet(path)
    out = str(tmp_path / "out")
    run_job(spark, path, out, resume=False)
    rows = _verdicts(spark, out)
    assert {r[2] for r in rows} <= {"PASS", "WARN", "FAIL"}, rows
    mixed = [r for r in rows if r[0] == "Mixed Data Types"]
    assert mixed and mixed[0][2] == "WARN" and name in mixed[0][3]
    # the runner reads no examples; a suite run fetches them by that name
    from deepchecks_spark.checks.integrity import MixedDataTypes
    from deepchecks_spark.core.suite import Suite
    from deepchecks_spark.dataset import Dataset

    result = Suite("s", MixedDataTypes()).run(Dataset(spark.read.parquet(path))).results[0]
    examples = result.value[name]
    assert len(examples["numbers_examples"]) == len(examples["strings_examples"]) == 3
    assert set(examples["numbers_examples"]) <= set(values[95:])
    assert set(examples["strings_examples"]) <= set(values[:95])


# -- plan stability ------------------------------------------------------------

def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory, spark):
    from deepchecks_spark.corpus import generate_corpus_spark

    path = str(tmp_path_factory.mktemp("stable") / "webpages")
    generate_corpus_spark(spark, 400, seed=42, partitions=4) \
        .withColumn("doc_id", F.monotonically_increasing_id()) \
        .write.mode("overwrite").parquet(path)
    return path


def test_stats_pass_compiles_nothing_on_a_fresh_read(spark, corpus_path):
    # a fresh read gives every attribute a new expression id; the
    # generated source must not depend on them, or each pass recompiles
    compute_column_stats(spark.read.parquet(corpus_path))
    before = _compiles(spark)
    compute_column_stats(spark.read.parquet(corpus_path))
    assert _compiles(spark) - before == 0


def test_suggest_constraints_compiles_nothing_on_a_fresh_read(spark, corpus_path):
    # its exact single-column counts are the stats module's one distinct
    # group, whose generated code does not follow per-read expression ids
    from deepchecks_spark.checks.constraints import suggest_constraints

    want = suggest_constraints(spark.read.parquet(corpus_path)).collect()
    assert any(r["kind"] == "unique" for r in want)
    before = _compiles(spark)
    got = suggest_constraints(spark.read.parquet(corpus_path)).collect()
    assert _compiles(spark) - before == 0
    assert got == want


def test_inferring_categorical_features_compiles_nothing_on_a_fresh_read(spark, corpus_path):
    from deepchecks_spark.dataset import infer_categorical_features

    df = spark.read.parquet(corpus_path)
    cats = infer_categorical_features(df, df.columns)
    before = _compiles(spark)
    df = spark.read.parquet(corpus_path)
    assert infer_categorical_features(df, df.columns) == cats
    assert _compiles(spark) - before == 0


# None: the runner infers the categorical features (the CLI default)
@pytest.mark.parametrize("cat_features", [["lang"], None])
def test_second_run_job_compiles_nothing(spark, tmp_path, corpus_path, cat_features):
    from deepchecks_spark.runner import run_job

    run_job(spark, corpus_path, str(tmp_path / "a"), cat_features=cat_features, resume=False)
    before = _compiles(spark)
    run_job(spark, corpus_path, str(tmp_path / "b"), cat_features=cat_features, resume=False)
    assert _compiles(spark) - before == 0
