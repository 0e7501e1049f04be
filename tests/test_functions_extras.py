"""Coverage for the remaining SURVEY §2 function rows: text
normalization, hashing, train/test split, PredictionDrift,
embedding near-duplicates, format helpers."""

import pytest
from pyspark.sql import functions as F

from deepchecks_spark import Dataset
from deepchecks_spark.core.checks import format_datetime, format_list, truncate_string
from deepchecks_spark.functions.strings import (
    hash_text_expr,
    make_normalize_text_udf,
    normalize_text_expr,
)
from deepchecks_spark.pipeline.similarity import embedding_near_duplicates


def test_normalize_text_expr(spark):
    df = spark.createDataFrame([("Hello,  WORLD!!",), (None,)], "t string")
    out = df.select(normalize_text_expr("t").alias("n")).collect()
    assert out[0]["n"] == "hello world"
    assert out[1]["n"] is None


def test_normalize_text_udf_nfkc(spark):
    df = spark.createDataFrame([("ﬁne Ｔext",)], "t string")  # ligature + fullwidth
    out = df.select(make_normalize_text_udf()(F.col("t")).alias("n")).collect()
    assert out[0]["n"] == "fine text"


def test_hash_text_deterministic(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "t string")
    h = [r["h"] for r in df.select(hash_text_expr("t").alias("h")).collect()]
    assert h[0] == h[1] != h[2]


def test_train_test_split(spark):
    ds = Dataset(spark.createDataFrame([(i,) for i in range(1000)], "x int"),
                 infer_categorical=False)
    train, test = ds.train_test_split(0.8, seed=1)
    n_train, n_test = train.df.count(), test.df.count()
    assert n_train + n_test == 1000
    assert 700 < n_train < 900
    # disjoint
    assert train.df.join(test.df, "x", "left_semi").count() == 0


def test_prediction_drift(spark):
    from deepchecks_spark.checks.traintest import PredictionDrift

    train = Dataset(spark.createDataFrame([("a", 1)] * 80 + [("b", 1)] * 20, "pred string, other int"),
                    infer_categorical=False)
    test = Dataset(spark.createDataFrame([("a", 1)] * 50 + [("b", 1)] * 50, "pred string, other int"),
                   infer_categorical=False)
    check = PredictionDrift("pred").add_condition_drift_score_less_than(0.15)
    result = check.run(train, test)
    assert result.value["Method"] == "Cramer's V"
    assert result.value["Drift score"] > 0.15


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    pairs = embedding_near_duplicates(df, dim=4, threshold=0.99, n_planes=2).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)


def test_format_helpers_extra():
    assert format_list(["a", "b", "c"], max_elements_to_show=2) == "a, b, ..."
    assert truncate_string("abcdef", 3) == "abc..."
    import datetime

    assert format_datetime(datetime.datetime(2025, 1, 2)) == "2025-01-02"
    assert format_datetime(datetime.datetime(2025, 1, 2, 3, 4, 5)) == "2025-01-02 03:04:05"


def test_is_string_column(spark):
    from deepchecks_spark.functions.strings import is_string_column

    df = spark.createDataFrame(
        [("abc", "1.5", 3.0, None), ("def", "2", 4.0, "7")],
        "s string, numlike string, d double, mixed string")
    assert is_string_column(df, "s") is True          # real text
    assert is_string_column(df, "numlike") is False   # all values parse as numbers
    assert is_string_column(df, "d") is False         # numeric dtype
    assert is_string_column(df, "mixed") is False     # nulls ignored, '7' parses


def test_numeric_like_expr_identical_to_bare_cast(spark):
    """The first-character guard in numeric_like_expr must be a strict
    NECESSARY condition for Spark's string->double cast: row for row,
    guarded predicate == bare try_cast IS NOT NULL. Exhaustive over
    every first code point <= U+02FF plus hex-float / Infinity / NaN /
    Unicode-digit / fullwidth / signed / whitespace-prefixed forms."""
    from pyspark.sql import functions as F

    from deepchecks_spark.functions.strings import numeric_like_expr

    cands = [chr(i) + "1" for i in range(1, 0x300)]
    cands += [chr(i) for i in range(1, 0x300)]
    cands += ["123", " 123", "\t123", "\n123", "\r123", "\x0b123", "\x0c123",
              "\x1c123", "\x00123", "\x1f123", "+1", "-1", "+.5", ".5", "1e3",
              "1E3", "1e-3", "0x1p3", "0X1P-3", "Infinity", "-Infinity",
              "+Infinity", "infinity", "INF", "inf", "NaN", "nan", "NAN",
              "１２３", "٣", "²", "½", "٠.٥",
              "−1", "  +.5e-2  ", "1d", "1D", "1f", "1F", "d1", "e3", "",
              "1" * 400, "x" * 400, None]
    # Unicode whitespace above U+02FF, where JVM trimming APIs differ
    # (String.trim vs Character.isWhitespace)
    cands += [chr(i) + "1" for i in (0x1680, *range(0x2000, 0x200B), 0x2028,
                                     0x2029, 0x202F, 0x205F, 0x3000)]
    df = spark.createDataFrame([(s,) for s in set(cands)], "s string")
    col = F.col("s")
    rows = df.select(
        "s",
        col.try_cast("double").isNotNull().alias("bare"),
        numeric_like_expr(col).alias("guarded"),
    ).collect()
    diffs = [(r["s"], r["bare"], r["guarded"]) for r in rows
             if bool(r["bare"]) != bool(r["guarded"])]
    assert not diffs, diffs
