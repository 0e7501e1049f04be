"""Driver-built tables (io.local_frame): the Arrow transport must give
the same rows as ``createDataFrame(list)``, raise the same errors, and
leave no Python RDD in the lineage — and no engine module may go back to
the pickled list path."""

import datetime
import decimal
import os
import re
import time

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import Row
from pyspark.sql import types as T

from deepchecks_spark.io import local_frame

MATRIX_DDL = (
    "i int, l bigint, d double, s string, b boolean, a array<int>, "
    "m map<string, double>, st struct<x: int, y: string>, "
    "dec decimal(10, 2), dt date"
)
MATRIX_ROWS = [
    (1, 2**40, 1.5, "x", True, [1, None, 3], {"k": 1.0, "n": None},
     (7, "seven"), decimal.Decimal("12.34"), datetime.date(2024, 2, 29)),
    (-5, -1, float("nan"), "", False, [], {}, (None, None),
     decimal.Decimal("-0.01"), datetime.date(1969, 12, 31)),
    (None,) * 10,
]


def _same_rows(spark, rows, schema):
    via_arrow = local_frame(spark, rows, schema)
    via_list = spark.createDataFrame(rows, schema)
    assert via_arrow.schema == via_list.schema
    got, want = via_arrow.collect(), via_list.collect()
    # NaN != NaN: compare the rows' reprs, which keep order and types
    assert repr(got) == repr(want)
    return got


def test_type_matrix_matches_list_path(spark):
    got = _same_rows(spark, MATRIX_ROWS, MATRIX_DDL)
    assert len(got) == 3 and all(v is None for v in got[2])


def test_struct_schema_nested_and_row_inputs(spark):
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("arr", T.ArrayType(T.StructType([
            T.StructField("p", T.LongType()),
            T.StructField("q", T.MapType(T.StringType(), T.IntegerType())),
        ]))),
    ])
    rows = [
        Row(k="a", arr=[(1, {"u": 1, "v": None}), None, {"p": 3, "q": None}]),
        {"k": 5, "arr": None},  # dict input; a non-string coerces to "5"
    ]
    got = _same_rows(spark, rows, schema)
    assert got[1]["k"] == "5"


def test_empty_rows_keep_the_schema(spark):
    for schema in ("a int, b string", T.StructType([T.StructField("t", T.TimestampType())])):
        df = local_frame(spark, [], schema)
        assert df.schema == spark.createDataFrame([], schema).schema
        assert df.collect() == []


def test_naive_timestamp_in_dst_gap_matches_list_path(spark, monkeypatch):
    # 02:30 on 2024-03-10 does not exist in Los Angeles: the list path
    # resolves it through toInternal (mktime) to 03:30 PDT; an Arrow
    # build that reads the naive value as UTC would give 03-09 18:30
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        rows = [(datetime.datetime(2024, 3, 10, 2, 30),),
                (datetime.datetime(2024, 11, 3, 1, 30),),
                (datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),),
                (None,)]
        for ddl in ("t timestamp", "t timestamp_ntz"):
            _same_rows(spark, rows, ddl)
        got = local_frame(spark, rows[:1], "t timestamp").collect()
        assert got[0]["t"] == datetime.datetime(2024, 3, 10, 3, 30)
    finally:
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize("rows,ddl,error", [
    ([("x",)], "a int", PySparkTypeError),
    ([(1.5,)], "a bigint", PySparkTypeError),
    ([(None,)], T.StructType([T.StructField("a", T.IntegerType(), False)]), PySparkValueError),
    ([(1, 2)], "a int", PySparkValueError),
])
def test_bad_row_raises_the_list_path_error(spark, rows, ddl, error):
    with pytest.raises(error) as want:
        spark.createDataFrame(rows, ddl)
    with pytest.raises(error) as got:
        local_frame(spark, rows, ddl)
    assert type(got.value) is type(want.value)
    assert got.value.getCondition() == want.value.getCondition()
    assert str(got.value) == str(want.value)


def test_no_python_rdd_in_lineage(spark):
    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    rows = [(1, "a"), (2, "b")]
    assert "PythonRDD" not in lineage(local_frame(spark, rows, "n int, s string"))
    assert "PythonRDD" in lineage(spark.createDataFrame(rows, "n int, s string"))


def test_no_create_dataframe_outside_local_frame():
    # every driver-built table goes through io.local_frame; only the two
    # pandas-frame sites (already Arrow) call createDataFrame directly
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "deepchecks_spark")
    allowed = {
        os.path.join(root, "io.py"): 1,
        os.path.join(root, "corpus", "generator.py"): 1,
        os.path.join(root, "checks", "ml.py"): 1,
    }
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py"):
                continue
            src = open(path, encoding="utf-8").read()
            hits = [src.count("\n", 0, m.start()) + 1
                    for m in re.finditer(r"createDataFrame\(", src)]
            if len(hits) > allowed.get(path, 0):
                offenders.append(f"{path}:{hits}")
    assert not offenders, offenders
