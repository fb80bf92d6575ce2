"""`local_df` builds driver-side metadata maps as a JVM LocalRelation:
no Python worker on any action, the same rows `createDataFrame(list)`
gives, one partition per row up to the core count, and malformed rows
rejected on the driver when the frame is built."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

DDL = (
    "i int, l long, s string, b binary, f boolean, d double, "
    "a array<string>, day date, ts timestamp"
)
ROWS = [
    (1, 2**40, "x", b"\x00\xff", True, 1.5, ["p", "q"],
     dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 12, 30, 1, 5)),
    (None, None, None, None, None, None, None, None, None),
    (-7, -1, "é", b"", False, -0.0, [], dt.date(1969, 12, 31),
     dt.datetime(1969, 12, 31, 23, 59, 59)),
]


def _plan(df):
    return df._jdf.queryExecution()


def test_plans_as_local_relation_without_python_rdd(spark):
    df = local_df(spark, ROWS, DDL)
    assert _plan(df).analyzed().getClass().getSimpleName() == "LocalRelation"
    assert "PythonRDD" not in _plan(df).toRdd().toDebugString()


def test_matches_create_dataframe_from_list(spark):
    got = local_df(spark, ROWS, DDL)
    want = spark.createDataFrame(ROWS, DDL)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_accepts_struct_type(spark):
    struct = T.StructType(
        [
            T.StructField("__fp", T.StringType(), False),
            T.StructField("k", T.LongType(), True),
        ]
    )
    df = local_df(spark, [("f1", 1), ("f2", None)], struct)
    assert df.schema == struct
    assert sorted(tuple(r) for r in df.collect()) == [("f1", 1), ("f2", None)]


def test_empty_keeps_schema(spark):
    df = local_df(spark, [], DDL)
    assert df.schema == spark.createDataFrame([], DDL).schema
    assert df.collect() == []
    assert "PythonRDD" not in _plan(df).toRdd().toDebugString()


@pytest.mark.parametrize("n", [1, 3, 40])
def test_partitions_follow_row_count(spark, n):
    df = local_df(spark, [(i,) for i in range(n)], "x long")
    cores = spark.sparkContext.defaultParallelism
    assert _plan(df).toRdd().getNumPartitions() == min(n, cores)


@pytest.mark.parametrize(
    "bad",
    [
        [(1,)],  # arity
        [("x", 1)],  # str into int
        [(1.5, 1)],  # float into int
        [(1, "y")],  # str into long
    ],
)
def test_malformed_row_raises_at_build(spark, bad):
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, bad, "i int, l long")


def test_null_in_non_nullable_field_raises_at_build(spark):
    struct = T.StructType([T.StructField("k", T.StringType(), False)])
    with pytest.raises(ValueError):
        local_df(spark, [(None,)], struct)
