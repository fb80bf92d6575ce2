"""`local_df` types array columns once per column, not per element.

Arrays of atomic elements skip Spark's per-element row verifier: each
value is checked to be a list or tuple (or an allowed null), and the
column's Arrow-inferred element type must be of the schema's kind. The
rows that come back, and the rows that are refused at the call site,
must be those of ``createDataFrame(list, schema)``."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

DDL = (
    "l array<long>, i array<int>, s array<string>, d array<double>, "
    "b array<boolean>, y array<binary>, n array<array<long>>"
)
ROWS = [
    ([1, 2**40, -(2**63)], [7, -7], ["a", None, "é"], [1.5, -0.0], [True, None],
     [b"\x00", b""], [[1], [], None]),
    (None, None, None, None, None, None, None),
    ([], (), [], (), [], [], []),
    ([None], [None], [None], [None], [None], [None], [None]),
]


def test_arrays_match_create_dataframe_from_list(spark):
    got = local_df(spark, ROWS, DDL)
    want = spark.createDataFrame(ROWS, DDL)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_long_positions_column_round_trips(spark):
    rows = [(f"f{i}", list(range(i, 50_000, 7))) for i in range(4)]
    got = local_df(spark, rows, "__fp string, __pos array<long>").collect()
    assert sorted((r[0], list(r[1])) for r in got) == rows


@pytest.mark.parametrize(
    "ddl, value",
    [
        ("a array<long>", [1.5]),  # Arrow alone would truncate to 1
        ("a array<long>", [1, 2.0]),
        ("a array<long>", [True]),
        ("a array<long>", ["1"]),
        ("a array<long>", [2**64]),
        ("a array<int>", [2**40]),
        ("a array<double>", [1]),
        ("a array<string>", [1]),
        ("a array<string>", "abc"),  # a str is not a list of chars
        ("a array<long>", {1: 2}),
        ("a array<array<long>>", [[1.5]]),
    ],
)
def test_malformed_array_raises_at_build(spark, ddl, value):
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, [(value,)], ddl)


def test_nulls_refused_where_the_schema_forbids_them(spark):
    no_null_array = T.StructType(
        [T.StructField("a", T.ArrayType(T.LongType()), False)]
    )
    with pytest.raises(ValueError):
        local_df(spark, [([1],), (None,)], no_null_array)
    no_null_element = T.StructType(
        [T.StructField("a", T.ArrayType(T.LongType(), containsNull=False))]
    )
    with pytest.raises(ValueError):
        local_df(spark, [([1, None],)], no_null_element)
    assert local_df(spark, [([1, 2],)], no_null_element).collect()[0][0] == [1, 2]
