"""`dsum`/`davg` equal the cast-and-sum form they replace, bit for bit.

The reference is ``F.sum(x.cast("decimal(28,6)")).cast("double")`` (and
that over ``F.count(x)`` for the average), the form the DuckDB oracles
spell with :func:`sql_dsum`. The long-backed kernel must match it on
every row class: rounding ties, random bit patterns, both sides of the
``|x·1e6| = 2^50`` fast-path bound, tiny values, signed zeros, nulls,
all-null groups and empty input. Values the cast rejects (NaN, ±Inf,
``|x| ≥ 1e22``) must give the cast's outcome: its overflow error under
ANSI, and the null it makes of them otherwise (and of NaN/±Inf always). Every test runs with ANSI on and off.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.functions.numeric import (
    DEC,
    _unscaled,
    davg,
    dsum,
    exact_sum,
)

FAST = 2.0**50 / 1e6  # |x| at the fast-path bound


@pytest.fixture(params=[True, False], ids=["ansi", "legacy"])
def spark_ansi(request, spark):
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield spark
    spark.conf.set(key, before)


def _values() -> np.ndarray:
    rng = np.random.default_rng(20261019)
    k = rng.integers(-(10**12), 10**12, 4000)
    ties = np.concatenate([k / 1e6 + 5e-7, k / 1e6 - 5e-7, (k + 0.5) / 1e6])
    bits = rng.integers(0, 2**64, 6000, dtype=np.uint64).view(np.float64)
    bits = bits[np.isfinite(bits) & (np.abs(bits) < 1e22)]
    mant = rng.random(4000) + 1.0
    mid = mant * np.exp2(rng.integers(-30, 72, 4000)) * rng.choice([-1, 1], 4000)
    edge = np.concatenate(
        [np.nextafter(FAST, 0) - np.arange(50) * 1e-6, FAST + np.arange(50) * 1e-6]
    )
    edge = np.concatenate([edge, -edge])
    tiny = np.concatenate(
        [[5e-7, -5e-7, 4.9999999e-7, 5.0000001e-7, 1e-300, 5e-324, -0.0, 0.0],
         rng.random(500) * 1e-5]
    )
    price = np.round(rng.random(3000) * 1e5, 2)
    disc = np.round(rng.random(3000) * 0.1, 2)
    prod = np.concatenate([price * (1 - disc), price * disc])
    return np.concatenate([ties, bits, mid, edge, tiny, prod])


def _frame(spark, values, groups: int):
    pdf = pd.DataFrame({"g": np.arange(len(values)) % groups, "x": values})
    pdf.loc[::97, "x"] = None  # scattered nulls
    return spark.createDataFrame(pdf, "g long, x double")


def _reference(x):
    return F.sum(x.cast(DEC)).cast("double")


def _agg_both(df, *keys):
    x = F.col("x")
    got = df.groupBy(*keys).agg(dsum("x", "s"), davg("x", "a"))
    want = df.groupBy(*keys).agg(
        _reference(x).alias("s"), (_reference(x) / F.count(x)).alias("a")
    )
    return got, want


def _bits(rows):
    """Rows → sorted tuples with doubles as their IEEE bit patterns."""
    def enc(v):
        return None if v is None else np.float64(v).view(np.int64).item()

    return sorted(tuple(enc(v) if isinstance(v, float) else v for v in r) for r in rows)


def test_unscaled_equals_cast_on_every_row(spark_ansi):
    df = _frame(spark_ansi, _values(), 1)
    x = F.col("x")
    want = (x.cast(DEC) * F.lit(10**6)).cast("decimal(38,0)")
    bad = df.filter(~_unscaled(x).eqNullSafe(want))
    assert bad.limit(5).collect() == []


def test_fast_path_is_taken_on_both_sides_of_the_bound(spark_ansi):
    df = spark_ansi.createDataFrame(
        [(1.25,), ((2**50 - 2**20) / 1e6,), ((2**50 + 2**20) / 1e6,), (2.5e-7,)],
        "x double",
    )
    v = F.col("x") * 1e6
    fast = (F.abs(v) < 2.0**50) & (F.abs(v - F.rint(v)) < 0.25)
    assert [r[0] for r in df.select(fast).collect()] == [True, True, False, False]


def test_grouped_sums_and_averages_are_bit_equal(spark_ansi):
    got, want = _agg_both(_frame(spark_ansi, _values(), 37), "g")
    assert got.schema == want.schema
    assert _bits(got.collect()) == _bits(want.collect())


def test_windowed_sum_is_bit_equal(spark_ansi):
    df = _frame(spark_ansi, _values()[:5000], 11).withColumn(
        "i", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("g").orderBy("i").rowsBetween(-25, 0)
    got = df.select("i", exact_sum("x", w).alias("s"))
    want = df.select(
        "i", F.sum(F.col("x").cast(DEC)).over(w).cast("double").alias("s")
    )
    assert _bits(got.collect()) == _bits(want.collect())


def test_all_null_group_and_empty_input(spark_ansi):
    df = spark_ansi.createDataFrame(
        [(1, None), (1, None), (2, 1.5), (2, None)], "g long, x double"
    )
    got, want = _agg_both(df, "g")
    assert sorted(got.collect()) == sorted(want.collect())
    assert sorted(tuple(r) for r in got.collect()) == [(1, None, None), (2, 1.5, 1.5)]

    empty = df.filter(F.col("g") < 0)
    got, want = _agg_both(empty)
    assert got.collect() == want.collect()
    assert tuple(got.collect()[0]) == (None, None)
    assert _agg_both(empty, "g")[0].collect() == []


def _outcome(df):
    """The collected rows, or the error's class and condition."""
    try:
        return sorted(tuple(r) for r in df.collect())
    except Exception as e:  # noqa: BLE001 — the class is what is compared
        cond = getattr(e, "getCondition", lambda: None)()
        return type(e).__name__, cond


@pytest.mark.parametrize(
    "bad", [float("nan"), float("inf"), float("-inf"), 1e22, -3.5e25, 1e300]
)
def test_values_the_cast_rejects_fail_or_null_like_the_cast(spark_ansi, bad):
    df = spark_ansi.createDataFrame(
        [(1, bad), (1, 2.25), (2, 1.0)], "g long, x double"
    )
    got, want = _agg_both(df, "g")
    got_out, want_out = _outcome(got), _outcome(want)
    assert got_out == want_out
    ansi = spark_ansi.conf.get("spark.sql.ansi.enabled") == "true"
    if ansi and np.isfinite(bad):
        assert isinstance(want_out[0], str)  # the cast overflowed
    else:  # the cast nulls NaN/±Inf even under ANSI
        assert want_out == [(1, 2.25, 2.25 / 2), (2, 1.0, 1.0)]
