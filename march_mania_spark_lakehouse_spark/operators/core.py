"""Core relational operators: windows, top-k, latest-per-group, rolling.

Reference parity:
- latest-per-group  → `src/features/massey.py:53-59`, `jobs/06:51-57` (W2/W3)
- causal rolling    → `src/features/rolling.py:80-93` (W1): the
  ``rowsBetween(-n, -1)`` frame excludes the current row (anti-leakage by
  construction).
- top-k / sort+limit → SURVEY.md §2.6 (engine additions).

Scale notes: all of these are single-shuffle window operators — the
partition key carries the shuffle, ordering is local per partition. At
100 TB the only knob that matters is that ``keys`` are high-cardinality
enough to spread (they are: user/customer/team keys), and AQE handles
residual skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.functions.numeric import exact_sum


def _cols(cols: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def latest_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    rn_col: str = "_rn",
) -> DataFrame:
    """Keep exactly one row per key group: row_number()==1 under order_by.

    Pass descending orderings (e.g. ``F.col("ts").desc()``) plus a unique
    tiebreaker column for determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*_cols(order_by))
    return (
        df.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) == 1)
        .drop(rn_col)
    )


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group via row_number ≤ k (no global sort, one shuffle)."""
    w = Window.partitionBy(*keys).orderBy(*_cols(order_by))
    out = df.withColumn(rank_col or "_rn", F.row_number().over(w)).filter(
        F.col(rank_col or "_rn") <= k
    )
    return out if rank_col else out.drop("_rn")


def causal_rolling_avg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str,
    last_n: int,
    out_col: str,
) -> DataFrame:
    """Trailing average over the previous ``last_n`` rows, excluding current.

    Frame ``(-last_n, -1)`` ⇒ null on each group's first row (empty frame).
    Uses an exact decimal sum over the frame so the result is independent
    of how the engine associates the frame aggregation (bit-reproducible
    against any serial oracle) — see functions/numeric.py.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_cols(order_by))
        .rowsBetween(-last_n, -1)
    )
    val = F.col(value_col)
    rolling = exact_sum(val, w) / F.count(val).over(w)
    return df.withColumn(out_col, rolling)


def distinct_values(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Distinct projection (P7)."""
    return df.select(*cols).distinct()


def drop_null_rows(df: DataFrame, subset: Sequence[str]) -> DataFrame:
    """Null-drop predicate (P6) — `jobs/03:82` parity."""
    return df.dropna(subset=list(subset))


def global_topk(df: DataFrame, order_by: Sequence[Column | str], k: int) -> DataFrame:
    """Global sort + limit. Spark's sort-limit physical op does a per-
    partition top-k then a single-reducer merge — no full global sort is
    materialized, so this is safe at any scale for small k."""
    return df.orderBy(*_cols(order_by)).limit(k)


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    but only when the incoming plan yields FEWER partitions than that.

    Compute-heavy operators (per-pair cosine folds, shingle explosion,
    Arrow GEMM batches) inherit the scan's partitioning when their joins
    broadcast; a corpus that arrives as one small file then runs on one
    task while every other core idles, and AQE cannot split it because
    there is no shuffle boundary. At real corpus scale the scan already
    has ≥ parallelism partitions and this is an identity — no shuffle is
    ever added to a well-partitioned input. The shuffle it does add moves
    only the raw scan columns: Catalyst keeps derived projections (norms,
    signatures) above the user Repartition, so the heavy expressions run
    post-exchange, in parallel.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
