"""Join operators: semi / anti / star helpers.

Reference parity: all reference joins are composite-key left equi-joins of
a fact against small dimensions (`src/features/basketball_features.py:105-107`,
`jobs/feature_helpers.py:29-32`; SURVEY.md §2.3 J1–J4); plans write
those as plain ``DataFrame.join``. We add semi and anti variants (needed by
dedup/similarity extensions) and a star join that broadcasts each dim.

Scale: dimension tables (region/nation/customer-sized) are broadcast so
the fact side never shuffles for the join; Catalyst + AQE pick
sort-merge/shuffled-hash for fact-fact joins, with skew-join splitting
enabled in the session defaults.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def semi_join(df: DataFrame, other: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """EXISTS: rows of df with a match in other; never widens df."""
    return df.join(other, on=on, how="left_semi")


def anti_join(df: DataFrame, other: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """NOT EXISTS: rows of df with no match in other."""
    return df.join(other, on=on, how="left_anti")


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str] | Column]],
    how: str = "inner",
    broadcast_dims: bool = True,
) -> DataFrame:
    """Join a fact table against several dimensions, broadcasting each dim.

    Mirrors the reference's chained dimension attachment
    (`src/features/basketball_features_plus.py:91-99`): N small joins over
    one fact scan; with broadcasting the fact partitioning is untouched,
    so the whole chain is one stage.
    """
    out = fact
    for dim, on in dims:
        out = out.join(F.broadcast(dim) if broadcast_dims else dim, on=on, how=how)
    return out
