"""Ordered per-group fold queries (SURVEY.md §2.10 UD1): the operators
Catalyst cannot express relationally, run as pandas folds over
JVM-sorted partitions (`operators.fold.ordered_fold`).

q31 has a closed-form SQL oracle (decay fold ≡ Σ vᵢ·αⁿ⁻ⁱ, rounded);
q32 (Elo) is genuinely non-SQL-expressible → rows-only + golden unit
tests in tests/test_fold.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.operators import fold
from march_mania_spark_lakehouse_spark.plans.registry import query

_Q31_SQL = """
WITH numbered AS (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM events
)
SELECT user_id,
       ROUND(SUM(value * POWER(0.9, n - rn)), 3) AS decayed_value,
       CAST(MAX(n) AS BIGINT) AS n_rows
FROM numbered
GROUP BY user_id
"""


@query("q31_decayed_fold", oracle=_Q31_SQL, tags=("fold",))
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay running state per user (UD1 shape): the engine
    runs a true sequential fold (`fold.ordered_fold`); the oracle uses the
    closed form Σ vᵢ·αⁿ⁻ⁱ. Rounded to 3 digits (the two formulations
    differ only in ~1e-10 float association noise)."""
    ev = catalog.load(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    out = fold.exp_decay_fold(
        ev,
        group_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.9,
    )
    return out.select(
        "user_id", F.round("decayed_value", 3).alias("decayed_value"), "n_rows"
    )


@query("q32_elo_ratings", oracle=None, tags=("fold",))
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Elo (reference `src/features/elo.py:58-121`): matches are
    derived deterministically from events (event 2i vs 2i+1; higher value
    wins; one independent rating pool per day = the 'season' group). Not
    SQL-expressible → rows-only + golden tests (tests/test_fold.py)."""
    ev = catalog.load(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    pair = ev.withColumn("match_id", F.floor(F.col("event_id") / 2))
    a = pair.filter(F.col("event_id") % 2 == 0).select(
        "match_id",
        F.to_date("ts").alias("season"),
        F.col("user_id").alias("player_a"),
        F.col("value").alias("value_a"),
    )
    b = pair.filter(F.col("event_id") % 2 == 1).select(
        "match_id",
        F.col("user_id").alias("player_b"),
        F.col("value").alias("value_b"),
    )
    matches = (
        a.join(b, on="match_id", how="inner")
        .filter(F.col("player_a") != F.col("player_b"))
        .withColumn("a_won", (F.col("value_a") >= F.col("value_b")).cast("double"))
        .select("season", "match_id", "player_a", "player_b", "a_won")
    )
    return fold.elo_ratings(matches, group_col="season", order_cols=("match_id",))
