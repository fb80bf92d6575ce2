"""Golden-case + invariant tests for the ordered per-group folds (UD1) —
the non-SQL-expressible operators the oracle can't check.

Elo invariants (SURVEY.md §5): the per-game rating deltas are symmetric,
so total rating is conserved: Σ elo == base · n_players (up to float
noise). Golden case hand-computed for a 3-game season.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.operators import fold


def _expected_elo_3_games() -> dict[int, float]:
    """Hand fold of the golden season: A beats B, B beats C, A beats C."""
    k, base = 20.0, 1500.0
    r = {1: base, 2: base, 3: base}

    def play(a: int, b: int, a_won: float) -> None:
        ea = 1.0 / (1.0 + 10.0 ** ((r[b] - r[a]) / 400.0))
        r[a] += k * (a_won - ea)
        r[b] += k * ((1.0 - a_won) - (1.0 - ea))

    play(1, 2, 1.0)
    play(2, 3, 1.0)
    play(1, 3, 1.0)
    return r


def test_elo_golden_three_games(spark):
    matches = spark.createDataFrame(
        [
            (2024, 0, 1, 2, 1.0),
            (2024, 1, 2, 3, 1.0),
            (2024, 2, 1, 3, 1.0),
        ],
        "season int, match_id long, player_a long, player_b long, a_won double",
    )
    out = {
        r["player_id"]: r["elo"]
        for r in fold.elo_ratings(matches, group_col="season").collect()
    }
    expected = _expected_elo_3_games()
    for p, e in expected.items():
        assert out[p] == pytest.approx(e, abs=1e-9)


def test_elo_conserves_total_rating(spark, sf_dir):
    """Zero-sum updates ⇒ Σ elo = 1500 · n_players per group."""
    from march_mania_spark_lakehouse_spark.plans.queries_fold import q32

    out = q32(spark, sf_dir)
    check = out.groupBy("season").agg(
        F.sum("elo").alias("total"), F.count(F.lit(1)).alias("n")
    )
    for r in check.collect():
        assert r["total"] == pytest.approx(1500.0 * r["n"], abs=1e-6)


def test_elo_order_sensitivity_is_respected(spark):
    """Reversing match order must change ratings (it's a sequential fold,
    not an aggregate) — guards against accidentally commutative rewrites."""
    fwd = spark.createDataFrame(
        [(1, 0, 1, 2, 1.0), (1, 1, 1, 2, 0.0)],
        "season int, match_id long, player_a long, player_b long, a_won double",
    )
    rev = spark.createDataFrame(
        [(1, 0, 1, 2, 0.0), (1, 1, 1, 2, 1.0)],
        "season int, match_id long, player_a long, player_b long, a_won double",
    )
    r_fwd = {r["player_id"]: r["elo"] for r in fold.elo_ratings(fwd).collect()}
    r_rev = {r["player_id"]: r["elo"] for r in fold.elo_ratings(rev).collect()}
    # Win-then-lose ends lower than lose-then-win for player 1 (the second
    # game is played from a different rating).
    assert r_fwd[1] != pytest.approx(r_rev[1], abs=1e-12) or r_fwd == r_rev


def test_exp_decay_fold_golden(spark):
    df = spark.createDataFrame(
        [(7, 1, 10.0), (7, 2, 20.0), (7, 3, 30.0), (8, 1, 5.0)],
        "user_id long, seq long, value double",
    )
    out = {
        r["user_id"]: (r["decayed_value"], r["n_rows"])
        for r in fold.exp_decay_fold(df, ["user_id"], ["seq"], "value", 0.5).collect()
    }
    # user 7: ((10*0.5)+20)*0.5+30 = 42.5 ; user 8: 5.0
    assert out[7] == (pytest.approx(42.5), 3)
    assert out[8] == (pytest.approx(5.0), 1)


def test_decay_fold_matches_closed_form(spark, sf_dir):
    """Engine fold ≡ Σ vᵢ·αⁿ⁻ⁱ (same rounding as the oracle query)."""
    ev = catalog.load(spark, "events", sf_dir).select("user_id", "ts", "event_id", "value")
    folded = fold.exp_decay_fold(ev, ["user_id"], ["ts", "event_id"], "value", 0.9)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    closed = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(F.sum(F.col("value") * F.pow(F.lit(0.9), F.col("n") - F.col("rn"))).alias("cf"))
    )
    joined = folded.join(closed, "user_id")
    bad = joined.filter(
        F.abs(F.col("decayed_value") - F.col("cf")) > 1e-6
    ).count()
    assert bad == 0


@contextlib.contextmanager
def _conf(spark, **settings):
    """Set session confs for one test and restore the previous values."""
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _local_decay(rows, n_keys: int, alpha: float) -> dict:
    """Reference fold: rows (*keys, order, value) sorted by order with
    nulls last, then np.polyval per group — the Horner recurrence."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(tuple(r[:n_keys]), []).append(r[n_keys:])
    out = {}
    for k, g in groups.items():
        g.sort(key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0))
        out[k] = (float(np.polyval(np.array([v for _, v in g]), alpha)), len(g))
    return out


def _local_elo(rows, k: float = 20.0, base: float = 1500.0) -> dict:
    """Reference Elo over (season, match_id, a, b, a_won) rows."""
    by_season: dict = {}
    for r in sorted(rows, key=lambda t: t[1]):
        by_season.setdefault(r[0], []).append(r)
    out = {}
    for season, games in by_season.items():
        rating: dict = {}
        for _, _, a, b, sa in games:
            ra, rb = rating.get(a, base), rating.get(b, base)
            ea = 1.0 / (1.0 + 10.0 ** ((rb - ra) / 400.0))
            rating[a] = ra + k * (sa - ea)
            rating[b] = rb + k * ((1.0 - sa) - (1.0 - ea))
        out.update({(season, p): v for p, v in rating.items()})
    return out


def test_groups_spanning_arrow_batches(spark):
    """With 4-row Arrow batches most groups straddle batch edges; both
    folds must still see each group whole and in order."""
    rng = np.random.default_rng(11)
    rows, matches = [], []
    for g in range(40):
        for i in range(int(rng.integers(1, 16))):
            rows.append((g, int(rng.integers(0, 10**6)) * 64 + i, float(rng.normal())))
    for m in range(300):
        a, b = (int(v) for v in rng.choice(12, 2, replace=False))
        matches.append((m % 5, m, a, b, float(rng.integers(0, 2))))
    df = spark.createDataFrame(rows, "g long, seq long, value double")
    mdf = spark.createDataFrame(
        matches, "season int, match_id long, player_a long, player_b long, a_won double"
    )
    with _conf(spark, **{_BATCH: "4"}):
        got = {
            (r["g"],): (r["decayed_value"], r["n_rows"])
            for r in fold.exp_decay_fold(df, ["g"], ["seq"], "value", 0.7).collect()
        }
        elo = {
            (r["season"], r["player_id"]): r["elo"]
            for r in fold.elo_ratings(mdf).collect()
        }
    assert got == _local_decay(rows, 1, 0.7)
    assert elo == _local_elo(matches)


def test_null_and_two_column_group_keys(spark):
    """Null keys form their own group, per column, exactly as groupBy."""
    rows = []
    for i, (g1, g2) in enumerate(
        [(None, "a"), (1, None), (None, None), (1, "a"), (2, "b"), (None, "b")] * 3
    ):
        rows.append((g1, g2, i, float(i % 7) - 2.5))
    df = spark.createDataFrame(rows, "g1 long, g2 string, seq long, value double")
    out = fold.exp_decay_fold(df, ["g1", "g2"], ["seq"], "value", 0.5).collect()
    got = {(r["g1"], r["g2"]): (r["decayed_value"], r["n_rows"]) for r in out}
    assert len(out) == 6
    assert got == _local_decay(rows, 2, 0.5)


def test_keys_pandas_cannot_tell_apart_stay_separate(spark):
    """Keys that become equal once pandas holds them — longs beyond 2^53
    beside a null (the column turns float64), a null and a NaN double —
    still fold as the separate groups groupBy makes."""
    big = 2**53
    longs = spark.createDataFrame(
        [(big, 1, 1.0), (big + 1, 1, 2.0), (None, 1, 4.0), (big, 2, 8.0)],
        "g long, seq long, value double",
    )
    doubles = spark.createDataFrame(
        [(None, 1, 1.0), (float("nan"), 1, 2.0), (float("nan"), 2, 4.0)],
        "g double, seq long, value double",
    )
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        a = fold.exp_decay_fold(longs, ["g"], ["seq"], "value", 0.5).collect()
        b = fold.exp_decay_fold(doubles, ["g"], ["seq"], "value", 0.5).collect()
    assert sorted((r["n_rows"], r["decayed_value"]) for r in a) == [
        (1, 2.0), (1, 4.0), (2, 8.5)
    ]
    assert sorted((r["n_rows"], r["decayed_value"]) for r in b) == [(1, 1.0), (2, 5.0)]


def test_long_keys_beside_a_null_come_back_exact(spark):
    """A long key column holding a null reaches the fold without a
    float64 detour: keys 2^53 and 2^53+1 in the same batch as a null key
    are emitted as themselves, not both as 9007199254740992."""
    big = 2**53
    longs = spark.createDataFrame(
        [(big, 1, 1.0), (big + 1, 1, 2.0), (None, 1, 4.0)],
        "g long, seq long, value double",
    )
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        got = fold.exp_decay_fold(longs, ["g"], ["seq"], "value", 0.5).collect()
    assert sorted(
        ((r["g"] is None, r["g"] or 0), r["decayed_value"]) for r in got
    ) == [((False, big), 1.0), ((False, big + 1), 2.0), ((True, 0), 4.0)]


def test_null_order_values_sort_last(spark):
    """Rows with a null order value fold after every non-null one, in
    each order column in turn (pandas' mergesort put nulls last)."""
    rows = [
        (1, 3, 0, 1.0), (1, None, 0, 2.0), (1, 1, 0, 4.0), (1, 2, 0, 8.0),
        (2, 5, None, 1.0), (2, 5, 1, 2.0), (2, 4, 9, 4.0),
    ]
    df = spark.createDataFrame(rows, "g long, o1 long, o2 long, value double")
    got = {
        r["g"]: r["decayed_value"]
        for r in fold.exp_decay_fold(df, ["g"], ["o1", "o2"], "value", 0.5).collect()
    }
    # g1 order: 4, 8, 1, 2 ; g2 order: (4,9)→4, (5,1)→2, (5,null)→1
    assert got[1] == np.polyval([4.0, 8.0, 1.0, 2.0], 0.5)
    assert got[2] == np.polyval([4.0, 2.0, 1.0], 0.5)


def test_empty_input(spark):
    df = spark.createDataFrame([], "g long, seq long, value double")
    assert fold.exp_decay_fold(df, ["g"], ["seq"], "value", 0.9).collect() == []
    m = spark.createDataFrame(
        [], "season int, match_id long, player_a long, player_b long, a_won double"
    )
    assert fold.elo_ratings(m).collect() == []


def test_empty_partitions(spark):
    """One group over eight shuffle partitions leaves seven empty."""
    df = spark.createDataFrame([(5, i, float(i)) for i in range(6)],
                               "g long, seq long, value double")
    with _conf(spark, **{"spark.sql.shuffle.partitions": "8",
                         "spark.sql.adaptive.enabled": "false"}):
        out = fold.exp_decay_fold(df, ["g"], ["seq"], "value", 0.25).collect()
    assert [(r["g"], r["n_rows"]) for r in out] == [(5, 6)]
    assert out[0]["decayed_value"] == np.polyval(np.arange(6.0), 0.25)


def test_unrounded_decay_is_bit_equal_to_polyval(spark, sf_dir):
    """q31's fold before rounding equals np.polyval over each user's
    values in (ts, event_id) order, bit for bit."""
    ev = catalog.load(spark, "events", sf_dir).select("user_id", "ts", "event_id", "value")
    got = {
        r["user_id"]: (r["decayed_value"], r["n_rows"])
        for r in fold.exp_decay_fold(
            ev, ["user_id"], ["ts", "event_id"], "value", 0.9
        ).collect()
    }
    pdf = ev.toPandas().sort_values(["ts", "event_id"], kind="mergesort")
    want = {
        int(u): (float(np.polyval(g["value"].to_numpy(np.float64), 0.9)), len(g))
        for u, g in pdf.groupby("user_id")
    }
    assert got == want


def test_q31_plan_streams_sorted_partitions(spark, sf_dir):
    """q31's executed plan folds sorted partitions in one MapInArrow:
    no grouped-map operator, and exactly one Exchange and one Sort
    beneath the MapInArrow (the per-group sort is the JVM's)."""
    import re

    from march_mania_spark_lakehouse_spark.plans.queries_fold import q31

    df = q31(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    nodes = [
        (len(m.group(1)), m.group(2))
        for m in re.finditer(r"^([ :|+-]*)(?:\*\(\d+\) )?(\w+)", final, re.M)
    ]
    names = [n for _, n in nodes]
    assert "FlatMapGroupsInPandas" not in names
    assert names.count("MapInArrow") == 1
    at = names.index("MapInArrow")
    under = []
    for depth, name in nodes[at + 1:]:
        if depth <= nodes[at][0]:
            break
        under.append(name)
    assert under.count("Exchange") == 1, final
    assert under.count("Sort") == 1, final
