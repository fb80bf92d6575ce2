"""Snapshot-diff CDC via row lineage (round-10): the changes between
ANY two snapshots/versions computed by joining the two lineage reads on
``_row_id`` — no commit walk, so operations the commit-walk feeds
honestly refuse (overwrites) and even EXPIRED intermediate history
diff exactly. Both formats, same contract."""

from __future__ import annotations

from collections import Counter

import pytest

from march_mania_spark_lakehouse_spark.sources import delta_log as dl
from march_mania_spark_lakehouse_spark.sources import iceberg


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, k long, val double")


def _rows(lo, hi):
    return [(i, i % 5, float(i)) for i in range(lo, hi)]


def _feed(df):
    return Counter(
        (r.id, r.k, r.val, r._change_type) for r in df.collect()
    )


def test_iceberg_snapshot_diff_classifies_changes(spark, tmp_path):
    t = str(tmp_path / "ice")
    iceberg.create(
        _df(spark, _rows(0, 20)).repartitionByRange(2, "id"),
        t,
        format_version=3,
    )
    s1 = iceberg.current_metadata(t)["current-snapshot-id"]
    iceberg.delete_where(spark, t, "id < 4")                    # deletes
    iceberg.update_where(spark, t, "id = 10", {"val": "val + 100.0"})
    iceberg.append(_df(spark, _rows(20, 23)), t)                # inserts
    iceberg.optimize(spark, t, small_file_bytes=1 << 30)        # invisible

    feed = _feed(iceberg.snapshot_diff_changelog(spark, t, s1))
    want = Counter()
    for i in range(4):
        want[(i, i % 5, float(i), "delete")] += 1
    want[(10, 0, 10.0, "update_preimage")] += 1
    want[(10, 0, 110.0, "update_postimage")] += 1
    for i in range(20, 23):
        want[(i, i % 5, float(i), "insert")] += 1
    assert feed == want
    # update halves share the SAME _row_id (the point of the feature)
    rows = iceberg.snapshot_diff_changelog(spark, t, s1).filter(
        "id = 10"
    ).collect()
    assert len({r._row_id for r in rows}) == 1
    # same-snapshot diff is empty
    head = iceberg.current_metadata(t)["current-snapshot-id"]
    assert iceberg.snapshot_diff_changelog(spark, t, head).count() == 0


def test_iceberg_diff_survives_expired_intermediate_history(
    spark, tmp_path
):
    """The commit-walk feed dies when mid-range snapshots expire; the
    lineage diff doesn't care — it reads two endpoints."""
    t = str(tmp_path / "ice")
    iceberg.create(_df(spark, _rows(0, 10)), t, format_version=3)
    s1 = iceberg.current_metadata(t)["current-snapshot-id"]
    iceberg.create_tag(t, "base", s1)  # keep the old endpoint alive
    iceberg.delete_where(spark, t, "id = 0")
    iceberg.append(_df(spark, _rows(10, 12)), t)
    iceberg.delete_where(spark, t, "id = 11")
    iceberg.expire_snapshots(t, keep_last=1)  # intermediates gone
    with pytest.raises(iceberg.IcebergNonAppendChangeError):
        iceberg.table_changes(spark, t, 1, include_deletes=True).collect()
    feed = _feed(iceberg.snapshot_diff_changelog(spark, t, s1))
    assert feed == Counter(
        {
            (0, 0, 0.0, "delete"): 1,
            (10, 0, 10.0, "insert"): 1,
        }
    )


def test_iceberg_diff_refuses_null_lineage(spark, tmp_path):
    t = str(tmp_path / "ice_v2")
    iceberg.create(_df(spark, _rows(0, 5)), t)  # v2, no lineage
    iceberg.upgrade_format_version(t, 3)
    s1 = iceberg.current_metadata(t)["current-snapshot-id"]
    iceberg.append(_df(spark, _rows(5, 8)), t)
    with pytest.raises(ValueError, match="without row ids"):
        iceberg.snapshot_diff_changelog(spark, t, s1).collect()


def test_delta_snapshot_diff_classifies_changes(spark, tmp_path):
    t = str(tmp_path / "delta")
    dl.create(
        _df(spark, _rows(0, 20)).repartitionByRange(2, "id"),
        t,
        row_tracking=True,
    )
    dl.delete_where(spark, t, "id < 4")
    dl.update_where(spark, t, "id = 10", {"val": "val + 100.0"})
    dl.append(_df(spark, _rows(20, 23)), t)
    dl.optimize(spark, t)  # rewrite: invisible to the diff

    feed = _feed(dl.snapshot_diff_changelog(spark, t, 0))
    want = Counter()
    for i in range(4):
        want[(i, i % 5, float(i), "delete")] += 1
    want[(10, 0, 10.0, "update_preimage")] += 1
    want[(10, 0, 110.0, "update_postimage")] += 1
    for i in range(20, 23):
        want[(i, i % 5, float(i), "insert")] += 1
    assert feed == want


def test_delta_diff_crosses_an_overwrite(spark, tmp_path):
    """table_changes refuses overwrite commits; the lineage diff
    classifies straight through one (overwritten rows = deletes of the
    old ids + inserts of the new)."""
    t = str(tmp_path / "delta")
    dl.create(_df(spark, _rows(0, 6)), t, row_tracking=True)
    dl.overwrite(_df(spark, _rows(100, 103)), t)
    with pytest.raises(dl.DeltaNonAppendChangeError):
        dl.table_changes(spark, t, 0, include_deletes=True).collect()
    feed = _feed(dl.snapshot_diff_changelog(spark, t, 0))
    want = Counter()
    for i in range(6):
        want[(i, i % 5, float(i), "delete")] += 1
    for i in range(100, 103):
        want[(i, i % 5, float(i), "insert")] += 1
    assert feed == want


def test_diff_agrees_across_formats_after_conversion(spark, tmp_path):
    """The same logical history diffed on BOTH sides of a conversion
    yields the same changelog (ids carried, so the keys line up)."""
    dt = str(tmp_path / "delta")
    it = str(tmp_path / "ice")
    dl.create(
        _df(spark, _rows(0, 15)).repartitionByRange(2, "id"),
        dt,
        row_tracking=True,
    )
    iceberg.convert_from_delta(dt, it)
    s1 = iceberg.current_metadata(it)["current-snapshot-id"]
    dl.delete_where(spark, dt, "id % 5 = 0")
    dl.append(_df(spark, _rows(15, 18)), dt)
    iceberg.sync_from_delta(dt, it)
    d_feed = Counter(
        (r.id, r._row_id, r._change_type)
        for r in dl.snapshot_diff_changelog(spark, dt, 0).collect()
    )
    i_feed = Counter(
        (r.id, r._row_id, r._change_type)
        for r in iceberg.snapshot_diff_changelog(spark, it, s1).collect()
    )
    assert d_feed == i_feed and d_feed


def test_lineage_ivm_refresh_crosses_an_overwrite(spark, tmp_path):
    """IVM keyed on the lineage diff: base state at v0 + signed state
    of the diff feed == full recompute, ACROSS AN OVERWRITE — the
    commit-walk feed refuses that history, the lineage diff folds it
    (old ids retract, new ids insert)."""
    from march_mania_spark_lakehouse_spark.operators import ivm

    t = str(tmp_path / "ice")
    iceberg.create(
        _df(spark, _rows(0, 20)).repartitionByRange(2, "id"),
        t,
        format_version=3,
    )
    s1 = iceberg.current_metadata(t)["current-snapshot-id"]
    base = ivm.agg_state(
        iceberg.read_lineage(spark, t).select("k", "val"), ["k"], "val"
    ).localCheckpoint()
    iceberg.delete_where(spark, t, "id % 4 = 0")
    iceberg.overwrite(_df(spark, _rows(100, 130)), t)  # feeds refuse this
    iceberg.update_where(spark, t, "id = 105", {"val": "val + 9.0"})
    with pytest.raises(iceberg.IcebergNonAppendChangeError):
        iceberg.table_changes(spark, t, 1, include_deletes=True).collect()
    feed = iceberg.snapshot_diff_changelog(spark, t, s1)
    refreshed = ivm.finalize_counts(
        ivm.merge_states(
            base, ivm.signed_state(feed.select("k", "val", "_change_type"),
                                   ["k"], "val")
        )
    )
    recomputed = ivm.finalize_counts(
        ivm.agg_state(
            iceberg.read_iceberg(spark, t).select("k", "val"), ["k"], "val"
        )
    )
    got = sorted(tuple(r) for r in refreshed.collect())
    want = sorted(tuple(r) for r in recomputed.collect())
    assert got == want and got


def test_footer_proves_nonnull(spark, tmp_path):
    """The changelog's footer-based null-id proof (optimization r13):
    True only when every row group's stats prove zero nulls for the
    column; missing column or present nulls fall back to False."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from march_mania_spark_lakehouse_spark.sources.delta_log import (
        footer_proves_nonnull,
    )

    clean = str(tmp_path / "clean.parquet")
    pq.write_table(
        pa.table({"_row_id": pa.array([1, 2, 3], "int64"), "v": [1, 2, 3]}),
        clean,
    )
    assert footer_proves_nonnull(clean, "_row_id") is True

    withnull = str(tmp_path / "null.parquet")
    pq.write_table(
        pa.table({"_row_id": pa.array([1, None, 3], "int64"), "v": [1, 2, 3]}),
        withnull,
    )
    assert footer_proves_nonnull(withnull, "_row_id") is False

    assert footer_proves_nonnull(clean, "_row_id_missing") is False
    assert footer_proves_nonnull(str(tmp_path / "absent.parquet"), "_row_id") is False

    empty = str(tmp_path / "empty.parquet")
    pq.write_table(
        pa.table({"_row_id": pa.array([], "int64")}), empty
    )
    assert footer_proves_nonnull(empty, "_row_id") is True


def _plan_nodes(plan) -> list:
    nodes, kids = [plan], plan.children()
    for i in range(kids.size()):
        nodes += _plan_nodes(kids.apply(i))
    return nodes


@pytest.mark.parametrize("fmt", ["iceberg", "delta"])
def test_diff_plans_one_join_over_two_scans(spark, tmp_path, fmt):
    """`lineage_diff.lineage_changelog`'s plan claim, for both formats:
    on a table without deletes the optimized plan holds ONE full-outer
    join, over exactly two file scans (one per lineage read). The only
    other joins broadcast the driver-built lineage maps
    (LocalRelations) into each read."""
    t = str(tmp_path / fmt)
    if fmt == "iceberg":
        iceberg.create(_df(spark, _rows(0, 20)), t, format_version=3)
        first = iceberg.current_metadata(t)["current-snapshot-id"]
        iceberg.append(_df(spark, _rows(20, 30)), t)
        feed = iceberg.snapshot_diff_changelog(spark, t, first)
    else:
        dl.create(_df(spark, _rows(0, 20)), t, row_tracking=True)
        dl.append(_df(spark, _rows(20, 30)), t)
        feed = dl.snapshot_diff_changelog(spark, t, 0)
    nodes = _plan_nodes(feed._jdf.queryExecution().optimizedPlan())

    def scans(ns):
        return [n for n in ns if n.nodeName() == "LogicalRelation"]

    joins = [n for n in nodes if n.nodeName() == "Join"]
    diff = [j for j in joins if j.joinType().toString() == "FullOuter"]
    assert len(diff) == 1
    assert len(scans(nodes)) == 2
    assert len(scans(_plan_nodes(diff[0].left()))) == 1
    assert len(scans(_plan_nodes(diff[0].right()))) == 1
    for j in joins:
        if j.joinType().toString() != "FullOuter":
            assert {
                n.nodeName()
                for n in _plan_nodes(j.right())
                if n.children().size() == 0
            } == {"LocalRelation"}
    assert _feed(feed) == Counter(
        (i, i % 5, float(i), "insert") for i in range(20, 30)
    )
