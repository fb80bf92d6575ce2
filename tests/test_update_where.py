"""Merge-on-read UPDATE on both lake layers: matched rows change,
unmatched rows and row counts don't, no data file is rewritten, the
independent clean-room readers agree, and assignments evaluate against
the PRE-update row (simultaneous-swap semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources import delta_log, iceberg

from tests import delta_reader_independent as d_indie
from tests import iceberg_reader_independent as i_indie


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, cat string, val double")


ROWS = [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (4, "c", 4.0)]
WANT = sorted([(1, "a", 1.0), (2, "UP", 20.0), (3, "a", 3.0), (4, "UP", 40.0)])


def test_iceberg_update_where(spark, tmp_path):
    t = str(tmp_path / "ice_upd")
    iceberg.create(_df(spark, ROWS), t)
    files_before = set(iceberg.snapshot_files(t))
    iceberg.update_where(
        spark, t, "id % 2 = 0",
        {"cat": F.lit("UP"), "val": F.col("val") * 10},
    )
    got = sorted(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
    assert got == WANT
    assert sorted(i_indie.read_rows(t)) == WANT
    # merge-on-read: the original data files are all still live
    assert files_before <= set(iceberg.snapshot_files(t))


def test_delta_update_where(spark, tmp_path):
    t = str(tmp_path / "delta_upd")
    delta_log.create(_df(spark, ROWS), t)
    files_before = set(delta_log.snapshot_files(t, 0))
    delta_log.update_where(
        spark, t, "id % 2 = 0",
        {"cat": F.lit("UP"), "val": F.col("val") * 10},
    )
    got = sorted(tuple(r) for r in delta_log.read_delta(spark, t).collect())
    assert got == WANT
    assert sorted(d_indie.read_rows(t)) == WANT
    # DV merge-on-read: original files live (with DVs), plus new images
    import pyarrow.parquet as pq

    for f in files_before:
        assert os.path.exists(os.path.join(t, f))


def test_update_nothing_matched_no_commit(spark, tmp_path):
    ti = str(tmp_path / "ice_noop")
    iceberg.create(_df(spark, ROWS), ti)
    sid = iceberg.current_metadata(ti)["current-snapshot-id"]
    assert iceberg.update_where(spark, ti, "id > 100", {"cat": F.lit("X")}) == sid
    td = str(tmp_path / "delta_noop")
    delta_log.create(_df(spark, ROWS), td)
    assert delta_log.update_where(spark, td, "id > 100", {"cat": F.lit("X")}) == 0


def test_assignments_see_pre_update_row(spark, tmp_path):
    """SET val = id, id = val must swap from the OLD row, not chain."""
    for layer, reader, t in (
        (iceberg, lambda t: iceberg.read_iceberg(spark, t), str(tmp_path / "i_swap")),
        (delta_log, lambda t: delta_log.read_delta(spark, t), str(tmp_path / "d_swap")),
    ):
        layer.create(_df(spark, [(7, "x", 70.0)]), t)
        layer.update_where(
            spark, t, "id = 7",
            {"id": F.col("val").cast("long"), "val": F.col("id").cast("double")},
        )
        assert [tuple(r) for r in reader(t).collect()] == [(70, "x", 7.0)]


def test_update_then_second_update_composes(spark, tmp_path):
    t = str(tmp_path / "ice_upd2")
    iceberg.create(_df(spark, ROWS), t)
    iceberg.update_where(spark, t, "id = 2", {"val": F.lit(100.0)})
    iceberg.update_where(spark, t, "val > 50", {"cat": F.lit("BIG")})
    got = {r.id: (r.cat, r.val) for r in iceberg.read_iceberg(spark, t).collect()}
    assert got[2] == ("BIG", 100.0)
    assert got[1] == ("a", 1.0)
    assert len(got) == 4


def test_update_where_unknown_assignment_rejected_both_layers(spark, tmp_path):
    """A typo in an assignment name must raise, not silently no-op."""
    ti = str(tmp_path / "ice_upd_typo")
    iceberg.create(_df(spark, ROWS), ti)
    with pytest.raises(KeyError, match="non-columns.*vall"):
        iceberg.update_where(spark, ti, "id = 1", {"vall": F.lit(9.0)})
    td = str(tmp_path / "delta_upd_typo")
    delta_log.create(_df(spark, ROWS), td)
    with pytest.raises(KeyError, match="non-columns.*vall"):
        delta_log.update_where(spark, td, "id = 1", {"vall": F.lit(9.0)})
    # both tables unchanged
    assert sorted(tuple(r) for r in iceberg.read_iceberg(spark, ti).collect()) == sorted(ROWS)
    assert sorted(tuple(r) for r in delta_log.read_delta(spark, td).collect()) == sorted(ROWS)


def test_compaction_auto_sizing(spark):
    """OPTIMIZE output count: explicit target_files wins; size target
    dominates at scale; the parallelism floor stops one-big-file
    compactions; tiny tables never shatter below the 8 MB floor."""
    from march_mania_spark_lakehouse_spark.sources.iceberg import (
        _compaction_file_count,
    )

    mb = 1024 * 1024
    par = spark.sparkContext.defaultParallelism
    assert _compaction_file_count(spark, 10**12, 128 * mb, 7) == 7
    # 1 TB at 128 MB target: packing dominates (far above parallelism)
    assert _compaction_file_count(spark, 10**12, 128 * mb, None) == -(-10**12 // (128 * mb))
    # 128 MB total would pack to ONE file; floor lifts it to parallelism
    got = _compaction_file_count(spark, 128 * mb, 128 * mb, None)
    assert got == min(par, 16)  # 16 = 128MB / 8MB floor
    # tiny table: no shattering
    assert _compaction_file_count(spark, 3 * mb, 128 * mb, None) == 1


ROWS6 = ROWS + [(5, "b", 5.0), (6, "c", 6.0)]
#: ROWS6 after `delete id = 3` then `update id % 2 = 0`
WANT6 = sorted(
    [(1, "a", 1.0), (2, "UP", 20.0), (4, "UP", 40.0), (5, "b", 5.0),
     (6, "UP", 60.0)]
)
#: the UPDATE's change feed as (id, cat, val, _change_type)
WANT6_FEED = sorted(
    [(i, c, v, "update_preimage") for i, c, v in ROWS6 if i % 2 == 0]
    + [(i, "UP", v * 10, "update_postimage") for i, _, v in ROWS6 if i % 2 == 0]
)
UPDATE6 = {"cat": "'UP'", "val": "val * 10"}


def _count_calls(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def counted(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, counted)
    return calls


def _feed(rows):
    return sorted((r.id, r.cat, r.val, r._change_type) for r in rows)


def test_iceberg_v3_update_scans_table_once(spark, tmp_path, monkeypatch):
    """One driver-side scan build per UPDATE on a table that already
    carries a deletion vector: the delete hits come from the same
    checkpointed scan as the new images."""
    t = str(tmp_path / "ice_v3_once")
    iceberg.create(_df(spark, ROWS6), t, format_version=3)
    iceberg.delete_where(spark, t, "id = 3")
    assert iceberg.snapshot_dv_entries(t)
    before = iceberg.current_metadata(t)["current-snapshot-id"]
    scans = _count_calls(monkeypatch, iceberg, "_read_raw")
    iceberg.update_where(spark, t, "id % 2 = 0", UPDATE6)
    assert len(scans) == 1
    monkeypatch.undo()
    got = sorted(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
    assert got == WANT6
    assert sorted(i_indie.read_rows(t)) == WANT6
    feed = iceberg.snapshot_diff_changelog(spark, t, before).collect()
    assert _feed(feed) == WANT6_FEED


@pytest.mark.parametrize("cdf", [False, True])
def test_delta_row_tracking_update_scans_table_once(
    spark, tmp_path, monkeypatch, cdf
):
    t = str(tmp_path / f"delta_rt_once_{cdf}")
    delta_log.create(
        _df(spark, ROWS6), t, row_tracking=True,
        configuration={"delta.enableChangeDataFeed": "true"} if cdf else None,
    )
    delta_log.delete_where(spark, t, "id = 3")
    v = delta_log.latest_version(t)
    assert any(
        a.get("deletionVector") for a in delta_log._replay(t, v).values()
    )
    # the DV-applying scan, and the raw parquet read beneath every scan
    scans = _count_calls(monkeypatch, delta_log, "_scan_with_positions")
    reads = _count_calls(monkeypatch, delta_log, "_read_files_raw")
    delta_log.update_where(spark, t, "id % 2 = 0", UPDATE6)
    assert len(scans) == 1
    assert len(reads) == 1
    monkeypatch.undo()
    got = sorted(tuple(r) for r in delta_log.read_delta(spark, t).collect())
    assert got == WANT6
    assert sorted(d_indie.read_rows(t)) == WANT6
    feed = delta_log.table_changes_cdf(spark, t, 0).collect()
    assert _feed(r for r in feed if r._commit_version > v) == WANT6_FEED
