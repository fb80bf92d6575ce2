"""A conversion is the mirror's first sync: `convert_from_delta` and
`convert_to_delta` map files, deletion vectors and row ids through the
continuous sync's own mappers, run against an empty mirror. These tests
pin what that fold must keep: the shape of the Delta commit 0, the
Iceberg conversion snapshot as the root of the synced history, and a
sync right after a conversion having nothing to do."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from march_mania_spark_lakehouse_spark.sources import delta_log as dl
from march_mania_spark_lakehouse_spark.sources import iceberg


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(lo, hi)],
        "id long, k long, val double",
    )


def _tree(root):
    """Every file under ``root`` with its size: a sync that writes
    nothing leaves it unchanged."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    }


@pytest.mark.parametrize("partition_by", [(), ("k",)])
def test_v3_dv_lineage_source_converts_to_one_protocol(
    spark, tmp_path, partition_by
):
    """A v3 source with DVs AND row lineage: commit 0 holds the CONVERT
    commitInfo, exactly one protocol declaring deletionVectors,
    rowTracking and domainMetadata, exactly one metaData, then the
    adds (each carrying its row-id base) and the high-water mark."""
    it = str(tmp_path / "ice_src")
    dt = str(tmp_path / "delta_dst")
    iceberg.create(
        _df(spark, 0, 60).repartitionByRange(3, "id"),
        it,
        partition_by=partition_by,
        format_version=3,
    )
    iceberg.delete_where(spark, it, "id % 7 = 0")
    iceberg.convert_to_delta(it, dt)

    actions = dl._read_actions(dl._commit_path(dt, 0))
    kinds = [next(iter(a)) for a in actions]
    n_adds = kinds.count("add")
    assert kinds == (
        ["commitInfo", "protocol", "metaData"]
        + ["add"] * n_adds
        + ["domainMetadata"]
    )
    assert actions[0]["commitInfo"]["operation"] == "CONVERT"
    proto = actions[1]["protocol"]
    assert proto["readerFeatures"] == ["deletionVectors"]
    assert set(proto["writerFeatures"]) == {
        "deletionVectors", "domainMetadata", "rowTracking",
    }
    md = actions[2]["metaData"]
    assert md["partitionColumns"] == list(partition_by)
    assert md["configuration"]["delta.enableRowTracking"] == "true"
    adds = [a["add"] for a in actions if "add" in a]
    assert [a["path"] for a in adds] == sorted(a["path"] for a in adds)
    assert all(
        a["baseRowId"] is not None and a["defaultRowCommitVersion"] == 0
        for a in adds
    )
    assert sum(1 for a in adds if a.get("deletionVector")) == len(
        iceberg.snapshot_dv_entries(it)
    ) > 0
    assert dl._row_id_high_water_mark(dt, 0) == (
        iceberg.current_metadata(it)["next-row-id"] - 1
    )
    assert sorted(
        tuple(r) for r in dl.read_delta(spark, dt).collect()
    ) == sorted(tuple(r) for r in iceberg.read_iceberg(spark, it).collect())


@pytest.mark.parametrize("dvs", [False, True])
def test_iceberg_conversion_snapshot_is_the_sync_root(spark, tmp_path, dvs):
    """The conversion snapshot has no parent and no ``delta-version``
    (the foreign-snapshot rebase stops there); its operation is
    ``delete`` when it carries DVs, ``append`` otherwise. The first
    synced commit after it names both."""
    dt = str(tmp_path / "delta_src")
    it = str(tmp_path / "ice_dst")
    dl.create(
        _df(spark, 0, 40).repartitionByRange(2, "id"), dt, row_tracking=True
    )
    if dvs:
        dl.delete_where(spark, dt, "k = 1")
    sid = iceberg.convert_from_delta(dt, it)
    meta = iceberg.current_metadata(it)
    root = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    assert meta["current-snapshot-id"] == sid
    assert "parent-snapshot-id" not in root
    assert root["summary"] == {"operation": "delete" if dvs else "append"}

    dl.append(_df(spark, 40, 45), dt)
    iceberg.sync_from_delta(dt, it)
    head = iceberg._snapshot(
        iceberg.current_metadata(it),
        iceberg.current_metadata(it)["current-snapshot-id"],
    )
    assert head["parent-snapshot-id"] == sid
    assert head["summary"]["delta-version"] == str(dl.latest_version(dt))


def test_sync_right_after_convert_writes_nothing(spark, tmp_path):
    """Both directions: the conversion leaves the mirror exactly at the
    sync cursor, so the next sync finds nothing to replay and writes no
    file on either table."""
    # Delta → Iceberg
    dt = str(tmp_path / "delta_src")
    it = str(tmp_path / "ice_mirror")
    dl.create(
        _df(spark, 0, 40).repartitionByRange(2, "id"),
        dt,
        partition_by=["k"],
        row_tracking=True,
    )
    dl.delete_where(spark, dt, "id % 3 = 0")
    iceberg.convert_from_delta(dt, it)
    before = (_tree(dt), _tree(it))
    v = iceberg.current_version(it)
    assert iceberg.sync_from_delta(dt, it) == v
    assert (_tree(dt), _tree(it)) == before

    # Iceberg → Delta
    it2 = str(tmp_path / "ice_src")
    dt2 = str(tmp_path / "delta_mirror")
    iceberg.create(
        _df(spark, 0, 40).repartitionByRange(2, "id"),
        it2,
        partition_by=["k"],
        format_version=3,
    )
    iceberg.delete_where(spark, it2, "id % 3 = 0")
    iceberg.convert_to_delta(it2, dt2)
    before = (_tree(it2), _tree(dt2))
    assert iceberg.sync_to_delta(it2, dt2) == 0
    assert (_tree(it2), _tree(dt2)) == before
