"""`sources/dv_codec`: one deletion-vector codec for both lake formats.

Its size gate only picks where bitmaps are decoded and encoded (the
driver or executor tasks), so forcing it shut and open must give the
same positions, scans and change feeds on an Iceberg v3 table and a
row-tracking Delta table; with it open, the tombstone frame plans no
Python worker. Every decode checks the bitmap's cardinality against its
descriptor: Delta's ``cardinality`` and Iceberg's ``record_count``."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from march_mania_spark_lakehouse_spark.sources import (
    avro_ocf,
    delta_log,
    deletion_vectors,
    dv_codec,
    iceberg,
)

OPEN, SHUT = 10**9, 0


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, k long, val double").repartition(3, "k")


def _rows(n):
    return [(i, i % 5, float(i)) for i in range(n)]


def _first_id(path: str) -> int:
    return min(pq.read_table(path, columns=["id"]).column("id").to_pylist())


def _dv_state(fmt: str, table: str) -> dict:
    """{first id of a data file: its deleted positions} at the head.
    Data files are keyed by content, since their names are random."""
    if fmt == "iceberg":
        return {
            _first_id(e["referenced_data_file"]): sorted(
                deletion_vectors.positions(iceberg._dv_locator(e))
            )
            for e in iceberg.snapshot_dv_entries(table)
        }
    live = delta_log._replay(table, delta_log.latest_version(table))
    return {
        _first_id(os.path.join(table, p)): sorted(
            deletion_vectors.read_dv(table, a["deletionVector"])
        )
        for p, a in live.items()
        if a.get("deletionVector")
    }


def _tombstones(spark, fmt: str, table: str):
    if fmt == "iceberg":
        return iceberg._dv_tombstones(spark, iceberg.snapshot_dv_entries(table))
    live = delta_log._replay(table, delta_log.latest_version(table))
    return delta_log._dv_tombstones(
        spark,
        table,
        [
            (os.path.join(table, p), a["deletionVector"], None)
            for p, a in live.items()
            if a.get("deletionVector")
        ],
    )


def _sorted(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _cycle(spark, fmt: str, table: str) -> dict:
    """delete → delete (merges into existing DVs) → update → change
    feeds → optimize → scan and lineage change feed; the observable
    result of every step."""
    mod = iceberg if fmt == "iceberg" else delta_log
    read = iceberg.read_iceberg if fmt == "iceberg" else delta_log.read_delta
    if fmt == "iceberg":
        iceberg.create(_df(spark, _rows(60)), table, format_version=3)
        start = iceberg.current_metadata(table)["current-snapshot-id"]
        seq0 = iceberg.current_metadata(table)["last-sequence-number"]
    else:
        delta_log.create(_df(spark, _rows(60)), table, row_tracking=True)
        start = seq0 = delta_log.latest_version(table)
    out: dict = {}
    mod.delete_where(spark, table, "k = 1")
    out["delete"] = _dv_state(fmt, table)
    out["tombstones"] = _sorted(
        _tombstones(spark, fmt, table).selectExpr("__pos")
    )
    mod.delete_where(spark, table, "id < 8")
    out["delete_again"] = _dv_state(fmt, table)
    mod.update_where(spark, table, "k = 2", {"val": "val + 100"})
    out["update"] = _dv_state(fmt, table)
    changes = mod.table_changes(spark, table, seq0, include_deletes=True)
    out["table_changes"] = _sorted(changes.select("id", "val", "_change_type"))
    mod.optimize(spark, table)
    out["optimize"] = _dv_state(fmt, table)
    out["scan"] = _sorted(read(spark, table))
    diff = mod.snapshot_diff_changelog(spark, table, start)
    out["changelog"] = _sorted(diff.select("id", "val", "_change_type"))
    return out


@pytest.mark.parametrize("fmt", ["iceberg", "delta"])
def test_gate_shut_and_open_agree(spark, tmp_path, monkeypatch, fmt):
    got = {}
    for gate in (SHUT, OPEN):
        monkeypatch.setattr(dv_codec, "SMALL_DV_ROWS", gate)
        got[gate] = _cycle(spark, fmt, str(tmp_path / f"t{gate}"))
    assert got[SHUT] == got[OPEN]
    # the fixture exercised every path: DVs merged, deletes in the feed
    assert got[OPEN]["delete_again"] != got[OPEN]["delete"]
    kinds = {c for *_, c in got[OPEN]["table_changes"]}
    assert {"delete", "insert"} <= kinds
    want = [(i, i + 100.0 * (i % 5 == 2)) for i in range(8, 60) if i % 5 != 1]
    assert sorted((r[0], r[2]) for r in got[OPEN]["scan"]) == want


@pytest.mark.parametrize("fmt", ["iceberg", "delta"])
def test_open_gate_plans_no_python_worker(spark, tmp_path, monkeypatch, fmt):
    table = str(tmp_path / "t")
    mod = iceberg if fmt == "iceberg" else delta_log
    if fmt == "iceberg":
        iceberg.create(_df(spark, _rows(40)), table, format_version=3)
    else:
        delta_log.create(_df(spark, _rows(40)), table, row_tracking=True)
    mod.delete_where(spark, table, "k = 3")
    for gate, python in ((OPEN, False), (SHUT, True)):
        monkeypatch.setattr(dv_codec, "SMALL_DV_ROWS", gate)
        qe = _tombstones(spark, fmt, table)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert ("MapInPandas" in plan) is python, plan
        if not python:
            assert "PythonRDD" not in qe.toRdd().toDebugString()


def _corrupt_iceberg_record_count(table: str) -> None:
    """Raise the head DV entry's manifest record_count by one."""
    snap = iceberg._snapshot(
        iceberg.current_metadata(table),
        iceberg.current_metadata(table)["current-snapshot-id"],
    )
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        if m.get("content", 0) != 1:
            continue
        path = m["manifest_path"]
        with open(path, "rb") as f:
            r = avro_ocf._Reader(f.read())
        r.pos = 4
        meta = r.read_datum({"type": "map", "values": "bytes"})
        entries = avro_ocf.read_ocf(path)
        for e in entries:
            e["data_file"]["record_count"] += 1
        avro_ocf.write_ocf(path, json.loads(meta["avro.schema"]), entries)


def _corrupt_delta_cardinality(table: str) -> None:
    """Raise the cardinality of the last commit's DV descriptors by one."""
    path = delta_log._commit_path(table, delta_log.latest_version(table))
    with open(path) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    for a in actions:
        dv = (a.get("add") or {}).get("deletionVector")
        if dv:
            dv["cardinality"] += 1
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


@pytest.mark.parametrize("gate", [OPEN, SHUT])
@pytest.mark.parametrize("fmt", ["iceberg", "delta"])
def test_cardinality_mismatch_raises(spark, tmp_path, monkeypatch, fmt, gate):
    table = str(tmp_path / "t")
    if fmt == "iceberg":
        iceberg.create(_df(spark, _rows(20)), table, format_version=3)
        iceberg.delete_where(spark, table, "k = 0")
        _corrupt_iceberg_record_count(table)
        read = iceberg.read_iceberg
    else:
        delta_log.create(_df(spark, _rows(20)), table)
        delta_log.delete_where(spark, table, "k = 0")
        _corrupt_delta_cardinality(table)
        read = delta_log.read_delta
    monkeypatch.setattr(dv_codec, "SMALL_DV_ROWS", gate)
    with pytest.raises(Exception, match="DV cardinality"):
        read(spark, table).collect()


def test_iceberg_dv_data_file_checks_record_count(spark, tmp_path):
    """A DV manifest ``data_file`` decodes through one helper that checks
    the bitmap against its ``record_count``; the streaming source and
    the ``position_deletes`` metadata table read through it."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        _IcebergTableCdcStreamReader,
    )

    table = str(tmp_path / "t")
    iceberg.create(_df(spark, _rows(20)), table, format_version=3)
    iceberg.delete_where(spark, table, "k = 0")
    meta = iceberg.current_metadata(table)
    snap = iceberg._snapshot(meta, meta["current-snapshot-id"])
    d = next(
        e["data_file"]
        for m in avro_ocf.read_ocf(snap["manifest-list"])
        for e in avro_ocf.read_ocf(m["manifest_path"])
        if e["data_file"].get("content", 0) == 1
    )
    assert len(iceberg._dv_positions(d)) == d["record_count"] > 0
    with pytest.raises(ValueError, match="DV cardinality"):
        iceberg._dv_positions(dict(d, record_count=d["record_count"] + 1))
    _corrupt_iceberg_record_count(table)
    reader = _IcebergTableCdcStreamReader({"path": table})
    with pytest.raises(ValueError, match="DV cardinality"):
        reader._bootstrap_rows(iceberg.current_metadata(table))
    with pytest.raises(Exception, match="DV cardinality"):
        iceberg.metadata_table(spark, table, "position_deletes").collect()
