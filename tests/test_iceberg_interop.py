"""Independent Iceberg interop: a clean-room reader vs the engine writer.

Same verification pattern as `tests/test_delta_interop.py`: the writer
(`sources/iceberg.py` + `sources/avro_ocf.py`) claims spec-conformant
Iceberg v2 tables; `tests/iceberg_reader_independent.py` — its own Avro
object-container decoder plus a metadata walk written from the public
spec, zero code shared with the engine (enforced below) — must
reconstruct identical file sets and row multisets for every history the
writer can produce.
"""

from __future__ import annotations

import os

import pytest

from march_mania_spark_lakehouse_spark.sources import avro_ocf, iceberg
from tests import iceberg_reader_independent as indep


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "ice_table")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, cat string, val double")


def _spark_rows(spark, table, snapshot_id=None):
    return sorted(
        tuple(r) for r in iceberg.read_iceberg(spark, table, snapshot_id).collect()
    )


def _assert_snapshot_parity(spark, table, snapshot_id=None):
    assert indep.snapshot_files(table, snapshot_id) == iceberg.snapshot_files(
        table, snapshot_id
    )
    assert sorted(indep.read_rows(table, snapshot_id)) == _spark_rows(
        spark, table, snapshot_id
    )


def test_independent_reader_shares_no_code():
    src_path = os.path.join(
        os.path.dirname(__file__), "iceberg_reader_independent.py"
    )
    with open(src_path) as f:
        src = f.read()
    assert "march_mania" not in src and "avro_ocf" not in src
    imports = {
        line.strip()
        for line in src.splitlines()
        if line.startswith(("import ", "from "))
    }
    allowed = {
        "import json",
        "import os",
        "import struct",
        "import pyarrow.parquet as pq",
        "from __future__ import annotations",
    }
    assert imports <= allowed, imports - allowed


def test_create_append_overwrite_history_parity(spark, table):
    s1 = iceberg.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    s2 = iceberg.append(_df(spark, [(3, "c", 3.0)]), table)
    s3 = iceberg.overwrite(_df(spark, [(10, "z", 10.0)]), table)
    s4 = iceberg.append(_df(spark, [(11, "y", 11.0)]), table)
    assert iceberg.snapshot_ids(table) == [s1, s2, s3, s4]
    for sid in (s1, s2, s3, s4, None):
        _assert_snapshot_parity(spark, table, sid)
    assert {t[0] for t in indep.read_rows(table, s2)} == {1, 2, 3}
    assert {t[0] for t in indep.read_rows(table, s3)} == {10}
    assert {t[0] for t in indep.read_rows(table)} == {10, 11}


def test_metadata_required_fields_and_versioning(spark, table):
    """Spec-required v2 metadata fields are present with sane values,
    the metadata log advances one version per commit, and every schema
    field carries an id (the property real readers key columns on)."""
    iceberg.create(_df(spark, [(1, "a", 1.0)]), table)
    iceberg.append(_df(spark, [(2, "b", 2.0)]), table)
    meta = indep.table_metadata(table)
    for key in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-column-id", "schemas", "current-schema-id", "partition-specs",
        "default-spec-id", "sort-orders", "snapshots", "current-snapshot-id",
        "snapshot-log",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    assert meta["last-sequence-number"] == 2
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2]
    assert meta["snapshots"][1]["parent-snapshot-id"] == (
        meta["snapshots"][0]["snapshot-id"]
    )
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert ids == [1, 2, 3]
    assert os.path.exists(os.path.join(table, "metadata", "v2.metadata.json"))


# -- commit invariants, for every path that publishes a snapshot ---------
#
# Each case builds a table, then runs ONE writer and returns
# (table, metadata before the write or None for a new table, ref the
# write advances). The check reads everything through the independent
# reader.


def _rows(lo, hi, cat="a"):
    return [(i, cat, float(i)) for i in range(lo, hi)]


def _case_create(spark, root, v):
    t = os.path.join(root, "t")
    iceberg.create(_df(spark, _rows(0, 20)), t, format_version=v)
    return t, None, "main"


def _base(spark, root, v, parts=2):
    t = os.path.join(root, "t")
    iceberg.create(
        _df(spark, _rows(0, 40)).repartitionByRange(parts, "id"), t,
        format_version=v,
    )
    return t


def _case_append(spark, root, v):
    t = os.path.join(root, "t")
    iceberg.create(_df(spark, _rows(0, 20)), t, format_version=v)
    b = indep.table_metadata(t)
    iceberg.append(_df(spark, _rows(20, 30, "b")), t)
    return t, b, "main"


def _case_overwrite(spark, root, v):
    t = _base(spark, root, v)
    b = indep.table_metadata(t)
    iceberg.overwrite(_df(spark, _rows(100, 110)), t)
    return t, b, "main"


def _case_delete_where(spark, root, v):
    t = _base(spark, root, v)
    iceberg.delete_where(spark, t, "id % 7 = 0")
    b = indep.table_metadata(t)
    iceberg.delete_where(spark, t, "id % 5 = 0")
    return t, b, "main"


def _case_update_where(spark, root, v):
    t = _base(spark, root, v)
    iceberg.delete_where(spark, t, "id % 7 = 0")
    b = indep.table_metadata(t)
    iceberg.update_where(spark, t, "id % 3 = 0", {"val": "val + 1"})
    return t, b, "main"


def _case_delete_by_equality(spark, root, v):
    t = _base(spark, root, v)
    iceberg.delete_where(spark, t, "id % 7 = 0")
    b = indep.table_metadata(t)
    iceberg.delete_by_equality(
        spark, t, spark.createDataFrame([(3,), (4,)], "id long")
    )
    return t, b, "main"


def _case_optimize(spark, root, v):
    """One big file plus small ones, with a delete manifest that
    references both: the packed files' tombstones are materialized and
    the delete manifest is carried for the big file only."""
    t = os.path.join(root, "t")
    iceberg.create(_df(spark, _rows(0, 4000)).coalesce(1), t, format_version=v)
    iceberg.append(_df(spark, _rows(4000, 4010, "b")).coalesce(1), t)
    iceberg.append(_df(spark, _rows(4010, 4020, "c")).coalesce(1), t)
    iceberg.delete_where(spark, t, "id % 1000 = 1 OR id IN (4001, 4011)")
    sizes = sorted(
        os.path.getsize(os.path.join(t, f)) for f in iceberg.snapshot_files(t)
    )
    b = indep.table_metadata(t)
    iceberg.optimize(spark, t, small_file_bytes=sizes[-2] + 1)
    return t, b, "main"


def _case_optimize_evolved_spec(spark, root, v):
    """Live files under an older partition spec ride through optimize in
    a manifest of their own spec."""
    t = os.path.join(root, "t")
    iceberg.create(_df(spark, _rows(0, 4000)).coalesce(1), t, format_version=v)
    iceberg.evolve_partition_spec(t, ["bucket(4, id)"])
    iceberg.append(_df(spark, _rows(4000, 4010, "b")).coalesce(1), t)
    iceberg.append(_df(spark, _rows(4010, 4020, "b")).coalesce(1), t)
    sizes = sorted(
        os.path.getsize(os.path.join(t, f)) for f in iceberg.snapshot_files(t)
    )
    b = indep.table_metadata(t)
    iceberg.optimize(spark, t, small_file_bytes=sizes[-2] + 1)
    return t, b, "main"


def _case_append_to_branch(spark, root, v):
    t = _base(spark, root, v)
    iceberg.create_branch(t, "audit")
    iceberg.append_to_branch(_df(spark, _rows(40, 45)), t, "audit")
    b = indep.table_metadata(t)
    iceberg.append_to_branch(_df(spark, _rows(45, 50)), t, "audit")
    return t, b, "audit"


def _case_cherry_pick(spark, root, v):
    t = _base(spark, root, v)
    iceberg.create_branch(t, "audit")
    picked = iceberg.append_to_branch(_df(spark, _rows(40, 45)), t, "audit")
    iceberg.append(_df(spark, _rows(45, 50)), t)
    b = indep.table_metadata(t)
    iceberg.cherry_pick(t, picked)
    return t, b, "main"


def _case_clone(spark, root, v):
    t = _base(spark, root, v)
    iceberg.delete_where(spark, t, "id % 7 = 0")
    iceberg.delete_by_equality(spark, t, spark.createDataFrame([(3,)], "id long"))
    target = os.path.join(root, "clone")
    iceberg.clone(t, target)
    return target, None, "main"


def _delta_source(spark, root, v):
    from march_mania_spark_lakehouse_spark.sources import delta_log

    dt = os.path.join(root, "delta")
    delta_log.create(
        _df(spark, _rows(0, 40)).repartitionByRange(2, "id"), dt,
        row_tracking=v == 3,
    )
    if v == 3:
        delta_log.delete_where(spark, dt, "id % 7 = 0")  # deletion vectors
    return dt


def _case_convert_from_delta(spark, root, v):
    dt = _delta_source(spark, root, v)
    t = os.path.join(root, "t")
    iceberg.convert_from_delta(dt, t)
    assert int(indep.table_metadata(t)["format-version"]) == v
    return t, None, "main"


def _case_sync_from_delta(spark, root, v):
    from march_mania_spark_lakehouse_spark.sources import delta_log

    dt = _delta_source(spark, root, v)
    t = os.path.join(root, "t")
    iceberg.convert_from_delta(dt, t)
    b = indep.table_metadata(t)
    delta_log.append(_df(spark, _rows(40, 50)), dt)
    delta_log.delete_where(spark, dt, "id < 5")
    # purges the one converted file carrying a DV: the mirror rewrites
    # that data manifest with the survivor
    delta_log.reorg_purge(spark, dt)
    delta_log.overwrite(_df(spark, _rows(60, 70)), dt)
    iceberg.sync_from_delta(dt, t)
    return t, b, "main"


def _case_sync_rebase(spark, root, v):
    """A mirror-side compaction is superseded by one rebase snapshot
    before the sync replays."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    dt = _delta_source(spark, root, v)
    t = os.path.join(root, "t")
    iceberg.convert_from_delta(dt, t)
    delta_log.append(_df(spark, _rows(40, 50)), dt)
    iceberg.sync_from_delta(dt, t)
    iceberg.optimize(spark, t, small_file_bytes=1 << 30)
    b = indep.table_metadata(t)
    delta_log.append(_df(spark, _rows(50, 55)), dt)
    iceberg.sync_from_delta(dt, t)
    return t, b, "main"


def _case_rewrite_position_deletes(spark, root, v):
    """v2 consolidates position-delete files (equality deletes carried);
    v3 converts the inherited v2 position deletes into DVs."""
    t = _base(spark, root, 2)
    iceberg.delete_where(spark, t, "id % 7 = 0")
    iceberg.delete_by_equality(spark, t, spark.createDataFrame([(3,)], "id long"))
    iceberg.delete_where(spark, t, "id % 5 = 0")
    if v == 3:
        iceberg.upgrade_format_version(t, 3)
    b = indep.table_metadata(t)
    iceberg.rewrite_position_deletes(spark, t)
    return t, b, "main"


_COMMIT_CASES = {
    "create": _case_create,
    "append": _case_append,
    "overwrite": _case_overwrite,
    "delete_where": _case_delete_where,
    "update_where": _case_update_where,
    "delete_by_equality": _case_delete_by_equality,
    "optimize": _case_optimize,
    "optimize_evolved_spec": _case_optimize_evolved_spec,
    "append_to_branch": _case_append_to_branch,
    "cherry_pick": _case_cherry_pick,
    "clone": _case_clone,
    "convert_from_delta": _case_convert_from_delta,
    "sync_from_delta": _case_sync_from_delta,
    "sync_rebase": _case_sync_rebase,
    "rewrite_position_deletes": _case_rewrite_position_deletes,
}


def _assert_manifest_matches_entries(m: dict) -> None:
    entries = indep.read_avro(m["manifest_path"])
    for status, kind in ((1, "added"), (0, "existing"), (2, "deleted")):
        es = [e for e in entries if e["status"] == status]
        assert m[f"{kind}_files_count"] == len(es), (kind, m)
        assert m[f"{kind}_rows_count"] == sum(
            e["data_file"]["record_count"] for e in es
        ), (kind, m)
    if entries:
        assert m["min_sequence_number"] == min(
            e["sequence_number"] for e in entries
        ), m
    assert m["manifest_length"] == os.path.getsize(m["manifest_path"])


@pytest.mark.parametrize("version", [2, 3], ids=["v2", "v3"])
@pytest.mark.parametrize("writer", list(_COMMIT_CASES))
def test_manifest_list_counts_match_manifests(spark, tmp_path, writer, version):
    """Every manifest of every snapshot the write published carries
    counts, ``min_sequence_number`` and ``manifest_length`` that match
    its entries, and the metadata moves the written ref and nothing
    else: each new snapshot parents the previous head, main's head,
    ``refs.main`` and the ``snapshot-log`` tail agree, and
    ``last-sequence-number`` is the highest snapshot sequence."""
    table, before, ref = _COMMIT_CASES[writer](spark, str(tmp_path), version)
    meta = indep.table_metadata(table)
    old = {s["snapshot-id"] for s in (before or {}).get("snapshots", [])}
    new = [s for s in meta["snapshots"] if s["snapshot-id"] not in old]
    assert new
    head = None
    if before is not None:
        head = (
            before["refs"][ref]["snapshot-id"]
            if ref != "main"
            else before["current-snapshot-id"]
        )
    for s in new:
        assert s.get("parent-snapshot-id") == head
        head = s["snapshot-id"]
        for m in indep.read_avro(s["manifest-list"]):
            _assert_manifest_matches_entries(m)
    assert meta["last-sequence-number"] == max(
        s["sequence-number"] for s in meta["snapshots"]
    )
    assert meta["refs"][ref]["snapshot-id"] == head
    main = meta["current-snapshot-id"]
    assert meta["refs"]["main"]["snapshot-id"] == main
    assert meta["snapshot-log"][-1]["snapshot-id"] == main
    if ref == "main":
        assert main == head
    else:
        assert main == before["current-snapshot-id"]
        assert meta["snapshot-log"] == before["snapshot-log"]


def test_head_moves_keep_main_ref_and_log_in_lockstep(spark, table):
    """rollback and fast-forward move main without a new snapshot."""
    s1 = iceberg.create(_df(spark, _rows(0, 10)), table)
    iceberg.append(_df(spark, _rows(10, 20)), table)
    iceberg.rollback_to_snapshot(table, s1)
    iceberg.create_branch(table, "b")
    head = iceberg.append_to_branch(_df(spark, _rows(20, 30)), table, "b")
    for expected in (s1, head):
        meta = indep.table_metadata(table)
        assert meta["current-snapshot-id"] == expected
        assert meta["refs"]["main"]["snapshot-id"] == expected
        assert meta["snapshot-log"][-1]["snapshot-id"] == expected
        iceberg.fast_forward(table, "b")


def test_partitioned_table_identity_projection(spark, table):
    """Partition values must come from the manifests' TYPED partition
    tuples (the files don't contain the column), and log-planned
    pruning must agree with a full-scan filter."""
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0), (4, "c", 4.0)])
    iceberg.create(df, table, partition_by=("cat",))
    iceberg.append(_df(spark, [(5, "b", 5.0)]), table)
    _assert_snapshot_parity(spark, table)
    meta = indep.table_metadata(table)
    spec = meta["partition-specs"][0]["fields"]
    assert spec == [
        {"name": "cat", "transform": "identity", "source-id": 2, "field-id": 1000}
    ]
    engine_b = sorted(
        tuple(r)
        for r in iceberg.scan_partition(spark, table, {"cat": "b"}).collect()
    )
    assert {t[0] for t in engine_b} == {2, 3, 5}
    indep_b = sorted(t for t in indep.read_rows(table) if t[1] == "b")
    assert indep_b == engine_b


def test_concurrent_commit_single_winner(spark, table, monkeypatch):
    """The version-file put-if-absent: a garbage file claiming the next
    metadata version BETWEEN plan and link makes the writer's commit
    lose loudly — the winner isn't readable as an Iceberg table, so the
    blind-append rebase must refuse, not crash or clobber."""
    iceberg.create(_df(spark, [(1, "a", 1.0)]), table)
    real = iceberg._write_metadata
    state = {"armed": True}

    def racy(t, meta):
        if state["armed"]:
            state["armed"] = False
            v = iceberg.current_version(t)
            with open(
                os.path.join(t, "metadata", f"v{v + 1}.metadata.json"), "w"
            ) as f:
                f.write("{}")
        return real(t, meta)

    monkeypatch.setattr(iceberg, "_write_metadata", racy)
    with pytest.raises(iceberg.IcebergConcurrentModificationError):
        iceberg.append(_df(spark, [(2, "b", 2.0)]), table)


def test_avro_ocf_roundtrip_vs_independent_decoder():
    """The engine's Avro writer and the test suite's independent Avro
    decoder must agree on a schema exercising every branch the Iceberg
    files use (records, unions, arrays, maps, all primitives)."""
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "o", "type": ["null", "long"], "default": None},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    recs = [
        {"s": "x", "n": -(2**40), "i": 7, "d": 1.25, "b": True,
         "o": None, "a": [1, 2, 3], "m": {"k": "v"}},
        {"s": "", "n": 0, "i": -1, "d": -0.5, "b": False,
         "o": 99, "a": [], "m": {}},
    ]
    import tempfile

    p = os.path.join(tempfile.mkdtemp(), "x.avro")
    avro_ocf.write_ocf(p, schema, recs)
    assert indep.read_avro(p) == recs


def test_scan_range_skips_files_from_manifest_bounds(spark, table):
    """With id-sorted files and stat_cols recorded, a narrow range scan
    must open FEWER files than the snapshot holds (skipping planned
    from manifest bounds alone) while returning exactly the filtered
    rows."""
    df = _df(spark, [(i, "a", float(i)) for i in range(100)]).repartitionByRange(
        4, "id"
    )
    iceberg.create(df, table, stat_cols=("id",))
    out = iceberg.scan_range(spark, table, "id", 10, 19)
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(10, 20))
    n_total = len(iceberg.snapshot_files(table))
    n_opened = len(out.inputFiles())
    assert n_total == 4 and n_opened < n_total
    # bounds are really in the manifests (independent decode) and match
    # the Appendix-D little-endian encoding
    meta = indep.table_metadata(table)
    snap = meta["snapshots"][-1]
    import struct as _struct

    seen = 0
    for m in indep.read_avro(snap["manifest-list"]):
        for e in indep.read_avro(m["manifest_path"]):
            lob = {b["key"]: b["value"] for b in e["data_file"]["lower_bounds"]}
            upb = {b["key"]: b["value"] for b in e["data_file"]["upper_bounds"]}
            lo = _struct.unpack("<q", lob[1])[0]
            hi = _struct.unpack("<q", upb[1])[0]
            assert 0 <= lo <= hi <= 99
            seen += 1
    assert seen == 4


def test_expire_snapshots_deletes_only_orphans(spark, table):
    s1 = iceberg.create(_df(spark, [(1, "a", 1.0)]), table)
    s2 = iceberg.overwrite(_df(spark, [(2, "b", 2.0)]), table)
    s3 = iceberg.append(_df(spark, [(3, "c", 3.0)]), table)
    live_before = iceberg.snapshot_files(table)
    deleted = iceberg.expire_snapshots(table, keep_last=2)
    assert deleted  # s1's file + manifests are orphaned
    assert iceberg.snapshot_ids(table) == [s2, s3]
    # current snapshot still reads through BOTH readers
    assert sorted(t[0] for t in indep.read_rows(table)) == [2, 3]
    assert iceberg.snapshot_files(table) == live_before
    for rel in live_before:
        assert os.path.exists(os.path.join(table, rel))
    # the expired snapshot is gone from metadata
    with pytest.raises(KeyError):
        iceberg.snapshot_files(table, s1)


def test_streaming_iceberg_sink_exactly_once(spark, table, tmp_path):
    """Streaming append into the Iceberg table with snapshot-summary
    idempotence: drain, restart with more data, then a simulated batch
    replay — every row exactly once, watermark at the last batch id."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark import catalog
    from march_mania_spark_lakehouse_spark.streaming import sinks

    events = catalog.load(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "user_id", "value"
    ).limit(200)
    src = str(tmp_path / "isink_src")
    ckpt = str(tmp_path / "isink_ckpt")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = sinks.start_iceberg_append_sink(stream, table, ckpt, app_id="i-app")
        q.awaitTermination(120)

    run()
    assert iceberg.read_iceberg(spark, table).count() == first.count()
    n_snaps_after_first = len(iceberg.snapshot_ids(table))

    second.coalesce(1).write.mode("append").parquet(src)
    run()  # restart from checkpoint: only the new file becomes batch 1
    got = iceberg.read_iceberg(spark, table)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
    assert iceberg.last_streamed_batch(table, "i-app") == 1

    # simulated crash-replay of batch 1: the summary check must no-op it
    before = len(iceberg.snapshot_ids(table))
    batch_df = spark.read.parquet(src)
    if 1 > iceberg.last_streamed_batch(table, "i-app"):
        iceberg.append(batch_df, table, summary={
            "streaming-app-id": "i-app", "streaming-batch-id": "1"})
    assert len(iceberg.snapshot_ids(table)) == before
    assert iceberg.read_iceberg(spark, table).count() == events.count()
    assert n_snaps_after_first < before
    # independent reader agrees on the final state
    assert sorted(t[0] for t in indep.read_rows(table)) == sorted(
        r["event_id"] for r in events.collect()
    )


def test_merge_into_iceberg(spark, table):
    iceberg.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), table)
    changes = spark.createDataFrame(
        [(2, "B", 20.0, False), (4, "d", 4.0, False), (3, "c", 3.0, True)],
        "id long, cat string, val double, is_del boolean",
    )
    iceberg.merge(changes, table, keys=["id"], delete_col="is_del")
    assert sorted(indep.read_rows(table)) == [
        (1, "a", 1.0), (2, "B", 20.0), (4, "d", 4.0)
    ]
    # the pre-merge snapshot stays time-travelable
    first = iceberg.snapshot_ids(table)[0]
    assert sorted(t[0] for t in indep.read_rows(table, first)) == [1, 2, 3]


def test_convert_from_delta_shares_data_files(spark, tmp_path):
    """Metadata-only migration: after converting a Delta table, BOTH
    independent clean-room readers (Delta's and Iceberg's) must agree
    on the same row multiset over the SAME data files — zero bytes
    copied (the Iceberg table dir contains metadata only, and every
    manifest file_path points into the Delta table)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from tests import delta_reader_independent as delta_indep

    dt = str(tmp_path / "delta_src")
    it = str(tmp_path / "iceberg_dst")
    delta_log.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), dt,
                     stat_cols=("id",))
    delta_log.append(_df(spark, [(3, "c", 3.0)]), dt)
    iceberg.convert_from_delta(dt, it)

    delta_rows = sorted(delta_indep.read_rows(dt))
    ice_rows = sorted(indep.read_rows(it))
    assert ice_rows == delta_rows == sorted(
        tuple(r) for r in iceberg.read_iceberg(spark, it).collect()
    )
    # zero data copied: no data/ dir in the Iceberg table, and every
    # manifest path resolves inside the Delta table root
    assert not os.path.exists(os.path.join(it, "data"))
    meta = indep.table_metadata(it)
    for m in indep.read_avro(meta["snapshots"][-1]["manifest-list"]):
        for e in indep.read_avro(m["manifest_path"]):
            assert os.path.realpath(e["data_file"]["file_path"]).startswith(
                os.path.realpath(dt) + os.sep
            )
    # the Delta log is untouched and still time-travels
    assert delta_log.latest_version(dt) == 1
    assert {t[0] for t in delta_indep.read_rows(dt, 0)} == {1, 2}
    # a partitioned source converts too (round-6): identity spec,
    # hard-linked hive layout, partition restored from the manifests
    dpt = str(tmp_path / "delta_part")
    delta_log.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), dpt,
                     partition_by=("cat",))
    ipt = str(tmp_path / "ice_part")
    iceberg.convert_from_delta(dpt, ipt)
    assert sorted(indep.read_rows(ipt)) == sorted(delta_indep.read_rows(dpt))


def test_schema_evolution_preserves_field_ids(spark, table):
    """merge_schema append: existing columns keep their field ids, new
    ones continue from last-column-id; the evolved snapshot surfaces
    null for pre-evolution files, and time travel to the pre-evolution
    snapshot reads under ITS schema (no phantom column). Extra columns
    without merge_schema are rejected."""
    s1 = iceberg.create(_df(spark, [(1, "a", 1.0)]), table)
    wide = spark.createDataFrame(
        [(2, "b", 2.0, "extra")], "id long, cat string, val double, note string"
    )
    with pytest.raises(iceberg.IcebergSchemaMismatchError):
        iceberg.append(wide, table)
    s2 = iceberg.append(wide, table, merge_schema=True)
    meta = indep.table_metadata(table)
    assert len(meta["schemas"]) == 2 and meta["current-schema-id"] == 1
    evolved = {f["name"]: f["id"] for f in meta["schemas"][1]["fields"]}
    assert evolved == {"id": 1, "cat": 2, "val": 3, "note": 4}
    assert meta["last-column-id"] == 4
    # evolved head: old file null-fills the new column — both readers
    assert sorted(indep.read_rows(table, s2)) == [
        (1, "a", 1.0, None), (2, "b", 2.0, "extra")
    ]
    _assert_snapshot_parity(spark, table, s2)
    # pre-evolution snapshot reads under its own 3-column schema
    assert sorted(indep.read_rows(table, s1)) == [(1, "a", 1.0)]
    assert _spark_rows(spark, table, s1) == [(1, "a", 1.0)]


def test_bidirectional_conversion_round_trip(spark, tmp_path):
    """Delta → Iceberg → Delta over one set of data files: all three
    metadata layers and BOTH clean-room independent readers serve the
    identical row multiset, and no parquet file was ever copied (every
    layer's plan points at the original Delta table's files)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from tests import delta_reader_independent as delta_indep

    d1 = str(tmp_path / "delta_orig")
    ice = str(tmp_path / "ice_mid")
    d2 = str(tmp_path / "delta_back")
    delta_log.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), d1)
    delta_log.append(_df(spark, [(3, "c", 3.0)]), d1)
    iceberg.convert_from_delta(d1, ice)
    iceberg.convert_to_delta(ice, d2)

    want = sorted(delta_indep.read_rows(d1))
    assert sorted(indep.read_rows(ice)) == want
    assert sorted(delta_indep.read_rows(d2)) == want
    assert sorted(
        tuple(r) for r in delta_log.read_delta(spark, d2).collect()
    ) == want
    # zero data movement: d2 holds no parquet of its own, and every
    # add action points into the ORIGINAL table
    own_parquet = [
        f for _, _, fs in os.walk(d2) for f in fs if f.endswith(".parquet")
    ]
    assert own_parquet == []
    for p in delta_log.snapshot_files(d2):
        assert os.path.realpath(os.path.join(d2, p)).startswith(
            os.path.realpath(d1) + os.sep
        )


def test_avro_random_content_sweep():
    """Random-content property sweep over the Avro writer vs the
    independent decoder (the codec-class lesson: targeted vectors can
    all pass while an ordering/branch bug corrupts general content).
    Random strings incl. non-ASCII, full-range longs, random None
    placement in unions, ragged arrays and maps."""
    import random

    rng = random.Random(1234)
    schema = {
        "type": "record", "name": "sweep", "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "o", "type": ["null", "string"], "default": None},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
        ],
    }

    def rand_str():
        alphabet = "abcXYZ 0189_é中\U0001f600"
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12)))

    import tempfile

    for trial in range(6):
        recs = []
        for _ in range(rng.randrange(0, 30)):
            recs.append({
                "s": rand_str(),
                "n": rng.randrange(-(2**62), 2**62),
                "o": None if rng.random() < 0.4 else rand_str(),
                "a": [rng.randrange(-999, 999) for _ in range(rng.randrange(0, 6))],
                "m": {rand_str() or "k": rng.randrange(0, 99)
                      for _ in range(rng.randrange(0, 4))},
                "d": rng.uniform(-1e12, 1e12),
                "b": rng.random() < 0.5,
            })
        p = os.path.join(tempfile.mkdtemp(), f"sweep{trial}.avro")
        avro_ocf.write_ocf(p, schema, recs)
        assert indep.read_avro(p) == recs, f"trial {trial} diverged"
        assert avro_ocf.read_ocf(p) == recs, f"trial {trial} self-read diverged"


def test_iceberg_table_stream_source_incremental_batches(spark, table, tmp_path):
    """Streaming FROM the Iceberg table: a drain picks up the current
    snapshot, an append + re-drain (same checkpoint) delivers ONLY the
    new snapshot's rows — sequence numbers are the offsets; a rewrite
    snapshot in range raises instead of double-counting."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableStreamDataSource,
        _IcebergTableStreamReader,
    )

    a = _df(spark, [(i, "a", float(i)) for i in range(10)])
    b = _df(spark, [(i, "b", float(i)) for i in range(10, 16)])
    iceberg.create(a, table)

    spark.dataSource.register(IcebergTableStreamDataSource)
    sink = str(tmp_path / "istream_sink")
    ckpt = str(tmp_path / "istream_ckpt")

    def drain():
        stream = (
            spark.readStream.format("iceberg_table_stream")
            .option("path", table)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got1 = spark.read.parquet(sink)
    assert sorted(r["id"] for r in got1.collect()) == list(range(10))

    iceberg.append(b, table)
    drain()  # same checkpoint: only the new snapshot lands
    got2 = spark.read.parquet(sink)
    assert sorted(r["id"] for r in got2.collect()) == list(range(16))
    assert got2.select("id").distinct().count() == 16

    # a rewrite in the pending range must raise, not double-count
    iceberg.overwrite(_df(spark, [(99, "z", 9.0)]), table)
    reader = _IcebergTableStreamReader({"path": table})
    meta = iceberg.current_metadata(table)
    with pytest.raises(ValueError):
        reader._added_files(2, meta["last-sequence-number"])


def test_position_deletes_merge_on_read(spark, table):
    """Merge-on-read DELETE: tombstones land as content=1 delete files
    (no data file rewritten), reads anti-join them, the pre-delete
    snapshot stays intact, later appends are unaffected by earlier
    deletes, and the INDEPENDENT reader applies the same spec rule to
    reach the identical row multiset."""
    df = _df(spark, [(i, "a" if i % 2 else "b", float(i)) for i in range(12)])
    s1 = iceberg.create(df, table)
    data_before = iceberg.snapshot_files(table)
    s2 = iceberg.delete_where(spark, table, "id % 4 = 0")
    # no copy-on-write: data file set unchanged, tombstones separate
    assert iceberg.snapshot_files(table) == data_before
    assert iceberg.snapshot_delete_files(table)
    want = [i for i in range(12) if i % 4 != 0]
    assert sorted(r["id"] for r in iceberg.read_iceberg(spark, table).collect()) == want
    _assert_snapshot_parity(spark, table, s2)   # independent reader agrees
    _assert_snapshot_parity(spark, table, s1)   # pre-delete snapshot intact
    assert len(indep.read_rows(table, s1)) == 12

    # a later append is NOT affected by the earlier tombstones
    iceberg.append(_df(spark, [(100, "z", 1.0)]), table)
    got = sorted(r["id"] for r in iceberg.read_iceberg(spark, table).collect())
    assert got == want + [100]
    _assert_snapshot_parity(spark, table)

    # second delete hits the appended file; empty delete commits nothing
    s4 = iceberg.delete_where(spark, table, "id = 100")
    assert sorted(r["id"] for r in iceberg.read_iceberg(spark, table).collect()) == want
    assert iceberg.delete_where(spark, table, "id = 424242") == s4
    _assert_snapshot_parity(spark, table)

    # pruned scans apply the tombstones too
    assert sorted(
        r["id"] for r in iceberg.scan_partition(spark, table, {}).collect()
    ) == want
    # conversion refuses a snapshot it cannot represent
    with pytest.raises(NotImplementedError):
        iceberg.convert_to_delta(table, table + "_delta")


def test_equality_deletes_cdc_semantics(spark, table):
    """Equality deletes (content=2, the streaming-CDC primitive):
    tombstone by key WITHOUT scanning data at write time; the spec's
    sequence ordering means a row re-appended AFTER the delete survives
    even though its key matches. Both readers implement the same rule;
    mixed position+equality tombstones compose."""
    iceberg.create(_df(spark, [(i, "x", float(i)) for i in range(8)]), table)
    iceberg.delete_by_equality(
        spark, table, spark.createDataFrame([(2,), (5,)], "id long")
    )
    assert sorted(r["id"] for r in iceberg.read_iceberg(spark, table).collect()) == [
        0, 1, 3, 4, 6, 7
    ]
    _assert_snapshot_parity(spark, table)
    # re-append a deleted key: STRICTLY-LOWER-sequence rule keeps it
    iceberg.append(_df(spark, [(5, "reborn", 5.5)]), table)
    got = {(r["id"], r["cat"]) for r in iceberg.read_iceberg(spark, table).collect()}
    assert (5, "reborn") in got and (5, "x") not in got
    _assert_snapshot_parity(spark, table)
    # compose with a position delete
    iceberg.delete_where(spark, table, "id = 0")
    assert sorted(r["id"] for r in iceberg.read_iceberg(spark, table).collect()) == [
        1, 3, 4, 5, 6, 7
    ]
    _assert_snapshot_parity(spark, table)
    # unknown equality column is rejected loudly
    with pytest.raises(ValueError):
        iceberg.delete_by_equality(
            spark, table, spark.createDataFrame([(1,)], "nope long")
        )


def test_compact_materializes_tombstones(spark, table, tmp_path):
    """After compaction the snapshot carries zero delete files, serves
    identical rows, pre-compaction history still time-travels with its
    tombstones applied, and Delta conversion works again."""
    iceberg.create(_df(spark, [(i, "x", float(i)) for i in range(10)]), table)
    s_del = iceberg.delete_where(spark, table, "id % 3 = 0")
    want = sorted(t for t in indep.read_rows(table, s_del))
    iceberg.compact(spark, table)
    assert iceberg.snapshot_delete_files(table) == []
    assert sorted(indep.read_rows(table)) == want
    _assert_snapshot_parity(spark, table)
    _assert_snapshot_parity(spark, table, s_del)  # history intact
    d = str(tmp_path / "compacted_delta")
    iceberg.convert_to_delta(table, d)  # no longer refuses
    from tests import delta_reader_independent as delta_indep

    assert sorted(delta_indep.read_rows(d)) == want


def test_upsert_replaces_and_inserts(spark, table):
    """upsert = equality delete of changed keys + append, in THAT order
    (the append's higher sequence is what keeps the new rows alive):
    updated keys carry new values, unchanged rows persist, new keys
    insert; the independent reader agrees."""
    iceberg.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), table)
    changes = _df(spark, [(2, "B", 20.0), (9, "new", 9.0)])
    iceberg.upsert(spark, table, changes, ["id"])
    want = [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (9, "new", 9.0)]
    assert sorted(
        tuple(r) for r in iceberg.read_iceberg(spark, table).collect()
    ) == want
    assert sorted(indep.read_rows(table)) == want
    # no data-file rewrite happened: the original files are all still live
    metas = indep.table_metadata(table)
    first = metas["snapshots"][0]["snapshot-id"]
    orig = set(indep.snapshot_files(table, first))
    assert orig <= set(indep.snapshot_files(table))


def test_random_history_sweep_both_readers_agree(spark, tmp_path):
    """Generative interop: random operation sequences (append /
    overwrite / position delete / equality delete / upsert / compact /
    bin-pack optimize / schema-evolving append) must keep the engine
    reader and the independent clean-room reader in exact agreement at
    EVERY surviving snapshot — compositions are where metadata layers
    break, not single operations."""
    import random

    rng = random.Random(20260814)
    for trial in range(4):
        # trial 3 runs the same operation mix on a format_version=3
        # table: row-level deletes land as deletion vectors, rewrites
        # consolidate tombstones into DVs, and every composition must
        # keep both readers in agreement
        fmt = 3 if trial == 3 else 2
        table = str(tmp_path / f"rand_{trial}")
        next_id = [0]
        cat_name = ["cat"]  # logical name of the 2nd column, may rename

        def fresh_rows(n, cat="r", nid=next_id):
            rows = [(nid[0] + i, cat, float(nid[0] + i)) for i in range(n)]
            nid[0] += n
            return rows

        def batch(rows):
            # writes must use the CURRENT logical column names
            return _df(spark, rows).withColumnRenamed("cat", cat_name[0])

        iceberg.create(
            _df(spark, fresh_rows(rng.randrange(3, 8))), table,
            format_version=fmt,
        )
        for _ in range(5):
            op = rng.choice(
                ["append", "overwrite", "pos_delete", "eq_delete", "upsert",
                 "compact", "optimize", "evolve", "rename", "update",
                 "rewrite_deletes", "rollback"]
            )
            if op == "append":
                iceberg.append(batch(fresh_rows(rng.randrange(1, 5))), table)
            elif op == "overwrite":
                iceberg.overwrite(
                    batch(fresh_rows(rng.randrange(2, 6), "ow")), table
                )
            elif op == "pos_delete":
                iceberg.delete_where(spark, table, f"id % 3 = {rng.randrange(3)}")
            elif op == "eq_delete":
                live = [t[0] for t in indep.read_rows(table)]
                if live:
                    pick = rng.sample(live, k=min(2, len(live)))
                    iceberg.delete_by_equality(
                        spark, table,
                        spark.createDataFrame([(i,) for i in pick], "id long"),
                    )
            elif op == "upsert":
                live = [t[0] for t in indep.read_rows(table)]
                changed = [(i, "up", -1.0) for i in
                           rng.sample(live, k=min(2, len(live)))] if live else []
                iceberg.upsert(
                    spark, table,
                    batch(changed + fresh_rows(1, "ins")), ["id"],
                )
            elif op == "rename":
                # metadata-only rename, flipping between the two names;
                # renaming BACK re-claims the field's own prior name
                new = "category" if cat_name[0] == "cat" else "cat"
                iceberg.rename_column(table, cat_name[0], new)
                cat_name[0] = new
            elif op == "update":
                from pyspark.sql import functions as F

                iceberg.update_where(
                    spark, table, f"id % 4 = {rng.randrange(4)}",
                    {"val": F.col("val") + 1000.0},
                )
            elif op == "rewrite_deletes":
                iceberg.rewrite_position_deletes(spark, table)
            elif op == "rollback":
                # manage-snapshots rollback to a recent main ancestor:
                # rolled-off snapshots stay time-travelable (checked by
                # the per-snapshot loop below), ids/seqs stay monotonic
                meta_r = iceberg.current_metadata(table)
                by_sid = {
                    s["snapshot-id"]: s for s in meta_r["snapshots"]
                }
                chain, node = [], meta_r["current-snapshot-id"]
                while node in by_sid:
                    chain.append(node)
                    node = by_sid[node].get("parent-snapshot-id", -1)
                if len(chain) > 1:
                    iceberg.rollback_to_snapshot(
                        table, chain[rng.randrange(1, min(3, len(chain)))]
                    )
            elif op == "optimize":
                if indep.read_rows(table):
                    iceberg.optimize(spark, table, small_file_bytes=1 << 30)
            elif op == "evolve":
                n_specs = len(
                    iceberg.current_metadata(table)["partition-specs"]
                )
                iceberg.evolve_partition_spec(
                    table, ["bucket(2, id)"] if n_specs % 2 else []
                )
            else:
                live = indep.read_rows(table)
                if live:
                    iceberg.compact(spark, table)
        for sid in iceberg.snapshot_ids(table):
            files = indep.snapshot_files(table, sid)
            assert files == iceberg.snapshot_files(table, sid)
            if files:  # a snapshot can legitimately be empty of data
                assert sorted(indep.read_rows(table, sid)) == _spark_rows(
                    spark, table, sid
                ), f"trial {trial} snapshot {sid} diverged"
        if fmt == 3:
            # v3 row lineage under the random composition: the engine
            # and the clean-room reader agree on every row's
            # (_row_id, _last_updated_sequence_number), and no two
            # live rows share an id (None ids excluded — pre-lineage
            # overwrite survivors read null)
            eng = {
                r[0]: (r[-2], r[-1])
                for r in iceberg.read_lineage(spark, table).collect()
            }
            ind = {
                row[0]: (row[-2], row[-1])
                for row in indep.read_rows(table, with_lineage=True)
            }
            assert eng == ind, f"trial {trial}: lineage decode diverged"
            rids = [r for r, _ in eng.values() if r is not None]
            assert len(rids) == len(set(rids)), (
                f"trial {trial}: duplicate row ids"
            )
        # cross-format conversion of whatever state the trial left
        # behind: pos/eq delete files and transform partition specs
        # refuse (sanctioned NotImplementedError); every convertible
        # state — including v3 DV states — must round-trip through
        # BOTH clean-room readers with the identical row multiset
        from march_mania_spark_lakehouse_spark.sources import delta_log
        from tests import delta_reader_independent as delta_indep

        want = _spark_rows(spark, table)
        d_out = str(tmp_path / f"rand_{trial}_delta")
        try:
            iceberg.convert_to_delta(table, d_out)
        except NotImplementedError:
            pass
        else:
            assert sorted(delta_indep.read_rows(d_out)) == want, (
                f"trial {trial}: Delta conversion diverged"
            )
            ice_back = str(tmp_path / f"rand_{trial}_ice_back")
            try:
                iceberg.convert_from_delta(d_out, ice_back)
            except NotImplementedError:
                pass
            else:
                assert sorted(indep.read_rows(ice_back)) == want, (
                    f"trial {trial}: round-trip conversion diverged"
                )
            # the source Iceberg layer is untouched by the conversion
            assert _spark_rows(spark, table) == want


def test_table_changes_append_only_feed(spark, table):
    """Incremental change feed: exactly the rows of the commits in the
    requested sequence range; rewrites and deletes in range raise."""
    iceberg.create(_df(spark, [(1, "a", 1.0)]), table)         # seq 1
    iceberg.append(_df(spark, [(2, "b", 2.0)]), table)         # seq 2
    iceberg.append(_df(spark, [(3, "c", 3.0)]), table)         # seq 3
    got = sorted(
        r["id"] for r in iceberg.table_changes(spark, table, 1).collect()
    )
    assert got == [2, 3]
    assert sorted(
        r["id"] for r in iceberg.table_changes(spark, table, 1, 2).collect()
    ) == [2]
    assert iceberg.table_changes(spark, table, 3).count() == 0
    iceberg.delete_where(spark, table, "id = 1")               # seq 4
    with pytest.raises(iceberg.IcebergNonAppendChangeError):
        iceberg.table_changes(spark, table, 3)
    # pre-delete ranges still stream fine
    assert sorted(
        r["id"] for r in iceberg.table_changes(spark, table, 0, 3).collect()
    ) == [1, 2, 3]
