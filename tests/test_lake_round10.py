"""Round-10 lake-layer verification: the Iceberg v3 deletion-vector
surface that shipped in round 9 gets its committed test coverage —
merge-on-read deletes as Puffin ``deletion-vector-v1`` blobs, DV
merge-and-replace (never chaining), UPDATE/MERGE on v3 tables, and CDC
net-state through both the batch ``table_changes`` feed and the
streaming Python data source."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources import deletion_vectors, iceberg
from tests import iceberg_reader_independent as indep


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, k long, val double")


def _rows(n):
    return [(i, i % 5, float(i)) for i in range(n)]


def _spark_rows(spark, table, snapshot_id=None):
    return sorted(
        tuple(r)
        for r in iceberg.read_iceberg(spark, table, snapshot_id).collect()
    )


def _no_position_delete_parquet(table):
    """v3 forbids new position-delete files: every content=1 entry at
    every snapshot must be a PUFFIN DV, never parquet."""
    for sid in iceberg.snapshot_ids(table):
        meta = iceberg.current_metadata(table)
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
        from march_mania_spark_lakehouse_spark.sources import avro_ocf

        for m in avro_ocf.read_ocf(snap["manifest-list"]):
            for e in avro_ocf.read_ocf(m["manifest_path"]):
                d = e["data_file"]
                if e["status"] in (0, 1) and d.get("content", 0) == 1:
                    assert (d.get("file_format") or "").upper() == "PUFFIN", (
                        f"snapshot {sid} carries a non-DV position delete: "
                        f"{d['file_path']}"
                    )


def test_v3_dv_delete_merge_and_replace_both_readers(spark, table):
    """Two OVERLAPPING v3 deletes: the second DV for a touched file
    must MERGE the first's positions and REPLACE it — the head snapshot
    holds at most one DV per data file whose bitmap is the union, and
    the engine read and the clean-room independent reader both see
    exactly the surviving rows."""
    df = _df(spark, _rows(100)).repartitionByRange(4, "id")
    iceberg.create(df, table, format_version=3)

    iceberg.delete_where(spark, table, "k = 3")          # 20 rows
    iceberg.delete_where(spark, table, "id < 10")        # 10 rows, 2 shared
    want = sorted(
        (i, i % 5, float(i)) for i in range(100) if i % 5 != 3 and i >= 10
    )
    assert len(want) == 72
    assert _spark_rows(spark, table) == want
    assert sorted(indep.read_rows(table)) == want
    _no_position_delete_parquet(table)

    # spec: one DV per data file per snapshot, never a chain
    head = iceberg.snapshot_dv_entries(table)
    refs = [e["referenced_data_file"] for e in head]
    assert len(refs) == len(set(refs))
    # the union sizes: total dead positions across DVs = 28
    assert sum(e["cardinality"] for e in head) == 28
    # decode each blob: positions are sorted, unique, and the merge
    # really happened (a file touched by both deletes carries BOTH
    # delete generations' positions in its single head DV)
    first = iceberg.snapshot_dv_entries(
        table, iceberg.snapshot_ids(table)[1]
    )
    first_by_ref = {e["referenced_data_file"]: e for e in first}
    merged_any = False
    for e in head:
        pos = deletion_vectors.positions(iceberg._dv_locator(e))
        assert pos == sorted(set(pos))
        old = first_by_ref.get(e["referenced_data_file"])
        if old is not None and e["sequence_number"] > old["sequence_number"]:
            old_pos = deletion_vectors.positions(iceberg._dv_locator(old))
            assert set(old_pos) <= set(pos)  # merged, not chained
            merged_any = len(pos) > len(old_pos) or merged_any
    assert merged_any  # the overlap really exercised the merge path

    # time travel: the intermediate snapshot still reads correctly
    mid = iceberg.snapshot_ids(table)[1]
    want_mid = sorted((i, i % 5, float(i)) for i in range(100) if i % 5 != 3)
    assert _spark_rows(spark, table, mid) == want_mid
    assert sorted(indep.read_rows(table, mid)) == want_mid


def test_v3_dv_update_where_and_merge(spark, table):
    """UPDATE on a v3 table decomposes into a DV delete + append (no
    position-delete parquet anywhere); a copy-on-write MERGE commits an
    overwrite snapshot that sees through the DVs."""
    iceberg.create(_df(spark, _rows(20)), table, format_version=3)
    iceberg.update_where(
        spark, table, "k = 2", {"val": F.col("val") + 1000.0}
    )
    want = sorted(
        (i, i % 5, float(i) + (1000.0 if i % 5 == 2 else 0.0))
        for i in range(20)
    )
    assert _spark_rows(spark, table) == want
    assert sorted(indep.read_rows(table)) == want
    _no_position_delete_parquet(table)
    assert iceberg.snapshot_dv_entries(table)  # the delete half was a DV

    # copy-on-write MERGE on the DV'd table: updates id 0, inserts 777
    iceberg.merge(
        _df(spark, [(0, 9, -1.0), (777, 9, 7.0)]), table, keys=["id"]
    )
    want2 = sorted(
        [(0, 9, -1.0), (777, 9, 7.0)]
        + [t for t in want if t[0] != 0]
    )
    assert _spark_rows(spark, table) == want2
    assert sorted(indep.read_rows(table)) == want2
    # the overwrite rewrote data files: no DV survives at head
    assert iceberg.snapshot_dv_entries(table) == []


def test_v3_dv_batch_table_changes_net_state(spark, table):
    """include_deletes=True over a v3 history: each DV commit emits
    exactly its NEW kills (new DV minus the replaced one), and folding
    the signed feed reproduces the head snapshot."""
    iceberg.create(
        _df(spark, _rows(40)).repartitionByRange(3, "id"),
        table,
        format_version=3,
    )                                                     # seq 1
    iceberg.delete_where(spark, table, "k = 0")           # seq 2: 8 kills
    iceberg.append(_df(spark, [(100, 0, 1.0), (101, 1, 2.0)]), table)  # seq 3
    iceberg.delete_where(spark, table, "id < 5 OR id = 101")  # seq 4
    feed = iceberg.table_changes(
        spark, table, 0, include_deletes=True
    ).collect()

    dels = Counter(
        (r.id, r.k, r.val) for r in feed if r._change_type == "delete"
    )
    # seq 2 kills ids {0,5,10,15,20,25,30,35}; seq 4 kills ids
    # {1,2,3,4,101} (0 already dead — replace-merge must NOT re-emit it)
    assert dels == Counter(
        {(i, i % 5, float(i)): 1 for i in (0, 5, 10, 15, 20, 25, 30, 35)}
        | {(i, i % 5, float(i)): 1 for i in (1, 2, 3, 4)}
        | {(101, 1, 2.0): 1}
    )
    state = Counter()
    for r in feed:
        state[(r.id, r.k, r.val)] += 1 if r._change_type == "insert" else -1
    head = Counter(
        (r.id, r.k, r.val)
        for r in iceberg.read_iceberg(spark, table).collect()
    )
    assert +state == head


def test_v3_dv_streaming_cdc_matches_batch_feed(spark, table, tmp_path):
    """The streaming CDC source decomposes v3 DV commits (the
    `pydatasource` DV branch): kills = new DV minus parent DV per file;
    the streamed feed equals the batch feed row-for-row and folds to
    the head snapshot."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableCdcStreamDataSource,
    )

    iceberg.create(
        _df(spark, _rows(30)).repartitionByRange(3, "id"),
        table,
        format_version=3,
    )
    spark.dataSource.register(IcebergTableCdcStreamDataSource)
    sink = str(tmp_path / "dv_sink")
    ckpt = str(tmp_path / "dv_ckpt")

    def drain():
        q = (
            spark.readStream.format("iceberg_table_cdc")
            .option("path", table).load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(sink).count() == 30

    iceberg.delete_where(spark, table, "k = 1")       # DV commit 1
    iceberg.delete_where(spark, table, "id < 8")      # DV commit 2, overlaps
    iceberg.append(_df(spark, [(200, 1, 5.0)]), table)
    drain()

    rows = spark.read.parquet(sink).collect()
    streamed = Counter(
        (r.id, r.k, r.val, r._change_type) for r in rows
    ) - Counter((i, i % 5, float(i), "insert") for i in range(30))
    batch = Counter(
        (r.id, r.k, r.val, r._change_type)
        for r in iceberg.table_changes(
            spark, table, 1, include_deletes=True
        ).collect()
    )
    assert streamed == batch

    dels = Counter((r.id, r.k, r.val) for r in rows if r._change_type == "delete")
    assert dels == Counter(
        {(i, i % 5, float(i)): 1 for i in (1, 6, 11, 16, 21, 26)}  # k=1
        | {(i, i % 5, float(i)): 1 for i in (0, 2, 3, 4, 5, 7)}    # id<8 new
    )
    state = Counter()
    for r in rows:
        state[(r.id, r.k, r.val)] += 1 if r._change_type == "insert" else -1
    head = Counter(
        (r.id, r.k, r.val)
        for r in iceberg.read_iceberg(spark, table).collect()
    )
    assert +state == head


def test_delta_cdc_stream_matches_batch_feed(spark, tmp_path):
    """The Delta twin of the test above: the streaming CDC source plans
    through the same commit walker as
    `delta_log.table_changes(include_deletes=True)`, so over create →
    two overlapping DV deletes → append, and over a shallow clone whose
    adds carry those DVs, the streamed feed equals the batch feed
    row for row and folds to the head snapshot."""
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        DeltaTableCdcStreamDataSource,
    )

    spark.dataSource.register(DeltaTableCdcStreamDataSource)

    def drain(t: str) -> list:
        sink = f"{t}_sink"
        q = (
            spark.readStream.format("delta_table_cdc")
            .option("path", t).load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", f"{t}_ckpt")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    def feed(t: str, start: int) -> Counter:
        return Counter(
            (r.id, r.k, r.val, r._change_type)
            for r in delta_log.table_changes(
                spark, t, start, include_deletes=True
            ).collect()
        )

    def fold(rows) -> Counter:
        state = Counter()
        for r in rows:
            state[(r.id, r.k, r.val)] += 1 if r._change_type == "insert" else -1
        return +state

    def head(t: str) -> Counter:
        return Counter(tuple(r) for r in delta_log.read_delta(spark, t).collect())

    src = str(tmp_path / "src")
    delta_log.create(_df(spark, _rows(30)).repartitionByRange(3, "id"), src)
    assert len(drain(src)) == 30
    delta_log.delete_where(spark, src, "k = 1")     # DV commit 1
    delta_log.delete_where(spark, src, "id < 8")    # DV commit 2, overlaps
    delta_log.append(_df(spark, [(200, 1, 5.0)]), src)
    rows = drain(src)
    streamed = Counter(
        (r.id, r.k, r.val, r._change_type) for r in rows
    ) - Counter((i, i % 5, float(i), "insert") for i in range(30))
    assert streamed == feed(src, 0)
    assert sorted(r.id for r in rows if r._change_type == "delete") == [
        0, 1, 2, 3, 4, 5, 6, 7, 11, 16, 21, 26,
    ]
    assert fold(rows) == head(src)

    # v0 of the clone re-adds the source's files WITH their DVs (absolute
    # paths): those rows were dead before the clone, so they never stream
    clone = str(tmp_path / "clone")
    delta_log.shallow_clone(src, clone)
    delta_log.delete_where(spark, clone, "id % 7 = 0")  # extends clone DVs
    delta_log.append(_df(spark, [(300, 2, 3.0)]), clone)
    rows = drain(clone)
    assert Counter(
        (r.id, r.k, r.val, r._change_type) for r in rows
    ) == feed(clone, -1)
    assert sorted(r.id for r in rows if r._change_type == "delete") == [14, 28]
    assert fold(rows) == head(clone)


def test_clone_of_v3_table_keeps_format_and_row_ids(spark, tmp_path):
    """A clone of a v3 table with DVs is v3: it reads the same lineage,
    a delete on it writes a DV (never a position-delete file), and an
    append assigns row ids from the source's ``next-row-id``."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    iceberg.create(
        _df(spark, _rows(40)).repartitionByRange(4, "id"), src, format_version=3
    )
    iceberg.delete_where(spark, src, "k = 1")
    iceberg.clone(src, dst)

    def lineage(t: str) -> list:
        return sorted(tuple(r) for r in iceberg.read_lineage(spark, t).collect())

    before = lineage(src)
    meta = iceberg.current_metadata(dst)
    assert meta["format-version"] == 3
    assert meta["next-row-id"] == iceberg.current_metadata(src)["next-row-id"] == 40
    assert lineage(dst) == before

    iceberg.delete_where(spark, dst, "id < 5")
    _no_position_delete_parquet(dst)
    assert iceberg.snapshot_delete_files(dst) == []
    assert sorted(r[0] for r in _spark_rows(spark, dst)) == [
        i for i in range(5, 40) if i % 5 != 1
    ]
    iceberg.append(_df(spark, [(100, 0, 1.0), (101, 0, 2.0)]), dst)
    ids = {r.id: r._row_id for r in iceberg.read_lineage(spark, dst).collect()}
    assert sorted((ids[100], ids[101])) == [40, 41]
    assert iceberg.current_metadata(dst)["next-row-id"] == 42
    assert lineage(src) == before


# --------------------------------------------------------------------------
# starting_sequence / starting_version: expired-history policy for the
# streaming CDC sources (round-10 ask #3). 'retained' re-bootstraps an
# expired range as the full current snapshot tagged 'bootstrap_insert'
# (a downstream state RESET); 'latest' starts fresh checkpoints at the
# head; 'earliest' (default) keeps the honest raise.
# --------------------------------------------------------------------------


def _fold_with_reset(rows) -> Counter:
    """Signed fold of a CDC feed that honors bootstrap resets: a
    'bootstrap_insert' row belongs to a snapshot batch that REPLACES
    all state accumulated before it (batches are ordered by file mtime
    via the sink's part ordering — we use the change-type marker
    itself: on the first bootstrap row after any non-bootstrap row,
    clear)."""
    state: Counter = Counter()
    prev_bootstrap = False
    for r in rows:
        if r._change_type == "bootstrap_insert":
            if not prev_bootstrap:
                state = Counter()  # reset at the bootstrap batch
            state[(r.id, r.k, r.val)] += 1
            prev_bootstrap = True
        else:
            state[(r.id, r.k, r.val)] += 1 if r._change_type == "insert" else -1
            prev_bootstrap = False
    return +state


def test_iceberg_cdc_retained_rebootstrap_after_expiry(
    spark, table, tmp_path
):
    """Expire-mid-stream restart: snapshots the checkpoint hadn't
    consumed are expired; with starting_sequence='retained' the next
    batch degrades to the full current snapshot (bootstrap_insert) and
    the reset-fold reconciles with a full-table read."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableCdcStreamDataSource,
    )

    iceberg.create(
        _df(spark, _rows(12)).repartitionByRange(2, "id"), table
    )
    spark.dataSource.register(IcebergTableCdcStreamDataSource)
    sink = str(tmp_path / "ret_sink")
    ckpt = str(tmp_path / "ret_ckpt")

    def drain():
        q = (
            spark.readStream.format("iceberg_table_cdc")
            .option("path", table)
            .option("starting_sequence", "retained")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()  # seq 1 consumed
    iceberg.delete_where(spark, table, "id < 4")             # seq 2
    iceberg.append(_df(spark, [(100, 0, 1.0), (101, 1, 2.0)]), table)  # seq 3
    # expire everything but the head: seq 2's snapshot is gone, the
    # checkpointed range (1, 3] is no longer replayable
    iceberg.expire_snapshots(table, keep_last=1)
    drain()  # must re-bootstrap, not raise

    # order batches: the initial inserts precede the bootstrap batch
    import pyarrow.parquet as pq  # noqa: F401

    files = sorted(
        (os.path.getmtime(os.path.join(sink, f)), os.path.join(sink, f))
        for f in os.listdir(sink)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    rows = [
        r
        for _, p in files
        for r in spark.read.parquet(p).collect()
    ]
    assert any(r._change_type == "bootstrap_insert" for r in rows)
    head = Counter(
        (r.id, r.k, r.val)
        for r in iceberg.read_iceberg(spark, table).collect()
    )
    assert _fold_with_reset(rows) == head
    # and the stream continues incrementally AFTER the bootstrap
    iceberg.append(_df(spark, [(200, 2, 3.0)]), table)        # seq 4
    drain()
    rows2 = [
        r
        for _, p in sorted(
            (os.path.getmtime(os.path.join(sink, f)), os.path.join(sink, f))
            for f in os.listdir(sink)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        for r in spark.read.parquet(p).collect()
    ]
    head2 = Counter(
        (r.id, r.k, r.val)
        for r in iceberg.read_iceberg(spark, table).collect()
    )
    assert _fold_with_reset(rows2) == head2
    # the post-bootstrap batch is a plain incremental insert
    assert (
        sum(1 for r in rows2 if r._change_type == "bootstrap_insert")
        == sum(1 for r in rows if r._change_type == "bootstrap_insert")
    )


def test_iceberg_cdc_starting_sequence_latest(spark, table, tmp_path):
    """'latest': a fresh checkpoint starts at the head — no backfill,
    only commits after stream start flow."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableCdcStreamDataSource,
    )

    iceberg.create(_df(spark, _rows(10)), table)
    iceberg.delete_where(spark, table, "k = 0")
    spark.dataSource.register(IcebergTableCdcStreamDataSource)
    sink = str(tmp_path / "lat_sink")
    ckpt = str(tmp_path / "lat_ckpt")

    def drain():
        q = (
            spark.readStream.format("iceberg_table_cdc")
            .option("path", table)
            .option("starting_sequence", "latest")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    assert not os.path.exists(sink) or (
        spark.read.format("parquet").load(sink).count() == 0
        if any(f.endswith(".parquet") for f in os.listdir(sink))
        else True
    )
    iceberg.append(_df(spark, [(300, 1, 1.0)]), table)
    drain()
    rows = spark.read.parquet(sink).collect()
    assert Counter(
        (r.id, r.k, r.val, r._change_type) for r in rows
    ) == Counter({(300, 1, 1.0, "insert"): 1})


def test_delta_cdc_retained_rebootstrap_after_log_cleanup(
    spark, tmp_path
):
    """The Delta mirror: log cleanup deletes commits the stream
    checkpoint hadn't consumed; starting_version='retained' degrades
    the batch to the full current snapshot and the reset-fold
    reconciles with a full-table read."""
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        DeltaTableCdcStreamDataSource,
    )

    table = str(tmp_path / "dtbl")
    delta_log.create(
        spark.createDataFrame(
            [(i, i % 5, float(i)) for i in range(12)],
            "id long, k long, val double",
        ),
        table,
    )
    spark.dataSource.register(DeltaTableCdcStreamDataSource)
    sink = str(tmp_path / "dret_sink")
    ckpt = str(tmp_path / "dret_ckpt")

    def drain():
        q = (
            spark.readStream.format("delta_table_cdc")
            .option("path", table)
            .option("starting_version", "retained")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()  # v0 consumed
    delta_log.delete_where(spark, table, "id < 4")                     # v1
    delta_log.append(
        spark.createDataFrame(
            [(100, 0, 1.0), (101, 1, 2.0)], "id long, k long, val double"
        ),
        table,
    )                                                                   # v2
    delta_log.checkpoint(table)
    removed = delta_log.cleanup_log(table, retention_ms=0)
    assert removed  # v0/v1 commits are gone: range (0, 2] is broken
    drain()  # must re-bootstrap, not raise

    files = sorted(
        (os.path.getmtime(os.path.join(sink, f)), os.path.join(sink, f))
        for f in os.listdir(sink)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    rows = [
        r for _, p in files for r in spark.read.parquet(p).collect()
    ]
    assert any(r._change_type == "bootstrap_insert" for r in rows)
    head = Counter(
        (r.id, r.k, r.val)
        for r in delta_log.read_delta(spark, table).collect()
    )
    assert _fold_with_reset(rows) == head


# --------------------------------------------------------------------------
# Decimal partition values through the STREAMING sources (round-10 ask
# #4): the batch scans already restore decimal partition columns; the
# driver-side streaming readers now share the rule — Delta casts the
# log's hive string via Decimal at the declared scale, Iceberg parses
# the manifest partition tuple's string surrogate.
# --------------------------------------------------------------------------


def _dec(s):
    import decimal

    return decimal.Decimal(s)


def test_delta_cdc_stream_decimal_partition(spark, tmp_path):
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        DeltaTableCdcStreamDataSource,
    )

    table = str(tmp_path / "dtbl")
    df = spark.createDataFrame(
        [(i, _dec(f"{i % 3}.50"), float(i)) for i in range(9)],
        "id long, price decimal(10,2), val double",
    )
    delta_log.create(df, table, partition_by=["price"])
    delta_log.delete_where(spark, table, "id < 2")  # DV delete commit
    delta_log.append(
        spark.createDataFrame(
            [(100, _dec("7.25"), 1.0)],
            "id long, price decimal(10,2), val double",
        ),
        table,
    )
    spark.dataSource.register(DeltaTableCdcStreamDataSource)
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("delta_table_cdc")
        .option("path", table).load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    got = Counter((r.id, r.price, r.val, r._change_type) for r in rows)
    want = Counter(
        {(i, _dec(f"{i % 3}.50"), float(i), "insert"): 1 for i in range(9)}
        | {(i, _dec(f"{i % 3}.50"), float(i), "delete"): 1 for i in (0, 1)}
        | {(100, _dec("7.25"), 1.0, "insert"): 1}
    )
    assert got == want
    # fold reconciles with the batch read (decimal values included)
    state = Counter()
    for r in rows:
        state[(r.id, r.price, r.val)] += (
            1 if r._change_type == "insert" else -1
        )
    head = Counter(
        (r.id, r.price, r.val)
        for r in delta_log.read_delta(spark, table).collect()
    )
    assert +state == head


def test_iceberg_cdc_stream_decimal_partition(spark, table, tmp_path):
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableCdcStreamDataSource,
    )

    df = spark.createDataFrame(
        [(i, _dec(f"{i % 3}.50"), float(i)) for i in range(9)],
        "id long, price decimal(10,2), val double",
    )
    iceberg.create(df, table, partition_by=["price"])
    iceberg.delete_where(spark, table, "id < 2")
    iceberg.append(
        spark.createDataFrame(
            [(100, _dec("7.25"), 1.0)],
            "id long, price decimal(10,2), val double",
        ),
        table,
    )
    spark.dataSource.register(IcebergTableCdcStreamDataSource)
    sink = str(tmp_path / "isink")
    q = (
        spark.readStream.format("iceberg_table_cdc")
        .option("path", table).load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ickpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    got = Counter((r.id, r.price, r.val, r._change_type) for r in rows)
    batch = Counter(
        (r.id, r.price, r.val, r._change_type)
        for r in iceberg.table_changes(
            spark, table, 0, include_deletes=True
        ).collect()
    )
    assert got == batch  # streamed == batch feed, decimals intact
    assert (100, _dec("7.25"), 1.0, "insert") in got
    assert (0, _dec("0.50"), 0.0, "delete") in got


# --------------------------------------------------------------------------
# v2 → v3 upgrade + rewrite_position_deletes conversion (round-10 ask
# #5): a v2 history's position-delete parquet is grandfathered after
# upgrade_format_version, new deletes commit as DVs, and the rewrite
# consolidates the parquet tombstones into per-file DVs (merging any
# existing DV) under an operation='replace' commit the feeds skip.
# --------------------------------------------------------------------------


def test_upgrade_v2_to_v3_rewrite_converts_pos_deletes_to_dvs(
    spark, table
):
    from march_mania_spark_lakehouse_spark.sources import avro_ocf

    iceberg.create(
        _df(spark, _rows(60)).repartitionByRange(3, "id"), table
    )                                                     # v2, seq 1
    iceberg.delete_where(spark, table, "k = 1")           # pos parquet
    iceberg.delete_where(spark, table, "id >= 50")        # pos parquet
    assert iceberg.snapshot_delete_files(table)           # parquet lives
    with pytest.raises(ValueError):
        iceberg.upgrade_format_version(table, 2)          # no downgrade
    iceberg.upgrade_format_version(table, 3)
    assert iceberg.current_metadata(table)["format-version"] == 3

    # a post-upgrade delete is a DV; the v2 parquet is still applied
    iceberg.delete_where(spark, table, "id < 4")
    want = sorted(
        (i, i % 5, float(i))
        for i in range(60)
        if i % 5 != 1 and i < 50 and i >= 4
    )
    assert _spark_rows(spark, table) == want
    assert sorted(indep.read_rows(table)) == want
    assert iceberg.snapshot_delete_files(table)           # mixed state
    assert iceberg.snapshot_dv_entries(table)

    before = iceberg.table_changes(spark, table, 0, include_deletes=True)
    n_changes_before = before.count()
    sid = iceberg.rewrite_position_deletes(spark, table)
    assert sid != iceberg.snapshot_ids(table)[-2]         # it committed
    # identical rows through BOTH readers after the conversion
    assert _spark_rows(spark, table) == want
    assert sorted(indep.read_rows(table)) == want
    # no position-delete parquet survives; every tombstone is a DV now
    assert iceberg.snapshot_delete_files(table) == []
    dvs = iceberg.snapshot_dv_entries(table)
    assert dvs
    refs = [e["referenced_data_file"] for e in dvs]
    assert len(refs) == len(set(refs))                    # one DV per file
    assert sum(e["cardinality"] for e in dvs) == 60 - len(want)
    # the rewrite is operation='replace': feeds skip it entirely
    meta = iceberg.current_metadata(table)
    head_snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == sid
    )
    assert head_snap["summary"]["operation"] == "replace"
    after = iceberg.table_changes(spark, table, 0, include_deletes=True)
    assert after.count() == n_changes_before
    state = Counter()
    for r in after.collect():
        state[(r.id, r.k, r.val)] += 1 if r._change_type == "insert" else -1
    assert +state == Counter(want)


def test_v3_dv_commit_preserves_equality_delete_ids(spark, table):
    """A DV delete consolidates prior delete manifests: an
    equality-delete entry carried over as EXISTING must keep its
    equality_ids (dropping them would make the sequence rule apply to
    every column-free row) — pinned by re-appending a tombstoned key
    ABOVE the eq delete's sequence, which must survive."""
    from march_mania_spark_lakehouse_spark.sources import avro_ocf

    iceberg.create(_df(spark, _rows(10)), table, format_version=3)
    iceberg.delete_by_equality(
        spark, table, spark.createDataFrame([(2,), (7,)], "id long")
    )                                                     # seq 2: eq delete
    iceberg.delete_where(spark, table, "k = 4")           # seq 3: DV commit
    iceberg.append(_df(spark, [(2, 9, 22.0)]), table)     # seq 4: re-add 2
    want = sorted(
        [(i, i % 5, float(i)) for i in range(10)
         if i not in (2, 7) and i % 5 != 4]
        + [(2, 9, 22.0)]
    )
    assert _spark_rows(spark, table) == want
    assert sorted(indep.read_rows(table)) == want
    # structurally: the carried eq entry still declares its key ids
    meta = iceberg.current_metadata(table)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    eq_entries = [
        e
        for m in avro_ocf.read_ocf(snap["manifest-list"])
        for e in avro_ocf.read_ocf(m["manifest_path"])
        if e["status"] in (0, 1) and e["data_file"].get("content", 0) == 2
    ]
    assert eq_entries
    assert all(e["data_file"].get("equality_ids") for e in eq_entries)
