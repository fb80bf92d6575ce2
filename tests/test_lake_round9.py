"""Round-9 lake-layer hardening (advisor findings): stale-layout
checkpoints must not poison the read path, multi-part checkpoints keep
one action per row, checkpoints persist protocol feature lists, an
unpaired explicit-CDF update half degrades to plain deletes, and an
expired equality-delete snapshot raises a descriptive error."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources import delta_log


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _strip_checkpoint_fields(
    table: str, drop_meta: "set[str]" = frozenset(),
    drop_proto: "set[str]" = frozenset(),
) -> None:
    """Rewrite the table's single-file checkpoint WITHOUT the given
    struct fields — simulating a checkpoint written by an older layout
    (pre-configuration metaData / pre-feature-list protocol)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cp = delta_log._last_checkpoint(table)
    [path] = delta_log._checkpoint_files(table, cp)
    t = pq.read_table(path)

    def narrowed(col, drop):
        typ = t.schema.field(col).type
        keep = [
            typ.field(i)
            for i in range(typ.num_fields)
            if typ.field(i).name not in drop
        ]
        new_t = pa.struct(keep)
        rows = [
            None
            if v is None
            else {f.name: v.get(f.name) for f in keep}
            for v in t.column(col).to_pylist()
        ]
        return pa.array(rows, type=new_t)

    cols = {}
    for name in t.schema.names:
        if name == "metaData" and drop_meta:
            cols[name] = narrowed(name, drop_meta)
        elif name == "protocol" and drop_proto:
            cols[name] = narrowed(name, drop_proto)
        else:
            cols[name] = t.column(name)
    pq.write_table(pa.table(cols), path)


def test_stale_checkpoint_without_configuration_falls_back_to_commits(
    spark, table
):
    """A checkpoint whose metaData struct predates the configuration
    column must NOT seed reads: configuration would silently become {}
    on a CDF/column-mapped table. The read path falls back to scanning
    the commit JSONs from version 0."""
    delta_log.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, val double"
        ),
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_log.enable_column_mapping(table)
    delta_log.rename_column(table, "val", "metric")
    delta_log.checkpoint(table)
    v = delta_log.latest_version(table)

    meta = delta_log._latest_metadata(table, v)
    conf_before = dict(meta.get("configuration") or {})
    assert conf_before.get("delta.columnMapping.mode") == "name"

    _strip_checkpoint_fields(table, drop_meta={"configuration"})

    # stale checkpoint refuses to seed …
    cp = delta_log._last_checkpoint(table)
    _, seeded = delta_log._checkpoint_proto_meta(table, cp)
    assert seeded is None
    # … and the read path recovers the full configuration from commits
    meta2 = delta_log._latest_metadata(table, v)
    assert dict(meta2.get("configuration") or {}) == conf_before
    # logical names still resolve (nulls/wrong data otherwise)
    got = delta_log.read_delta(spark, table).orderBy("id").collect()
    assert [(r.id, r.metric) for r in got][:3] == [(0, 0.0), (1, 1.0), (2, 2.0)]
    # cleanup_log refuses to delete the commits this fallback needs
    with pytest.raises(ValueError, match="faithfully"):
        delta_log.cleanup_log(table, retention_ms=0)
    # a fresh checkpoint (re-seeded from commits) repairs the table
    delta_log.checkpoint(table)
    _, reseeded = delta_log._checkpoint_proto_meta(
        table, delta_log._last_checkpoint(table)
    )
    assert dict(reseeded["configuration"]) == conf_before
    assert delta_log.cleanup_log(table, retention_ms=0)


def test_multipart_checkpoint_one_action_per_row(spark, table):
    """Spec rule: each checkpoint row represents a single action.
    Part 1 of a multi-part checkpoint must put protocol and metaData
    on SEPARATE rows — external readers unwrap one action per row."""
    import pyarrow.parquet as pq

    delta_log.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(32)], "id long, val double"
        ),
        table,
    )
    delta_log.append(
        spark.createDataFrame([(100, 1.0)], "id long, val double"), table
    )
    delta_log.checkpoint(table, parts=3)
    cp = delta_log._last_checkpoint(table)
    paths = delta_log._checkpoint_files(table, cp)
    assert len(paths) == 3
    n_actions = 0
    for p in paths:
        for row in pq.read_table(p).to_pylist():
            present = [
                k
                for k in ("protocol", "metaData", "add")
                if row.get(k) is not None
                and any(v is not None for v in row[k].values())
            ]
            assert len(present) <= 1, f"multiple actions in one row: {present}"
            n_actions += len(present)
    adds = len(delta_log._replay(table, delta_log.latest_version(table)))
    assert n_actions == adds + 2  # every add + protocol + metaData

    # and the clean-room reader bootstraps from it after log cleanup
    delta_log.cleanup_log(table, retention_ms=0)
    from tests import delta_reader_independent as clean

    snap = clean.snapshot(table)
    assert snap["protocol"]["minReaderVersion"] == 1
    assert snap["schema"]["fields"]
    assert len(clean.read_rows(table)) == 33


def test_checkpoint_preserves_protocol_feature_lists(spark, table):
    """A DV table's checkpoint must persist readerFeatures /
    writerFeatures: after cleanup_log deletes the protocol-carrying
    commit, minReaderVersion 3 with no readerFeatures is spec-invalid
    and external readers reject it."""
    delta_log.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, val double"
        ),
        table,
    )
    delta_log.delete_where(spark, table, "id >= 8")
    delta_log.checkpoint(table)
    proto, _ = delta_log._checkpoint_proto_meta(
        table, delta_log._last_checkpoint(table)
    )
    assert proto["minReaderVersion"] == 3
    assert proto["readerFeatures"] == ["deletionVectors"]
    assert proto["writerFeatures"] == ["deletionVectors"]
    deleted = delta_log.cleanup_log(table, retention_ms=0)
    assert deleted  # pre-checkpoint commits (incl. the protocol) gone
    from tests import delta_reader_independent as clean

    snap = clean.snapshot(table)
    assert snap["protocol"]["readerFeatures"] == ["deletionVectors"]
    assert len(clean.read_rows(table)) == 8


def test_cleanup_refuses_feature_stripped_checkpoint(spark, table):
    """A checkpoint written by a layout that strips the feature lists
    (pre-round-9) must fail cleanup_log's faithfulness gate on a DV
    table rather than become the only — invalid — protocol record."""
    delta_log.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, val double"
        ),
        table,
    )
    delta_log.delete_where(spark, table, "id >= 8")
    delta_log.checkpoint(table)
    _strip_checkpoint_fields(
        table, drop_proto={"readerFeatures", "writerFeatures"}
    )
    with pytest.raises(ValueError, match="protocol"):
        delta_log.cleanup_log(table, retention_ms=0)
    # the stripped checkpoint also refuses to SEED the protocol
    proto, _ = delta_log._checkpoint_proto_meta(
        table, delta_log._last_checkpoint(table)
    )
    assert proto is None


def test_unpaired_explicit_cdf_update_half_degrades_to_delete(spark, table):
    """table_changes_cdf with to_version between an update's two
    commits: on a CDF-enabled table the staged update_preimage rows
    must relabel to plain deletes (matching the derived-path degrade),
    and the resumed tail must relabel the staged update_postimage rows
    to plain inserts — never a dangling image."""
    delta_log.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, val double"
        ),
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v_final = delta_log.update_where(
        spark, table, "id % 4 = 0", {"val": F.col("val") + 100}
    )
    v_del = v_final - 1

    cut = delta_log.table_changes_cdf(spark, table, 0, to_version=v_del)
    got = sorted(
        (r.id, r._change_type, r._commit_version) for r in cut.collect()
    )
    assert got == [(0, "delete", v_del), (4, "delete", v_del)]

    tail = delta_log.table_changes_cdf(spark, table, v_del)
    got_tail = sorted(
        (r.id, r._change_type, r._commit_version) for r in tail.collect()
    )
    assert got_tail == [(0, "insert", v_final), (4, "insert", v_final)]

    # the full range still pairs them back
    full = delta_log.table_changes_cdf(spark, table, 0)
    labels = sorted(
        (r.id, r._change_type)
        for r in full.collect()
        if r._change_type.startswith("update")
    )
    assert labels == [
        (0, "update_postimage"),
        (0, "update_preimage"),
        (4, "update_postimage"),
        (4, "update_preimage"),
    ]


def test_expired_equality_delete_snapshot_raises_cleanly():
    """_eq_dead_rows on a manifest whose delete commit's snapshot was
    expired must raise the descriptive 'unrecoverable' error, not a
    bare StopIteration."""
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        _IcebergTableCdcStreamReader,
    )

    rdr = object.__new__(_IcebergTableCdcStreamReader)
    meta = {"snapshots": [{"sequence-number": 1, "snapshot-id": 11}]}
    with pytest.raises(ValueError, match="unrecoverable"):
        rdr._eq_dead_rows(meta, 5, [])


# --------------------------------------------------------------------------
# VERDICT ask #1: change feeds SKIP replace (compaction) snapshots
# --------------------------------------------------------------------------


def test_iceberg_cdc_equality_deletes_across_schema_change(spark, tmp_path):
    """Equality-delete commits decompose under the CURRENT schema, the
    one the stream reads rows under: the delete files' equality ids
    resolve to current names, each commit's dead rows come from its
    parent's live rows (an earlier tombstone's rows are not re-emitted),
    and a column added after the deletes reads null in the old images."""
    from collections import Counter

    from march_mania_spark_lakehouse_spark.sources import iceberg
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        _IcebergTableCdcStreamReader,
    )

    t = str(tmp_path / "eq")
    iceberg.create(
        spark.createDataFrame(
            [(i, "a", float(i)) for i in range(6)], "id long, cat string, val double"
        ),
        t,
    )
    iceberg.delete_by_equality(spark, t, spark.createDataFrame([(1,)], "id long"))
    iceberg.upsert(
        spark,
        t,
        spark.createDataFrame(
            [(1, "b", 10.0), (2, "b", 20.0)], "id long, cat string, val double"
        ),
        ["id"],
    )
    iceberg.add_column(t, "extra", "long")
    iceberg.append(
        spark.createDataFrame(
            [(7, "c", 7.0, 70)], "id long, cat string, val double, extra long"
        ),
        t,
    )
    rows, _ = _IcebergTableCdcStreamReader({"path": t}).read({"seq": 0})
    assert Counter(rows) == Counter(
        [(i, "a", float(i), None, "insert") for i in range(6)]
        + [
            (1, "b", 10.0, None, "insert"),
            (2, "b", 20.0, None, "insert"),
            (7, "c", 7.0, 70, "insert"),
            (1, "a", 1.0, None, "delete"),
            (2, "a", 2.0, None, "delete"),
        ]
    )


def test_iceberg_batch_feed_equality_deletes_across_schema_change(spark, tmp_path):
    """The batch feed over the same history: each equality-delete
    commit's dead rows come from its parent's live rows read under the
    feed's schema, so a column added after the deletes reads null in
    the old images (instead of failing the final projection), and the
    signed feed folds to the head."""
    from collections import Counter

    from march_mania_spark_lakehouse_spark.sources import iceberg

    t = str(tmp_path / "eq")
    iceberg.create(
        spark.createDataFrame(
            [(i, "a", float(i)) for i in range(6)], "id long, cat string, val double"
        ),
        t,
    )
    iceberg.delete_by_equality(spark, t, spark.createDataFrame([(1,)], "id long"))
    iceberg.upsert(
        spark,
        t,
        spark.createDataFrame(
            [(1, "b", 10.0), (2, "b", 20.0)], "id long, cat string, val double"
        ),
        ["id"],
    )
    iceberg.add_column(t, "extra", "long")
    iceberg.append(
        spark.createDataFrame(
            [(7, "c", 7.0, 70)], "id long, cat string, val double, extra long"
        ),
        t,
    )
    feed = iceberg.table_changes(spark, t, 0, include_deletes=True).collect()
    assert Counter(
        tuple(r)[:-1] for r in feed if r._change_type == "delete"
    ) == Counter([(1, "a", 1.0, None), (2, "a", 2.0, None)])
    state = Counter()
    for r in feed:
        state[tuple(r)[:-1]] += 1 if r._change_type == "insert" else -1
    head = Counter(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
    assert +state == head


def test_iceberg_stream_sources_read_renamed_columns(spark, tmp_path):
    """Files written before `rename_column` carry the old physical name;
    both Iceberg stream sources resolve it through the field-id name
    history, as `read_iceberg` does, instead of streaming nulls."""
    from collections import Counter

    from march_mania_spark_lakehouse_spark.sources import iceberg
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        _IcebergTableCdcStreamReader,
        _IcebergTableStreamReader,
    )

    t = str(tmp_path / "ren")
    iceberg.create(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, val double"), t
    )
    iceberg.rename_column(t, "val", "amount")
    iceberg.append(spark.createDataFrame([(3, 3.0)], "id long, amount double"), t)
    batch = sorted(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
    assert batch == [(1, 1.0), (2, 2.0), (3, 3.0)]
    rows, _ = _IcebergTableStreamReader({"path": t}).read({"seq": 0})
    assert sorted(rows) == batch
    # a position delete on the pre-rename file: the kill is read back
    # under the old physical name too
    iceberg.delete_where(spark, t, "id = 2")
    rows, _ = _IcebergTableCdcStreamReader({"path": t}).read({"seq": 0})
    assert Counter(rows) == Counter(
        [v + ("insert",) for v in batch] + [(2, 2.0, "delete")]
    )


def _feed_rows(df, drop=("_change_ordinal",)):
    from collections import Counter

    cols = [c for c in df.columns if c not in drop]
    return Counter(tuple(r) for r in df.select(*cols).collect())


def test_iceberg_change_feeds_skip_compaction(spark, tmp_path):
    """append → OPTIMIZE → upsert must batch/stream the SAME feed as
    the identical history without the OPTIMIZE — routine maintenance
    cannot break the CDC pipeline (the Delta dataChange=false rule)."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    def build(t, with_optimize):
        iceberg.create(
            spark.createDataFrame(
                [(i, str(i % 3), float(i)) for i in range(12)],
                "id long, cat string, val double",
            ),
            t,
        )
        iceberg.append(
            spark.createDataFrame(
                [(100 + i, "9", 1.0) for i in range(8)],
                "id long, cat string, val double",
            ).repartition(4),
            t,
        )
        if with_optimize:
            iceberg.optimize(
                spark, t, target_file_bytes=1 << 30,
                small_file_bytes=1 << 30,
            )
        iceberg.upsert(
            spark,
            t,
            spark.createDataFrame(
                [(3, "0", 300.0), (200, "2", 2.0)],
                "id long, cat string, val double",
            ),
            keys=["id"],
        )
        return t

    a = build(str(tmp_path / "with_opt"), True)
    b = build(str(tmp_path / "without_opt"), False)
    # the optimize really did commit a replace snapshot
    ops_a = [
        s["summary"]["operation"]
        for s in iceberg.current_metadata(a)["snapshots"]
    ]
    assert "replace" in ops_a

    hi_a = iceberg.current_metadata(a)["last-sequence-number"]
    hi_b = iceberg.current_metadata(b)["last-sequence-number"]
    fa = iceberg.table_changes(spark, a, 0, include_deletes=True)
    fb = iceberg.table_changes(spark, b, 0, include_deletes=True)
    assert _feed_rows(fa) == _feed_rows(fb)
    ca = iceberg.table_changes_cdf(spark, a, 0)
    cb = iceberg.table_changes_cdf(spark, b, 0)
    assert _feed_rows(ca) == _feed_rows(cb)  # labels incl. update pairs
    # a compaction-only range is an EMPTY feed, not an error
    opt_seq = next(
        s["sequence-number"]
        for s in iceberg.current_metadata(a)["snapshots"]
        if s["summary"]["operation"] == "replace"
    )
    assert iceberg.table_changes(
        spark, a, opt_seq - 1, opt_seq, include_deletes=True
    ).count() == 0
    # row-changing rewrites still refuse
    iceberg.overwrite(
        spark.createDataFrame(
            [(1, "0", 1.0)], "id long, cat string, val double"
        ),
        a,
    )
    with pytest.raises(iceberg.IcebergNonAppendChangeError):
        iceberg.table_changes(spark, a, hi_a, include_deletes=True).count()


def test_iceberg_compaction_after_range_cannot_hide_inrange_appends(
    spark, tmp_path
):
    """Latent hole closed by per-snapshot planning: a compaction
    BEYOND to_seq used to hide in-range appends whose files it packed
    away (the current-snapshot scan lost them)."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    t = str(tmp_path / "tbl")
    iceberg.create(
        spark.createDataFrame([(0, 0.0)], "id long, v double"), t
    )
    iceberg.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(1, 9)], "id long, v double"
        ).repartition(4),
        t,
    )  # seq 2: small files — compaction bait
    iceberg.optimize(
        spark, t, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )  # seq 3: packs seqs 1-2 away
    got = sorted(
        r.id for r in iceberg.table_changes(spark, t, 1, to_seq=2).collect()
    )
    assert got == list(range(1, 9))
    # and the full range emits every row exactly once
    assert sorted(
        r.id for r in iceberg.table_changes(spark, t, 0).collect()
    ) == list(range(9))


def test_iceberg_streaming_sources_skip_compaction(spark, tmp_path):
    """Both streaming sources survive an OPTIMIZE mid-stream: the
    append-only source keeps draining appends, and the CDC source's
    IVM refresh loop stays exactly-once across the replace snapshot."""
    from march_mania_spark_lakehouse_spark.operators import ivm
    from march_mania_spark_lakehouse_spark.sources import iceberg
    from march_mania_spark_lakehouse_spark.sources.pydatasource import (
        IcebergTableCdcStreamDataSource,
        IcebergTableStreamDataSource,
    )

    t = str(tmp_path / "tbl")
    iceberg.create(
        spark.createDataFrame(
            [(i, str(i % 3), float(i)) for i in range(9)],
            "id long, cat string, val double",
        ),
        t,
    )
    spark.dataSource.register(IcebergTableStreamDataSource)
    spark.dataSource.register(IcebergTableCdcStreamDataSource)

    app_sink = str(tmp_path / "app_sink")
    app_ckpt = str(tmp_path / "app_ckpt")
    cdc_sink = str(tmp_path / "cdc_sink")
    cdc_ckpt = str(tmp_path / "cdc_ckpt")
    state_dir = str(tmp_path / "state")

    def drain(fmt, sink, ckpt):
        q = (
            spark.readStream.format(fmt)
            .option("path", t).load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    def refresh():
        drain("iceberg_table_cdc", cdc_sink, cdc_ckpt)
        state = ivm.signed_state(
            spark.read.parquet(cdc_sink), ["cat"], "val"
        )
        state.write.mode("overwrite").parquet(state_dir)

    drain("iceberg_table_stream", app_sink, app_ckpt)
    refresh()

    iceberg.append(
        spark.createDataFrame(
            [(50 + i, "1", 5.0) for i in range(6)],
            "id long, cat string, val double",
        ).repartition(3),
        t,
    )
    iceberg.optimize(
        spark, t, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    # append-only source: drains the pre-optimize appends AND the
    # replace snapshot without crashing (appends planned from their
    # own manifest lists even though optimize packed them away)
    drain("iceberg_table_stream", app_sink, app_ckpt)
    got_appended = sorted(
        r.id for r in spark.read.parquet(app_sink).collect()
    )
    assert got_appended == sorted(
        list(range(9)) + [50 + i for i in range(6)]
    )

    iceberg.upsert(
        spark,
        t,
        spark.createDataFrame(
            [(4, "1", 400.0)], "id long, cat string, val double"
        ),
        keys=["id"],
    )
    refresh()
    view = {
        r["cat"]: (r["n_rows"], round(r["sum_m"], 6))
        for r in ivm.finalize_counts(spark.read.parquet(state_dir)).collect()
    }
    direct = {
        r["cat"]: (r["n"], round(r["s"], 6))
        for r in iceberg.read_iceberg(spark, t)
        .groupBy("cat")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
        .collect()
    }
    assert view == direct


def test_rewrite_position_deletes_skipped_by_feed(spark, tmp_path):
    """A delete-file rewrite (replace snapshot) changes zero logical
    rows: the feed over a range containing it equals the feed of the
    same history without it — no double-emitted deletes."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    def build(t, with_rewrite):
        iceberg.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "id long, v double"
            ),
            t,
        )
        iceberg.delete_where(spark, t, "id < 2")
        iceberg.delete_where(spark, t, "id >= 8")
        if with_rewrite:
            iceberg.rewrite_position_deletes(spark, t)
        iceberg.append(
            spark.createDataFrame([(42, 42.0)], "id long, v double"), t
        )
        return iceberg.table_changes(spark, t, 0, include_deletes=True)

    fa = build(str(tmp_path / "with_rw"), True)
    fb = build(str(tmp_path / "without_rw"), False)
    assert _feed_rows(fa) == _feed_rows(fb)
