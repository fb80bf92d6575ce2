"""Delta-Lake-format transaction log: publish, replay, time travel.

Writes tables whose layout conforms to the *public* Delta transaction
protocol (delta-io PROTOCOL.md): data as uniquely-named parquet files in
the table root, commits as ordered newline-delimited-JSON action files
``_delta_log/%020d.json`` (protocol / metaData / add / remove /
commitInfo actions), per-file ``stats`` JSON on every add (numRecords +
min/max/nullCount — the data-skipping input), parquet checkpoints with a
``_last_checkpoint`` pointer, and put-if-absent commit files for
optimistic single-winner concurrency.

Relation to the rest of the repo:

- ``sources/maintenance.py`` provides the same *semantics* (atomic
  publish, time travel, rollback, manifests) on a homegrown ``v=N``
  layout; THIS module emits the interoperable on-disk format instead,
  so any real Delta reader (Spark+delta jar, delta-rs, DuckDB's delta
  extension, Trino) can consume the tables. The container ships no such
  reader (no connector jars, no network — verified), so verification is
  two-layered: structural tests (spec-required action fields, log replay
  semantics, checkpoint equivalence, stats-pruning parity vs full scan,
  `tests/test_delta_log.py`) plus a CLEAN-ROOM INDEPENDENT READER
  (`tests/delta_reader_independent.py` — stdlib+pyarrow only, zero code
  shared with this module, enforced by test) that must reconstruct
  identical file sets and row multisets for every history this writer
  can produce (`tests/test_delta_interop.py`).
- ``sources/writers.write_table`` keeps the ``.format("delta")`` call
  site for clusters that ship the jar; this module is the no-jar path
  that still produces real Delta tables.

Scale posture (100 TB): the log grows one small JSON file per commit and
is compacted into parquet checkpoints every ``checkpoint_interval``
commits, so snapshot reconstruction reads one checkpoint + a bounded
tail — never the full history. Per-file stats ride in the add actions,
so a range scan plans from the log (KBs) instead of opening footers of
millions of files. Hive-partitioned tables are supported: add actions
carry partitionValues, `scan_partitions` prunes from the log, and
readers restore partition columns via basePath discovery + declared-
type casts. Merge-on-read DELETE via deletion vectors and column
mapping (rename/drop without rewrite, `delta.columnMapping.mode=name`)
are supported, and column mapping composes with partitioned tables
(partitionValues/hive dirs key on PHYSICAL names; readers map them back
to logical columns via the schema's columnMapping metadata).

Local-FS commit atomicity: each commit is written to a temp file then
``os.link``-ed to its final ``%020d.json`` name — link fails with EEXIST
if a concurrent writer already claimed the version, which is the
put-if-absent primitive Delta's optimistic concurrency needs (on S3 the
equivalent is a conditional PUT / DynamoDB lock per the spec).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources import deletion_vectors, dv_codec
from march_mania_spark_lakehouse_spark.sources.lineage_diff import lineage_changelog
from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


class DeltaConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic loser)."""


def _log_dir(table: str) -> str:
    return os.path.join(table, "_delta_log")


def _commit_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.checkpoint.parquet")


def _now_ms() -> int:
    return int(time.time() * 1000)


# --------------------------------------------------------------------------
# Stats: read each data file's parquet footer (row count + per-column
# min/max/null-count from row-group statistics) — no second Spark job,
# and exactly the writer-collected stats Delta's spec intends.
# --------------------------------------------------------------------------


def _json_safe(v):
    import datetime

    if isinstance(v, bytes):
        return None  # binary min/max not representable in stats JSON
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return None
    return v


def _file_stats(file_path: str, stat_cols: Sequence[str]) -> str:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    schema_names = [md.schema.column(i).path for i in range(md.num_columns)]
    want = [c for c in stat_cols if c in schema_names]
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci, name in enumerate(schema_names):
            if name not in want:
                continue
            st = group.column(ci).statistics
            if st is None:
                continue
            if st.has_min_max:
                lo, hi = _json_safe(st.min), _json_safe(st.max)
                if lo is not None and (name not in mins or lo < mins[name]):
                    mins[name] = lo
                if hi is not None and (name not in maxs or hi > maxs[name]):
                    maxs[name] = hi
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        separators=(",", ":"),
    )


# --------------------------------------------------------------------------
# Commit machinery
# --------------------------------------------------------------------------


def _write_commit(table: str, version: int, actions: list[dict]) -> None:
    """Put-if-absent commit: full content lands in a temp file, then a
    hard link claims the canonical name atomically; EEXIST means a
    concurrent writer won this version."""
    os.makedirs(_log_dir(table), exist_ok=True)
    final = _commit_path(table, version)
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise DeltaConcurrentCommitError(
            f"version {version} of {table} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)


class DeltaConcurrentModificationError(RuntimeError):
    """A concurrent transaction logically conflicts with this one (the
    spec's conflict matrix): the losing writer's planned actions are no
    longer valid against the table state the winner produced. The
    caller must re-plan against the current version and retry — unlike
    a rebased blind append, the engine cannot do it automatically."""


def _effective_protocol(table: str, version: int) -> dict:
    """The protocol action in force at ``version`` (checkpoint-seeded
    like `_latest_metadata`, so log cleanup never hides it)."""
    proto = dict(PROTOCOL)
    start = 0
    cp = _last_checkpoint(table)
    if cp is not None and cp["version"] <= version:
        p0, _ = _checkpoint_proto_meta(table, cp)
        if p0 is not None:
            proto = p0
            start = cp["version"] + 1
    for vv in range(start, version + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "protocol" in a:
                proto = a["protocol"]
    return _norm_protocol(proto)


def _commit_blind_append(
    table: str,
    version: int,
    actions: list[dict],
    txn: "tuple[str, int] | None" = None,
    max_retries: int = 50,
) -> int:
    """Optimistic-concurrency commit for a BLIND APPEND: on losing the
    put-if-absent race, re-read the winning commit(s), check the spec's
    conflict rules, and rebase — re-attempt the SAME actions at the
    next version. A blind append (no read predicate) commutes with any
    data-only winner (appends, DV deletes, overwrites: its files are
    new, so AddFile/RemoveFile sets stay disjoint); it conflicts only
    with a metadata change (the schema/configuration it validated
    against moved) or a REAL protocol change. DV commits re-emit their
    protocol action defensively, so the protocol check compares against
    the protocol in force at the base version — a no-op re-emit never
    fails a rebase. SetTransaction idempotency is re-checked against
    each winner: if the same appId already committed at >= our version,
    the replayed micro-batch returns the winner's version instead of
    double-committing (the exactly-once contract survives races).
    """
    v = version
    base_proto: "dict | None" = None
    for _ in range(max_retries):
        try:
            _write_commit(table, v, actions)
            return v
        except DeltaConcurrentCommitError:
            latest = latest_version(table)
            for wv in range(v, latest + 1):
                for a in _read_actions(_commit_path(table, wv)):
                    if "metaData" in a:
                        raise DeltaConcurrentModificationError(
                            f"concurrent metadata change at version {wv} "
                            f"of {table}; this append validated against "
                            "an older schema/configuration — re-plan and "
                            "retry"
                        )
                    if "protocol" in a:
                        if base_proto is None:
                            base_proto = _effective_protocol(
                                table, version - 1
                            )
                        if _norm_protocol(a["protocol"]) != base_proto:
                            raise DeltaConcurrentModificationError(
                                f"concurrent protocol change at version "
                                f"{wv} of {table}; re-plan and retry"
                            )
                    if (
                        txn is not None
                        and "txn" in a
                        and a["txn"].get("appId") == txn[0]
                        and a["txn"].get("version", -1) >= txn[1]
                    ):
                        return wv  # idempotent replay: already applied
            # row tracking: a winner may have claimed overlapping row
            # ids — shift this append's fresh baseRowIds above the
            # winner's high-water mark and restamp the commit version
            actions = _rebase_row_ids(table, actions, latest, latest + 1)
            v = latest + 1
    raise DeltaConcurrentModificationError(
        f"append to {table} lost the commit race {max_retries} times"
    )


def _commit_read_dependent(
    table: str, version: int, actions: list[dict], op: str
) -> None:
    """Put-if-absent commit for a READ-DEPENDENT transaction (delete /
    update / overwrite / merge / restore / optimize / metadata change):
    losing the race means the snapshot it planned against is stale —
    its removes may target files the winner already removed, its DVs
    may miss rows the winner added, its metadata may clobber the
    winner's. Per the spec conflict matrix these do not auto-rebase;
    the caller re-runs against the current version."""
    try:
        _write_commit(table, version, actions)
    except DeltaConcurrentCommitError as e:
        raise DeltaConcurrentModificationError(
            f"{op} planned against version {version - 1} of {table}, but "
            f"version {version} was committed concurrently; re-run "
            f"{op} against the current version"
        ) from e


def _stage_data_files(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    mapping: "dict[str, str] | None" = None,
) -> list[tuple[str, dict]]:
    """Write df as parquet into a staging dir, then move the part files
    into the table root under fresh UUID names (Delta requires file
    names unique across the table's whole history). Partitioned writes
    keep the hive ``col=val/`` layout inside the table root and carry
    their partition values. Returns [(relative path, partitionValues)].
    """
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    if mapping is None:
        mapping = column_mapping(table)
    if mapping:
        # column-mapping tables store PHYSICAL names in the files; the
        # hive layout and each add's partitionValues are keyed by
        # physical names too (rename-stable — the layer the scan's
        # log-planned restoration translates back from)
        df = df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )
        partition_by = [mapping.get(c, c) for c in partition_by]
    else:
        # columnMapping.mode=id writers stamp each column's mapping id
        # as the parquet field id (spec: id-mode files carry ids;
        # readers resolve by them, names are display-only)
        cur = latest_version(table)
        md = _latest_metadata(table, cur) if cur is not None else None
        if md is not None and (md.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        ) == "id":
            ids = {
                f["name"]: int(f["metadata"]["delta.columnMapping.id"])
                for f in json.loads(md["schemaString"])["fields"]
            }
            df = df.select(
                *[
                    F.col(c).alias(
                        c, metadata={"parquet.field.id": ids[c]}
                    )
                    if c in ids
                    else F.col(c)
                    for c in df.columns
                ]
            )
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    out: list[tuple[str, dict]] = []
    for root, dirs, files in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            rel_dir = os.path.relpath(root, staging)
            pvals: dict = {}
            if rel_dir != ".":
                import urllib.parse

                for seg in rel_dir.split(os.sep):
                    k, _, v = seg.partition("=")
                    # hive dir names percent-escape special chars
                    # (':' → '%3A'); the spec's partitionValues carry
                    # the RAW value — unescape (the iceberg layer's
                    # _typed_partition rule)
                    pvals[k] = urllib.parse.unquote(v)
            new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = os.path.join(rel_dir, new_name) if rel_dir != "." else new_name
            os.makedirs(os.path.dirname(os.path.join(table, rel)) or table, exist_ok=True)
            os.rename(os.path.join(root, fn), os.path.join(table, rel))
            out.append((rel, pvals))
    shutil.rmtree(staging)
    return out


def _add_actions(
    table: str,
    files: Sequence[tuple[str, dict]],
    stat_cols: Sequence[str],
    mapping: "dict[str, str] | None" = None,
) -> list[dict]:
    if mapping is None:
        mapping = column_mapping(table)
    if mapping:
        # stats are read from the written files, which store physical
        # names — translate; the scan planners translate back
        stat_cols = [mapping.get(c, c) for c in stat_cols]
    out = []
    for name, pvals in files:
        p = os.path.join(table, name)
        out.append(
            {
                "add": {
                    "path": name,
                    "partitionValues": pvals,
                    "size": os.path.getsize(p),
                    "modificationTime": _now_ms(),
                    "dataChange": True,
                    "stats": _file_stats(p, stat_cols),
                }
            }
        )
    return out


def _metadata_action(
    df: DataFrame,
    table_id: str,
    partition_by: Sequence[str] = (),
    configuration: "dict | None" = None,
) -> dict:
    return {
        "metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": list(partition_by),
            "configuration": dict(configuration or {}),
            "createdTime": _now_ms(),
        }
    }


def _commit_info(operation: str, params: dict) -> dict:
    return {
        "commitInfo": {
            "timestamp": _now_ms(),
            "operation": operation,
            "operationParameters": {k: str(v) for k, v in params.items()},
        }
    }


def latest_version(table: str) -> int | None:
    """Highest committed version, or None for a non-Delta directory."""
    try:
        names = os.listdir(_log_dir(table))
    except FileNotFoundError:
        return None
    versions = [int(n[:20]) for n in names if n.endswith(".json") and n[:20].isdigit()]
    return max(versions, default=None)


def _txn_action(txn: "tuple[str, int] | None") -> list[dict]:
    if txn is None:
        return []
    app_id, version = txn
    return [{"txn": {"appId": app_id, "version": int(version)}}]


def create(
    df: DataFrame,
    table: str,
    stat_cols: Sequence[str] = (),
    txn: "tuple[str, int] | None" = None,
    partition_by: Sequence[str] = (),
    configuration: "dict | None" = None,
    row_tracking: bool = False,
) -> int:
    """Create a Delta table at ``table`` (version 0): data files +
    protocol/metaData/add actions. Fails if a log already exists.
    ``txn=(app_id, version)`` records a SetTransaction action — the
    spec's idempotent-streaming-append marker (see `last_txn_version`).
    ``partition_by`` writes hive-layout partitions whose values ride in
    each add action's partitionValues — the log-planned partition
    pruning input (`scan_partitions`).
    """
    if latest_version(table) is not None:
        raise FileExistsError(f"{table} already has a Delta log")
    os.makedirs(table, exist_ok=True)
    proto, tracking_conf = _new_table_protocol(row_tracking)
    configuration = {**(configuration or {}), **tracking_conf}
    files = _stage_data_files(df, table, partition_by)
    actions = [
        _commit_info("CREATE TABLE AS SELECT", {"mode": "ErrorIfExists"}),
        {"protocol": proto},
        _metadata_action(df, uuid.uuid4().hex, partition_by, configuration),
        *_txn_action(txn),
        *_add_actions(table, files, stat_cols),
    ]
    if row_tracking:
        actions = _assign_row_ids(table, None, actions, 0, enabled=True)
    _write_commit(table, 0, actions)
    return 0


def table_partition_columns(table: str, version: int | None = None) -> list[str]:
    """The table's declared partition columns at ``version``."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    meta = _latest_metadata(table, v)
    return list((meta or {}).get("partitionColumns", []))


class DeltaSchemaMismatchError(ValueError):
    """Append carried columns the table schema doesn't have and
    ``merge_schema`` was not requested (Delta's schema enforcement)."""


def _struct_field_names(dtype) -> set:
    try:
        return {dtype.field(i).name for i in range(dtype.num_fields)}
    except (AttributeError, TypeError):
        return set()


def _norm_protocol(p: "dict | None") -> "dict | None":
    """Canonical protocol action: drop null fields, sort feature lists
    — so a checkpoint round-trip compares equal to the commit JSON."""
    if p is None:
        return None
    out = {k: v for k, v in p.items() if v is not None}
    for k in ("readerFeatures", "writerFeatures"):
        if k in out:
            out[k] = sorted(out[k])
    return out


def _checkpoint_proto_meta(table: str, cp: dict) -> "tuple[dict | None, dict | None]":
    """(protocol, metaData) recorded in a checkpoint — the seed for
    logs whose pre-checkpoint commits were cleaned up
    (:func:`cleanup_log`). V2 checkpoints keep both in the top-level
    file per spec, so sidecars are never opened here.

    Checkpoints written before a struct field existed cannot be
    distinguished from ones that recorded it as empty, so stale layouts
    are refused as seeds (return None): a metaData struct with no
    ``configuration`` child would silently read column-mapped / CDF
    tables as unconfigured, and a protocol struct with no
    ``readerFeatures`` child cannot faithfully represent a
    table-features protocol (minReaderVersion >= 3). Callers fall back
    to scanning the commit JSONs from version 0."""
    import pyarrow.parquet as pq

    proto = meta = None
    for path in _checkpoint_files(table, cp):
        t = pq.read_table(path, columns=["protocol", "metaData"])
        meta_seedable = "configuration" in _struct_field_names(
            t.schema.field("metaData").type
        )
        proto_has_features = "readerFeatures" in _struct_field_names(
            t.schema.field("protocol").type
        )
        for row in t.to_pylist():
            m = row.get("metaData")
            if m and m.get("schemaString") and meta_seedable:
                meta = {
                    **m,
                    "format": {
                        "provider": (m.get("format") or {}).get(
                            "provider", "parquet"
                        ),
                        "options": {},
                    },
                    "configuration": dict(m.get("configuration") or {}),
                }
            pr = row.get("protocol")
            if pr and pr.get("minReaderVersion") is not None:
                if pr["minReaderVersion"] >= 3 and not proto_has_features:
                    proto = None  # feature lists were stripped — unseedable
                else:
                    proto = _norm_protocol(pr)
            if proto is not None and meta is not None:
                break
        if proto is not None and meta is not None:
            break  # both live in the first rows/part — skip the rest
    return proto, meta


def _latest_metadata(table: str, version: int) -> dict | None:
    meta = None
    start = 0
    cp = _last_checkpoint(table)
    if cp is not None and cp["version"] <= version:
        # seed from the checkpoint: cleanup_log may have deleted the
        # commit that carried the metaData action, and the JSON scan
        # then only needs the tail. A pre-configuration-column
        # checkpoint refuses to seed (meta is None) — fall back to the
        # full commit-JSON scan rather than silently dropping the
        # table configuration (column mapping, CDF flags).
        _, meta = _checkpoint_proto_meta(table, cp)
        start = cp["version"] + 1 if meta is not None else 0
    for vv in range(start, version + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "metaData" in a:
                meta = a["metaData"]
    return meta


def table_schema(table: str, version: int | None = None):
    """The table's declared StructType at ``version`` (latest metaData
    action wins — schema history is part of the log)."""
    from pyspark.sql import types as T

    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    meta = _latest_metadata(table, v)
    if meta is None:
        raise FileNotFoundError(f"{table} log has no metaData action")
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def append(
    df: DataFrame,
    table: str,
    stat_cols: Sequence[str] = (),
    txn: "tuple[str, int] | None" = None,
    merge_schema: bool = False,
    _op: "tuple[str, dict] | None" = None,
    _cdc_label: "str | None" = None,
) -> int:
    """Append commit: adds only; prior files stay live. ``txn`` as in
    :func:`create`.

    Schema contract (Delta semantics): columns MISSING from the batch
    read back as null; EXTRA columns are rejected
    (:class:`DeltaSchemaMismatchError`) unless ``merge_schema=True``,
    which widens the table by re-emitting metaData with the old fields
    plus the new ones — schema history lives in the log, and
    `read_delta` reads every snapshot under its version's declared
    schema, so pre-evolution files surface the new columns as null."""
    cur = latest_version(table)
    if cur is None:
        return create(df, table, stat_cols, txn)
    _enforce_constraints(df, table, cur)
    current = table_schema(table, cur)
    # write-time column defaults (allowColumnDefaults): a declared
    # column the batch omits is filled from its CURRENT_DEFAULT
    # expression; explicit values (nulls included) always win
    for f in current.fields:
        if f.name not in df.columns and f.metadata.get("CURRENT_DEFAULT"):
            df = df.withColumn(
                f.name,
                F.expr(str(f.metadata["CURRENT_DEFAULT"])).cast(f.dataType),
            )
    known = {f.name for f in current.fields}
    if _row_tracking_enabled(table, cur):
        # materialized lineage columns are physical pass-throughs, not
        # schema columns (update_where's carry rides them)
        known |= {MATERIALIZED_ROW_ID_COL, MATERIALIZED_ROW_COMMIT_COL}
    extra = [f for f in df.schema.fields if f.name not in known]
    meta_actions: list[dict] = []
    if extra:
        if not merge_schema:
            raise DeltaSchemaMismatchError(
                f"append adds columns {[f.name for f in extra]} not in the "
                f"table schema; pass merge_schema=True to evolve"
            )
        from pyspark.sql import types as T

        old_meta = _latest_metadata(table, cur) or {}
        mapping = column_mapping(table, cur)
        if mapping is None:
            merged = T.StructType(list(current.fields) + list(extra))
            meta_actions.append(
                {
                    "metaData": {
                        **old_meta,
                        "schemaString": merged.json(),
                    }
                }
            )
        else:
            # column-mapping table: every NEW field gets a fresh
            # col-<uuid> physical name + id (protocol rule) — a
            # re-added logical name can then never resurrect the
            # physical bytes of a previously dropped column
            conf = dict(old_meta.get("configuration") or {})
            max_id = int(conf.get("delta.columnMapping.maxColumnId", "0"))
            schema_json = json.loads(old_meta["schemaString"])
            for f in extra:
                max_id += 1
                phys = f"col-{uuid.uuid4().hex[:16]}"
                fj = f.jsonValue()
                fj["metadata"] = {
                    "delta.columnMapping.id": max_id,
                    "delta.columnMapping.physicalName": phys,
                }
                schema_json["fields"].append(fj)
                mapping[f.name] = phys
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
            meta_actions.append(
                {
                    "metaData": {
                        **old_meta,
                        "schemaString": json.dumps(schema_json),
                        "configuration": conf,
                    }
                }
            )
            files = _stage_data_files(
                df, table, table_partition_columns(table, cur),
                mapping=mapping,
            )
            actions = [
                _commit_info(*(_op or ("WRITE", {"mode": "Append"}))),
                *meta_actions,
                *_txn_action(txn),
                *_add_actions(table, files, stat_cols, mapping=mapping),
            ]
            actions = _assign_row_ids(table, cur, actions, cur + 1)
            # schema evolution is a METADATA change: it conflicts with
            # any concurrent commit (no auto-rebase)
            _commit_read_dependent(
                table, cur + 1, actions, "schema-evolving append"
            )
            return cur + 1
    files = _stage_data_files(df, table, table_partition_columns(table, cur))
    cdc_actions: list[dict] = []
    if _cdc_label and _cdf_enabled(table, cur):
        # only UPDATE's write half labels its rows explicitly (plain
        # appends derive as inserts from their add actions, per spec).
        # Materialized lineage pass-throughs stay out of change files —
        # the CDF view's shape is the declared schema + _change_type.
        cdc_df = df.select(
            *[
                c for c in df.columns
                if c not in (
                    MATERIALIZED_ROW_ID_COL, MATERIALIZED_ROW_COMMIT_COL
                )
            ]
        )
        cdc_actions = _stage_cdc_file(cdc_df, table, _cdc_label)
    actions = [
        _commit_info(*(_op or ("WRITE", {"mode": "Append"}))),
        *meta_actions,
        *_txn_action(txn),
        *_add_actions(table, files, stat_cols),
        *cdc_actions,
    ]
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    if _op is not None:
        # operation-tagged appends (UPDATE write halves, WAP publishes)
        # must land at exactly cur+1 to keep their pairing semantics —
        # losing the race surfaces as a conflict, not a silent rebase
        _commit_read_dependent(table, cur + 1, actions, _op[0])
        return cur + 1
    return _commit_blind_append(table, cur + 1, actions, txn=txn)


def last_txn_version(table: str, app_id: str) -> int:
    """Highest SetTransaction version committed for ``app_id`` (-1 if
    none): the reader side of Delta's exactly-once streaming contract —
    a restarted stream skips every micro-batch whose id is ≤ this."""
    v = latest_version(table)
    if v is None:
        return -1
    best = -1
    for vv in range(v + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            t = a.get("txn")
            if t and t.get("appId") == app_id:
                best = max(best, int(t["version"]))
    return best


def overwrite(df: DataFrame, table: str, stat_cols: Sequence[str] = ()) -> int:
    """Overwrite commit: tombstones every live file, adds the new ones —
    old versions remain time-travelable until vacuumed."""
    cur = latest_version(table)
    if cur is None:
        return create(df, table, stat_cols)
    _enforce_constraints(df, table, cur)
    live = snapshot_files(table, cur)
    files = _stage_data_files(df, table, table_partition_columns(table, cur))
    ts = _now_ms()
    actions = [
        _commit_info("WRITE", {"mode": "Overwrite"}),
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
            for p in sorted(live)
        ),
        *_add_actions(table, files, stat_cols),
    ]
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    _commit_read_dependent(table, cur + 1, actions, "OVERWRITE")
    return cur + 1


def merge(
    changes: DataFrame,
    table: str,
    keys: Sequence[str],
    delete_col: str | None = None,
    stat_cols: Sequence[str] = (),
) -> int:
    """MERGE INTO the Delta table: source rows win on key match, unmatched
    rows insert, ``delete_col``-flagged rows delete — the relational core
    (`operators.merge.merge_upsert`) applied to the latest snapshot, then
    committed as tombstone-everything + add-result with operation=MERGE.
    Rewriting every file is the copy-on-write strategy; a production
    MERGE narrows the rewrite to files whose key ranges the changeset
    touches (the add-action stats make that file set computable from the
    log — same pruning as ``scan_pruned``)."""
    from march_mania_spark_lakehouse_spark.operators.merge import merge_upsert

    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    spark = changes.sparkSession
    merged = merge_upsert(
        read_delta(spark, table, cur), changes, list(keys), delete_col
    )
    _enforce_constraints(merged, table, cur)
    live = snapshot_files(table, cur)
    files = _stage_data_files(merged, table, table_partition_columns(table, cur))
    ts = _now_ms()
    actions = [
        _commit_info("MERGE", {"matchedPredicates": "update", "keys": ",".join(keys)}),
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
            for p in sorted(live)
        ),
        *_add_actions(table, files, stat_cols),
    ]
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    _commit_read_dependent(table, cur + 1, actions, "MERGE")
    return cur + 1


# --------------------------------------------------------------------------
# Log replay (reader side)
# --------------------------------------------------------------------------


def _read_actions(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _last_checkpoint(table: str) -> dict | None:
    try:
        with open(os.path.join(_log_dir(table), "_last_checkpoint")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _normalize_partition_values(pv) -> dict:
    """partitionValues arrive as a dict from JSON commits but as a list
    of (key, value) pairs from pyarrow's map type when replayed out of a
    parquet checkpoint — normalize so `scan_partitions` sees one shape."""
    if pv is None:
        return {}
    if isinstance(pv, dict):
        return pv
    return dict(pv)


def _checkpoint_files(table: str, cp: dict) -> "list[str]":
    """The parquet file(s) of a ``_last_checkpoint`` pointer, covering
    all three spec layouts: classic single, classic multi-part
    (``parts`` in the pointer), and V2 (UUID-named top-level file —
    its sidecars are resolved while reading)."""
    log = _log_dir(table)
    v = cp["version"]
    parts = cp.get("parts")
    if parts:
        return [
            os.path.join(
                log, f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
            )
            for i in range(1, parts + 1)
        ]
    classic = _checkpoint_path(table, v)
    if os.path.exists(classic):
        return [classic]
    import re as _re

    pre = f"{v:020d}.checkpoint."
    named = sorted(
        n for n in os.listdir(log)
        if n.startswith(pre) and n.endswith(".parquet")
        # a SUPERSEDED multi-part checkpoint at the same version leaves
        # %010d.%010d part files behind; picking one would silently
        # truncate the snapshot — V2 top files are UUID-named
        and not _re.fullmatch(r"\d{10}\.\d{10}\.parquet", n[len(pre):])
    )
    if not named:
        raise FileNotFoundError(f"checkpoint {v} missing for {table}")
    return [os.path.join(log, named[0])]


def _checkpoint_adds(table: str, cp: dict) -> dict[str, dict]:
    """The add actions recorded in a checkpoint (any of the three
    layouts), normalized the way `_replay` wants them."""
    import pyarrow.parquet as pq

    live: dict[str, dict] = {}

    def _take(row: dict) -> None:
        add = row.get("add")
        if add and add.get("path"):
            add["partitionValues"] = _normalize_partition_values(
                add.get("partitionValues")
            )
            # pyarrow surfaces an absent struct as all-null fields
            dv = add.get("deletionVector")
            if dv is not None and dv.get("storageType") is None:
                add["deletionVector"] = None
            live[add["path"]] = add

    side_dir = os.path.join(_log_dir(table), "_sidecars")
    for path in _checkpoint_files(table, cp):
        for row in pq.read_table(path).to_pylist():
            _take(row)
            sc = row.get("sidecar")
            if sc and sc.get("path"):  # V2: adds live in sidecars
                st = pq.read_table(os.path.join(side_dir, sc["path"]))
                for srow in st.to_pylist():
                    _take(srow)
    return live


def _checkpoint_at(table: str, v: int) -> "dict | None":
    """A checkpoint pointer for a checkpoint written AT exactly
    version ``v``, reconstructed from the files on disk —
    ``_last_checkpoint`` only names the NEWEST checkpoint, but older
    checkpoint parquet files survive log cleanup and are complete
    snapshots of their version (the historical seed behind
    `replay_at_checkpoint`)."""
    import re as _re

    log = _log_dir(table)
    if os.path.exists(_checkpoint_path(table, v)):
        return {"version": v, "size": 0}
    pre = f"{v:020d}.checkpoint."
    parts = None
    named = False
    for n in os.listdir(log):
        if not (n.startswith(pre) and n.endswith(".parquet")):
            continue
        m = _re.fullmatch(r"\d{10}\.(\d{10})\.parquet", n[len(pre):])
        if m:
            parts = int(m.group(1))
        else:
            named = True
    if parts:
        return {"version": v, "size": 0, "parts": parts}
    if named:
        return {"version": v, "size": 0}
    return None


def replay_at_checkpoint(table: str, v: int) -> "dict[str, dict] | None":
    """Live {path: add_action} at ``v`` seeded from a checkpoint
    written AT exactly ``v`` — works after log cleanup removed the
    commit tail `_replay` would need (checkpointing a version is how a
    caller keeps it time-travelable past retention, e.g. a streaming
    cursor). None when no such checkpoint exists."""
    cp = _checkpoint_at(table, v)
    if cp is None:
        return None
    return _checkpoint_adds(table, cp)


def _replay(table: str, version: int) -> dict[str, dict]:
    """Reconstruct the live file set {path: add_action} at ``version``
    from the nearest checkpoint ≤ version plus the JSON tail — the
    spec's snapshot-construction algorithm (bounded log reads however
    long the history is)."""
    live: dict[str, dict] = {}
    start = 0
    cp = _last_checkpoint(table)
    if cp is not None and cp["version"] <= version:
        live = _checkpoint_adds(table, cp)
        start = cp["version"] + 1
    for v in range(start, version + 1):
        p = _commit_path(table, v)
        if not os.path.exists(p):
            raise FileNotFoundError(f"missing commit {v} for {table}")
        for a in _read_actions(p):
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
    return live


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """Live data-file names at ``version`` (default: latest)."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    return sorted(_replay(table, v))


def version_at_timestamp(table: str, ts_ms: int) -> int:
    """Version current AS OF ``ts_ms`` (epoch millis): the highest
    version whose commitInfo timestamp is at or before it — the Delta
    TIMESTAMP-AS-OF resolution rule. Reads only the bounded JSON tail
    of the log (one small file per commit, newest-first, stopping at
    the first commit old enough); raises if the timestamp predates the
    table. Commits without commitInfo (foreign writers may omit it —
    it's optional in the protocol) fall back to the commit file's
    mtime."""
    latest = latest_version(table)
    if latest is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    for v in range(latest, -1, -1):
        path = _commit_path(table, v)
        if not os.path.exists(path):
            continue  # cleaned by cleanup_log: not a travel target
        ts = None
        for a in _read_actions(path):
            if "commitInfo" in a:
                ts = a["commitInfo"].get("timestamp")
                break
        if ts is None:
            ts = int(os.path.getmtime(path) * 1000)
        if ts <= ts_ms:
            return v
    raise ValueError(
        f"no commit at or before {ts_ms}; table history starts later"
    )


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    *,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Time-travel reader: the table as of ``version`` (default latest),
    planned from the log's live file set — never a directory listing, so
    staged/tombstoned/future files are invisible, exactly the isolation
    the pointer-file snapshot layer guarantees, now in the interoperable
    format. ``as_of_ms`` resolves a TIMESTAMP-AS-OF read instead (pass
    at most one selector)."""
    if version is not None and as_of_ms is not None:
        raise ValueError("pass at most one of version / as_of_ms")
    if as_of_ms is not None:
        version = version_at_timestamp(table, as_of_ms)
    files = snapshot_files(table, version)
    if not files:
        raise FileNotFoundError(f"{table} snapshot has no data files")
    return _read_files(spark, table, files, version)


def _scan_with_positions(
    spark: SparkSession,
    table: str,
    files: Sequence[str],
    version: int,
    force_positions: bool = False,
    extra_fields: "Sequence | None" = None,
) -> DataFrame:
    """Snapshot scan with the live add actions' DELETION VECTORS
    applied (broadcast anti-join on (file, position) — the
    merge-on-read read path). With ``force_positions`` (or whenever DVs
    exist) the result keeps ``__fp`` (normalized absolute file path)
    and ``__pos`` (physical row index) helper columns. Used by
    `_read_files` (which drops the helpers), the lineage reader
    (``extra_fields``, see `_read_files_raw`), and `delete_where` /
    `update_where` (which need positions to build new DVs — and must
    not re-tombstone already-deleted rows, which DV application here
    guarantees). DV-free tables skip the `_metadata` projection
    entirely."""
    live = _replay(table, version)
    dv_entries = []
    for f in files:
        desc = (live.get(f) or {}).get("deletionVector")
        if desc:
            fp = os.path.abspath(os.path.join(table, f))
            dv_entries.append((fp, desc, None))
    df = _read_files_raw(
        spark, table, files, version,
        with_positions=bool(dv_entries) or force_positions,
        extra_fields=extra_fields,
    )
    if dv_entries:
        dels = _dv_tombstones(spark, table, dv_entries)
        df = df.join(dels, ["__fp", "__pos"], "left_anti")
    return df


def _dv_tombstones(
    spark: SparkSession,
    table: str,
    entries: Sequence[tuple[str, dict, dict | None]],
) -> DataFrame:
    """(abs file path, DV descriptor, optional predecessor descriptor)
    → (__fp, __pos) tombstones through `dv_codec.decode`: decoded on
    the driver for small DV sets, on executors above its gate, so
    driver memory never scales with the tombstones of a 100 TB table.
    With a predecessor descriptor the emitted positions are the diff
    (new − old), the CDC delete-row recovery."""
    loc = functools.partial(deletion_vectors.locate, table)
    return dv_codec.decode(
        spark,
        [(fp, loc(new), loc(old) if old else None) for fp, new, old in entries],
    )


def _fp_norm() -> "Column":
    """``_metadata.file_path`` → the ON-DISK path, or every path-keyed
    broadcast join (DV tombstones, partition-value restoration)
    silently misses files under special-char partition dirs. ONE shared
    implementation with the Iceberg layer — this invariant must never
    diverge between formats (see `iceberg._norm_file_path` for the
    encoding details)."""
    from march_mania_spark_lakehouse_spark.sources.iceberg import (
        _norm_file_path,
    )

    return _norm_file_path()


def _read_files_raw(
    spark: SparkSession,
    table: str,
    files: Sequence[str],
    version: int,
    with_positions: bool = False,
    extra_fields: "Sequence | None" = None,
) -> DataFrame:
    """Declared-schema scan of a file list with hive partition columns
    restored but NO deletion-vector application (the CDC input — a
    change feed must see physically added rows even when later
    tombstoned). ``with_positions`` adds ``__fp``/``__pos``.
    ``extra_fields`` appends nullable physical StructFields to the read
    (null where a file lacks them) — the row-tracking lineage reader's
    hook for MATERIALIZED id columns."""
    from pyspark.sql import types as T

    # one log replay serves schema, partition columns, mapping AND the
    # restoration flag (table_schema / table_partition_columns /
    # column_mapping would each replay the log on their own)
    meta_act = _latest_metadata(table, version)
    if meta_act is None:
        raise FileNotFoundError(f"{table} log has no metaData action")
    schema = T.StructType.fromJson(json.loads(meta_act["schemaString"]))
    part_cols = list(meta_act.get("partitionColumns") or [])
    conf = meta_act.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode")
    fields_json = json.loads(meta_act["schemaString"])["fields"]
    if mode == "name":
        mapping = {
            f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
            for f in fields_json
        }
    else:
        mapping = None
    # columnMapping.mode=id (round 11): resolution by PARQUET FIELD ID
    # — the spec's answer to files whose physical names span rename
    # generations (a synced Iceberg mirror's). Spark matches schema
    # fields carrying `parquet.field.id` metadata by id and the rest
    # (our materialized lineage extras) by name in the same scan.
    id_mode = mode == "id"
    fids = (
        {
            f["name"]: int(f["metadata"]["delta.columnMapping.id"])
            for f in fields_json
        }
        if id_mode
        else {}
    )
    paths = [os.path.join(table, f) for f in files]
    absolute = any(os.path.isabs(f) for f in files)
    # a float→double partition-column widening leaves hive dir strings
    # in the NARROW rendering; the widen commit flips this flag so
    # restoration reads the rewritten (exact-upcast) log values instead
    pv_auth = conf.get("partitionValuesAuthoritative") == "true"
    if not mapping and not id_mode and not absolute and not pv_auth:
        # vanilla layouts: flat declared-schema scan, or hive basePath
        # discovery for partitioned tables (keeps Spark's partition
        # pruning on ad-hoc filters)
        if not part_cols:
            read_schema = T.StructType(
                list(schema.fields) + list(extra_fields or [])
            )
            df = spark.read.schema(read_schema).parquet(*paths)
        else:
            data_schema = T.StructType(
                [f for f in schema.fields if f.name not in part_cols]
                + list(extra_fields or [])
            )
            df = spark.read.schema(data_schema).option(
                "basePath", table
            ).parquet(*paths)
        if with_positions:
            df = df.select(
                "*",
                _fp_norm().alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        if part_cols:
            for f in schema.fields:
                if f.name in part_cols:
                    df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        return df
    # physical-name-aware branch (column mapping, and/or shallow-clone
    # adds whose absolute paths defeat basePath discovery): scan data
    # fields under their PHYSICAL names (identical in every file
    # regardless of rename history), alias back to the version's
    # logical names, and restore partition columns from the ADD
    # ACTIONS' partitionValues — the log is authoritative, so shared
    # hive dirs under a foreign root don't matter. The restoration is a
    # broadcast (file → values) join, file-count-sized. Ad-hoc filters
    # on partition columns lose Spark-side dir pruning here; the
    # log-planned pruned scans (`scan_partitions`/`scan_pruned`) are
    # the scale path either way.
    phys = {f.name: (mapping or {}).get(f.name, f.name) for f in schema.fields}
    if id_mode:
        # partitionValues stay keyed by the recorded physical names
        by_name = {f["name"]: f for f in fields_json}
        phys = {
            f.name: (by_name[f.name].get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in schema.fields
        }
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if id_mode:
        read_schema = T.StructType(
            [
                T.StructField(
                    f.name, f.dataType, f.nullable,
                    {"parquet.field.id": fids[f.name]},
                )
                for f in data_fields
            ]
            + list(extra_fields or [])  # no ids: resolved by name
        )
        # Spark consults this flag at ACTION time, not at `spark.read`
        # time (probed: a set/restore pair around the lazy read yields
        # all-null columns), so it cannot be scoped per-read — the
        # engine's own sessions set it at bootstrap (session.py); this
        # covers externally-built sessions. Only schemas that carry
        # parquet.field.id metadata change behavior under it.
        if spark.conf.get(
            "spark.sql.parquet.fieldId.read.enabled", "false"
        ) != "true":
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = spark.read.schema(read_schema).parquet(*paths)
        keep = [F.col(f.name) for f in data_fields]
    else:
        read_schema = T.StructType(
            [T.StructField(phys[f.name], f.dataType, f.nullable) for f in data_fields]
            + list(extra_fields or [])  # physical names, never mapped
        )
        df = spark.read.schema(read_schema).parquet(*paths)
        keep = [F.col(phys[f.name]).alias(f.name) for f in data_fields]
    keep += [F.col(f.name) for f in (extra_fields or [])]
    keep += [
        _fp_norm().alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    ]
    df = df.select(*keep)
    if part_cols:
        live = _replay(table, version)
        rows = []
        for rel in files:
            pv = _normalize_partition_values(
                (live.get(rel) or {}).get("partitionValues")
            )
            fp = rel if os.path.isabs(rel) else os.path.abspath(
                os.path.join(table, rel)
            )
            rows.append((fp, *[pv.get(phys[c]) for c in part_cols]))
        pv_schema = ", ".join(
            ["__fp string"] + [f"__pv{i} string" for i in range(len(part_cols))]
        )
        pmap = local_df(spark, rows, pv_schema)
        df = df.join(F.broadcast(pmap), "__fp", "left")
        by_name = {f.name: f for f in schema.fields}
        for i, c in enumerate(part_cols):
            raw = F.col(f"__pv{i}")
            df = df.withColumn(
                c,
                F.when(
                    raw != "__HIVE_DEFAULT_PARTITION__", raw
                ).cast(by_name[c].dataType),
            ).drop(f"__pv{i}")
    order = [f.name for f in schema.fields]
    order += [f.name for f in (extra_fields or [])]
    if with_positions:
        order += ["__fp", "__pos"]
    return df.select(*order)


def _read_files(
    spark: SparkSession, table: str, files: Sequence[str], version: int | None
) -> DataFrame:
    # Read under the version's DECLARED schema (metaData action), not
    # whichever file footer Spark samples: post-evolution snapshots then
    # surface pre-evolution files' missing columns as nulls, and column
    # order is the log's, not the listing's. Partition columns are not
    # in the data files (hive layout); basePath-driven discovery
    # restores them, then a cast pins their declared types. Deletion
    # vectors on the live adds are applied before projection.
    v = latest_version(table) if version is None else version
    schema = table_schema(table, v)
    df = _scan_with_positions(spark, table, files, v)
    return df.select(*[f.name for f in schema.fields])


def _pv_token(type_name: str, raw):
    """Normalize ONE partition value — a log string or a caller value —
    to a comparable token. float/double parse NUMERICALLY (the log's
    strings come from the JVM's rendering, scientific below 1e-3,
    while the widen rewrite uses Python repr; string equality would
    match only one generation), with float additionally rounding
    through float32 so callers may pass either the narrow or the
    upcast value. Everything else compares as its canonical string.
    None/__HIVE_DEFAULT_PARTITION__ → None (never matches a caller
    value; NaN never matches anything, as in SQL)."""
    import struct as _struct

    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if type_name in ("float", "double"):
        try:
            x = float(raw)
        except (TypeError, ValueError):
            return None
        if type_name == "float":
            x = _struct.unpack("<f", _struct.pack("<f", x))[0]
        return x
    return str(raw)


def _pv_want(table: str, v: int, values: dict) -> "dict[str, tuple]":
    """{physical partition key: (type name, comparison token)} for a
    caller's equality ``values`` dict."""
    mapping = column_mapping(table, v) or {}
    tname = {f.name: f.dataType.typeName() for f in table_schema(table, v).fields}
    return {
        mapping.get(k, k): (
            tname.get(k, "string"), _pv_token(tname.get(k, "string"), val)
        )
        for k, val in values.items()
    }


def scan_partitions(
    spark: SparkSession,
    table: str,
    values: dict,
    version: int | None = None,
) -> DataFrame:
    """Partition-pruned scan planned FROM THE LOG: keep only files whose
    add-action partitionValues match ``values`` (equality per column —
    numeric for float/double columns, see :func:`_pv_token`) — the
    reader never lists directories, and non-matching partitions
    contribute zero files, zero tasks. Semantically identical to
    ``read_delta(...).filter(...)`` (pinned by test)."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    # partitionValues are keyed by PHYSICAL names on mapped tables
    want = _pv_want(table, v, values)
    keep = [
        path
        for path, add in _replay(table, v).items()
        if all(
            tok is not None
            and _pv_token(t, (add.get("partitionValues") or {}).get(pk)) == tok
            for pk, (t, tok) in want.items()
        )
    ]
    if not keep:
        return read_delta(spark, table, v).filter(F.lit(False))
    return _read_files(spark, table, sorted(keep), v)


def scan_partitions_any(
    spark: SparkSession,
    table: str,
    combos: "Sequence[dict]",
    version: int | None = None,
) -> DataFrame:
    """Partition-pruned scan over MANY partition-value combinations in
    ONE plan: keep files whose add-action partitionValues match ANY of
    ``combos`` (each an equality dict as in :func:`scan_partitions`).
    This is the point-probe shape an incremental index lookup plans —
    a micro-batch touching k of N partitions reads k partitions' files,
    not the table, in a single read (no per-combo plan/union). Driver
    cost is O(files × distinct key-sets): each combo set becomes a hash
    lookup over the add actions' (tokenized — see :func:`_pv_token`)
    partitionValues."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    # resolve mapping/types ONCE — a probe can carry hundreds of combos
    # and each _pv_want call would replay the log for the schema
    mapping = column_mapping(table, v) or {}
    tname = {
        f.name: f.dataType.typeName() for f in table_schema(table, v).fields
    }
    by_keyset: dict[tuple, set] = {}
    types_of: dict[tuple, tuple] = {}
    for c in combos:
        want = {
            mapping.get(k, k): (
                tname.get(k, "string"),
                _pv_token(tname.get(k, "string"), val),
            )
            for k, val in c.items()
        }
        ks = tuple(sorted(want))
        types_of[ks] = tuple(want[k][0] for k in ks)
        by_keyset.setdefault(ks, set()).add(tuple(want[k][1] for k in ks))
    keep = []
    for path, add in _replay(table, v).items():
        pv = add.get("partitionValues") or {}
        for ks, vals in by_keyset.items():
            toks = tuple(
                _pv_token(t, pv.get(k)) for k, t in zip(ks, types_of[ks])
            )
            if toks in vals:
                keep.append(path)
                break
    if not keep:
        return read_delta(spark, table, v).filter(F.lit(False))
    return _read_files(spark, table, sorted(keep), v)


def scan_null(
    spark: SparkSession,
    table: str,
    col: str,
    is_null: bool = True,
    version: int | None = None,
) -> DataFrame:
    """IS NULL / IS NOT NULL scan pruned from the add-action stats'
    nullCount (the `iceberg.scan_null` analogue): for IS NULL skip
    files recording zero nulls in ``col``; for IS NOT NULL skip
    all-null files (nullCount == numRecords). Files without the stat
    are conservatively kept; the exact residual predicate runs after."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    mapping = column_mapping(table, v)
    stat_key = (mapping or {}).get(col, col)
    keep: list[str] = []
    for path, add in _replay(table, v).items():
        stats = json.loads(add.get("stats") or "{}")
        nc = (stats.get("nullCount") or {}).get(stat_key)
        n = stats.get("numRecords")
        if nc is not None:
            if is_null and nc == 0:
                continue
            if not is_null and n is not None and nc == n:
                continue
        keep.append(path)
    pred = F.col(col).isNull() if is_null else F.col(col).isNotNull()
    if not keep:
        return read_delta(spark, table, v).filter(F.lit(False))
    return _read_files(spark, table, sorted(keep), v).filter(pred)


def shallow_clone(table: str, target: str, version: int | None = None) -> int:
    """SHALLOW CLONE: a new Delta table whose v0 references the
    source's live files at ``version`` IN PLACE (absolute paths in the
    add actions — spec-legal) — O(metadata) at any table size, the
    sandbox/experimentation primitive. Writes to the clone never touch
    the source. Composes with the whole feature surface:

    - PARTITIONED sources: each add carries the source's
      partitionValues, and the clone's reads restore partition columns
      from those log values (`_read_files_raw`'s physical-name-aware
      branch) — no dependence on hive dirs under a foreign root;
    - COLUMN-MAPPING sources: the schemaString (with its physicalName
      metadata) and configuration ride into the clone's metaData, so
      the clone scans the shared files under the same physical names;
    - LIVE DELETION VECTORS: "u" descriptors resolve relative to their
      table root, so the clone re-addresses them as ABSOLUTE-path "p"
      descriptors (spec storage type) pointing at the source's
      sidecars — offset/size/cardinality unchanged.

    Same shared-file retention caveat as the lake conversions: vacuum
    on either side must not assume sole ownership."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    if latest_version(target) is not None:
        raise FileExistsError(f"{target} already has a Delta log")
    live = _replay(table, v)
    meta_src = _latest_metadata(table, v) or {}
    has_dv = any(a.get("deletionVector") for a in live.values())
    os.makedirs(target, exist_ok=True)
    adds = []
    for rel, a in sorted(live.items()):
        add = {
            "path": os.path.abspath(os.path.join(table, rel)),
            "partitionValues": _normalize_partition_values(
                a.get("partitionValues")
            ),
            "size": a.get("size"),
            "modificationTime": _now_ms(),
            "dataChange": True,
            **({"stats": a["stats"]} if a.get("stats") else {}),
            # row tracking: ids are table-history-scoped, and the clone
            # inherits the history — carry them (with the hwm below)
            **(
                {
                    "baseRowId": a["baseRowId"],
                    "defaultRowCommitVersion": a.get(
                        "defaultRowCommitVersion"
                    ),
                }
                if a.get("baseRowId") is not None
                else {}
            ),
        }
        dv = a.get("deletionVector")
        if dv:
            if dv.get("storageType") == "u":
                add["deletionVector"] = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        deletion_vectors.dv_file_path(table, dv)
                    ),
                }
            else:  # "p" (already absolute) and "i" (inline) carry over
                add["deletionVector"] = dict(dv)
        adds.append({"add": add})
    proto = dict(DV_PROTOCOL if has_dv else PROTOCOL)
    tracking = _row_tracking_enabled(table, v)
    if tracking:
        proto = _merge_protocol(proto, ROW_TRACKING_PROTOCOL)
    actions = [
        _commit_info(
            "CLONE", {"source": os.path.abspath(table), "sourceVersion": v}
        ),
        {"protocol": proto},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": meta_src["schemaString"],
                "partitionColumns": list(
                    meta_src.get("partitionColumns") or []
                ),
                "configuration": dict(meta_src.get("configuration") or {}),
                "createdTime": _now_ms(),
            }
        },
        *adds,
    ]
    if tracking:
        # the clone's future appends must allocate ABOVE the source's
        # mark or cloned and fresh rows would share ids
        actions.append(_hwm_action(_row_id_high_water_mark(table, v)))
    _write_commit(target, 0, actions)
    return 0


def describe_history(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit — (version, timestamp_ms,
    operation, operation_parameters JSON) from the commitInfo actions,
    read newest-last from the bounded JSON log (commits without
    commitInfo surface with null operation; it is optional in the
    protocol)."""
    latest = latest_version(table)
    if latest is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    rows = []
    for v in range(latest + 1):
        p = _commit_path(table, v)
        if not os.path.exists(p):
            continue
        ci = next(
            (a["commitInfo"] for a in _read_actions(p) if "commitInfo" in a),
            {},
        )
        rows.append(
            (
                v,
                ci.get("timestamp"),
                ci.get("operation"),
                json.dumps(ci.get("operationParameters") or {}, sort_keys=True),
            )
        )
    return local_df(
        spark, rows,
        "version long, timestamp_ms long, operation string, "
        "operation_parameters string",
    )


def describe_detail(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE DETAIL: the one-row table summary — format, table id,
    location, created/last-modified timestamps, partition columns,
    live file count and bytes, table properties, and the effective
    protocol (versions + table features). Everything comes from the
    log (metaData + commitInfo + the live-add replay); no data files
    are opened."""
    v = latest_version(table)
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    md = _latest_metadata(table, v)
    proto = _effective_protocol(table, v)
    live = _replay(table, v)
    last_mod = None
    for w in range(v, -1, -1):
        p = _commit_path(table, w)
        if not os.path.exists(p):
            break
        ci = next(
            (a["commitInfo"] for a in _read_actions(p) if "commitInfo" in a),
            None,
        )
        if ci and ci.get("timestamp") is not None:
            last_mod = ci["timestamp"]
            break
    features = sorted(
        set(proto.get("readerFeatures") or [])
        | set(proto.get("writerFeatures") or [])
    )
    row = (
        "delta",
        md.get("id"),
        md.get("name"),  # path tables have no catalog name
        md.get("description"),
        os.path.abspath(table),
        md.get("createdTime"),
        last_mod,
        list(md.get("partitionColumns") or []),
        [],  # liquid clustering is not a feature of this engine
        len(live),
        sum(int(a.get("size") or 0) for a in live.values()),
        dict(md.get("configuration") or {}),
        int(proto.get("minReaderVersion", 1)),
        int(proto.get("minWriterVersion", 2)),
        features,
    )
    # column set + order match the reference DESCRIBE DETAIL shape
    return local_df(
        spark, [row],
        "format string, id string, name string, description string, "
        "location string, createdAt long, "
        "lastModified long, partitionColumns array<string>, "
        "clusteringColumns array<string>, "
        "numFiles long, sizeInBytes long, "
        "properties map<string,string>, minReaderVersion int, "
        "minWriterVersion int, tableFeatures array<string>",
    )


def inspect_files(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """One row per live add action at a version: (file_path,
    partition_values JSON, size_bytes, record_count, has_deletion_vector)
    — the log-planned file audit, no storage touched."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    rows = []
    for path, add in sorted(_replay(table, v).items()):
        stats = json.loads(add.get("stats") or "{}")
        rows.append(
            (
                path,
                json.dumps(
                    _normalize_partition_values(add.get("partitionValues")),
                    sort_keys=True,
                ),
                add.get("size"),
                stats.get("numRecords"),
                add.get("deletionVector") is not None,
            )
        )
    return local_df(
        spark, rows,
        "file_path string, partition_values string, size_bytes long, "
        "record_count long, has_deletion_vector boolean",
    )


def scan_pruned(
    spark: SparkSession, table: str, col: str, lo, hi, version: int | None = None
) -> DataFrame:
    """Data skipping from add-action stats: open only files whose
    [minValues, maxValues] for ``col`` overlaps [lo, hi] (files lacking
    stats for the column are conservatively kept), then apply the exact
    residual filter. Planner input is the log — KBs — not file footers."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    mapping = column_mapping(table, v)
    stat_key = (mapping or {}).get(col, col)
    keep: list[str] = []
    for path, add in _replay(table, v).items():
        stats = json.loads(add.get("stats") or "{}")
        f_lo = (stats.get("minValues") or {}).get(stat_key)
        f_hi = (stats.get("maxValues") or {}).get(stat_key)
        if f_lo is None or f_hi is None or (f_lo <= hi and f_hi >= lo):
            keep.append(path)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not keep:
        return read_delta(spark, table, v).filter(F.lit(False))
    return _read_files(spark, table, sorted(keep), v).filter(pred)


# --------------------------------------------------------------------------
# Checkpoints & vacuum
# --------------------------------------------------------------------------


def checkpoint(
    table: str,
    version: int | None = None,
    parts: int | None = None,
    v2: bool = False,
) -> int:
    """Write a parquet checkpoint of the snapshot at ``version`` and
    flip ``_last_checkpoint``. Future replays read checkpoint + tail.

    Three spec layouts, all readable by `_replay` AND the clean-room
    reader:

    - classic single-file (default): ``%020d.checkpoint.parquet``;
    - classic MULTI-PART (``parts=N``): add actions split across
      ``%020d.checkpoint.%010d.%010d.parquet`` files, ``parts``
      recorded in ``_last_checkpoint`` — how large tables keep any one
      checkpoint file bounded;
    - V2 (``v2=True``, the v2Checkpoint table feature real writers
      emit): a UUID-named top-level file carrying protocol/metaData, a
      ``checkpointMetadata`` action, and ``sidecar`` actions pointing
      at ``_delta_log/_sidecars/<uuid>.parquet`` files that hold the
      add actions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    live = _replay(table, v)
    # Re-read protocol/metaData so the checkpoint is self-contained,
    # per spec — seeded from the PREVIOUS checkpoint when log cleanup
    # removed the commits that carried them.
    proto, meta = dict(PROTOCOL), None
    start = 0
    prev_cp = _last_checkpoint(table)
    if prev_cp is not None and prev_cp["version"] <= v:
        p0, m0 = _checkpoint_proto_meta(table, prev_cp)
        proto, meta = p0 or proto, m0
        # a stale-layout checkpoint (no configuration / stripped
        # feature lists) refuses to seed — rescan the commit JSONs
        # from 0 so the NEW checkpoint records the full truth
        start = prev_cp["version"] + 1 if (p0 and m0) else 0
    for vv in range(start, v + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "protocol" in a:
                proto = a["protocol"]
            elif "metaData" in a:
                meta = a["metaData"]
    if meta is None:
        raise ValueError(
            f"cannot checkpoint {table}@{v}: no metaData action is "
            "recoverable from the prior checkpoint or surviving commits"
        )
    proto = _norm_protocol(proto)
    dv_type = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int64()),
            ("sizeInBytes", pa.int64()),
            ("cardinality", pa.int64()),
        ]
    )
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            # deletion vectors must survive the checkpoint or replays
            # seeded from it silently resurrect deleted rows
            ("deletionVector", dv_type),
            # row tracking: baseRowId/defaultRowCommitVersion must
            # survive or post-cleanup lineage reads go null
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            # configuration carries live semantics (column mapping,
            # partitionValuesAuthoritative, …) and is part of the
            # spec's checkpoint metaData — dropping it would desync
            # checkpoint-seeded readers
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_type = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # feature lists are part of the protocol action; a
            # checkpoint that strips them leaves minReaderVersion 3
            # with no readerFeatures after log cleanup — spec-invalid
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    # live domain metadata (row-tracking high-water mark, …) is part
    # of the snapshot state per spec: a checkpoint that dropped it
    # would let post-cleanup appends REUSE row ids
    dm_rows = [
        {"domain": d, "configuration": c, "removed": False}
        for d, c in sorted(_collect_domain_metadata(table, v).items())
    ]
    dm_type = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    rows_add: list = [None, None] + [None] * len(dm_rows)
    rows_meta: list = [None, None] + [None] * len(dm_rows)
    rows_proto: list = [proto, None] + [None] * len(dm_rows)
    rows_dm: list = [None, None] + dm_rows
    if meta is not None:
        rows_meta[1] = {
            "id": meta["id"],
            "format": {"provider": meta["format"]["provider"]},
            "schemaString": meta["schemaString"],
            "partitionColumns": meta["partitionColumns"],
            "configuration": sorted(
                (meta.get("configuration") or {}).items()
            ),
            "createdTime": meta.get("createdTime"),
        }
    for add in (live[p] for p in sorted(live)):
        rows_add.append(
            {
                "path": add["path"],
                # pa.map_ takes (key, value) pairs; partitionValues must
                # survive the checkpoint or readers planning from it
                # lose the partition column (caught by the independent
                # reader in tests/test_delta_interop.py).
                "partitionValues": sorted(
                    _normalize_partition_values(add.get("partitionValues")).items()
                ),
                "size": add["size"],
                "modificationTime": add["modificationTime"],
                "dataChange": False,
                "stats": add.get("stats"),
                "deletionVector": add.get("deletionVector"),
                "baseRowId": add.get("baseRowId"),
                "defaultRowCommitVersion": add.get("defaultRowCommitVersion"),
            }
        )
        rows_meta.append(None)
        rows_proto.append(None)
        rows_dm.append(None)
    n_rows = len(rows_add)
    pointer: dict = {"version": v, "size": n_rows}
    if v2:
        # sidecars hold the add actions; the top-level file carries
        # protocol/metaData, the checkpointMetadata marker, and one
        # sidecar action per file
        side_dir = os.path.join(_log_dir(table), "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        adds = [r for r in rows_add if r is not None]
        n_side = max(1, parts or 1)
        chunk = -(-len(adds) // n_side) if adds else 1
        sidecars = []
        for i in range(0, max(len(adds), 1), chunk):
            name = f"{uuid.uuid4().hex}.parquet"
            st = pa.table(
                {"add": pa.array(adds[i: i + chunk], type=add_type)}
            )
            pq.write_table(st, os.path.join(side_dir, name))
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": os.path.getsize(
                        os.path.join(side_dir, name)
                    ),
                    "modificationTime": _now_ms(),
                }
            )
        side_type = pa.struct(
            [
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ]
        )
        cpm_type = pa.struct([("version", pa.int64())])
        # domainMetadata rows ride the TOP-LEVEL file (like protocol/
        # metaData) so a reader seeding domains never opens a sidecar
        k = 3 + len(dm_rows) + len(sidecars)
        pad = [None] * (len(dm_rows) + len(sidecars))
        top = pa.table(
            {
                "protocol": pa.array(
                    [proto, None, None] + pad, type=proto_type
                ),
                "metaData": pa.array(
                    [None, rows_meta[1], None] + pad, type=meta_type
                ),
                "checkpointMetadata": pa.array(
                    [None, None, {"version": v}] + pad, type=cpm_type
                ),
                "domainMetadata": pa.array(
                    [None, None, None]
                    + dm_rows
                    + [None] * len(sidecars),
                    type=dm_type,
                ),
                "sidecar": pa.array(
                    [None] * (3 + len(dm_rows)) + sidecars,
                    type=side_type,
                ),
            }
        )
        top_name = f"{v:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
        pq.write_table(top, os.path.join(_log_dir(table), top_name))
        pointer["size"] = k
    elif parts and parts > 1:
        adds = [r for r in rows_add if r is not None]
        chunk = -(-max(len(adds), 1) // parts)
        for i in range(parts):
            lo = i * chunk
            part_adds = adds[lo: lo + chunk]
            # spec: each checkpoint row is ONE action — protocol,
            # metaData and each domainMetadata get separate leading
            # rows in part 1 (external readers unwrap a single action
            # per row and would drop whichever shared a row)
            head = (2 + len(dm_rows)) if i == 0 else 1
            rows = {
                "protocol": pa.array(
                    ([proto] + [None] * (head - 1) if i == 0 else [None])
                    + [None] * len(part_adds),
                    type=proto_type,
                ),
                "metaData": pa.array(
                    ([None, rows_meta[1]] + [None] * len(dm_rows)
                     if i == 0 else [None])
                    + [None] * len(part_adds),
                    type=meta_type,
                ),
                "domainMetadata": pa.array(
                    ([None, None] + dm_rows if i == 0 else [None])
                    + [None] * len(part_adds),
                    type=dm_type,
                ),
                "add": pa.array([None] * head + part_adds, type=add_type),
            }
            name = (
                f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
            )
            pq.write_table(
                pa.table(rows), os.path.join(_log_dir(table), name)
            )
        pointer["parts"] = parts
    else:
        t = pa.table(
            {
                "protocol": pa.array(rows_proto, type=proto_type),
                "metaData": pa.array(rows_meta, type=meta_type),
                "domainMetadata": pa.array(rows_dm, type=dm_type),
                "add": pa.array(rows_add, type=add_type),
            }
        )
        pq.write_table(t, _checkpoint_path(table, v))
    tmp = os.path.join(_log_dir(table), "_last_checkpoint.tmp")
    with open(tmp, "w") as f:
        json.dump(pointer, f)
    os.replace(tmp, os.path.join(_log_dir(table), "_last_checkpoint"))
    return v


def cleanup_log(
    table: str, retention_ms: int = 30 * 24 * 3600 * 1000
) -> "list[str]":
    """Metadata log cleanup (``delta.logRetentionDuration`` semantics,
    default 30 days): delete commit JSON files STRICTLY BELOW the
    checkpointed version whose mtime passed the retention. The
    checkpoint carries the complete snapshot state — adds with DVs,
    protocol, metaData incl. configuration — and `_latest_metadata` /
    `checkpoint` / `_replay` all seed from it, so current readers and
    future checkpoints never need the cleaned commits. Time travel and
    change feeds into the cleaned range honestly raise (missing
    commit), exactly like real Delta after log cleanup. Run `vacuum`
    BEFORE cleanup when exact tombstone timestamps matter — after
    cleanup, pre-checkpoint tombstoned files are reclaimed by vacuum's
    untracked-debris sweep (same retention guard). Returns deleted
    file names."""
    cp = _last_checkpoint(table)
    if cp is None:
        return []
    # refuse to destroy the only copy of the table metaData: the
    # checkpoint must faithfully record the schema AND configuration
    # still derivable from the surviving commit JSONs (a checkpoint
    # written before the configuration column existed would otherwise
    # silently drop column mapping / CDF flags after cleanup)
    hi = latest_version(table)
    proto_eff, meta_eff = _checkpoint_proto_meta(table, cp)
    raw_meta = raw_proto = None
    for vv in range(hi + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "metaData" in a:
                raw_meta = a["metaData"]
                if vv > cp["version"]:
                    meta_eff = a["metaData"]  # tail override wins
            elif "protocol" in a:
                raw_proto = a["protocol"]
                if vv > cp["version"]:
                    proto_eff = a["protocol"]
    if raw_meta is not None and (
        meta_eff is None
        or meta_eff.get("schemaString") != raw_meta.get("schemaString")
        or dict(meta_eff.get("configuration") or {})
        != dict(raw_meta.get("configuration") or {})
    ):
        raise ValueError(
            f"checkpoint {cp['version']} does not faithfully record the "
            "table metaData (schema/configuration); re-run checkpoint() "
            "before cleanup_log"
        )
    # same gate for the protocol: a checkpoint that stripped the
    # reader/writer feature lists (pre-feature-column layout) must not
    # become the only surviving record — minReaderVersion 3 with no
    # readerFeatures is spec-invalid and external readers reject it
    if raw_proto is not None and _norm_protocol(proto_eff) != _norm_protocol(
        raw_proto
    ):
        raise ValueError(
            f"checkpoint {cp['version']} does not faithfully record the "
            "table protocol (reader/writer features); re-run checkpoint() "
            "before cleanup_log"
        )
    cutoff_ms = _now_ms() - retention_ms
    deleted = []
    for v in range(cp["version"]):
        p = _commit_path(table, v)
        if os.path.exists(p) and os.path.getmtime(p) * 1000 <= cutoff_ms:
            os.unlink(p)
            deleted.append(os.path.basename(p))
    return deleted


def vacuum(table: str, retention_ms: int = 7 * 24 * 3600 * 1000) -> list[str]:
    """Delete data files that are (a) not live in the latest snapshot
    and (b) were tombstoned longer than ``retention_ms`` ago (default
    7 days, the spec's safety default: readers of recent old versions
    must still find their files). Returns deleted names."""
    v = latest_version(table)
    if v is None:
        return []
    live_adds = _replay(table, v)
    live = set(live_adds)
    cutoff = _now_ms() - retention_ms
    removed_at: dict[str, int] = {}
    for vv in range(v + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "remove" in a:
                removed_at[a["remove"]["path"]] = a["remove"]["deletionTimestamp"]
            elif "add" in a:
                removed_at.pop(a["add"]["path"], None)
    deleted = []
    for name, ts in removed_at.items():
        if name not in live and ts <= cutoff:
            fp = os.path.join(table, name)
            if os.path.exists(fp):
                os.unlink(fp)
            deleted.append(name)
    # real VACUUM semantics: the directory walk also reclaims UNTRACKED
    # parquet (never in any add action — the debris of crashed writers
    # and losing concurrent commits), mtime-guarded by the same
    # retention so an in-flight commit's staged files survive
    # one pass over the log collects BOTH the tracked data files and
    # the referenced deletion-vector sidecars (which stay: old versions
    # within retention may still read them; unreferenced sidecars are
    # the debris of retried/crashed DELETE tasks)
    tracked: set[str] = set(removed_at) | set(live)
    dv_referenced: set[str] = set()

    def _track_dv(add: dict) -> None:
        desc = (add or {}).get("deletionVector")
        if desc and desc.get("storageType") in ("u", "p"):
            dv_referenced.add(
                os.path.realpath(deletion_vectors.dv_file_path(table, desc))
            )

    # the LIVE snapshot may be checkpoint-seeded (cleanup_log can have
    # deleted the commits that introduced its adds) — its DV sidecars
    # must never be reclaimed, so collect from the replayed adds FIRST,
    # then from whatever commit JSONs still exist
    for add in live_adds.values():
        _track_dv(add)
    for vv in range(v + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            continue
        for a in _read_actions(p):
            if "add" not in a:
                continue
            tracked.add(a["add"]["path"])
            _track_dv(a["add"])
    for root, dirs, files in os.walk(table):
        dirs[:] = [
            d for d in dirs if not d.startswith(("_", "."))
        ]  # never touch _delta_log / staging
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), table)
            fp = os.path.join(table, rel)
            if fn.startswith("deletion_vector_") and fn.endswith(".bin"):
                if os.path.realpath(fp) not in dv_referenced and (
                    os.path.getmtime(fp) * 1000 <= _now_ms() - retention_ms
                ):
                    os.unlink(fp)
                    deleted.append(rel)
                continue
            if not fn.endswith(".parquet"):
                continue
            if rel not in tracked and os.path.getmtime(fp) * 1000 <= (
                _now_ms() - retention_ms
            ):
                os.unlink(fp)
                deleted.append(rel)
    return sorted(deleted)


# --------------------------------------------------------------------------
# Write–Audit–Publish: the lakehouse pattern that makes a bad batch
# invisible rather than rolled-back. Because readers plan EXCLUSIVELY
# from the log, data files staged into the table directory are not yet
# part of any snapshot — so "audit before the commit lands" is a real
# isolation barrier, not a convention.
# --------------------------------------------------------------------------


class DeltaAuditError(RuntimeError):
    """The staged batch failed its expectations; nothing was published."""

    def __init__(self, violations: dict[str, int]) -> None:
        self.violations = violations
        super().__init__(f"audit failed: {violations}")


def write_audit_publish(
    df: DataFrame,
    table: str,
    expectations: "dict[str, object]",
    stat_cols: Sequence[str] = (),
) -> int:
    """Append with an audit gate: stage the data files, evaluate every
    expectation against EXACTLY the staged bytes (one conditional-
    aggregation pass — re-reading what was written also catches write
    corruption, which auditing the in-memory df would miss), and only
    then commit. On violations the staged files are deleted and
    :class:`DeltaAuditError` carries the per-check counts; the table's
    visible state never changes.

    ``expectations`` maps check name → boolean Column that is True for
    VIOLATING rows (the `operators/dq.violation_counts` convention).
    """
    from march_mania_spark_lakehouse_spark.operators.dq import violation_counts

    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(
            f"{table} has no Delta log — create() the table first, then WAP-append"
        )
    spark = df.sparkSession
    part_cols = table_partition_columns(table, cur)
    files = _stage_data_files(df, table, part_cols)
    # read the staged bytes directly — not yet in any snapshot
    paths = [os.path.join(table, f) for f, _ in files]
    if part_cols:
        staged = spark.read.option("basePath", table).parquet(*paths)
    else:
        staged = spark.read.parquet(*paths)
    report = {
        r["check_name"]: r["n_violations"]
        for r in violation_counts(staged, expectations).collect()
    }
    bad = {k: v for k, v in report.items() if v > 0}
    if bad:
        for f, _ in files:
            fp = os.path.join(table, f)
            if os.path.exists(fp):
                os.unlink(fp)
        raise DeltaAuditError(bad)
    actions = [
        _commit_info("WRITE", {"mode": "Append", "audited": "true"}),
        *_add_actions(table, files, stat_cols),
    ]
    _commit_read_dependent(table, cur + 1, actions, "WAP publish")
    return cur + 1


def optimize(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: Sequence[str] = (),
    stat_cols: Sequence[str] = (),
    target_files: int | None = None,
) -> int:
    """OPTIMIZE: rewrite the live file set into ~target-sized files
    (bin-packing compaction), optionally clustering rows by a z-order
    key over ``zorder_by`` so each output file covers a tight min/max
    box in every clustered dimension — which is what makes the
    add-action stats selective for `scan_pruned` on ANY of those
    columns. Committed as remove(old)+add(new) with dataChange=false
    semantics (same rows, new layout); history stays time-travelable
    and a concurrent reader of the old version still finds its files
    until vacuum.

    Stats default to ``zorder_by`` UNION the columns the live adds
    already carry min/max for when ``stat_cols`` is empty — a
    compaction must not silently drop the skipping stats the
    pre-rewrite adds had."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    from march_mania_spark_lakehouse_spark.sources.iceberg import (
        _compaction_file_count,
    )

    if _row_tracking_enabled(table, cur):
        # lineage survives the rewrite as MATERIALIZED columns — the
        # lineage read's output names ARE the configured materialized
        # names, so staging writes them physically and the reader's
        # coalesce prefers them over baseRowId + position (whose
        # positions this rewrite scrambles)
        df = read_delta_lineage(spark, table, cur)
    else:
        df = read_delta(spark, table, cur)
    live = snapshot_files(table, cur)
    total_bytes = sum(os.path.getsize(os.path.join(table, f)) for f in live)
    # auto-sized like iceberg.optimize: pack to target, floored at the
    # cluster's parallelism so the compacted table still scans wide
    n_out = _compaction_file_count(
        spark, total_bytes, target_file_bytes, target_files
    )
    if zorder_by:
        from march_mania_spark_lakehouse_spark.operators.sketch import zorder_key

        df = (
            df.withColumn("__z", zorder_key([F.col(c) for c in zorder_by]))
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        df = df.coalesce(n_out)
    part_cols = table_partition_columns(table, cur)
    files = _stage_data_files(df, table, part_cols)
    ts = _now_ms()
    actions = [
        _commit_info(
            "OPTIMIZE",
            {"targetSize": target_file_bytes, "zOrderBy": ",".join(zorder_by)},
        ),
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": False}}
            for p in sorted(live)
        ),
        *_add_actions(
            table,
            files,
            stat_cols
            or sorted(set(zorder_by) | set(_live_stat_cols(table, cur))),
        ),
    ]
    # rewrite adds carry dataChange=false: same rows, new layout
    for a in actions:
        if "add" in a:
            a["add"]["dataChange"] = False
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    _commit_read_dependent(table, cur + 1, actions, "OPTIMIZE")
    return cur + 1


def reorg_purge(
    spark: SparkSession, table: str, stat_cols: Sequence[str] = ()
) -> int:
    """REORG TABLE ... APPLY (PURGE): rewrite ONLY the live files that
    carry deletionVector descriptors — materializing their masks into
    clean parquet — and leave every clean file untouched. The commit is
    remove+add with ``dataChange=false`` (same rows, new layout), so
    readers see identical data, change feeds skip it, the sync replays
    it as an ordinary ``replace``, and the DV sidecar references drop
    out of the log head (vacuum reclaims the bitmap files once
    retention passes). Cost is bounded by the DV-CARRYING files' bytes
    — the targeted form of OPTIMIZE for the common shape where deletes
    concentrate in a few files of a huge table. Row tracking: the
    rewritten rows MATERIALIZE their ids (the spec's
    inherit-or-materialize rule; surviving ``_row_id``s are stable).
    Returns the new version — or the current one when no live file
    carries a DV (nothing to purge)."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    live = _replay(table, cur)
    dv_files = sorted(p for p, a in live.items() if a.get("deletionVector"))
    if not dv_files:
        return cur
    if _row_tracking_enabled(table, cur):
        df = read_delta_lineage(spark, table, cur, files=dv_files)
    else:
        df = _scan_with_positions(spark, table, dv_files, cur)
        for c in ("__fp", "__pos"):
            if c in df.columns:
                df = df.drop(c)
    part_cols = table_partition_columns(table, cur)
    files = _stage_data_files(df, table, part_cols)
    ts = _now_ms()
    actions = [
        _commit_info(
            "REORG",
            {"applyPurge": "true", "purgedFiles": str(len(dv_files))},
        ),
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": False}}
            for p in dv_files
        ),
        *_add_actions(
            table, files, stat_cols or _live_stat_cols(table, cur)
        ),
    ]
    for a in actions:
        if "add" in a:
            a["add"]["dataChange"] = False
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    _commit_read_dependent(table, cur + 1, actions, "REORG")
    return cur + 1


def _live_stat_cols(table: str, version: int) -> list[str]:
    """LOGICAL column names whose min/max data-skipping stats the live
    adds carry at ``version`` — the default stat set for full rewrites
    (OPTIMIZE / REPLACE PARTITIONED BY), so a relayout preserves the
    skipping stats the pre-rewrite adds had instead of silently
    dropping them."""
    mapping = column_mapping(table, version) or {}
    phys_to_log = {phys: log for log, phys in mapping.items()}
    phys_cols: set = set()
    for a in _replay(table, version).values():
        stats = a.get("stats")
        if not stats:
            continue
        phys_cols.update((json.loads(stats).get("minValues") or {}).keys())
    return sorted(phys_to_log.get(c, c) for c in phys_cols)


def repartition_table(
    spark: SparkSession,
    table: str,
    partition_by: Sequence[str],
    stat_cols: Sequence[str] = (),
) -> int:
    """REPLACE ... PARTITIONED BY: rewrite the live data under a new
    hive partition layout and declare the new ``partitionColumns`` in
    the SAME commit — the only legal way to change a Delta table's
    partitioning (the spec fixes partitionColumns per metaData action;
    files of two layouts cannot coexist under one). Rows are unchanged,
    so every action carries ``dataChange=false`` (change feeds skip the
    rewrite, the OPTIMIZE rule); row-tracking tables keep their ids
    through materialized lineage columns, positions be damned. The
    mirror sync replays this as ONE Iceberg partition-evolution commit
    (old snapshots keep their old spec — see
    `iceberg._replay_delta_partition_change`)."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    new_parts = list(partition_by)
    if new_parts == table_partition_columns(table, cur):
        return cur
    md = _latest_metadata(table, cur)
    declared = {f.name for f in table_schema(table, cur).fields}
    missing = [c for c in new_parts if c not in declared]
    if missing:
        raise ValueError(
            f"partition column(s) {missing} not in the table schema"
        )
    if _row_tracking_enabled(table, cur):
        df = read_delta_lineage(spark, table, cur)
    else:
        df = read_delta(spark, table, cur)
    live = snapshot_files(table, cur)
    if not stat_cols:
        # a full rewrite must not silently drop the data-skipping
        # stats the pre-rewrite adds carried: default to the column
        # set the live adds recorded min/max for
        stat_cols = _live_stat_cols(table, cur)
    files = _stage_data_files(df, table, new_parts)
    ts = _now_ms()
    actions = [
        _commit_info(
            "REPLACE PARTITIONED BY",
            {"partitionBy": ",".join(new_parts)},
        ),
        {"metaData": {**md, "partitionColumns": new_parts}},
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": False}}
            for p in sorted(live)
        ),
        *_add_actions(table, files, stat_cols),
    ]
    for a in actions:
        if "add" in a:
            a["add"]["dataChange"] = False
    actions = _assign_row_ids(table, cur, actions, cur + 1)
    _commit_read_dependent(table, cur + 1, actions, "REPLACE PARTITIONED BY")
    return cur + 1


def restore(table: str, version: int) -> int:
    """RESTORE: make an older snapshot current again by committing
    forward — remove the files the target version lacks, re-add the
    ones it has that the head dropped (same add metadata, stats
    included), and — per the spec's RESTORE semantics — re-commit the
    TARGET VERSION's metaData when it differs (schema and partition
    layout travel back with the data; files and their declared shape
    must agree). History is never rewritten: the bad intermediate
    versions stay time-travelable and auditable, which is what
    separates RESTORE from a destructive reset. Restored files must
    still exist (i.e. not vacuumed), else this raises before touching
    the log. Two honest gates: restoring across a columnMapping-mode
    change or a rowTracking-enablement change raises (either would
    silently flip resolution/lineage semantics under live state)."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    if not (0 <= version <= cur):
        raise ValueError(f"version {version} not in [0, {cur}]")
    tgt_md = _latest_metadata(table, version)
    head_md = _latest_metadata(table, cur)
    restore_md = tgt_md != head_md
    if restore_md:
        t_conf = tgt_md.get("configuration") or {}
        h_conf = head_md.get("configuration") or {}
        for key in ("delta.columnMapping.mode", "delta.enableRowTracking"):
            if t_conf.get(key) != h_conf.get(key):
                raise NotImplementedError(
                    f"RESTORE to v{version} would change {key!r} "
                    f"({h_conf.get(key)!r} -> {t_conf.get(key)!r}); "
                    "resolution/lineage semantics cannot travel back "
                    "under live state"
                )
    target = _replay(table, version)
    for path in target:
        if not os.path.exists(os.path.join(table, path)):
            raise FileNotFoundError(
                f"cannot RESTORE to v{version}: data file {path} was vacuumed"
            )
    head = _replay(table, cur)
    ts = _now_ms()

    def _dv_key(a: dict):
        d = a.get("deletionVector")
        if d is None:
            return None
        return (d.get("storageType"), d.get("pathOrInlineDv"),
                d.get("offset"), d.get("sizeInBytes"))

    # a file present in BOTH states but with a different DV descriptor
    # (rows deleted — or un-deleted — between target and head) must be
    # re-added with the TARGET's descriptor, or the restore silently
    # keeps the head's tombstones
    dv_changed = sorted(
        p
        for p in set(head) & set(target)
        if _dv_key(head[p]) != _dv_key(target[p])
    )
    actions = [
        _commit_info("RESTORE", {"version": version}),
        *([{"metaData": tgt_md}] if restore_md else []),
        *(
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
            for p in sorted(set(head) - set(target))
        ),
        *(
            {"add": {**target[p], "dataChange": True}}
            for p in sorted(set(target) - set(head))
        ),
        *(
            a
            for p in dv_changed
            for a in (
                {"remove": {"path": p, "deletionTimestamp": ts,
                            "dataChange": True}},
                {"add": {**target[p], "dataChange": True}},
            )
        ),
    ]
    _commit_read_dependent(table, cur + 1, actions, "RESTORE")
    return cur + 1


#: table-features protocol required once deletion vectors appear
#: (Delta PROTOCOL.md: reader 3 / writer 7 + the named feature flags)
DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}

#: writer-features protocol for ROW TRACKING (Delta PROTOCOL.md "Row
#: Tracking": writer feature rowTracking + its domainMetadata
#: dependency; readers that ignore them still read correct rows)
ROW_TRACKING_PROTOCOL = {
    "minReaderVersion": 1,
    "minWriterVersion": 7,
    "writerFeatures": ["domainMetadata", "rowTracking"],
}

ROW_TRACKING_DOMAIN = "delta.rowTracking"
#: physical column names for MATERIALIZED row ids (recorded in table
#: configuration per spec; chosen to match the Iceberg layer's
#: materialized lineage column so shared data files carry ONE id
#: column both formats read)
MATERIALIZED_ROW_ID_COL = "_row_id"
MATERIALIZED_ROW_COMMIT_COL = "_row_commit_version"


def footer_proves_nonnull(path: str, col: str) -> bool:
    """True when the parquet FOOTER alone proves every physical row of
    ``path`` carries a non-null ``col``: the column exists and every
    row group's statistics record null_count == 0. Used by the
    changelog null-id validation (both formats) to skip the row-level
    Spark check — a KB footer read per suspect file instead of a full
    join-and-count job per changelog build (optimization round 13,
    guide §1/§5: no driver-triggered jobs on the query-build path).
    Missing column, missing statistics, or unreadable footer → False
    (the caller falls back to the exact row-level check)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return False
    if md.num_rows == 0:
        return True
    idx = None
    for i in range(md.num_columns):
        # column(i).path_in_schema is the dotted path; top-level
        # lineage columns compare directly
        if md.row_group(0).column(i).path_in_schema == col:
            idx = i
            break
    if idx is None:
        return False
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or st.null_count is None or st.null_count > 0:
            return False
    return True


def _merge_protocol(base: "dict | None", extra: dict) -> dict:
    """Feature-UNION of two protocol actions: re-emitting a protocol
    (DV commits do it defensively) must never DROP features a prior
    upgrade added — a rowTracking table that runs a DV delete keeps
    rowTracking."""
    base = dict(base or PROTOCOL)
    out: dict = {
        "minReaderVersion": max(
            base.get("minReaderVersion", 1), extra.get("minReaderVersion", 1)
        ),
        "minWriterVersion": max(
            base.get("minWriterVersion", 2), extra.get("minWriterVersion", 2)
        ),
    }
    for k in ("readerFeatures", "writerFeatures"):
        fs = set(base.get(k) or []) | set(extra.get(k) or [])
        if fs:
            out[k] = sorted(fs)
    return out


def _new_table_protocol(row_tracking: bool) -> "tuple[dict, dict]":
    """(protocol, configuration) of a new table: the base protocol, or
    with ``row_tracking`` the rowTracking feature (+ its domainMetadata
    dependency, per spec) and the materialized-column names recorded in
    configuration."""
    if not row_tracking:
        return dict(PROTOCOL), {}
    return _merge_protocol(PROTOCOL, ROW_TRACKING_PROTOCOL), {
        "delta.enableRowTracking": "true",
        "delta.rowTracking.materializedRowIdColumnName":
            MATERIALIZED_ROW_ID_COL,
        "delta.rowTracking.materializedRowCommitVersionColumnName":
            MATERIALIZED_ROW_COMMIT_COL,
    }


def _row_tracking_enabled(table: str, version: int) -> bool:
    meta = _latest_metadata(table, version)
    return ((meta or {}).get("configuration") or {}).get(
        "delta.enableRowTracking"
    ) == "true"


def _collect_domain_metadata(table: str, version: int) -> "dict[str, str]":
    """Live {domain: configuration} at ``version`` — checkpoint-seeded
    like `_latest_metadata`, so log cleanup never hides the row-id
    high-water mark. A checkpoint written before domainMetadata support
    (no such column) cannot seed; the scan then starts at 0 and raises
    if cleanup removed commits it needs."""
    domains: "dict[str, str]" = {}
    start = 0
    cp = _last_checkpoint(table)
    if cp is not None and cp["version"] <= version:
        seeded = _checkpoint_domain_metadata(table, cp)
        if seeded is not None:
            domains = dict(seeded)
            start = cp["version"] + 1
    for vv in range(start, version + 1):
        p = _commit_path(table, vv)
        if not os.path.exists(p):
            # when the checkpoint seeded, the scan starts ABOVE it and
            # every commit there must exist; below an UNSEEDABLE
            # checkpoint a missing commit means the domain state is
            # unrecoverable — skipping it would silently reuse row ids
            raise FileNotFoundError(
                f"cannot recover domain metadata for {table}@{version}: "
                f"commit {vv} is missing and no checkpoint records "
                "domainMetadata"
            )
        for a in _read_actions(p):
            dm = a.get("domainMetadata")
            if not dm:
                continue
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration") or "{}"
    return domains


def _checkpoint_domain_metadata(
    table: str, cp: dict
) -> "dict[str, str] | None":
    """Live domains recorded in a checkpoint, or None when the
    checkpoint predates the domainMetadata column (unseedable — same
    refuse-to-seed rule as `_checkpoint_proto_meta`)."""
    import pyarrow.parquet as pq

    domains: "dict[str, str]" = {}
    seen_col = False
    for path in _checkpoint_files(table, cp):
        t0 = pq.read_table(path)
        if "domainMetadata" not in t0.column_names:
            continue
        seen_col = True
        for row in t0.column("domainMetadata").to_pylist():
            if row and row.get("domain") and not row.get("removed"):
                domains[row["domain"]] = row.get("configuration") or "{}"
    return domains if seen_col else None


def _row_id_high_water_mark(table: str, version: int) -> int:
    """Highest row id ever assigned (-1 when none): MONOTONIC per spec
    — ids of removed files are never reused."""
    conf = _collect_domain_metadata(table, version).get(ROW_TRACKING_DOMAIN)
    if conf is None:
        return -1
    return int(json.loads(conf).get("rowIdHighWaterMark", -1))


def _hwm_action(hwm: int) -> dict:
    return {
        "domainMetadata": {
            "domain": ROW_TRACKING_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }


def _assign_row_ids(
    table: str, cur_version: "int | None", actions: "list[dict]",
    intended_version: int, enabled: "bool | None" = None,
) -> "list[dict]":
    """Stamp fresh adds with ``baseRowId`` (a running offset from the
    table's high-water mark; one long per file — zero per-row work) and
    ``defaultRowCommitVersion``; append the advanced high-water-mark
    domainMetadata action. Adds that already carry a baseRowId (DV
    re-adds) keep it AND their original commit version, per spec —
    that is what makes row ids stable under deletes."""
    if enabled is None:
        enabled = cur_version is not None and _row_tracking_enabled(
            table, cur_version
        )
    if not enabled:
        return actions
    hwm = (
        _row_id_high_water_mark(table, cur_version)
        if cur_version is not None
        else -1
    )
    base = hwm + 1
    out = []
    for a in actions:
        add = a.get("add")
        if add is not None and add.get("baseRowId") is None:
            add = dict(add)
            add["baseRowId"] = base
            stats = json.loads(add.get("stats") or "{}")
            n = stats.get("numRecords")
            if n is None:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(
                    os.path.join(table, add["path"])
                    if not os.path.isabs(add["path"])
                    else add["path"]
                ).metadata.num_rows
            base += int(n)
            add["defaultRowCommitVersion"] = intended_version
            a = {"add": add}
        out.append(a)
    if base > hwm + 1 or hwm < 0:
        out.append(_hwm_action(base - 1))
    return out


def read_delta_lineage(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    files: "Sequence[str] | None" = None,
) -> DataFrame:
    """ROW-TRACKING read: the table's declared columns plus ``_row_id``
    and ``_row_commit_version`` (nullable long), per the Delta spec's
    model — symmetric with `iceberg.read_lineage`:

    - an add with ``baseRowId`` INHERITS: ``_row_id = baseRowId +
      physical row position``, ``_row_commit_version =
      defaultRowCommitVersion`` — the zero-cost path every append
      takes (two longs per add action, no data bytes);
    - a file carrying the MATERIALIZED columns (OPTIMIZE output /
      UPDATE carry; names recorded in table configuration) reads them
      physically — how ids survive rewrites;
    - an add with neither surfaces null lineage (pre-enable files).

    Deletion vectors are applied first, so dead rows' ids never
    surface; a surviving row's ``_row_id`` is STABLE across DV
    deletes, OPTIMIZE, and `update_where`'s carry."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    if not _row_tracking_enabled(table, v):
        raise ValueError(
            f"{table} does not have delta.enableRowTracking set — "
            "create(..., row_tracking=True)"
        )
    return _lineage_scan(spark, table, v, files).drop("__fp", "__pos")


def _lineage_scan(
    spark: SparkSession,
    table: str,
    v: int,
    files: "Sequence[str] | None" = None,
) -> DataFrame:
    """`read_delta_lineage`'s scan at version ``v`` (row tracking
    already checked), keeping the ``__fp``/``__pos`` helpers so
    `update_where` can take its DV hits from the same scan."""
    from pyspark.sql import types as T

    live = _replay(table, v)
    # ``files`` restricts the read to a subset of the live set (the
    # targeted-rewrite input, e.g. reorg_purge) — lineage semantics
    # are per-file, so the subset read is exact
    scope = sorted(live) if files is None else sorted(files)
    extra = [
        T.StructField(MATERIALIZED_ROW_ID_COL, T.LongType(), True),
        T.StructField(MATERIALIZED_ROW_COMMIT_COL, T.LongType(), True),
    ]
    df = _scan_with_positions(
        spark, table, scope, v, force_positions=True, extra_fields=extra
    )
    rows = [
        (
            p if os.path.isabs(p) else os.path.abspath(
                os.path.join(table, p)
            ),
            a.get("baseRowId"),
            a.get("defaultRowCommitVersion"),
        )
        for p, a in live.items()
    ]
    lmap = local_df(
        spark, rows, "__lfp string, __base long, __dver long"
    )
    df = df.join(F.broadcast(lmap), df["__fp"] == lmap["__lfp"], "left")
    rid = F.coalesce(
        F.col(MATERIALIZED_ROW_ID_COL), F.col("__base") + F.col("__pos")
    )
    rcv = F.when(
        rid.isNotNull(),
        F.coalesce(F.col(MATERIALIZED_ROW_COMMIT_COL), F.col("__dver")),
    )
    names = [f.name for f in table_schema(table, v).fields]
    return df.select(
        *names,
        rid.alias("_row_id"),
        rcv.alias("_row_commit_version"),
        "__fp",
        "__pos",
    )


def snapshot_diff_changelog(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """SNAPSHOT-DIFF CDC via row tracking — the Delta twin of
    `iceberg.snapshot_diff_changelog`: the row-level changes between
    ANY two versions, computed by joining the two lineage reads on
    ``_row_id``. No commit walk: overwrites, MERGEs, and restores in
    between — which `table_changes` honestly refuses — diff exactly,
    and log cleanup of the intermediate commits is irrelevant.

    insert / delete / update_preimage / update_postimage rows, with
    ``_row_commit_version`` as the update discriminator (a rewrite
    preserves id and version, so OPTIMIZE is invisible for free).
    Cost: two lineage scans + one join on a long key — O(|old| +
    |new|) regardless of the number of versions in between. Raises on
    null-lineage rows (pre-enable files)."""
    v_new = latest_version(table) if to_version is None else to_version
    names = [f.name for f in table_schema(table, v_new).fields]
    # null ids are possible only when some live add lacks baseRowId —
    # and even then the parquet footer usually proves a materialized
    # `_row_id` with zero nulls (OPTIMIZE/update-carry output), which
    # skips the row-level Spark job (see the Iceberg twin)
    def _may_have_null_ids(v: int) -> bool:
        for p, a in _replay(table, v).items():
            if a.get("baseRowId") is None and not footer_proves_nonnull(
                p if os.path.isabs(p) else os.path.join(table, p),
                MATERIALIZED_ROW_ID_COL,
            ):
                return True
        return False

    return lineage_changelog(
        read_delta_lineage(spark, table, from_version),
        read_delta_lineage(spark, table, v_new),
        names,
        "_row_commit_version",
        _may_have_null_ids(from_version) or _may_have_null_ids(v_new),
    )


def _rebase_row_ids(
    table: str, actions: "list[dict]", latest: int, new_version: int
) -> "list[dict]":
    """Blind-append rebase rule for row tracking: a concurrent winner
    may have claimed overlapping row ids, so SHIFT this commit's fresh
    baseRowIds above the winner's high-water mark, restamp
    defaultRowCommitVersion to the retry version, and rewrite the
    hwm action. (Only fresh adds move — a blind append carries no
    re-adds.)"""
    my = [
        a["add"]
        for a in actions
        if "add" in a and a["add"].get("baseRowId") is not None
    ]
    if not my:
        return actions
    winner_hwm = _row_id_high_water_mark(table, latest)
    first = min(add["baseRowId"] for add in my)
    shift = max(0, winner_hwm + 1 - first)
    new_hwm = -1
    out = []
    for a in actions:
        add = a.get("add")
        dm = a.get("domainMetadata")
        if add is not None and add.get("baseRowId") is not None:
            add = dict(add)
            add["baseRowId"] += shift
            add["defaultRowCommitVersion"] = new_version
            stats = json.loads(add.get("stats") or "{}")
            n = stats.get("numRecords")
            if n is None:
                # same footer fallback as _assign_row_ids: defaulting
                # to 1 record would understate the hwm and let later
                # appends overlap this file's row ids
                import pyarrow.parquet as pq

                n = pq.ParquetFile(
                    os.path.join(table, add["path"])
                    if not os.path.isabs(add["path"])
                    else add["path"]
                ).metadata.num_rows
            new_hwm = max(new_hwm, add["baseRowId"] + int(n) - 1)
            out.append({"add": add})
        elif dm is not None and dm.get("domain") == ROW_TRACKING_DOMAIN:
            continue  # re-appended below with the shifted mark
        else:
            out.append(a)
    out.append(_hwm_action(max(new_hwm, winner_hwm)))
    return out


def delete_where(
    spark: SparkSession,
    table: str,
    condition,
    _op: "tuple[str, dict] | None" = None,
) -> int:
    """Merge-on-read DELETE via the protocol's DELETION VECTORS: the
    matched rows' physical positions are roaring-encoded by
    `dv_codec.encode` and written as ``deletion_vector_<uuid>.bin``
    sidecars (`sources/deletion_vectors.py` — Z85 descriptor, portable
    64-bit roaring, CRC-framed blobs); each touched data file is
    re-committed as remove+add with its DV descriptor attached. No data
    file is rewritten. The codec encodes on the driver when the table's
    live rows (from the adds' ``numRecords``) are under its gate, and
    on executors (one sidecar per task, the driver holding only
    descriptors) above it, so a 10⁹-row delete on a 100 TB table
    cannot OOM the driver. Readers pay one broadcast anti-join. A
    second DELETE touching the same file merges with its existing DV
    (the scan below reads through DVs, so already-deleted rows can
    never re-match or double-tombstone). The commit also upgrades the
    table protocol to the deletionVectors table feature, per spec. A
    task retried by the scheduler can leave an orphan (never-committed)
    sidecar, exactly like Delta data-file writers; VACUUM's
    unreferenced-file sweep is the standard cleanup. Returns the
    committed version (current version when nothing matched).

    This is the FIND half (scan + predicate); `_commit_dv_hits` is the
    commit half, shared with `update_where`, which feeds it the hits of
    its own single scan."""
    from pyspark.sql import Column

    pred = F.expr(condition) if isinstance(condition, str) else condition
    assert isinstance(pred, Column)
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    scan = _scan_with_positions(
        spark, table, snapshot_files(table, cur), cur, force_positions=True
    )
    matched = scan.filter(pred)
    preimages = None
    if _cdf_enabled(table, cur):
        # one table scan serves BOTH the DV build and the change-file
        # staging: the lazy checkpoint materializes on the first action
        # (the descriptor collect) and the preimage write reuses it
        matched = matched.localCheckpoint(eager=False)
        preimages = matched.select(
            *[f.name for f in table_schema(table, cur).fields]
        )
    return _commit_dv_hits(
        spark, table, cur, matched.select("__fp", "__pos"), preimages,
        _op or ("DELETE", {"predicate": str(condition)}),
    )


def _write_dv_sidecar(table: str, items: "list[tuple]") -> "list[tuple]":
    """`dv_codec.encode`'s container writer: ONE
    ``deletion_vector_<uuid>.bin`` sidecar holding a DV per ``(data
    file, encode_dv bytes, cardinality)``; returns (file, Z85 path,
    offset, sizeInBytes, cardinality) per DV."""
    descs = deletion_vectors.write_dv_blobs(table, items)
    return [
        (fp, descs[fp]["pathOrInlineDv"], descs[fp]["offset"],
         descs[fp]["sizeInBytes"], n)
        for fp, _, n in items
    ]


def _commit_dv_hits(
    spark: SparkSession,
    table: str,
    cur: int,
    hits: DataFrame,
    preimages: "DataFrame | None",
    op: "tuple[str, dict]",
) -> int:
    """The COMMIT half of a merge-on-read delete: DV-encode ``hits``
    (``__fp``/``__pos`` of live rows read at version ``cur``), stage
    ``preimages`` as change files when given (change data feed on), and
    commit at ``cur + 1`` — read-dependent, so a concurrent commit
    since ``cur`` fails it. ``op`` is the commitInfo (operation,
    parameters); an UPDATE's preimages are labelled update_preimage.
    Returns the committed version (``cur`` when ``hits`` is empty)."""
    live = _replay(table, cur)
    base = os.path.abspath(table)
    # files that already carry a DV: the codec merges their positions in
    old: dict[str, dict] = {}
    rows_bound: "int | None" = 0
    for k, add in live.items():
        n = json.loads((add or {}).get("stats") or "{}").get("numRecords")
        rows_bound = None if rows_bound is None or n is None else rows_bound + n
        desc = (add or {}).get("deletionVector")
        if desc:
            fp = k if os.path.isabs(k) else os.path.abspath(
                os.path.join(base, k)
            )
            old[fp] = old[os.path.realpath(fp)] = deletion_vectors.locate(
                table, desc
            )
    desc_rows = dv_codec.encode(
        hits.select(F.col("__fp").alias("fp"), F.col("__pos").alias("pos")),
        rows_bound,
        old,
        functools.partial(_write_dv_sidecar, table),
    )
    if not desc_rows:
        return cur
    # map scanned physical paths back to their REPLAY keys: normally
    # table-relative, but shallow-cloned adds carry absolute paths to
    # shared files outside the clone root
    by_real = {
        os.path.realpath(
            k if os.path.isabs(k) else os.path.join(base, k)
        ): k
        for k in live
    }
    cdc_actions: list[dict] = []
    if preimages is not None:
        # explicit change files (delta.enableChangeDataFeed): persist
        # the matched rows BEFORE the commit lands, from the SAME
        # checkpointed scan the DV build consumed; an UPDATE's delete
        # half labels them update_preimage
        label = "update_preimage" if op[0] == "UPDATE" else "delete"
        cdc_actions = _stage_cdc_file(preimages, table, label)
    ts = _now_ms()
    actions: list[dict] = [
        _commit_info(*op),
        # feature-UNION: upgrading to deletionVectors must not drop
        # rowTracking (or any other) feature the table already carries
        {
            "protocol": _merge_protocol(
                _effective_protocol(table, cur), DV_PROTOCOL
            )
        },
        *cdc_actions,
    ]
    rel_rows = []
    for r in desc_rows:
        rel = by_real.get(os.path.realpath(r[0]))
        if rel is None:
            rel = os.path.relpath(r[0], base)
        rel_rows.append((rel, r))
    for rel, (_, dv, offset, size, card) in sorted(rel_rows):
        old = live[rel]
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": ts,
                    "dataChange": True,
                }
            }
        )
        new_add = {k: v for k, v in old.items()}
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": dv,
            "offset": int(offset),
            "sizeInBytes": int(size),
            "cardinality": int(card),
        }
        new_add["dataChange"] = True
        new_add["modificationTime"] = ts
        actions.append({"add": new_add})
    _commit_read_dependent(table, cur + 1, actions, "DELETE")
    return cur + 1


class DeltaNonAppendChangeError(RuntimeError):
    """The requested change range contains a rewrite commit (overwrite/
    merge/restore), whose file-level actions are not row-level changes."""


def _cdf_enabled(table: str, version: int) -> bool:
    meta = _latest_metadata(table, version)
    return ((meta or {}).get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"


def _stage_cdc_file(
    df: DataFrame, table: str, change_type: str
) -> "list[dict]":
    """Persist change rows + ``_change_type`` under ``_change_data/``
    and return their ``cdc`` actions (spec: dataChange=false — change
    files never count as table data). Columns are stored under their
    PHYSICAL names (like data files), so the feed reads them back
    through the current mapping after any rename; partition columns
    ride INLINE, so one flat layout serves every table shape."""
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    mapping = column_mapping(table)
    if mapping:
        df = df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )
    df.withColumn("_change_type", F.lit(change_type)).write.mode(
        "overwrite"
    ).parquet(staging)
    os.makedirs(os.path.join(table, "_change_data"), exist_ok=True)
    out: list[dict] = []
    for root, dirs, files in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            rel = os.path.join(
                "_change_data", f"cdc-{uuid.uuid4().hex}.parquet"
            )
            os.rename(os.path.join(root, fn), os.path.join(table, rel))
            out.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(table, rel)),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(staging)
    return out


def _cdc_files_of(table: str, version: int) -> "list[str]":
    return [
        a["cdc"]["path"]
        for a in _read_actions(_commit_path(table, version))
        if "cdc" in a
    ]


def _cdc_pieces(
    spark: SparkSession, table: str, hi: int, rels: "list[str]",
) -> "list[DataFrame]":
    """Read a commit's explicit change files verbatim (labels were
    written by the producing operation), aliased back to version
    ``hi``'s logical names through the stable physical names."""
    from pyspark.sql import types as T

    schema = table_schema(table, hi)
    mapping = column_mapping(table, hi) or {}
    read_schema = T.StructType(
        [
            T.StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in schema.fields
        ]
        + [T.StructField("_change_type", T.StringType(), True)]
    )
    df = spark.read.schema(read_schema).parquet(
        *[os.path.join(table, r) for r in sorted(rels)]
    )
    return [
        df.select(
            *[
                F.col(mapping.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ],
            "_change_type",
        )
    ]


def _commit_row_changes(
    table: str,
    v: int,
    dv_state: "dict[str, dict | None]",
    include_deletes: bool,
) -> "tuple[list, list]":
    """One commit's row-level change plan against the carried DV state
    (MUTATED in place): returns (added [(log path, add-time dv,
    partitionValues)], deleted [(log path, new dv, predecessor dv,
    partitionValues)]). Raises :class:`DeltaNonAppendChangeError` on
    commits that rewrite data files. The shared walker under
    `table_changes` (range-aggregated), `table_changes_cdf`
    (per-commit) and the streaming sources in `pydatasource`: the DV
    state threads FORWARD, so an N-commit range costs one log replay
    total, never one per commit. Paths stay the log's keys:
    shallow-clone adds are absolute, and relpath-ing them back under a
    foreign root breaks the scan's path handling."""
    p = _commit_path(table, v)
    if not os.path.exists(p):
        raise FileNotFoundError(f"missing commit {v} for {table}")
    actions = _read_actions(p)
    removes = {
        a["remove"]["path"]
        for a in actions
        if "remove" in a and a["remove"].get("dataChange", True)
    }
    adds = [
        a["add"] for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]
    if not removes:
        # an add can CARRY a deletion vector (shallow-clone v0 /
        # RESTORE re-add): those positions were dead before the file
        # entered the feed, so they are NOT inserts — track the
        # descriptor to subtract them from the insert rows
        if include_deletes:
            for a in adds:
                dv_state[a["path"]] = a.get("deletionVector")
        return [
            (a["path"], a.get("deletionVector"),
             a.get("partitionValues") or {})
            for a in adds
        ], []
    readd = {a["path"]: a for a in adds}
    is_dv_delete = (
        include_deletes
        and set(readd) == removes
        and all(a.get("deletionVector") for a in readd.values())
    )
    if not is_dv_delete:
        raise DeltaNonAppendChangeError(
            f"commit {v} rewrites data files; this change feed "
            "cannot represent it as row-level changes"
        )
    deleted: list = []
    for path, a in readd.items():
        deleted.append(
            (path, a["deletionVector"], dv_state.get(path),
             a.get("partitionValues") or {})
        )
        dv_state[path] = a["deletionVector"]
    return [], deleted


def _change_pieces(
    spark: SparkSession,
    table: str,
    hi: int,
    names: "list[str]",
    added: list,
    deleted: list,
    ins_label: str,
    del_label: str,
) -> "list[DataFrame]":
    """insert/delete DataFrame pieces for a change plan, every file
    read under version ``hi``'s declared schema (the CDF contract: one
    view — the final one; renamed columns resolve through their stable
    physical names, later-added columns surface as null)."""
    pieces: list[DataFrame] = []
    if added:
        add_dvs = [
            (
                p if os.path.isabs(p) else os.path.abspath(
                    os.path.join(table, p)
                ),
                d,
                None,
            )
            for p, d, _ in added
            if d
        ]
        ins = _read_files_raw(
            spark, table, sorted(p for p, _, _ in added), hi,
            with_positions=bool(add_dvs),
        )
        if add_dvs:
            ins = ins.join(
                _dv_tombstones(spark, table, add_dvs),
                ["__fp", "__pos"],
                "left_anti",
            )
        pieces.append(
            ins.select(*names).withColumn("_change_type", F.lit(ins_label))
        )
    if deleted:
        raw = _read_files_raw(
            spark, table, sorted({p for p, _, _, _ in deleted}), hi,
            with_positions=True,
        )
        tomb = _dv_tombstones(
            spark,
            table,
            [
                (os.path.abspath(os.path.join(table, p)), new, old)
                for p, new, old, _ in deleted
            ],
        )
        dead = raw.join(tomb, ["__fp", "__pos"])
        pieces.append(
            dead.select(*names).withColumn("_change_type", F.lit(del_label))
        )
    return pieces


def table_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    include_deletes: bool = False,
) -> DataFrame:
    """Row-level change feed for commits in
    ``(from_version, to_version]``, read straight from the log's
    dataChange actions — the downstream incremental-refresh input
    (`operators/ivm.py`): refresh cost tracks the delta, never the
    table.

    Default (``include_deletes=False``): append-only — the ADDED rows;
    any commit with dataChange removes (overwrite / MERGE / RESTORE /
    DV DELETE) raises :class:`DeltaNonAppendChangeError`.

    ``include_deletes=True``: the result carries a ``_change_type``
    column ('insert' / 'delete') and DELETION-VECTOR delete commits
    decompose exactly: a DV commit re-adds each touched file with a
    grown bitmap, so the deleted rows are (new DV − previous DV)
    positions, recovered by reading ONLY the touched files at those
    positions. Appends emit their rows RAW as inserts (a row inserted
    and DV-deleted inside the range emits both — net zero, the CDC
    contract). True rewrites still raise — remove+add of different
    files does not decompose into row-level changes.
    OPTIMIZE commits (dataChange=false) are correctly invisible either
    way."""
    hi = latest_version(table) if to_version is None else to_version
    if hi is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    # DV state (descriptor per live file) as of the range start —
    # needed to diff a DELETE commit's bitmap against its predecessor
    dv_state: dict[str, dict | None] = {}
    if include_deletes:
        dv_state = {
            p: a.get("deletionVector")
            for p, a in _replay(table, from_version).items()
        }
    added: list = []
    deleted: list = []
    for v in range(from_version + 1, hi + 1):
        a2, d2 = _commit_row_changes(table, v, dv_state, include_deletes)
        added.extend(a2)
        deleted.extend(d2)
    if not include_deletes:
        if not added:
            return read_delta(spark, table, hi).filter(F.lit(False))
        # _read_files applies the snapshot's live DVs, so add-time
        # tombstones (clone v0) are correctly excluded here
        return _read_files(spark, table, sorted(p for p, _, _ in added), hi)
    names = [f.name for f in table_schema(table, hi).fields]
    pieces = _change_pieces(
        spark, table, hi, names, added, deleted, "insert", "delete"
    )
    if not pieces:
        return read_delta(spark, table, hi).filter(F.lit(False)).withColumn(
            "_change_type", F.lit("insert")
        )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


def _commit_operation(table: str, version: int) -> "tuple[str | None, dict]":
    """(operation, operationParameters) of a commit's commitInfo —
    (None, {}) when the commit carries none."""
    for a in _read_actions(_commit_path(table, version)):
        if "commitInfo" in a:
            ci = a["commitInfo"]
            return ci.get("operation"), ci.get("operationParameters") or {}
    return None, {}


def table_changes_cdf(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Standard Delta CDF view of the change feed: ``_change_type`` ∈
    insert / delete / update_preimage / update_postimage plus
    ``_commit_version``, every piece read under the FINAL version's
    schema (renames resolve through stable physical names,
    later-added columns surface as null).

    `update_where` lands as a DV-delete commit and an append commit
    tagged ``operation=UPDATE`` with a shared ``updateId``; this reader
    pairs them back: the tombstoned rows re-emit as update_preimage
    and the appended images as update_postimage, BOTH stamped with the
    pair's final (append) version — the version `update_where`
    returned, i.e. the version at which the update is complete. Every
    other commit keeps :func:`table_changes`' insert/delete
    decomposition, stamped with its own version. A delete half whose
    write twin is missing (crash between the two commits) or beyond
    ``to_version`` degrades to plain deletes — never mislabeled.

    Cost: ONE forward walk — the DV state is replayed once at the
    range start and threaded through every commit
    (`_commit_row_changes`); plan size is O(commits with changes),
    which per-version stamping inherently needs."""
    hi = latest_version(table) if to_version is None else to_version
    if hi is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    dv_state: dict[str, dict | None] = {
        p: a.get("deletionVector")
        for p, a in _replay(table, from_version).items()
    }
    names = [f.name for f in table_schema(table, hi).fields]

    def _stamp(ps: "list[DataFrame]", ver: int) -> "list[DataFrame]":
        return [
            p.withColumn("_commit_version", F.lit(ver).cast("long"))
            for p in ps
        ]

    def _commit_pieces(
        v: int, ins_label: str, del_label: str, paired: bool = True
    ) -> list:
        # DV state always threads forward; when the commit carries
        # EXPLICIT change files (delta.enableChangeDataFeed), read them
        # verbatim — labels were written by the producing operation —
        # instead of deriving. When the update PAIRING failed (twin
        # missing or beyond to_version), the staged labels degrade the
        # same way the derived path does: an unpaired update_preimage
        # IS a plain delete at this version, an unpaired
        # update_postimage IS a plain insert (no commit stages both
        # halves — update_where is two commits).
        a2, d2 = _commit_row_changes(table, v, dv_state, True)
        rels = _cdc_files_of(table, v)
        if rels:
            ps = _cdc_pieces(spark, table, hi, rels)
            if not paired:
                ps = [
                    p.withColumn(
                        "_change_type",
                        F.when(
                            F.col("_change_type") == "update_preimage",
                            F.lit("delete"),
                        )
                        .when(
                            F.col("_change_type") == "update_postimage",
                            F.lit("insert"),
                        )
                        .otherwise(F.col("_change_type")),
                    )
                    for p in ps
                ]
            return ps
        return _change_pieces(
            spark, table, hi, names, a2, d2, ins_label, del_label
        )

    pieces: list[DataFrame] = []
    v = from_version + 1
    while v <= hi:
        op, params = _commit_operation(table, v)
        if op == "UPDATE" and params.get("phase") == "delete" and v < hi:
            nop, nparams = _commit_operation(table, v + 1)
            if nop == "UPDATE" and nparams.get("updateId") == params.get(
                "updateId"
            ):
                pre = _commit_pieces(v, "insert", "update_preimage")
                post = _commit_pieces(v + 1, "update_postimage", "delete")
                pieces.extend(_stamp(pre + post, v + 1))
                v += 2
                continue
        pieces.extend(
            _stamp(_commit_pieces(v, "insert", "delete", paired=False), v)
        )
        v += 1
    if not pieces:
        return (
            read_delta(spark, table, hi)
            .filter(F.lit(False))
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0).cast("long"))
        )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


# --------------------------------------------------------------------------
# Column mapping (protocol `delta.columnMapping.mode = name`): rename /
# drop columns without rewriting a byte. Logical names live in the
# schemaString; each field's metadata pins a PHYSICAL name
# (`delta.columnMapping.physicalName`) + id that never change, so every
# data file — before or after any rename — stores the same physical
# columns and one alias pass restores the logical view. (Contrast the
# Iceberg layer, where files written without field-ids need
# per-generation name resolution; Delta's fixed physical names make
# the read path one select.)
# --------------------------------------------------------------------------


class DeltaColumnMappingError(ValueError):
    """A schema-surgery request the mapping cannot express safely."""


def column_mapping(table: str, version: int | None = None) -> "dict[str, str] | None":
    """logical name → physical name at ``version``; None when the table
    has no column mapping (mode absent)."""
    v = latest_version(table) if version is None else version
    if v is None:
        return None  # staging the very first commit: no log yet
    meta = _latest_metadata(table, v)
    if (meta.get("configuration") or {}).get("delta.columnMapping.mode") != "name":
        return None
    fields = json.loads(meta["schemaString"])["fields"]
    return {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in fields
    }


def enable_column_mapping(table: str) -> int:
    """Upgrade commit: flip ``delta.columnMapping.mode`` to ``name`` and
    pin every existing field's physical name to its CURRENT logical
    name (existing data files already store exactly those columns, so
    the upgrade is metadata-only and instantly consistent). Partitioned
    tables compose: add-action partitionValues and hive dirs are keyed
    by PHYSICAL names — identical to the logical ones at enable time,
    so existing adds need no rewrite, and post-enable writes/reads
    translate through the mapping (`_stage_data_files` /
    `_read_files_raw` / `scan_partitions`)."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    meta = _latest_metadata(table, cur)
    if (meta.get("configuration") or {}).get("delta.columnMapping.mode") == "name":
        return cur  # already enabled
    schema = json.loads(meta["schemaString"])
    for i, f in enumerate(schema["fields"], start=1):
        md = dict(f.get("metadata") or {})
        md["delta.columnMapping.id"] = i
        md["delta.columnMapping.physicalName"] = f["name"]
        f["metadata"] = md
    conf = dict(meta.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(len(schema["fields"]))
    new_meta = {**meta, "schemaString": json.dumps(schema), "configuration": conf}
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("UPGRADE COLUMN MAPPING", {"mode": "name"}),
            {"metaData": new_meta},
        ],
        "UPGRADE COLUMN MAPPING",
    )
    return cur + 1


def rename_column(table: str, old: str, new: str) -> int:
    """RENAME COLUMN — metadata-only: the logical name changes, the
    physical name (and id) stay, zero files rewritten. Auto-upgrades
    the table to column mapping on first use. Time travel to an older
    version reads under that version's schemaString, i.e. the old name."""
    if "." in old or "." in new:
        raise NotImplementedError(
            "nested field rename: this engine resolves nested members "
            "by NAME inside the struct group, so old files would "
            "surface null under the new name — top-level renames only"
        )
    cur = latest_version(table)
    if column_mapping(table, cur) is None:
        cur = enable_column_mapping(table)
    meta = _latest_metadata(table, cur)
    schema = json.loads(meta["schemaString"])
    names = {f["name"] for f in schema["fields"]}
    if old not in names:
        raise KeyError(f"{old!r} not in table schema")
    if new in names:
        raise DeltaColumnMappingError(f"{new!r} already in table schema")
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    # partitionColumns is the LOGICAL view (physical names live in the
    # field metadata / partitionValues keys) — keep it in sync
    part_cols = [
        new if c == old else c for c in (meta.get("partitionColumns") or [])
    ]
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("RENAME COLUMN", {"old": old, "new": new}),
            {
                "metaData": {
                    **meta,
                    "schemaString": json.dumps(schema),
                    "partitionColumns": part_cols,
                }
            },
        ],
        "RENAME COLUMN",
    )
    return cur + 1


def drop_column(table: str, col: str) -> int:
    """DROP COLUMN — metadata-only: the field leaves the schemaString,
    the physical bytes stay (time travel still surfaces them). The
    physical name is retired with it: a column later re-added under the
    same LOGICAL name gets a fresh ``col-<uuid>`` physical name (see
    `append(merge_schema=True)`), so it can never resurrect the dropped
    bytes. Auto-upgrades to column mapping (dropping without mapping
    would break on a future re-add).

    ``col`` may be a DOTTED PATH (``"info.flag"``): the member leaves
    the struct's declared shape and the path is RETIRED in table
    configuration (nested members resolve by name, so the name-keyed
    gate replaces the physical-name protection top-level drops get
    from column mapping). The last member of a struct cannot drop."""
    cur = latest_version(table)
    if "." in col:
        meta = _latest_metadata(table, cur)
        schema = json.loads(meta["schemaString"])
        *path, leaf = col.split(".")
        parent = _navigate_delta_struct(schema["fields"], path)
        if not any(f["name"] == leaf for f in parent):
            raise KeyError(f"{col!r} not in table schema")
        if len(parent) == 1:
            raise DeltaColumnMappingError(
                f"cannot drop the last member of struct "
                f"{'.'.join(path)!r}; drop the whole column instead"
            )
        parent[:] = [f for f in parent if f["name"] != leaf]
        conf = dict(meta.get("configuration") or {})
        retired = _retired_nested(conf) | {col}
        conf[RETIRED_NESTED_KEY] = json.dumps(sorted(retired))
        _commit_read_dependent(
            table,
            cur + 1,
            [
                _commit_info("DROP COLUMN", {"column": col}),
                {
                    "metaData": {
                        **meta,
                        "schemaString": json.dumps(schema),
                        "configuration": conf,
                    }
                },
            ],
            "DROP COLUMN",
        )
        return cur + 1
    if column_mapping(table, cur) is None:
        cur = enable_column_mapping(table)
    meta = _latest_metadata(table, cur)
    schema = json.loads(meta["schemaString"])
    if col not in {f["name"] for f in schema["fields"]}:
        raise KeyError(f"{col!r} not in table schema")
    if len(schema["fields"]) == 1:
        raise DeltaColumnMappingError("cannot drop the last column")
    if col in (meta.get("partitionColumns") or []):
        raise DeltaColumnMappingError(
            f"{col!r} is a partition column; repartition the table "
            "(overwrite) before dropping it"
        )
    schema["fields"] = [f for f in schema["fields"] if f["name"] != col]
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("DROP COLUMN", {"column": col}),
            {"metaData": {**meta, "schemaString": json.dumps(schema)}},
        ],
        "DROP COLUMN",
    )
    return cur + 1


def update_where(
    spark: SparkSession,
    table: str,
    condition,
    assignments: dict,
    stat_cols: Sequence[str] = (),
) -> int:
    """Merge-on-read UPDATE (the Delta twin of `iceberg.update_where`):
    deletion-vector the matched live rows, append their updated images.
    ``assignments`` maps column → Column/SQL expression over the
    PRE-update row. Two commits (DELETE then WRITE), both tagged
    ``operation=UPDATE`` with a shared ``updateId`` so
    :func:`table_changes_cdf` reads the pair back as standard CDF
    update_preimage/update_postimage rows. ONE scan of the table at
    the read version is checkpointed with the updated images, the
    matched rows' ``__fp``/``__pos`` (the DV hits) and, with the change
    data feed on, their pre-images; the DV commit (`_commit_dv_hits`)
    is conflict-checked against that version. Returns the final version
    (unchanged on no match)."""
    pred = F.expr(condition) if isinstance(condition, str) else condition
    v = latest_version(table)
    schema = table_schema(table, v)
    names = [f.name for f in schema.fields]
    unknown = set(assignments) - set(names)
    if unknown:
        # a typo'd assignment name must be an error, not a silent no-op
        raise KeyError(
            f"UPDATE assignments reference non-columns: {sorted(unknown)} "
            f"(table columns: {names})"
        )
    tracking = _row_tracking_enabled(table, v)
    if tracking:
        # lineage-preserving UPDATE: the new images CARRY their
        # _row_id as a materialized column (same row, new version);
        # the write commit's defaultRowCommitVersion becomes their
        # _row_commit_version — exactly the spec's update contract
        scan = _lineage_scan(spark, table, v)
    else:
        files = snapshot_files(table, v)
        if not files:
            raise FileNotFoundError(f"{table} snapshot has no data files")
        scan = _scan_with_positions(
            spark, table, files, v, force_positions=True
        )
    exprs = [
        (
            (F.expr(assignments[n]) if isinstance(assignments[n], str)
             else assignments[n]).alias(n)
            if n in assignments
            else F.col(n)
        )
        for n in names
    ]
    if tracking:
        exprs.append(F.col(MATERIALIZED_ROW_ID_COL))
    # with the change data feed on, the checkpoint also carries the
    # pre-images (the delete half's change file), under helper names
    pre = (
        [f"__pre{i}" for i in range(len(names))]
        if _cdf_enabled(table, v)
        else []
    )
    matched = scan.filter(pred).select(
        *exprs, "__fp", "__pos",
        *[F.col(n).alias(p) for n, p in zip(names, pre)],
    ).localCheckpoint()
    if not matched.head(1):
        return v
    updated = matched.drop("__fp", "__pos", *pre)
    # constraints must reject BEFORE the delete commit lands, or a
    # violating UPDATE would half-apply (rows deleted, images refused)
    _enforce_constraints(updated, table, v)
    uid = uuid.uuid4().hex
    preimages = (
        matched.select(*[F.col(p).alias(n) for n, p in zip(names, pre)])
        if pre
        else None
    )
    _commit_dv_hits(
        spark, table, v, matched.select("__fp", "__pos"), preimages,
        ("UPDATE", {
            "updateId": uid, "phase": "delete",
            "predicate": str(condition),
        }),
    )
    return append(
        updated, table, stat_cols=stat_cols,
        _op=("UPDATE", {"updateId": uid, "phase": "write"}),
        _cdc_label="update_postimage",
    )


#: writer feature for column defaults (Delta PROTOCOL.md "Default
#: Columns"): the default expression rides the field metadata and
#: applies at WRITE time only
DEFAULTS_PROTOCOL = {
    "minReaderVersion": 1,
    "minWriterVersion": 7,
    "writerFeatures": ["allowColumnDefaults"],
}

#: configuration key recording dropped NESTED field paths. Top-level
#: drops are resurrection-safe through column mapping (a re-add gets a
#: fresh physical name), but this engine's readers resolve NESTED
#: members by NAME inside the struct group — so a retired nested name
#: must stay retired or a re-add would surface the dropped bytes.
#: (Reference Delta solves this with per-nested-field physical names;
#: the name-keyed gate preserves the same safety under name-resolution
#: reader semantics.)
RETIRED_NESTED_KEY = "spark_graft.nested.retiredPaths"


def _navigate_delta_struct(
    fields: "list[dict]", path: "list[str]"
) -> "list[dict]":
    """The json field list of the nested STRUCT at dotted ``path``
    inside a schemaString's fields (mutations hit the caller's copy).
    Missing segment → KeyError; non-struct segment → the honest gate
    (list/map interiors have no names to address)."""
    cur = fields
    for i, seg in enumerate(path):
        by = {f["name"]: f for f in cur}
        if seg not in by:
            raise KeyError(f"{'.'.join(path[: i + 1])!r} not in table schema")
        t = by[seg]["type"]
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise NotImplementedError(
                f"{'.'.join(path[: i + 1])!r} is not a struct; nested "
                "evolution addresses struct fields only (list/map "
                "interiors are gated)"
            )
        cur = t["fields"]
    return cur


def _retired_nested(conf: dict) -> "set[str]":
    return set(json.loads(conf.get(RETIRED_NESTED_KEY, "[]")))


def add_column(
    table: str, name: str, type_str: str, write_default=None
) -> int:
    """ADD COLUMN — metadata-only (one metaData action; zero files
    touched). ``write_default`` declares the spec's
    ``allowColumnDefaults`` writer feature and records the default as
    the field's ``CURRENT_DEFAULT`` metadata: future appends that OMIT
    the column are filled at write time. Rows written before the add —
    and rows whose batch omitted the column before a default existed —
    read back null: Delta defaults are WRITE-TIME ONLY per the public
    spec, deliberately unlike Iceberg's retroactive ``initial-default``
    (`iceberg.add_column`); the engine preserves each format's real
    semantics rather than papering over the difference. Returns the
    new version."""
    from pyspark.sql import types as T

    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    meta = _latest_metadata(table, cur)
    schema_json = json.loads(meta["schemaString"])
    if "." in name:
        # dotted path: the new field lands INSIDE a struct — old files
        # read it as null (parquet missing-subfield semantics); no
        # defaults (write-time fill is top-level machinery) and no
        # re-use of a retired nested name
        if write_default is not None:
            raise NotImplementedError(
                "defaults on a nested field add are not supported — "
                "write-time fill is top-level machinery"
            )
        *path, leaf = name.split(".")
        parent = _navigate_delta_struct(schema_json["fields"], path)
        if any(f["name"] == leaf for f in parent):
            raise ValueError(f"{name!r} already in table schema")
        conf = dict(meta.get("configuration") or {})
        if name in _retired_nested(conf):
            raise DeltaColumnMappingError(
                f"nested name {name!r} was dropped; re-adding it would "
                "resurrect the old files' bytes (nested reads resolve "
                "by name) — pick a fresh name"
            )
        dt = T._parse_datatype_string(type_str)
        parent.append(
            {
                "name": leaf,
                "type": dt.jsonValue(),
                "nullable": True,
                "metadata": {},
            }
        )
        _commit_read_dependent(
            table,
            cur + 1,
            [
                _commit_info("ADD COLUMN", {"column": name, "type": type_str}),
                {"metaData": {**meta, "schemaString": json.dumps(schema_json)}},
            ],
            "ADD COLUMN",
        )
        return cur + 1
    if any(f["name"] == name for f in schema_json["fields"]):
        raise ValueError(f"{name!r} already in table schema")
    dt = T._parse_datatype_string(type_str)
    fld = {"name": name, "type": dt.jsonValue(), "nullable": True,
           "metadata": {}}
    actions: list[dict] = [
        _commit_info("ADD COLUMN", {"column": name, "type": type_str}),
    ]
    if write_default is not None:
        sql_lit = (
            "'" + str(write_default).replace("'", "''") + "'"
            if isinstance(write_default, str)
            else repr(write_default)
        )
        fld["metadata"]["CURRENT_DEFAULT"] = sql_lit
        actions.append(
            {
                "protocol": _merge_protocol(
                    _effective_protocol(table, cur), DEFAULTS_PROTOCOL
                )
            }
        )
    conf = dict(meta.get("configuration") or {})
    mapping = column_mapping(table, cur)
    if mapping is not None:
        # column-mapping table: fresh physical name + id (protocol rule)
        max_id = int(conf.get("delta.columnMapping.maxColumnId", "0")) + 1
        fld["metadata"]["delta.columnMapping.id"] = max_id
        fld["metadata"]["delta.columnMapping.physicalName"] = (
            f"col-{uuid.uuid4().hex[:16]}"
        )
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
    schema_json["fields"].append(fld)
    actions.append(
        {
            "metaData": {
                **meta,
                "schemaString": json.dumps(schema_json),
                "configuration": conf,
            }
        }
    )
    _commit_read_dependent(table, cur + 1, actions, "ADD COLUMN")
    return cur + 1


_WIDEN_OK = {("integer", "long"), ("float", "double")}


def widen_column(table: str, col: str, new_type: str) -> int:
    """WIDEN COLUMN TYPE — metadata-only (the protocol's typeWidening
    table feature, value-preserving promotions only: int → long,
    float → double): a new metaData action re-declares the field wider;
    zero files rewritten, old files' narrower physical values upcast
    exactly on the declared-schema scan. Add-action stats are JSON
    numbers, so min/max pruning is type-agnostic across the boundary.

    PARTITION columns widen too (round 8): their values are log
    metadata, not data bytes, so the same commit rewrites every live
    add's partitionValues string under the widened type. int → long
    strings are already canonical decimals (no rewrite needed);
    float → double re-renders each value as the EXACT upcast double
    (cast("0.1" as float) upcasts to 0.10000000149…, not the double
    0.1) and flips the table to log-authoritative partition
    restoration (`partitionValuesAuthoritative` configuration — hive
    dir strings still carry the narrow rendering, so dir-discovery
    restoration would re-interpret them under the wide type and
    silently shift every float partition value). scan_partitions'
    string equality stays consistent across the boundary: old
    rewritten adds and new wide-typed writes render identically.
    Returns the new version."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    meta = _latest_metadata(table, cur)
    schema = json.loads(meta["schemaString"])
    if "." in col:
        # dotted path: promote a struct member in place (same
        # metadata-only rule; old files' narrower nested values upcast
        # on the declared-schema scan)
        *path, leaf = col.split(".")
        parent = _navigate_delta_struct(schema["fields"], path)
        by_leaf = {f["name"]: f for f in parent}
        if leaf not in by_leaf:
            raise KeyError(f"{col!r} not in table schema")
        old_type = by_leaf[leaf]["type"]
        if old_type == new_type:
            return cur
        if not isinstance(old_type, str) or (
            old_type, new_type
        ) not in _WIDEN_OK:
            raise ValueError(
                f"{old_type} -> {new_type} is not a sanctioned promotion "
                f"(allowed: {sorted(_WIDEN_OK)})"
            )
        by_leaf[leaf]["type"] = new_type
        _commit_read_dependent(
            table,
            cur + 1,
            [
                _commit_info(
                    "WIDEN COLUMN", {"column": col, "type": new_type}
                ),
                {"metaData": {**meta, "schemaString": json.dumps(schema)}},
            ],
            "WIDEN COLUMN",
        )
        return cur + 1
    by_name = {f["name"]: f for f in schema["fields"]}
    if col not in by_name:
        raise KeyError(f"{col!r} not in table schema")
    old_type = by_name[col]["type"]
    if old_type == new_type:
        return cur
    if (old_type, new_type) not in _WIDEN_OK:
        raise ValueError(
            f"{old_type} -> {new_type} is not a sanctioned promotion "
            f"(allowed: {sorted(_WIDEN_OK)})"
        )
    for f in schema["fields"]:
        if f["name"] == col:
            f["type"] = new_type
    new_meta = {**meta, "schemaString": json.dumps(schema)}
    pv_actions: list[dict] = []
    if col in (meta.get("partitionColumns") or []) and old_type == "float":
        import struct as _struct

        mapping = column_mapping(table, cur) or {}
        pcol = mapping.get(col, col)
        ts = _now_ms()
        for rel, add in sorted(_replay(table, cur).items()):
            pv = dict(_normalize_partition_values(add.get("partitionValues")))
            s = pv.get(pcol)
            if s in (None, "__HIVE_DEFAULT_PARTITION__"):
                continue
            # the exact double the narrow float upcasts to
            wide = _struct.unpack("<f", _struct.pack("<f", float(s)))[0]
            if repr(wide) == s:
                continue
            pv[pcol] = repr(wide)
            pv_actions.append(
                {"remove": {"path": rel, "deletionTimestamp": ts,
                            "dataChange": False}}
            )
            pv_actions.append(
                {"add": {**add, "path": rel, "partitionValues": pv,
                         "dataChange": False, "modificationTime": ts}}
            )
        conf = dict(new_meta.get("configuration") or {})
        conf["partitionValuesAuthoritative"] = "true"
        new_meta["configuration"] = conf
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("WIDEN COLUMN", {"column": col, "to": new_type}),
            {"metaData": new_meta},
            *pv_actions,
        ],
        "WIDEN COLUMN",
    )
    return cur + 1


# --------------------------------------------------------------------------
# CHECK constraints + NOT NULL invariants (protocol `delta.constraints.*`
# configuration + schema nullability): declarative write-time data
# quality. Enforcement costs ONE extra scan of the BATCH (all active
# constraints folded into a single filter probe), never of the table —
# the contract that keeps it viable on a 100 TB table taking small
# appends.
# --------------------------------------------------------------------------


class DeltaConstraintViolationError(ValueError):
    """A write batch violated an active CHECK / NOT NULL constraint."""


def add_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>) — stored as
    `delta.constraints.<name>` in the table configuration (protocol),
    enforced against every subsequent write batch. The EXISTING rows
    are validated first (one scan of the table — the same semantics as
    Delta's ADD CONSTRAINT, which fails if current data violates)."""
    cur = latest_version(table)
    if cur is None:
        raise FileNotFoundError(f"{table} has no Delta log")
    existing = read_delta(spark, table, cur).filter(f"NOT ({expr})")
    if existing.head(1):
        raise DeltaConstraintViolationError(
            f"existing rows violate CHECK ({expr}); constraint not added"
        )
    meta = _latest_metadata(table, cur)
    conf = dict(meta.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("ADD CONSTRAINT", {"name": name, "expr": expr}),
            {"metaData": {**meta, "configuration": conf}},
        ],
        "ADD CONSTRAINT",
    )
    return cur + 1


def drop_constraint(table: str, name: str) -> int:
    cur = latest_version(table)
    meta = _latest_metadata(table, cur)
    conf = dict(meta.get("configuration") or {})
    if conf.pop(f"delta.constraints.{name}", None) is None:
        raise KeyError(f"no constraint named {name!r}")
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("DROP CONSTRAINT", {"name": name}),
            {"metaData": {**meta, "configuration": conf}},
        ],
        "DROP CONSTRAINT",
    )
    return cur + 1


def set_not_null(spark: SparkSession, table: str, col: str) -> int:
    """Declare ``col`` non-nullable (schema invariant). Existing rows
    are validated first; subsequent writes enforce it with the CHECK
    machinery (a NOT NULL is the constraint `col IS NOT NULL`)."""
    cur = latest_version(table)
    if read_delta(spark, table, cur).filter(F.col(col).isNull()).head(1):
        raise DeltaConstraintViolationError(
            f"existing rows have NULL {col}; invariant not added"
        )
    meta = _latest_metadata(table, cur)
    schema = json.loads(meta["schemaString"])
    if col not in {f["name"] for f in schema["fields"]}:
        raise KeyError(f"{col!r} not in table schema")
    for f in schema["fields"]:
        if f["name"] == col:
            f["nullable"] = False
    conf = dict(meta.get("configuration") or {})
    conf[f"delta.constraints.not_null_{col}"] = f"{col} IS NOT NULL"
    _commit_read_dependent(
        table,
        cur + 1,
        [
            _commit_info("SET NOT NULL", {"column": col}),
            {
                "metaData": {
                    **meta,
                    "schemaString": json.dumps(schema),
                    "configuration": conf,
                }
            },
        ],
        "SET NOT NULL",
    )
    return cur + 1


def _active_constraints(table: str, version: int) -> list[str]:
    """Only EXPLICIT constraints (the `delta.constraints.*` config keys)
    are enforced — `set_not_null` registers one alongside the nullable
    flag. Schemas inherited from source DataFrames carry incidental
    nullable=false flags (literals, parquet required fields) that were
    never a declared contract; enforcing those retroactively broke
    legitimate appends."""
    meta = _latest_metadata(table, version)
    if meta is None:
        return []
    return [
        expr
        for key, expr in sorted((meta.get("configuration") or {}).items())
        if key.startswith("delta.constraints.")
    ]


def _enforce_constraints(df: DataFrame, table: str, version: int) -> None:
    """One combined filter probe over the write batch; raises with the
    first violated predicate. Runs BEFORE staging so a violating write
    leaves zero trace (no files, no commit)."""
    exprs = _active_constraints(table, version)
    if not exprs:
        return
    # a column the batch omits entirely reads back as NULL — evaluate
    # each constraint against the batch WITH missing columns nulled,
    # so "x IS NOT NULL" correctly rejects a batch that dropped x
    have = set(df.columns)
    probe = df
    schema = table_schema(table, version)
    for f in schema.fields:
        if f.name not in have:
            probe = probe.withColumn(f.name, F.lit(None).cast(f.dataType))
    combined = " AND ".join(f"({e})" for e in exprs)
    if probe.filter(f"NOT ({combined})").head(1):
        for e in exprs:  # find the specific one for the error message
            if probe.filter(f"NOT ({e})").head(1):
                raise DeltaConstraintViolationError(
                    f"write batch violates CHECK ({e}); nothing committed"
                )
