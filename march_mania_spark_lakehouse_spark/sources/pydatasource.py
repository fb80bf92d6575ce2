"""Custom connectors via the Python Data Source API (Spark 4).

Two kinds of source live here:

- ``synthetic_docs`` / ``synthetic_docs_stream``: a deterministic
  synthetic documents generator (seeded per partition, no RNG state
  shared across tasks). The batch reader declares its own partitioning,
  so Spark schedules one task per split exactly like a file scan — the
  pattern for wrapping any external system as a first-class table.
- four streaming sources over the lake tables: ``delta_table_stream``
  and ``iceberg_table_stream`` (append-only) and ``delta_table_cdc``
  and ``iceberg_table_cdc`` (row-level changes in ``_change_type``).
  Offsets are Delta versions or Iceberg sequence numbers.

The table sources are ``SimpleDataSourceStreamReader``s: Spark runs
them in its Python data-source worker, which has no SparkSession, so a
micro-batch is materialized with pyarrow — the documented fit for
control-plane-rate streams, traded against the batch change feeds'
executor scans. What they share with batch is the planning: Delta
commits are walked by `delta_log._commit_row_changes` (the walker
under `delta_log.table_changes`), Iceberg ranges by
`iceberg.change_feed_entries`, and deletion vectors decode through
`deletion_vectors`. Each format turns a data file into rows in one
function (`_DeltaFiles.rows`, `_iceberg_rows`, both over `_file_rows`),
and one row-id diff (`_rid_diff`) serves both formats' lineage
recovery.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs").option("rows", N)`` after
    ``spark.dataSource.register(SyntheticDocsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id bigint, text string, part int"

    def reader(self, schema) -> DataSourceReader:  # noqa: ARG002 (API signature)
        return _SyntheticDocsReader(self.options)


_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")


class _SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 100))
        self.parts = int(options.get("partitions", 4))

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        i = partition.value
        for d in range(i, self.rows, self.parts):
            text = " ".join(_WORDS[(d + j) % len(_WORDS)] for j in range(5 + d % 7))
            yield (d, text, i)


# --------------------------------------------------------------------------
# Streaming side of the same connector: a SimpleDataSourceStreamReader
# that emits the document sequence in offset-tracked micro-batches.
# Offsets are {"index": n} dicts checkpointed by Spark — restarts resume
# from the committed offset, and readBetweenOffsets() regenerates any
# replayed range deterministically (same contract a Kafka-style source
# honors; determinism here plays the role of the broker's log).
# The simple reader runs on the driver, which is the documented fit for
# low-rate control-plane streams; high-throughput sources implement the
# partition-planning DataSourceStreamReader instead.
# --------------------------------------------------------------------------


def _doc_row(d: int) -> tuple:
    text = " ".join(_WORDS[(d + j) % len(_WORDS)] for j in range(5 + d % 7))
    return (d, text, d % 4)


class _SyntheticDocsStreamReader:
    def __init__(self, options: dict) -> None:
        self.max_rows = int(options.get("maxrows", 200))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        # Contract: return ALL data available past `start` plus the next
        # start offset — availableNow snapshots exactly one read() call,
        # so chunking here would silently truncate the drain. `maxrows`
        # is the source's current high-water mark (a later run with a
        # higher mark resumes from the checkpointed offset).
        i = int(start["index"])
        end = max(i, self.max_rows)
        return (iter([_doc_row(d) for d in range(i, end)]), {"index": end})

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_doc_row(d) for d in range(int(start["index"]), int(end["index"]))])

    def commit(self, end: dict) -> None:
        pass  # nothing external to ack; determinism is the replay log


class SyntheticDocsStreamDataSource(DataSource):
    """``spark.readStream.format("synthetic_docs_stream")`` with option
    ``maxrows``, the source's current high-water mark: an availableNow
    run drains up to it and terminates; a later run with a higher mark
    resumes from the checkpointed offset."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs_stream"

    def schema(self) -> str:
        return "doc_id bigint, text string, part int"

    def simpleStreamReader(self, schema):  # noqa: ARG002 (API signature)
        return _SyntheticDocsStreamReader(self.options)


# --------------------------------------------------------------------------
# Streaming FROM lake tables. Offsets are Delta table versions or Iceberg
# sequence numbers; committed versions and snapshots are immutable, so a
# replayed range is deterministic. A micro-batch is the batch change plan
# (`delta_log._commit_row_changes`, `iceberg.change_feed_entries`)
# materialized row by row: these readers run in Spark's Python
# data-source worker, which has no SparkSession, so each format turns a
# data file into rows with pyarrow through `_file_rows`.
# --------------------------------------------------------------------------


def _file_rows(
    path: str,
    cols: list,
    fills: "dict | None" = None,
    phys: "dict | None" = None,
    dead=(),
    want=None,
):
    """(position, value tuple) for each row of one data file, in file
    order: ``cols`` read under their physical names ``phys`` (Delta
    column mapping), partition columns from ``fills``, a column the
    file lacks as null. Positions in ``dead`` are skipped; ``want``
    emits only those positions, in its order."""
    import pyarrow.parquet as pq

    fills, phys = fills or {}, phys or {}
    recs = pq.read_table(path).to_pylist()
    for pos in range(len(recs)) if want is None else want:
        if pos not in dead:
            rec = recs[pos]
            yield pos, tuple(
                fills[c] if c in fills else rec.get(phys.get(c, c))
                for c in cols
            )


def _rid_diff(old: list, new: list) -> list:
    """delete/insert batch between two [(vals, row id, row version)]
    states keyed by row id: a row whose version moved is an update and
    emits its pre- and post-image."""
    old_by = {rid: (ver, vals) for vals, rid, ver in old}
    new_by = {rid: (ver, vals) for vals, rid, ver in new}
    rows = []
    for rid, (ver, vals) in sorted(old_by.items()):
        if rid not in new_by or new_by[rid][0] > ver:
            rows.append(vals + ("delete",))
    for rid, (ver, vals) in sorted(new_by.items()):
        if rid not in old_by or ver > old_by[rid][0]:
            rows.append(vals + ("insert",))
    return rows


def _starting_mode(options: dict, key: str) -> str:
    """The CDC sources' expired-history policy (option ``key``):
    'earliest' (default) replays the full retained history and RAISES
    on an expired range; 'latest' starts a fresh checkpoint at the
    current high-water mark (no backfill); 'retained' re-bootstraps on
    expiry — when the next range is no longer replayable (log cleanup /
    expire_snapshots outran the checkpoint), the batch degrades to the
    FULL CURRENT SNAPSHOT tagged ``_change_type='bootstrap_insert'``
    and the stream continues from the head. Downstream state must treat
    a bootstrap batch as a RESET (replace, not merge) — that is the
    production recovery contract: rebuild from the snapshot, then
    resume incremental."""
    mode = (options.get(key) or "earliest").lower()
    if mode not in ("earliest", "latest", "retained"):
        raise ValueError(
            f"option {key} must be 'earliest', 'latest' or 'retained'; "
            f"got {mode!r}"
        )
    return mode


def _decimal(v, type_name: str):
    """``v`` as a Decimal quantized to the DECLARED scale of
    ``type_name`` (the batch scan's rule: a log string or manifest value
    is canonical but may drop trailing zeros)."""
    import decimal
    import re

    m = re.match(r"decimal\((\d+),\s*(-?\d+)\)", type_name)
    d = decimal.Decimal(v)
    if m:
        d = d.quantize(decimal.Decimal(1).scaleb(-int(m.group(2))))
    return d


def _cast_pv(s: "str | None", spark_type_name: str):
    """Hive partition values are strings in the Delta log; cast per the
    declared Spark type. The streaming readers' counterpart of the
    batch scan's partition-cast pass."""
    if s is None or s == "__HIVE_DEFAULT_PARTITION__":
        return None
    if spark_type_name in ("bigint", "int", "smallint", "tinyint"):
        return int(s)
    if spark_type_name in ("double", "float"):
        return float(s)
    if spark_type_name == "boolean":
        return s == "true"
    if spark_type_name == "date":
        import datetime

        return datetime.date.fromisoformat(s)
    if spark_type_name.startswith("timestamp"):
        import datetime

        return datetime.datetime.fromisoformat(s)
    if spark_type_name == "string":
        return s
    if spark_type_name.startswith("decimal"):
        return _decimal(s, spark_type_name)
    raise NotImplementedError(
        f"partition type {spark_type_name!r} in a streaming source"
    )


class _DeltaFiles:
    """Rows of a Delta table's data files under version ``v``'s declared
    columns: data columns read under their physical names (column
    mapping), partition columns restored from each add's
    partitionValues, keyed by physical name too."""

    def __init__(self, table: str, v: int) -> None:
        from march_mania_spark_lakehouse_spark.sources import delta_log

        schema = delta_log.table_schema(table, v)
        mapping = delta_log.column_mapping(table, v) or {}
        parts = set(delta_log.table_partition_columns(table, v))
        self.table = table
        self.cols = [f.name for f in schema.fields]
        self.phys = {c: mapping.get(c, c) for c in self.cols}
        self.part_types = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name in parts
        }

    def rows(self, rel: str, pv: "dict | None", dv=None, want=None, extra=()):
        """`_file_rows` of log path ``rel``, its add-time deletion vector
        ``dv`` applied; ``pv`` None reads partition columns from the
        file itself (change files carry them inline)."""
        from march_mania_spark_lakehouse_spark.sources import deletion_vectors

        fills = (
            {}
            if pv is None
            else {
                c: _cast_pv(pv.get(self.phys[c]), t)
                for c, t in self.part_types.items()
            }
        )
        return _file_rows(
            os.path.join(self.table, rel),
            self.cols + list(extra),
            fills,
            self.phys,
            set(deletion_vectors.read_dv(self.table, dv)) if dv else (),
            want,
        )


class _DeltaStreamReader:
    """Offsets are Delta versions; ``_batch(lo, hi)`` is the micro-batch
    for the commits in (lo, hi]."""

    def __init__(self, options: dict) -> None:
        self.table = options["path"]

    def initialOffset(self) -> dict:
        return {"version": -1}

    def read(self, start: dict):
        from march_mania_spark_lakehouse_spark.sources import delta_log

        lo = int(start["version"])
        hi = delta_log.latest_version(self.table)
        if hi is None or hi <= lo:
            return (iter(()), {"version": lo})
        # materialized list, not a generator: Spark's runner pickles the
        # returned iterable for prefetch bookkeeping
        return (self._batch(lo, hi), {"version": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        # restart replays bypass the prefetch cache and hand this value
        # straight to the runner, which requires an ITERATOR (lists fail
        # the DATA_SOURCE_INVALID_RETURN_TYPE check)
        return iter(self._batch(int(start["version"]), int(end["version"])))

    def commit(self, end: dict) -> None:
        pass  # committed versions are immutable — the log IS the ack


class _DeltaTableStreamReader(_DeltaStreamReader):
    """The rows appended since the checkpointed version (append-only,
    as `delta_log.table_changes`): any commit removing data raises; an
    add carrying a deletion vector (shallow-clone v0 / RESTORE re-add)
    enters without its dead rows."""

    def _batch(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import delta_log

        added = [
            a
            for v in range(lo + 1, hi + 1)
            for a in delta_log._commit_row_changes(self.table, v, {}, False)[0]
        ]
        files = _DeltaFiles(self.table, hi)
        return [
            vals for rel, dv, pv in added for _, vals in files.rows(rel, pv, dv)
        ]


def _plain_schema(fields, *extra):
    """StructType of ``fields`` without field metadata, plus ``extra``:
    metadata-bearing fields (columnMapping) trip the streaming sink's
    schema assertions, and physical names are a reader concern."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in fields]
        + list(extra)
    )


def _change_type_field():
    from pyspark.sql import types as T

    return T.StructField("_change_type", T.StringType(), False)


class DeltaTableStreamDataSource(DataSource):
    """``spark.readStream.format("delta_table_stream").option("path", t)``
    after registering: each micro-batch carries the rows appended to the
    Delta table since the checkpointed version."""

    @classmethod
    def name(cls) -> str:
        return "delta_table_stream"

    def schema(self):
        from march_mania_spark_lakehouse_spark.sources import delta_log

        return _plain_schema(delta_log.table_schema(self.options["path"]).fields)

    def simpleStreamReader(self, schema):  # noqa: ARG002 (API signature)
        return _DeltaTableStreamReader(self.options)


class _DeltaTableCdcStreamReader(_DeltaStreamReader):
    """Row-level CDC micro-batches from a Delta table — the streaming
    twin of `delta_log.table_changes(include_deletes=True)`, walking
    the same `_commit_row_changes` plan, and the Delta mirror of
    `_IcebergTableCdcStreamReader`. Appended rows are inserts; a
    DELETION-VECTOR delete commit re-adds each touched file with a
    grown bitmap, so its deleted rows are the (new DV − predecessor DV)
    positions, read from ONLY the touched files. A commit carrying
    explicit change files (delta.enableChangeDataFeed) feeds from them
    alone. True rewrites (overwrite/MERGE/RESTORE) raise; OPTIMIZE
    commits (dataChange=false) are invisible."""

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.starting = _starting_mode(options, "starting_version")

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            from march_mania_spark_lakehouse_spark.sources import delta_log

            v = delta_log.latest_version(self.table)
            return {"version": -1 if v is None else v}
        return {"version": -1}

    def _live_rows(self, files: _DeltaFiles, live: dict) -> list:
        """[(values, row id, row commit version)] of every row live in
        ``live`` ({log path: add}), files in path order; ids and
        versions per row tracking (a materialized column overrides
        baseRowId / defaultRowCommitVersion), None where a row has
        none."""
        out = []
        for rel, add in sorted(live.items()):
            base = add.get("baseRowId")
            for pos, vals in files.rows(
                rel,
                add.get("partitionValues") or {},
                add.get("deletionVector"),
                extra=("_row_id", "_row_commit_version"),
            ):
                rid, ver = vals[-2:]
                if rid is None and base is not None:
                    rid = base + pos
                if ver is None:
                    ver = add.get("defaultRowCommitVersion")
                out.append((vals[:-2], rid, ver))
        return out

    def _changes(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import (
            deletion_vectors,
            delta_log,
        )

        dv_state = {
            p: a.get("deletionVector")
            for p, a in delta_log._replay(self.table, lo).items()
        }
        added, deleted, cdc_rels = [], [], []
        for v in range(lo + 1, hi + 1):
            a2, d2 = delta_log._commit_row_changes(self.table, v, dv_state, True)
            rels = delta_log._cdc_files_of(self.table, v)
            if rels:
                # the spec rule: a commit WITH change files feeds from
                # them alone (the producing op wrote the labels, incl.
                # update pre/post images); its DV state still threads
                cdc_rels.extend(rels)
            else:
                added.extend(a2)
                deleted.extend(d2)
        files = _DeltaFiles(self.table, hi)

        def dv_set(dv) -> set:
            return set(deletion_vectors.read_dv(self.table, dv)) if dv else set()

        rows: list = []
        for rel, dv, pv in sorted(added, key=lambda a: a[0]):
            rows.extend(vals + ("insert",) for _, vals in files.rows(rel, pv, dv))
        for rel, new, old, pv in sorted(deleted, key=lambda d: d[0]):
            want = sorted(dv_set(new) - dv_set(old))
            rows.extend(
                vals + ("delete",) for _, vals in files.rows(rel, pv, want=want)
            )
        for rel in sorted(cdc_rels):
            rows.extend(
                vals for _, vals in files.rows(rel, None, extra=("_change_type",))
            )
        return rows

    def _lineage_diff_rows(self, lo: int, hi: int) -> "list | None":
        """EXACT recovery across cleaned-up history via Delta ROW
        TRACKING (the Iceberg reader's twin): when a checkpoint was
        written AT the cursor version (checkpointing the cursor is how
        a caller keeps a stream resumable past `cleanup_log` — old
        checkpoint parquet survives cleanup), the emitted batch is the
        row-id diff between cursor and head — delete(old image) +
        insert(new image), exactly-once for the consumer. None when
        unrecoverable (no row tracking, no cursor state, a cursor-side
        file vacuumed, or null-lineage rows) — the caller falls back to
        the 'bootstrap_insert' reset."""
        from march_mania_spark_lakehouse_spark.sources import delta_log

        if not delta_log._row_tracking_enabled(self.table, hi):
            return None
        files = _DeltaFiles(self.table, hi)
        try:
            # without a cursor checkpoint the range's commits may still
            # be READABLE (a RESTORE / overwrite raised
            # DeltaNonAppendChangeError, not log cleanup)
            old_live = delta_log.replay_at_checkpoint(self.table, lo)
            if old_live is None:
                old_live = delta_log._replay(self.table, lo)
            # a file removed AND vacuumed between cursor and head makes
            # the old image unknowable
            old = self._live_rows(files, old_live)
            new = self._live_rows(files, delta_log._replay(self.table, hi))
        except FileNotFoundError:
            return None
        if any(rid is None or ver is None for _, rid, ver in old + new):
            return None  # pre-enable file, or an id without a version
        return _rid_diff(old, new)

    def _bootstrap_rows(self, hi: int) -> list:
        """The re-bootstrap batch: every row live at version ``hi``,
        tagged 'bootstrap_insert' — a downstream state RESET."""
        from march_mania_spark_lakehouse_spark.sources import delta_log

        live = delta_log._replay(self.table, hi)
        return [
            vals + ("bootstrap_insert",)
            for vals, _, _ in self._live_rows(_DeltaFiles(self.table, hi), live)
        ]

    def _refuse_id_mapping(self, hi: int) -> None:
        from march_mania_spark_lakehouse_spark.sources import delta_log

        md = delta_log._latest_metadata(self.table, hi) or {}
        if (md.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        ) == "id":
            raise NotImplementedError(
                "delta_table_cdc on a columnMapping.mode=id table: this "
                "reader resolves columns by physical name; read the "
                "table in batch (read_delta handles id resolution)"
            )

    def _batch(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources.delta_log import (
            DeltaNonAppendChangeError,
        )

        self._refuse_id_mapping(hi)
        try:
            return self._changes(lo, hi)
        except (FileNotFoundError, DeltaNonAppendChangeError):
            # commits in (lo, hi] were cleaned up past the checkpoint,
            # OR a commit rewrites data files (RESTORE / overwrite) that
            # the per-commit walk cannot decompose — with row tracking
            # the batch is the EXACT state diff cursor→head, else the
            # full snapshot as a reset
            if self.starting != "retained":
                raise
            diff = self._lineage_diff_rows(lo, hi)
            return diff if diff is not None else self._bootstrap_rows(hi)


class DeltaTableCdcStreamDataSource(DataSource):
    """``spark.readStream.format("delta_table_cdc").option("path", t)``
    after registering: micro-batches carry the table's row-level
    changes (insert/delete in `_change_type`) since the checkpointed
    version — DV DELETE commits flow as signed delete rows, so
    `ivm.signed_state` materialized views refresh through merge-on-read
    deletes exactly once, the same loop the Iceberg CDC source drives.
    Option ``starting_version``: 'earliest' (default — full retained
    history, raises on expiry OR on a commit the per-commit walk
    cannot decompose: RESTORE / overwrite), 'latest' (fresh
    checkpoints start at the head), or 'retained' — an expired range
    or a non-decomposable commit recovers: with ROW TRACKING the
    resumed batch is the EXACT state diff cursor→head (a mid-stream
    RESTORE retracts precisely), else the full current snapshot
    re-emits tagged 'bootstrap_insert' (a downstream state reset; see
    `_starting_mode`)."""

    @classmethod
    def name(cls) -> str:
        return "delta_table_cdc"

    def schema(self):
        from march_mania_spark_lakehouse_spark.sources import delta_log

        return _plain_schema(
            delta_log.table_schema(self.options["path"]).fields,
            _change_type_field(),
        )

    def simpleStreamReader(self, schema):  # noqa: ARG002 (API signature)
        return _DeltaTableCdcStreamReader(self.options)


# --------------------------------------------------------------------------
# Iceberg: offsets are table SEQUENCE NUMBERS and each commit's files
# come from its own manifest list (`iceberg.change_feed_entries`).
# Identity partition columns restore from the manifest entries' TYPED
# partition tuples, per entry: after a repartition_table the identity
# set differs per generation, and a schema column present in a tuple is
# an identity value by construction. Transform fields need nothing —
# hidden partitioning keeps their source columns in the files.
# --------------------------------------------------------------------------


def _iceberg_partition_value(v, type_name: str):
    """Manifest partition tuples carry TYPED Avro values; convert the
    spec's surrogate encodings (date = days-since-epoch int,
    timestamptz = micros-since-epoch long) back to Python values."""
    import datetime

    if v is None:
        return None
    if type_name == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))
    if type_name in ("timestamp", "timestamptz"):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=int(v)
        )
    if type_name.startswith("decimal"):
        return _decimal(v, type_name)
    return v


def _iceberg_types(meta: dict) -> dict:
    """{column: Iceberg type} of the current schema, in column order."""
    schema = meta["schemas"][meta["current-schema-id"]]
    return {f["name"]: f["type"] for f in schema["fields"]}


def _iceberg_rows(path: str, meta: dict, part: dict, dead=(), want=None, extra=()):
    """`_file_rows` of one Iceberg data file under the current schema,
    with identity columns filled from its manifest partition tuple
    ``part``. Each column reads under the name the file's footer carries
    for its field id (`iceberg._field_name_history`, the batch reader's
    rename rule), so files written before a rename keep their values."""
    import pyarrow.parquet as pq

    from march_mania_spark_lakehouse_spark.sources import iceberg

    types = _iceberg_types(meta)
    fills = {
        c: _iceberg_partition_value(part[c], ty)
        for c, ty in types.items()
        if c in part
    }
    id_of = {
        n: fid
        for fid, names in iceberg._field_name_history(meta).items()
        for n in names
    }
    name_of = {
        f["id"]: f["name"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    phys = {
        name_of[id_of[pn]]: pn
        for pn in pq.read_schema(path).names
        if id_of.get(pn) in name_of
    }
    return _file_rows(
        path, list(types) + list(extra), fills, phys, dead=dead, want=want
    )


def _iceberg_schema(path: str, *extra):
    """The declared schema from the batch reader's type map
    (`iceberg._spark_schema`), every field nullable."""
    from pyspark.sql import types as T

    from march_mania_spark_lakehouse_spark.sources import iceberg

    meta = iceberg.current_metadata(path)
    base = iceberg._spark_schema(meta["schemas"][meta["current-schema-id"]])
    return T.StructType(list(base.fields) + list(extra))


def _position_deletes(paths, tomb: dict) -> dict:
    """Add the rows of v2 position-delete files to ``tomb`` ({data
    file: dead positions})."""
    import pyarrow.parquet as pq

    for p in sorted(paths):
        t = pq.read_table(p, columns=["file_path", "pos"])
        for fp, pos in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            tomb.setdefault(fp, set()).add(pos)
    return tomb


def _keyset(path: str, kcols: list) -> set:
    """Key tuples of an equality-delete file (null-safe: Python tuple
    equality matches None with None, the spec rule)."""
    import pyarrow.parquet as pq

    return {
        tuple(r.get(c) for c in kcols)
        for r in pq.read_table(path, columns=kcols).to_pylist()
    }


def _is_dv(d: dict) -> bool:
    return (d.get("file_format") or "").upper() == "PUFFIN"


def _ancestors(meta: dict, node) -> list:
    """Snapshots from ``node`` back along its parent chain."""
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    out = []
    while node in by_id:
        out.append(by_id[node])
        node = by_id[node].get("parent-snapshot-id", -1)
    return out


class _IcebergTableStreamReader:
    """The rows appended since the checkpointed sequence number
    (append-only): compaction snapshots are skipped, a rewrite snapshot
    (overwrite/MERGE) or an expired range in the pending range
    raises."""

    def __init__(self, options: dict) -> None:
        self.table = options["path"]

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def _added_files(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import iceberg

        meta = iceberg.current_metadata(self.table)
        entries = iceberg.change_feed_entries(
            meta, lo, hi, ("append",), err=ValueError
        )
        return sorted(
            (e["data_file"]["file_path"], e["data_file"].get("partition") or {})
            for e in entries
            if e["data_file"].get("content", 0) == 0
        )

    def _batch(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import iceberg

        meta = iceberg.current_metadata(self.table)
        return [
            vals
            for path, part in self._added_files(lo, hi)
            for _, vals in _iceberg_rows(path, meta, part)
        ]

    def read(self, start: dict):
        from march_mania_spark_lakehouse_spark.sources import iceberg

        lo = int(start["seq"])
        if iceberg.current_version(self.table) is None:
            return (iter(()), {"seq": lo})
        hi = iceberg.current_metadata(self.table)["last-sequence-number"]
        if hi <= lo:
            return (iter(()), {"seq": lo})
        return (self._batch(lo, hi), {"seq": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        # iter(): restart replays hand this straight to the runner,
        # which requires an ITERATOR
        return iter(self._batch(int(start["seq"]), int(end["seq"])))

    def commit(self, end: dict) -> None:
        pass  # committed snapshots are immutable — the metadata IS the ack


class IcebergTableStreamDataSource(DataSource):
    """``spark.readStream.format("iceberg_table_stream").option("path", t)``
    after registering: each micro-batch carries the rows appended to the
    Iceberg table since the checkpointed sequence number."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_table_stream"

    def schema(self):
        return _iceberg_schema(self.options["path"])

    def simpleStreamReader(self, schema):  # noqa: ARG002 (API signature)
        return _IcebergTableStreamReader(self.options)


class _IcebergTableCdcStreamReader:
    """Row-level CDC micro-batches from an Iceberg table — the streaming
    twin of `iceberg.table_changes(include_deletes=True)`: appended rows
    as inserts; position-delete and v3 deletion-vector commits
    decomposed into the tombstoned rows as deletes; EQUALITY-delete
    commits (the Flink-style upsert shape) decomposed into the rows
    alive at the commit's PARENT snapshot matching the delete files'
    key tuples (every parent-live data file precedes the delete commit,
    so the strictly-lower-sequence rule holds for free). An `upsert`
    history therefore streams as delete(old) + insert(new)."""

    def __init__(self, options: dict) -> None:
        self.table = options["path"]
        self.starting = _starting_mode(options, "starting_sequence")

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            from march_mania_spark_lakehouse_spark.sources import iceberg

            if iceberg.current_version(self.table) is None:
                return {"seq": 0}
            meta = iceberg.current_metadata(self.table)
            return {
                "seq": meta["last-sequence-number"],
                "sid": meta.get("current-snapshot-id", -1),
            }
        return {"seq": 0}

    def _cursor_snap(self, meta: dict, lo: int, sid):
        """The retained snapshot whose state the consumer holds, or
        None. Offsets checkpoint the exact snapshot id; a legacy
        sid-less cursor resolves by unique sequence number, accepted
        only when the snapshot was once main (snapshot-log membership)
        — a staged branch snapshot's state was never the stream's."""
        if sid is not None:
            return next(
                (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
            )
        s_lo = next(
            (s for s in meta["snapshots"] if s["sequence-number"] == lo),
            None,
        )
        if s_lo is None:
            return None
        log_ids = {
            e["snapshot-id"] for e in meta.get("snapshot-log", [])
        }
        return s_lo if s_lo["snapshot-id"] in log_ids else None

    def _live_rows(self, meta: dict, snap: dict) -> list:
        """Live rows at ``snap`` as [(values tuple, _row_id, _lus)] —
        position deletes, deletion vectors, and the strictly-lower
        equality-delete rule applied; lineage resolved per
        `iceberg.read_lineage`'s rule (materialized columns override
        entry-level ``first_row_id`` inheritance; a pre-upgrade file
        yields None)."""
        from march_mania_spark_lakehouse_spark.sources import avro_ocf, iceberg

        ix = {c: i for i, c in enumerate(_iceberg_types(meta))}
        by_fid = {
            f["id"]: f["name"]
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        }
        datafiles: dict = {}  # path -> (eseq, fseq, first_row_id, part)
        tomb: dict = {}  # path -> set(dead positions)
        eq: list = []  # (seq, key column indexes, keyset)
        pos_files: list = []
        for m in avro_ocf.read_ocf(snap["manifest-list"]):
            for e in avro_ocf.read_ocf(m["manifest_path"]):
                if e["status"] == 2:
                    continue
                d = e["data_file"]
                c = d.get("content", 0)
                if c == 0:
                    datafiles[d["file_path"]] = (
                        e["sequence_number"],
                        e.get("file_sequence_number")
                        or e["sequence_number"],
                        d.get("first_row_id"),
                        d.get("partition") or {},
                    )
                elif c == 1 and _is_dv(d):
                    tomb.setdefault(d["referenced_data_file"], set()).update(
                        iceberg._dv_positions(d)
                    )
                elif c == 1:
                    pos_files.append(d["file_path"])
                else:
                    kcols = [by_fid[i] for i in d.get("equality_ids") or []]
                    eq.append(
                        (
                            e["sequence_number"],
                            [ix[k] for k in kcols],
                            _keyset(d["file_path"], kcols),
                        )
                    )
        _position_deletes(pos_files, tomb)
        rows = []
        for fp in sorted(datafiles):
            dseq, fseq, first, part = datafiles[fp]
            for pos, vals in _iceberg_rows(
                fp, meta, part, tomb.get(fp, ()),
                extra=("_row_id", "_last_updated_sequence_number"),
            ):
                vals, (rid, lus) = vals[:-2], vals[-2:]
                if any(
                    dseq < s and tuple(vals[i] for i in k) in ks
                    for s, k, ks in eq
                ):
                    continue
                if rid is None and first is not None:
                    rid = first + pos
                if rid is None:
                    lus = None
                elif lus is None:
                    lus = fseq
                rows.append((vals, rid, lus))
        return rows

    def _bootstrap_rows(self, meta: dict) -> list:
        """The re-bootstrap batch: every row live at the CURRENT
        snapshot, tagged 'bootstrap_insert' — a downstream state
        RESET."""
        from march_mania_spark_lakehouse_spark.sources import iceberg

        sid = meta["current-snapshot-id"]
        if sid == -1:
            return []
        snap = iceberg._snapshot(meta, sid)
        return [
            vals + ("bootstrap_insert",)
            for vals, _, _ in self._live_rows(meta, snap)
        ]

    def _lineage_diff_rows(self, meta: dict, lo: int, hi: int) -> "list | None":
        """EXACT recovery across expired history via v3 row lineage:
        when the cursor's snapshot itself is still retained
        (tagged/branched through `expire_snapshots`, the resumable-
        stream pattern) the emitted batch is the lineage DIFF between
        cursor and head — delete(old image) + insert(new image), the
        stream's own vocabulary, costing two snapshot reads instead of
        a full-state 'bootstrap_insert' RESET, and exactly-once for the
        consumer (no state discard). Returns None when unrecoverable
        (v2 table, cursor snapshot expired, or null-lineage rows) — the
        caller falls back to the bootstrap reset."""
        if int(meta.get("format-version", 2)) < 3:
            return None
        # endpoint resolution must never pick a staged WAP / branch
        # snapshot (its state is not the main table's): the NEW side
        # must sit on the head's ancestry; the OLD side is either on
        # that ancestry or named by a TAG ref (the documented
        # cursor-retention pattern — expiry breaks the parent chain,
        # so the tagged cursor is only reachable directly). A branch
        # HEAD at the cursor sequence falls through to the bootstrap.
        main = {
            s["sequence-number"]: s
            for s in _ancestors(meta, meta.get("current-snapshot-id", -1))
        }
        tag_ids = {
            r["snapshot-id"]
            for r in (meta.get("refs") or {}).values()
            if r.get("type") == "tag"
        }
        old_snap = main.get(lo) or next(
            (
                s
                for s in meta["snapshots"]
                if s["sequence-number"] == lo
                and s["snapshot-id"] in tag_ids
            ),
            None,
        )
        new_snap = main.get(hi)
        if (
            old_snap is None
            or new_snap is None
            or not os.path.exists(old_snap["manifest-list"])
            or not os.path.exists(new_snap["manifest-list"])
        ):
            return None
        old = self._live_rows(meta, old_snap)
        new = self._live_rows(meta, new_snap)
        if any(rid is None for _, rid, _ in old + new):
            return None  # pre-upgrade rows: identity-keyed diff refuses
        return _rid_diff(old, new)

    def _state_diff_rows(self, meta: dict, old_snap: dict, new_snap: dict) -> list:
        """EXACT retraction/insertion batch between two RETAINED
        snapshots — the non-linear-history recovery: when the
        consumer's cursor snapshot was rolled off the main ancestry
        (`rollback_to_snapshot`, or a fast-forward past one), the
        emitted batch is the state diff cursor→head, so the consumer's
        net state reconverges without a reset. Row-lineage keyed when
        every row carries an id (v3, exactly-once update pre/post
        images); value-multiset keyed otherwise — still an exact net
        diff, the delete/insert vocabulary needs no ids."""
        old = self._live_rows(meta, old_snap)
        new = self._live_rows(meta, new_snap)
        if int(meta.get("format-version", 2)) >= 3 and all(
            rid is not None for _, rid, _ in old + new
        ):
            return _rid_diff(old, new)
        from collections import Counter

        oc = Counter(vals for vals, _, _ in old)
        nc = Counter(vals for vals, _, _ in new)
        rows = []
        for vals, n in sorted((oc - nc).items(), key=repr):
            rows.extend([vals + ("delete",)] * n)
        for vals, n in sorted((nc - oc).items(), key=repr):
            rows.extend([vals + ("insert",)] * n)
        return rows

    def _changes(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import (
            avro_ocf,
            deletion_vectors,
            iceberg,
        )

        meta = iceberg.current_metadata(self.table)
        snap = iceberg._snapshot(meta, meta["current-snapshot-id"])
        by_fid = {
            f["id"]: f["name"]
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        }
        part_of: dict = {}  # data file path -> partition tuple
        for m in avro_ocf.read_ocf(snap["manifest-list"]):
            for e in avro_ocf.read_ocf(m["manifest_path"]):
                d = e["data_file"]
                if d.get("content", 0) == 0:
                    # EVERY data file's tuple: a delete in range can
                    # tombstone rows of a file added before the range
                    part_of[d["file_path"]] = d.get("partition") or {}
        # per-snapshot planning (iceberg.change_feed_entries): replace
        # (compaction) snapshots skip — zero logical rows — so routine
        # OPTIMIZE never kills the CDC stream, and each commit's files
        # come from its OWN manifest list (a later rewrite cannot hide
        # them); row-changing rewrites and expired ranges still raise
        added, pos_dels = [], []
        dv_by_seq: dict = {}  # commit seq -> [DV data_file dicts] (v3)
        eq_by_seq: dict = {}  # commit seq -> [(path, equality col names)]
        for e in iceberg.change_feed_entries(
            meta, lo, hi, ("append", "delete"), err=ValueError
        ):
            d = e["data_file"]
            content = d.get("content", 0)
            if content == 0:
                added.append(d["file_path"])
                # the file may have been compacted OUT of the current
                # snapshot — its tuple comes from the in-range entry
                part_of.setdefault(d["file_path"], d.get("partition") or {})
            elif content == 1 and _is_dv(d):
                dv_by_seq.setdefault(e["sequence_number"], []).append(d)
            elif content == 1:
                pos_dels.append(d["file_path"])
            else:  # equality delete (upsert CDC)
                eq_by_seq.setdefault(e["sequence_number"], []).append(
                    (
                        d["file_path"],
                        [by_fid[i] for i in d.get("equality_ids") or []],
                    )
                )
        rows = [
            vals + ("insert",)
            for path in sorted(added)
            for _, vals in _iceberg_rows(path, meta, part_of.get(path) or {})
        ]
        tomb = _position_deletes(pos_dels, {})
        # v3 deletion vectors: this commit's kills are the new DV's
        # positions MINUS the parent snapshot's DV positions for the
        # same file (a DV replaces its predecessor, never chains)
        for s in sorted(dv_by_seq):
            snap_s = next(
                (x for x in meta["snapshots"] if x["sequence-number"] == s),
                None,
            )
            parent = snap_s.get("parent-snapshot-id") if snap_s else None
            parent_dvs = {
                e["referenced_data_file"]: e
                for e in (
                    iceberg.snapshot_dv_entries(self.table, parent)
                    if parent is not None
                    else []
                )
            }
            for d in dv_by_seq[s]:
                ref = d["referenced_data_file"]
                pos = set(iceberg._dv_positions(d))
                old = parent_dvs.get(ref)
                if old is not None:
                    pos -= set(
                        deletion_vectors.positions(iceberg._dv_locator(old))
                    )
                if pos:
                    tomb.setdefault(ref, set()).update(pos)
        for fp in sorted(tomb):
            rows.extend(
                vals + ("delete",)
                for _, vals in _iceberg_rows(
                    fp, meta, part_of.get(fp) or {}, want=sorted(tomb[fp])
                )
            )
        for s in sorted(eq_by_seq):
            rows.extend(self._eq_dead_rows(meta, s, eq_by_seq[s]))
        return rows

    def _eq_dead_rows(self, meta: dict, del_seq: int, files: list) -> list:
        """Rows the equality-delete commit at ``del_seq`` killed: the
        rows live at its PARENT snapshot (`_live_rows`, so rows already
        dead before this commit are never re-emitted) matching any
        delete file's key tuples. Mirrors the batch
        `iceberg.table_changes` decomposition."""
        from march_mania_spark_lakehouse_spark.sources import iceberg

        del_snap = next(
            (s for s in meta["snapshots"] if s["sequence-number"] == del_seq),
            None,
        )
        if del_snap is None:
            # the delete commit's snapshot was expired while its
            # manifest entry survives in the current manifest list —
            # same recovery story as a missing parent snapshot
            raise ValueError(
                f"snapshot of the equality-delete commit at seq {del_seq} "
                "was expired; its pre-image rows are unrecoverable"
            )
        parent_id = del_snap.get("parent-snapshot-id")
        if parent_id is None:
            return []  # delete against an empty table: nothing to kill
        try:
            psnap = iceberg._snapshot(meta, parent_id)
        except KeyError:
            raise ValueError(
                f"parent snapshot {parent_id} of the equality-delete "
                f"commit at seq {del_seq} was expired; its pre-image "
                "rows are unrecoverable"
            )
        ix = {c: i for i, c in enumerate(_iceberg_types(meta))}
        kill = [([ix[c] for c in kcols], _keyset(p, kcols)) for p, kcols in files]
        return [
            vals + ("delete",)
            for vals, _, _ in self._live_rows(meta, psnap)
            if any(tuple(vals[i] for i in k) in ks for k, ks in kill)
        ]

    def _batch(self, lo: int, hi: int) -> list:
        from march_mania_spark_lakehouse_spark.sources import iceberg

        try:
            return self._changes(lo, hi)
        except ValueError:
            # snapshots in (lo, hi] were expired past the checkpoint
            if self.starting != "retained":
                raise
            meta = iceberg.current_metadata(self.table)
            diff = self._lineage_diff_rows(meta, lo, hi)
            return diff if diff is not None else self._bootstrap_rows(meta)

    def _compensate(self, meta: dict, old_snap, new_snap, err: str) -> list:
        """The batch for a cursor rolled off the main ancestry: the exact
        state diff when both endpoint snapshots are retained, else the
        bootstrap reset ('retained') or ``err``."""
        if (
            old_snap is not None
            and new_snap is not None
            and os.path.exists(old_snap["manifest-list"])
            and os.path.exists(new_snap["manifest-list"])
        ):
            return self._state_diff_rows(meta, old_snap, new_snap)
        if self.starting == "retained":
            return self._bootstrap_rows(meta)
        raise ValueError(err)

    def read(self, start: dict):
        from march_mania_spark_lakehouse_spark.sources import iceberg

        lo = int(start["seq"])
        sid = start.get("sid")
        if iceberg.current_version(self.table) is None:
            return (iter(()), dict(start))
        meta = iceberg.current_metadata(self.table)
        hi = meta["last-sequence-number"]
        head_id = meta.get("current-snapshot-id", -1)
        anc = _ancestors(meta, head_id)
        new_off = {"seq": hi, "sid": head_id}
        # non-linear history first: a cursor whose snapshot is no
        # longer on the head's ancestry (rollback_to_snapshot /
        # fast-forward past one) must NOT continue the linear walk —
        # that silently skips the retractions. This fires even when the
        # sequence high-water mark did not move (a bare rollback).
        if lo != 0 and (
            sid not in {s["snapshot-id"] for s in anc}
            if sid is not None
            else lo not in {s["sequence-number"] for s in anc}
        ):
            return (
                self._compensate(
                    meta,
                    self._cursor_snap(meta, lo, sid),
                    anc[0] if anc else None,
                    "the cursor snapshot was rolled off the main ancestry "
                    "and is no longer retained; the retraction batch is "
                    "unknowable — restart with starting_sequence='retained'",
                ),
                new_off,
            )
        if hi <= lo:
            return (iter(()), dict(start))
        return (self._batch(lo, hi), new_off)

    def readBetweenOffsets(self, start: dict, end: dict):
        # iter(): restart replays hand this straight to the runner,
        # which requires an ITERATOR
        from march_mania_spark_lakehouse_spark.sources import iceberg

        s_sid, e_sid = start.get("sid"), end.get("sid")
        if s_sid is not None and e_sid is not None and s_sid != e_sid:
            meta = iceberg.current_metadata(self.table)
            anc = _ancestors(meta, e_sid)
            if s_sid not in {s["snapshot-id"] for s in anc}:
                # replay of a compensating (non-linear) batch: the
                # exact diff between the two checkpointed snapshots
                return iter(
                    self._compensate(
                        meta,
                        self._cursor_snap(meta, 0, s_sid),
                        anc[0] if anc else None,
                        "cannot replay the compensating batch: one of its "
                        "endpoint snapshots is no longer retained",
                    )
                )
        return iter(self._batch(int(start["seq"]), int(end["seq"])))

    def commit(self, end: dict) -> None:
        pass


class IcebergTableCdcStreamDataSource(DataSource):
    """``spark.readStream.format("iceberg_table_cdc").option("path", t)``
    after registering: micro-batches carry the table's row-level
    changes (insert/delete in `_change_type`) since the checkpointed
    sequence number — feed them to `ivm.signed_state` and a streaming
    materialized view refreshes through merge-on-read DELETEs.
    Option ``starting_sequence``: 'earliest' (default — full retained
    history, raises on expiry), 'latest' (fresh checkpoints start at
    the head), or 'retained' (an expired range re-bootstraps as the
    full current snapshot tagged 'bootstrap_insert' — a downstream
    state reset; see `_starting_mode`)."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_table_cdc"

    def schema(self):
        return _iceberg_schema(self.options["path"], _change_type_field())

    def simpleStreamReader(self, schema):  # noqa: ARG002 (API signature)
        return _IcebergTableCdcStreamReader(self.options)
