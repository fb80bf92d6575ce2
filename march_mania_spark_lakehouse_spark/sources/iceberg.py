"""Apache-Iceberg-format table metadata: filesystem-catalog tables whose
layout conforms to the public Iceberg table spec (iceberg.apache.org/spec,
format-version 2), written without any Iceberg library.

Together with `sources/delta_log.py` this completes the north star's
"Delta/Iceberg" lake layer: the same publish/time-travel semantics in
the second interoperable on-disk format. Components per spec:

- ``metadata/vN.metadata.json`` — table metadata: schemas with field
  ids, partition specs (identity transforms), snapshots, snapshot log,
  current pointer; ``metadata/version-hint.text`` carries N (the
  HadoopCatalog convention, so any filesystem-catalog reader finds the
  head without a metastore).
- ``metadata/snap-<id>-1-<uuid>.avro`` — the snapshot's manifest list
  (one entry per manifest: path, sequence numbers, added/existing
  counts), Avro OCF with the spec's field-ids.
- ``metadata/<uuid>-m0.avro`` — manifest files (one entry per data
  file: status, partition tuple, record count, size).
- ``data/...`` — parquet data files, hive-partition layout when
  partitioned (identity-partition values ride in the manifests, which
  is what readers plan from — the spec's identity-column projection).

Avro encoding is `sources/avro_ocf.py` (pure stdlib, null codec).
Verification mirrors the Delta layer: structural tests plus an
INDEPENDENT clean-room reader in the test suite
(`tests/iceberg_reader_independent.py` — its own Avro decoder, zero
code shared with this module) that must reconstruct identical file sets
and row multisets for every producible history.

Scale posture: snapshot planning reads ONE metadata.json + ONE manifest
list + the manifests it names — KBs, never a directory listing; appends
add one manifest and re-point the head, so commit cost is O(new files)
regardless of table size. Manifests carry per-file lower/upper
bounds (spec Appendix-D single-value serialization) so `scan_range`
plans data skipping from metadata; `expire_snapshots` retires history
and deletes orphaned files; `append(merge_schema=True)` evolves the
schema with field-id preservation (each snapshot records its
schema-id, and time travel reads under it); `merge` is copy-on-write
MERGE INTO; `convert_from_delta` /
`convert_to_delta` migrate metadata between the two lake formats over
the SAME data files (zero bytes copied, both directions);
`delete_where` is merge-on-read DELETE via spec position-delete files
(content=1 tombstones; readers — including Spark scans through the
hidden ``_metadata.row_index`` column — apply them as one broadcast
anti-join, so deleting rows never rewrites data); `delete_by_equality`
writes content=2 equality deletes (the streaming-CDC primitive: key
tombstones with no write-time scan, applied under the spec's
strictly-lower-sequence rule). Partition specs support the full
transform set (identity, year/month/day/hour, bucket[N] via the spec's
murmur3_x86_32, truncate[W]) with hidden partitioning: writers derive
the transform values, manifests carry typed partition tuples, and
`scan_partition`/`scan_range`/`scan_eq` prune from them planner-side
while queries keep filtering the SOURCE columns.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources import (
    avro_ocf,
    deletion_vectors,
    dv_codec,
    puffin,
)
from march_mania_spark_lakehouse_spark.sources.lineage_diff import lineage_changelog
from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

FORMAT_VERSION = 2

# --------------------------------------------------------------------------
# Spark ↔ Iceberg schema mapping (the subset the fixtures use)
# --------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "binary": "binary",
}


def _iceberg_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return spark_type.replace("decimal(", "decimal(").replace(",", ", ")
    try:
        return _SPARK_TO_ICEBERG[spark_type]
    except KeyError:
        raise NotImplementedError(f"no Iceberg mapping for {spark_type!r}") from None


def _iceberg_type_of(dt, alloc) -> "str | dict":
    """Iceberg type for a Spark ``DataType`` — a primitive name, or the
    spec's nested dict form for struct / list (array) / map. ``alloc``
    hands out fresh field-ids: per spec §Schemas EVERY nested field
    (struct member, list element, map key and value) carries its own
    unique id. Sibling struct fields take their ids before any child
    descends (the same level-order real writers use), so a flat schema
    keeps the historical 1..n assignment byte-for-byte."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        ids = [alloc() for _ in dt.fields]
        return {
            "type": "struct",
            "fields": [
                {
                    "id": i,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type_of(f.dataType, alloc),
                }
                for i, f in zip(ids, dt.fields)
            ],
        }
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type_of(dt.elementType, alloc),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid = alloc()
        vid = alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type_of(dt.keyType, alloc),
            "value-id": vid,
            "value": _iceberg_type_of(dt.valueType, alloc),
            "value-required": not dt.valueContainsNull,
        }
    return _iceberg_type(dt.simpleString())


def _nested_type_ids(t) -> "list[int]":
    """All field-ids carried INSIDE a type (not the field's own id)."""
    if not isinstance(t, dict):
        return []
    if t["type"] == "struct":
        out = []
        for f in t["fields"]:
            out.append(f["id"])
            out.extend(_nested_type_ids(f["type"]))
        return out
    if t["type"] == "list":
        return [t["element-id"]] + _nested_type_ids(t["element"])
    if t["type"] == "map":
        return (
            [t["key-id"]]
            + _nested_type_ids(t["key"])
            + [t["value-id"]]
            + _nested_type_ids(t["value"])
        )
    return []


def _max_field_id(schema_json: dict) -> int:
    """Highest field-id anywhere in a schema (``last-column-id`` input
    — nested ids count; the spec's id space is table-wide)."""
    ids = [0]
    for f in schema_json["fields"]:
        ids.append(f["id"])
        ids.extend(_nested_type_ids(f["type"]))
    return max(ids)


def _schema_json(df: DataFrame) -> dict:
    return _schema_json_from_struct(df.schema)


def _schema_json_from_struct(struct) -> dict:
    import itertools

    counter = itertools.count(1)

    def alloc() -> int:
        return next(counter)

    top_ids = [alloc() for _ in struct.fields]
    fields = []
    for i, f in zip(top_ids, struct.fields):
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": False,
                "type": _iceberg_type_of(f.dataType, alloc),
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


# --------------------------------------------------------------------------
# Partition transforms (spec §Partition Transforms): identity, temporal
# (year/month/day/hour), bucket[N] (murmur3_x86_32 per spec Appendix B),
# truncate[W]. Three faces per transform, kept in lock-step and pinned
# by tests against the spec's published hash vectors:
#   - a Spark Column expression (the WRITE path — JVM codegen except
#     bucket, which is an Arrow-batched pandas UDF over the spec hash),
#   - a driver-side Python function (the PLANNING path — manifest
#     pruning in scan_partition / scan_range / scan_eq),
#   - a manifest representation (what `_typed_partition` records).
# --------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), the hash the Iceberg spec names
    for the bucket transform (Appendix B). Returns unsigned."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i: i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _days_since_epoch(v) -> int:
    import datetime

    if isinstance(v, datetime.datetime):
        v = v.date()
    return (v - datetime.date(1970, 1, 1)).days


def _micros_since_epoch(v) -> int:
    import datetime

    return int((v - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6)


def _bucket_bytes(v, src_type: str) -> bytes:
    """Spec Appendix-B hash input: int/long/date/timestamp hash as the
    8-byte little-endian long of their integral form (so bucket(34) is
    the same whatever the declared width); strings hash their UTF-8."""
    import struct as _struct

    if src_type in ("int", "long"):
        return _struct.pack("<q", int(v))
    if src_type == "string":
        return str(v).encode("utf-8")
    if src_type == "date":
        return _struct.pack("<q", _days_since_epoch(v))
    if src_type == "timestamptz":
        return _struct.pack("<q", _micros_since_epoch(v))
    raise NotImplementedError(f"bucket transform over {src_type!r}")


def bucket_of(v, src_type: str, n: int) -> int:
    """bucket[N](v) per spec: (murmur3_32(bytes) & Int.MaxValue) % N."""
    return (murmur3_32(_bucket_bytes(v, src_type)) & 0x7FFFFFFF) % n


def apply_transform(transform: str, v, src_type: str):
    """Driver-side transform application — the planning-path twin of
    `_transform_expr`; null maps to null for every transform (spec)."""
    import datetime

    if v is None:
        return None
    if transform == "identity":
        return v
    if transform == "day":
        return _days_since_epoch(v)
    if transform == "month":
        d = v.date() if isinstance(v, datetime.datetime) else v
        return (d.year - 1970) * 12 + d.month - 1
    if transform == "year":
        d = v.date() if isinstance(v, datetime.datetime) else v
        return d.year - 1970
    if transform == "hour":
        return _micros_since_epoch(v) // 3_600_000_000
    if transform.startswith("bucket["):
        n = int(transform[len("bucket["):-1])
        return bucket_of(v, src_type, n)
    if transform.startswith("truncate["):
        w = int(transform[len("truncate["):-1])
        if src_type == "string":
            return str(v)[:w]
        return int(v) - (int(v) % w)  # Python % is floor-mod, per spec
    raise NotImplementedError(f"transform {transform!r}")


def _transform_result_type(transform: str, src_type: str) -> str:
    """Iceberg type of a partition field's VALUE (what manifests carry:
    temporal transforms and bucket yield ints; truncate keeps the
    source type; identity is the source type)."""
    if transform == "identity" or transform.startswith("truncate["):
        return src_type
    if transform in ("day", "month", "year", "hour") or transform.startswith(
        "bucket["
    ):
        return "int"
    raise NotImplementedError(f"transform {transform!r}")


#: transforms whose output preserves the source ordering — the ones
#: scan_range may prune partition tuples with (bucket is NOT in this
#: set: hashing scrambles order, so range scans keep every bucket)
_ORDER_PRESERVING = ("identity", "day", "month", "year", "hour", "truncate[")


def _is_order_preserving(transform: str) -> bool:
    return transform in _ORDER_PRESERVING[:-1] or transform.startswith(
        "truncate["
    )


def _parse_partition_field(s: str, by_name: dict) -> dict:
    """Parse one ``partition_by`` entry — a bare column name (identity)
    or ``day(ts)`` / ``bucket(16, key)`` / ``truncate(4, name)`` — into
    a spec field dict (name per Iceberg naming convention)."""
    import re

    s = s.strip()
    m = re.fullmatch(r"(\w+)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)", s)
    if m is None:
        fn, width, col = "identity", None, s
    else:
        fn, width, col = m.group(1), m.group(2), m.group(3)
    if col not in by_name:
        raise ValueError(f"partition source column {col!r} not in schema")
    src_type = by_name[col]["type"]
    if fn == "identity":
        if src_type == "timestamptz":
            raise NotImplementedError(
                "identity-partitioning a timestamp is unbounded-cardinality "
                "and its hive dir encoding is lossy; use day()/hour() "
                "transforms instead"
            )
        transform, name = "identity", col
    elif fn in ("year", "month", "day"):
        if src_type not in ("date", "timestamptz"):
            raise ValueError(f"{fn}() needs a date/timestamp source, got {src_type}")
        transform, name = fn, f"{col}_{fn}"
    elif fn == "hour":
        if src_type != "timestamptz":
            raise ValueError(f"hour() needs a timestamp source, got {src_type}")
        transform, name = fn, f"{col}_hour"
    elif fn == "bucket":
        if width is None:
            raise ValueError("bucket(N, col) needs a width")
        if src_type not in ("int", "long", "string", "date", "timestamptz"):
            raise ValueError(f"bucket() over {src_type} unsupported")
        transform, name = f"bucket[{width}]", f"{col}_bucket"
    elif fn == "truncate":
        if width is None:
            raise ValueError("truncate(W, col) needs a width")
        if src_type not in ("int", "long", "string"):
            raise ValueError(f"truncate() over {src_type} unsupported")
        transform, name = f"truncate[{width}]", f"{col}_trunc"
    else:
        raise NotImplementedError(f"transform {fn!r}")
    return {"source": col, "source_type": src_type, "transform": transform,
            "name": name}


def _bucket_udf(n: int, src_type: str):
    """Arrow-batched pandas UDF computing the spec bucket value: the
    long/int/date/timestamp fast path is a fully vectorized numpy
    Murmur3 over the 8-byte LE block pair (no per-row Python); strings
    fall back to per-row hashing of their UTF-8 bytes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _vectorized_long(vals):  # np.int64 array -> np.uint32 murmur
        import numpy as np

        u = vals.astype(np.uint64)
        c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
        h = np.zeros(len(vals), dtype=np.uint32)
        for k in (
            (u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
            (u >> np.uint64(32)).astype(np.uint32),
        ):
            k = k * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
        return h

    def _bucket(s):
        import numpy as np

        if src_type == "string":
            return pd.Series(
                [
                    None
                    if v is None
                    else (murmur3_32(str(v).encode()) & 0x7FFFFFFF) % n
                    for v in s
                ],
                dtype="Int32",
            )
        if src_type == "timestamptz" and pd.api.types.is_datetime64_any_dtype(s):
            mask = s.notna()
            vals = s[mask].astype("int64").to_numpy() // 1000  # ns -> µs
        elif src_type == "date" and s.dtype == object:
            mask = s.notna()
            vals = np.array(
                [_days_since_epoch(v) for v in s[mask]], dtype=np.int64
            )
        else:  # int/long, possibly float64 when nulls are present
            mask = s.notna()
            vals = s[mask].to_numpy().astype(np.int64)
        with np.errstate(over="ignore"):
            h = _vectorized_long(vals)
        out = pd.Series([None] * len(s), dtype="Int32", index=s.index)
        out[mask] = ((h & np.uint32(0x7FFFFFFF)).astype(np.int64) % n).astype(
            "int32"
        )
        return out

    # module uses `from __future__ import annotations`, which stringifies
    # hints pyspark can't resolve here — hand it real annotation objects
    _bucket.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_bucket, "int")


def _transform_expr(transform: str, source: str, src_type: str):
    """Spark Column computing the transform value for the WRITE path —
    JVM codegen for every transform except bucket (spec murmur3, pandas
    UDF)."""
    c = F.col(source)
    if transform == "identity":
        return c
    if transform == "day":
        return F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01")))
    if transform == "month":
        return (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
    if transform == "year":
        return F.year(c) - F.lit(1970)
    if transform == "hour":
        return F.floor(c.cast("long") / F.lit(3600)).cast("int")
    if transform.startswith("bucket["):
        n = int(transform[len("bucket["):-1])
        return _bucket_udf(n, src_type)(c)
    if transform.startswith("truncate["):
        w = int(transform[len("truncate["):-1])
        if src_type == "string":
            return F.substring(c, 1, w)
        return (c - F.pmod(c, F.lit(w))).cast(src_type if src_type != "long"
                                              else "bigint")
    raise NotImplementedError(f"transform {transform!r}")


def _spec_info(meta: dict, spec_id: int | None = None) -> list[dict]:
    """A partition spec (default: the default spec) resolved against
    the current schema: [{name, transform, source, source_type}].
    ``spec_id`` selects an older spec — the per-manifest planning input
    once a table's spec has EVOLVED."""
    schema = meta["schemas"][meta["current-schema-id"]]
    by_id = {f["id"]: f for f in schema["fields"]}
    sid = meta["default-spec-id"] if spec_id is None else spec_id
    spec = next(
        s for s in meta["partition-specs"] if s.get("spec-id", 0) == sid
    )
    out = []
    for pf in spec["fields"]:
        src = by_id[pf["source-id"]]
        out.append(
            {
                "name": pf["name"],
                "transform": pf.get("transform", "identity"),
                "source": src["name"],
                "source_type": src["type"],
            }
        )
    return out


def _identity_part_cols(meta: dict) -> list[str]:
    """Schema columns physically ABSENT from data files (hive layout):
    identity-transform partition fields only. Transform fields
    (ts_day, key_bucket) are derived dir values — their SOURCE columns
    stay in the data files, per the spec's hidden partitioning.
    `evolve_partition_spec` pins the identity set to be IDENTICAL
    across specs, so the default spec answers for every file CURRENT
    writes produce — but `repartition_table` changes the identity set
    across SNAPSHOTS (each one internally single-identity, full
    rewrite), so snapshot-scoped reads must use
    :func:`_identity_part_cols_at` instead."""
    return [pf["name"] for pf in _spec_info(meta) if pf["transform"] == "identity"]


def _identity_part_cols_at(meta: dict, sid: int) -> list[str]:
    """Identity partition columns governing snapshot ``sid``'s data
    files, resolved from the spec ids its manifest list references —
    time travel across a `repartition_table` must read each snapshot
    under ITS identity set (the current default would null out, or
    fail to restore, the other generation's columns). Within one
    snapshot the identity set is single-valued by writer discipline:
    transform evolution keeps it equal across specs, and an identity
    change is always a full rewrite."""
    snap = _snapshot(meta, sid)
    spec_ids = {
        m.get("partition_spec_id", 0)
        for m in avro_ocf.read_ocf(snap["manifest-list"])
        if m.get("content", 0) == 0
    }
    if not spec_ids:
        return _identity_part_cols(meta)
    sets = {
        tuple(
            pf["name"]
            for pf in _spec_info(meta, i)
            if pf["transform"] == "identity"
        )
        for i in spec_ids
    }
    if len(sets) > 1:
        raise NotImplementedError(
            f"snapshot {sid} mixes manifests whose specs disagree on "
            f"the identity-column set ({sorted(sets)}); hive layouts "
            "cannot coexist in one snapshot"
        )
    return list(sets.pop())


# --------------------------------------------------------------------------
# Avro schemas for manifests / manifest lists (spec Appendix C field-ids)
# --------------------------------------------------------------------------


def _partition_record_schema(spec_fields: list[dict], schema: dict) -> dict:
    by_id = {f["id"]: f for f in schema["fields"]}
    avro_fields = []
    for pf in spec_fields:
        src = by_id[pf["source-id"]]
        vtype = _transform_result_type(
            pf.get("transform", "identity"), src["type"]
        )
        avro_type = {
            "long": "long", "int": "int", "string": "string",
            "double": "double", "float": "float", "boolean": "boolean",
            "date": "int", "timestamptz": "long",
        }.get(vtype, "string")
        avro_fields.append(
            {
                "name": pf["name"],
                "type": ["null", avro_type],
                "default": None,
                "field-id": pf["field-id"],
            }
        )
    return {"type": "record", "name": "r102", "fields": avro_fields}


#: map<int, bytes> in Iceberg Avro files: arrays of key/value records
#: (Avro maps require string keys; this is the spec's Appendix C shape).
def _kv_bounds_schema(name: str, kid: int, vid: int) -> dict:
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": kid},
                    {"name": "value", "type": "bytes", "field-id": vid},
                ],
            },
        },
    ]


#: map<int, long> column counts (spec Appendix C: null_value_counts is
#: field-id 110 with key/value ids 121/122) — same array-as-map shape as
#: the bounds maps but with long values.
def _kv_counts_schema(name: str, kid: int, vid: int) -> dict:
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": kid},
                    {"name": "value", "type": "long", "field-id": vid},
                ],
            },
        },
    ]


def _with_equality_ids(entry_schema: dict) -> dict:
    """A DEEP COPY of a manifest entry schema with the spec's
    equality_ids field (field-id 135) appended to the data_file record
    — the augmentation a delete manifest holding equality deletes needs
    (null for its position-delete and DV entries). Applied only by
    :func:`_write_entries_manifest`, so the Avro layout of this
    spec-critical field can never diverge between writers."""
    import copy

    es = copy.deepcopy(entry_schema)
    es["fields"][-1]["type"]["fields"].append(
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
            "field-id": 135,
        }
    )
    return es


def _manifest_entry_schema(partition_schema: dict) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "null_value_counts",
             "type": _kv_counts_schema("k121_v122", 121, 122),
             "default": None, "field-id": 110},
            {"name": "lower_bounds", "type": _kv_bounds_schema("k126_v127", 126, 127),
             "default": None, "field-id": 125},
            {"name": "upper_bounds", "type": _kv_bounds_schema("k129_v130", 129, 130),
             "default": None, "field-id": 128},
            # v3 deletion vectors (spec field ids 143-145): a DV entry
            # is content=1 with file_format PUFFIN, its blob located by
            # [content_offset, content_offset+content_size_in_bytes)
            # inside file_path, applying to exactly ONE data file
            {"name": "referenced_data_file", "type": ["null", "string"],
             "default": None, "field-id": 143},
            {"name": "content_offset", "type": ["null", "long"],
             "default": None, "field-id": 144},
            {"name": "content_size_in_bytes", "type": ["null", "long"],
             "default": None, "field-id": 145},
            # v3 row lineage (spec field-id 142): the row id of the
            # file's first row; null means the file either carries a
            # MATERIALIZED _row_id column (compaction output) or
            # predates the v3 upgrade (reads surface null lineage)
            {"name": "first_row_id", "type": ["null", "long"],
             "default": None, "field-id": 142},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None,
             "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None,
             "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# --------------------------------------------------------------------------
# Filesystem-catalog plumbing
# --------------------------------------------------------------------------


def _meta_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def _now_ms() -> int:
    return int(time.time() * 1000)


def current_version(table: str) -> int | None:
    """Metadata version: version-hint.text, advanced past any newer
    vN.metadata.json files (HadoopCatalog rule — the hint is an
    optimization; concurrent winners update it last-write-wins, so a
    reader must scan forward or it can serve a stale snapshot)."""
    try:
        with open(os.path.join(_meta_dir(table), "version-hint.text")) as f:
            v = int(f.read().strip())
    except FileNotFoundError:
        return None
    while os.path.exists(
        os.path.join(_meta_dir(table), f"v{v + 1}.metadata.json")
    ):
        v += 1
    return v


def current_metadata(table: str, version: int | None = None) -> dict:
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no Iceberg metadata")
    with open(os.path.join(_meta_dir(table), f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    # stamp the version this state was READ at (stripped on write):
    # a commit built from it must land at EXACTLY v+1 or lose loudly —
    # recomputing the target version at write time would let a stale
    # writer silently clobber a winner that committed in between
    meta["__base-version__"] = v
    return meta


def _write_metadata(table: str, meta: dict) -> int:
    base = meta.get("__base-version__")
    if base is None:
        cur = current_version(table)
        v = 1 if cur is None else cur + 1
    else:
        v = base + 1
    os.makedirs(_meta_dir(table), exist_ok=True)
    path = os.path.join(_meta_dir(table), f"v{v}.metadata.json")
    # put-if-absent commit: os.link fails with EEXIST if a concurrent
    # writer claimed the version (same primitive as the Delta layer)
    tmp = path + f".tmp{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(
            {k: x for k, x in meta.items() if not k.startswith("__")},
            f,
            indent=1,
        )
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise IcebergConcurrentCommitError(
            f"metadata v{v} already committed by another writer"
        ) from None
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(_meta_dir(table), f".hint{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as f:
        f.write(str(v))
    os.replace(hint_tmp, os.path.join(_meta_dir(table), "version-hint.text"))
    return v


class IcebergConcurrentCommitError(RuntimeError):
    """Another writer committed this metadata version first."""


class IcebergConcurrentModificationError(IcebergConcurrentCommitError):
    """A concurrent commit logically conflicts with this one (the
    spec's commit-conflict rules): the losing writer's planned snapshot
    is no longer valid against the table state the winner produced —
    schema/spec/format changed, or the op is read-dependent. The caller
    must re-plan against the current version and retry; unlike a blind
    append, the engine cannot rebase it automatically."""


def _rebase_append_metadata(table: str, base_meta: dict) -> dict:
    """Refresh for a blind append that lost the commit race: re-read
    the WINNING metadata and verify the append still commutes — same
    schema (field ids/types), same default partition spec (the staged
    hive layout depends on it), same format-version. Data-only winners
    (appends, deletes, DV commits, overwrites, compactions) all pass:
    the loser's files are new, so file sets stay disjoint and its
    manifest simply re-attaches at the next sequence number. A
    metadata-shaped winner raises — the append validated against state
    that moved, and per the spec's conflict rules only the caller can
    re-plan. Returns the winner's metadata to rebase onto."""
    v = current_version(table)
    new_meta = current_metadata(table, v)
    try:
        old_schema = base_meta["schemas"][base_meta["current-schema-id"]]
        new_schema = new_meta["schemas"][new_meta["current-schema-id"]]
        old_spec = base_meta["partition-specs"][
            base_meta["default-spec-id"]
        ]["fields"]
        new_spec = new_meta["partition-specs"][
            new_meta["default-spec-id"]
        ]["fields"]
        fmt_ok = new_meta.get("format-version") == base_meta.get(
            "format-version"
        )
    except (KeyError, IndexError, TypeError) as e:
        raise IcebergConcurrentModificationError(
            f"metadata v{v} of {table} committed concurrently is not "
            f"readable as an Iceberg table ({e!r}); cannot rebase"
        ) from None
    if new_schema != old_schema:
        raise IcebergConcurrentModificationError(
            f"concurrent schema change at metadata v{v} of {table}; this "
            "append validated against an older schema — re-plan and retry"
        )
    if new_spec != old_spec:
        raise IcebergConcurrentModificationError(
            f"concurrent partition-spec change at metadata v{v} of "
            f"{table}; the staged files use the older spec's layout — "
            "re-plan and retry"
        )
    if not fmt_ok:
        raise IcebergConcurrentModificationError(
            f"concurrent format-version change at metadata v{v} of "
            f"{table}; re-plan and retry"
        )
    return new_meta


def _stage_data_files(
    df: DataFrame,
    table: str,
    spec_info: Sequence[dict],
    schema_json: "dict | None" = None,
) -> list[tuple[str, dict, int, int]]:
    """Write parquet into data/ under fresh names; return
    [(path relative to table, partition values, record count, bytes)].
    Hive layout, one dir level per partition FIELD: identity fields
    partition by the source column (its values then live only in the
    manifests — spec identity-column projection); transform fields
    (day/bucket/...) partition by a derived column named after the
    field, which lands in the dir path while the SOURCE column stays in
    the data file (spec hidden partitioning).

    ``schema_json`` (round 11): the table's current Iceberg schema —
    every written column matching a declared field is stamped with its
    FIELD ID in the parquet footer (``PARQUET:field_id``, what real
    Iceberg writers always do; Spark's
    ``spark.sql.parquet.fieldId.write.enabled`` is on by default).
    Field ids make the files self-describing across renames and are
    what lets a Delta mirror read them under columnMapping.mode=id."""
    import pyarrow.parquet as pq

    if schema_json is not None:
        ids = {f["name"]: f["id"] for f in schema_json["fields"]}
        df = df.select(
            *[
                F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
                if c in ids
                else F.col(c)
                for c in df.columns
            ]
        )
    part_cols = []
    for pf in spec_info:
        if pf["transform"] == "identity":
            part_cols.append(pf["source"])
        else:
            if pf["name"] in df.columns:
                raise ValueError(
                    f"column {pf['name']!r} collides with the partition "
                    f"field name for {pf['transform']}({pf['source']})"
                )
            df = df.withColumn(
                pf["name"],
                _transform_expr(pf["transform"], pf["source"], pf["source_type"]),
            )
            part_cols.append(pf["name"])
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    w = df.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(staging)
    out = []
    for root, dirs, files in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            rel_dir = os.path.relpath(root, staging)
            pvals: dict = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, val = seg.partition("=")
                    pvals[k] = val
            new_name = f"{uuid.uuid4().hex}.parquet"
            rel = os.path.join(
                "data", rel_dir if rel_dir != "." else "", new_name
            ).replace(os.sep + os.sep, os.sep)
            dst = os.path.join(table, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(root, fn), dst)
            n_rows = pq.ParquetFile(dst).metadata.num_rows
            out.append((rel, pvals, n_rows, os.path.getsize(dst)))
    shutil.rmtree(staging)
    return out


def _typed_partition(pvals: dict, meta: dict) -> dict:
    """Cast hive-layout string partition values to the Avro types the
    manifest's partition record declares. Dates become days-since-epoch
    ints and timestamps micros-since-epoch longs — the spec's partition
    representation AND what `_partition_record_schema` declares (an
    unconverted '2024-01-01' string would fail the Avro write)."""
    import datetime
    import urllib.parse

    schema = meta["schemas"][meta["current-schema-id"]]
    types = {f["name"]: f["type"] for f in schema["fields"]}
    # transform partition fields (ts_day / key_bucket) are typed by the
    # transform's RESULT, not the source column
    by_id = {f["id"]: f for f in schema["fields"]}
    for pf in meta["partition-specs"][meta["default-spec-id"]]["fields"]:
        tr = pf.get("transform", "identity")
        if tr != "identity":
            types[pf["name"]] = _transform_result_type(
                tr, by_id[pf["source-id"]]["type"]
            )
    out = {}
    for k, v in pvals.items():
        t = types.get(k, "string")
        if v is None or not isinstance(v, str):
            # already in manifest representation (a re-attached entry,
            # e.g. cherry_pick): pass through untouched
            out[k] = v
            continue
        # Spark hive-layout dirs escape special chars ('%3A' etc.);
        # '%' itself is written as '%25', so unquoting is lossless
        v = urllib.parse.unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[k] = None
        elif t in ("long", "int"):
            out[k] = int(v)
        elif t in ("double", "float"):
            out[k] = float(v)
        elif t == "boolean":
            out[k] = v == "true"
        elif t == "date":
            out[k] = (
                datetime.date.fromisoformat(v) - datetime.date(1970, 1, 1)
            ).days
        elif t == "timestamptz":
            dt = datetime.datetime.fromisoformat(v)
            out[k] = int(
                (dt - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6
            )
        else:
            out[k] = v
    return out


def _partition_compare_value(v, transform: str, src_type: str):
    """Normalize a user-supplied partition value to the representation
    `_typed_partition` stores in the manifests, so `scan_partition`
    equality checks compare like with like (date → days-since-epoch,
    timestamp → micros; transforms apply their own function)."""
    import datetime

    if transform == "identity":
        if src_type == "date" and isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            return (v - datetime.date(1970, 1, 1)).days
        if src_type == "timestamptz" and isinstance(v, datetime.datetime):
            return int(
                (v - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6
            )
        return v
    return apply_transform(transform, v, src_type)


def _single_value_bytes(value, iceberg_type: str) -> bytes:
    """Iceberg single-value binary serialization (spec Appendix D) —
    the encoding of manifest lower/upper bounds."""
    import struct as _struct

    if iceberg_type == "long":
        return _struct.pack("<q", int(value))
    if iceberg_type == "int":
        return _struct.pack("<i", int(value))
    if iceberg_type == "double":
        return _struct.pack("<d", float(value))
    if iceberg_type == "float":
        return _struct.pack("<f", float(value))
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "date":
        import datetime

        epoch = datetime.date(1970, 1, 1)
        return _struct.pack("<i", (value - epoch).days)
    if iceberg_type == "timestamptz":
        import datetime

        epoch = datetime.datetime(1970, 1, 1)
        return _struct.pack("<q", int((value - epoch).total_seconds() * 1e6))
    raise NotImplementedError(f"bounds for type {iceberg_type!r}")


def single_value_read(data: bytes, iceberg_type: str):
    """Inverse of the Appendix-D encoding (the pruning-side reader).

    Type-promotion rule: bounds are encoded with the field's type AT
    WRITE TIME, so after `widen_column` a long/double field's old
    manifests still carry 4-byte int/float payloads — decode by payload
    width (the promoted value compares identically)."""
    import struct as _struct

    if iceberg_type == "long":
        return _struct.unpack("<i" if len(data) == 4 else "<q", data)[0]
    if iceberg_type == "int":
        return _struct.unpack("<i", data)[0]
    if iceberg_type == "double":
        return _struct.unpack("<f" if len(data) == 4 else "<d", data)[0]
    if iceberg_type == "float":
        return _struct.unpack("<f", data)[0]
    if iceberg_type == "string":
        return data.decode("utf-8")
    if iceberg_type == "date":
        import datetime

        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=_struct.unpack("<i", data)[0]
        )
    if iceberg_type == "timestamptz":
        import datetime

        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=_struct.unpack("<q", data)[0]
        )
    raise NotImplementedError(f"bounds for type {iceberg_type!r}")


def _resolve_field_path(schema: dict, col: str) -> "tuple[int, str]":
    """(field-id, primitive type) for a top-level column name OR a
    dotted struct path (``"info.cnt"``) — the nested-stats resolution
    input. Raises ``KeyError`` when the path is missing or addresses a
    non-struct interior / non-primitive leaf (bounds are recorded for
    primitive leaves only, per the spec's per-field stats maps)."""
    fields = schema["fields"]
    *path, leaf = col.split(".")
    for i, seg in enumerate(path):
        by = {f["name"]: f for f in fields}
        if seg not in by:
            raise KeyError(col)
        t = by[seg]["type"]
        if not (isinstance(t, dict) and t["type"] == "struct"):
            raise KeyError(col)
        fields = t["fields"]
    by = {f["name"]: f for f in fields}
    if leaf not in by or isinstance(by[leaf]["type"], dict):
        raise KeyError(col)
    return by[leaf]["id"], by[leaf]["type"]


def _field_paths_by_id(schema: dict) -> "dict[int, str]":
    """field-id → dotted path for every addressable field (top-level
    and struct members; list/map interiors have no stat paths)."""
    out: "dict[int, str]" = {}

    def walk(fields, prefix):
        for f in fields:
            path = f"{prefix}{f['name']}"
            out[f["id"]] = path
            t = f["type"]
            if isinstance(t, dict) and t["type"] == "struct":
                walk(t["fields"], path + ".")

    walk(schema["fields"], "")
    return out


def _live_stat_paths(meta: dict, sid: int) -> "list[str]":
    """The dotted stat paths whose min/max bounds the snapshot's live
    data entries already carry — the default stat set for full
    rewrites (OPTIMIZE / compact / REPLACE PARTITIONED BY), so a
    maintenance pass preserves the data skipping the table had instead
    of silently dropping it (including NESTED leaf bounds, which key
    by the leaf's own field-id)."""
    paths = _field_paths_by_id(meta["schemas"][meta["current-schema-id"]])
    fids: set = set()
    snap = _snapshot(meta, sid)
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        if m.get("content", 0) != 0:
            continue
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] not in (0, 1) or e["data_file"].get("content", 0):
                continue
            fids.update(
                b["key"] for b in (e["data_file"].get("lower_bounds") or [])
            )
    return sorted(paths[f] for f in fids if f in paths)


def _file_bounds(path: str, schema: dict, stat_cols: Sequence[str]) -> tuple:
    """(lower_bounds, upper_bounds, null_value_counts) — bounds as
    [{key: field-id, value: bytes}] and null counts as
    [{key: field-id, value: long}], from the parquet footer's row-group
    statistics — KB reads, the same planner input real writers record.
    Bounds skip columns with any stats-less row group; null counts sum
    independently (a column can have countable nulls but no min/max,
    e.g. all-null). ``stat_cols`` entries may be DOTTED STRUCT PATHS
    (``"info.cnt"``): parquet keeps row-group stats per primitive LEAF,
    and the manifest keys them by the leaf's own field-id — nested data
    skipping costs nothing extra at write time."""
    if not stat_cols:
        return None, None, None
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # leaf columns key by their full dotted path (flat cols: path==name)
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    lowers, uppers, nulls = [], [], []
    for c in stat_cols:
        try:
            fid, leaf_type = _resolve_field_path(schema, c)
        except KeyError:
            continue
        if c not in idx:
            continue
        mins, maxs = [], []
        nv, nv_ok = 0, True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or st.null_count is None:
                nv_ok = False
            else:
                nv += st.null_count
            if st is None or not st.has_min_max:
                mins = []
                continue
            mins.append(st.min)
            maxs.append(st.max)
        if nv_ok:
            nulls.append({"key": fid, "value": nv})
        if len(mins) != md.num_row_groups or not mins:
            continue
        t = leaf_type
        lowers.append({"key": fid, "value": _single_value_bytes(min(mins), t)})
        uppers.append({"key": fid, "value": _single_value_bytes(max(maxs), t)})
    return lowers or None, uppers or None, nulls or None


def _added(snapshot_id: int, seq: int, data_file: dict) -> dict:
    """A manifest entry ADDED (status 1) by snapshot ``snapshot_id`` at
    sequence ``seq``."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": data_file,
    }


def _existing(entry: dict) -> dict:
    """``entry`` carried into a new manifest as EXISTING (status 0): it
    keeps the snapshot that added it and its ORIGINAL sequence numbers,
    which the equality-delete rule and the change feeds key on."""
    return {
        "status": 0,
        "snapshot_id": entry.get("snapshot_id"),
        "sequence_number": entry["sequence_number"],
        "file_sequence_number": entry.get("file_sequence_number"),
        "data_file": entry["data_file"],
    }


def _dv_entry(
    snapshot_id: int,
    seq: int,
    puffin_path: str,
    data_file: str,
    offset: int,
    length: int,
    card: int,
) -> dict:
    """ADDED entry of one v3 deletion vector: the Puffin blob at
    [offset, offset + length) of ``puffin_path``, masking ``card`` rows
    of ``data_file``."""
    return _added(
        snapshot_id,
        seq,
        {
            "content": 1,
            "file_path": puffin_path,
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": card,
            "file_size_in_bytes": os.path.getsize(puffin_path),
            "referenced_data_file": data_file,
            "content_offset": offset,
            "content_size_in_bytes": length,
        },
    )


def _write_framed_dvs(
    table: str,
    snapshot_id: int,
    seq: int,
    dvs: "list[tuple[str, bytes, int]]",
) -> list[dict]:
    """Write ``dvs`` — (data file, framed bitmap bytes, cardinality) —
    as the blobs of ONE new Puffin file under ``data/`` and return
    their ADDED entries. Delta's sidecar record framing equals Puffin's
    ``deletion-vector-v1`` blob framing (deliberately, per both public
    specs), so vectors migrated from Delta move verbatim and no bitmap
    is ever decoded."""
    name = os.path.join(
        os.path.abspath(table), "data", f"dv-{uuid.uuid4().hex}.puffin"
    )
    os.makedirs(os.path.dirname(name), exist_ok=True)
    info = puffin.write_puffin(
        name,
        [
            {
                "type": "deletion-vector-v1",
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "payload": framed,
                "properties": {
                    "referenced-data-file": fp,
                    "cardinality": str(card),
                },
            }
            for fp, framed, card in dvs
        ],
    )
    return [
        _dv_entry(snapshot_id, seq, name, fp, bm["offset"], bm["length"], card)
        for (fp, _, card), bm in zip(dvs, info["blob-metadata"])
    ]


def _data_file_records(
    table: str,
    meta: dict,
    files: list[tuple[str, dict, int, int]],
    snapshot_id: int,
    seq: int,
    stat_cols: Sequence[str] = (),
    first_row_id: "int | None" = None,
    explicit_row_ids: "Sequence[int | None] | None" = None,
) -> list[dict]:
    """ADDED entries for staged data ``files``. ``first_row_id``, when
    given (v3 row lineage), assigns each file an explicit first_row_id:
    a running offset so file k's rows own ids [offset, offset +
    record_count). ``None`` keeps the files lineage-free: a file that
    materializes its own ``_row_id`` column (compaction / UPDATE carry)
    must NOT also inherit. ``explicit_row_ids`` (aligned with
    ``files``) overrides the running assignment — the cross-format
    carry path, where each file's first_row_id is the Delta add's
    baseRowId."""
    schema = meta["schemas"][meta["current-schema-id"]]
    records = []
    next_rid = first_row_id
    for i, (rel, pvals, n_rows, size) in enumerate(files):
        lo, hi, nulls = _file_bounds(os.path.join(table, rel), schema, stat_cols)
        records.append(
            _added(
                snapshot_id,
                seq,
                {
                    "content": 0,
                    "file_path": os.path.join(os.path.abspath(table), rel),
                    "file_format": "PARQUET",
                    "partition": _typed_partition(pvals, meta),
                    "record_count": n_rows,
                    "file_size_in_bytes": size,
                    "null_value_counts": nulls,
                    "lower_bounds": lo,
                    "upper_bounds": hi,
                    "first_row_id": (
                        explicit_row_ids[i]
                        if explicit_row_ids is not None
                        else next_rid
                    ),
                },
            )
        )
        if next_rid is not None:
            next_rid += n_rows
    return records


def _write_manifest(
    table: str,
    meta: dict,
    files: list[tuple[str, dict, int, int]],
    snapshot_id: int,
    seq: int,
    stat_cols: Sequence[str] = (),
    first_row_id: "int | None" = None,
    explicit_row_ids: "Sequence[int | None] | None" = None,
) -> dict:
    """One default-spec manifest of ADDED data ``files`` (see
    :func:`_data_file_records`); returns its manifest-list entry."""
    return _write_entries_manifest(
        table, meta, meta["default-spec-id"], 0, snapshot_id, seq,
        _data_file_records(
            table, meta, files, snapshot_id, seq, stat_cols,
            first_row_id, explicit_row_ids,
        ),
    )


def _write_entries_manifest(
    table: str,
    meta: dict,
    spec_id: int,
    content: int,
    snapshot_id: int,
    seq: int,
    records: "list[dict]",
) -> dict:
    """Write ``records`` as ONE manifest of partition spec ``spec_id``
    (``content`` 0 = data files, 1 = delete files) added by snapshot
    ``snapshot_id`` at ``seq``, and return its manifest-list entry.

    Every figure in the entry is DERIVED from the records, never
    tallied by the caller: ``added_*`` counts from status-1 entries,
    ``existing_*`` from status 0, ``deleted_*`` from status 2;
    ``min_sequence_number`` is the lowest entry sequence (``seq`` for an
    empty manifest) and ``manifest_length`` the written file's size.

    The entry schema carries the spec's partition record; a delete
    manifest holding an equality delete (content=2) also carries
    ``equality_ids`` (spec field-id 135) — without it the key list
    would silently drop and the sequence rule would apply to every
    row."""
    spec = next(
        s["fields"] for s in meta["partition-specs"]
        if s.get("spec-id", 0) == spec_id
    )
    entry_schema = _manifest_entry_schema(
        _partition_record_schema(
            spec, meta["schemas"][meta["current-schema-id"]]
        )
    )
    if content == 1 and any(
        r["data_file"].get("content", 0) == 2 for r in records
    ):
        entry_schema = _with_equality_ids(entry_schema)
    os.makedirs(_meta_dir(table), exist_ok=True)
    path = os.path.join(_meta_dir(table), f"{uuid.uuid4().hex}-m0.avro")
    avro_ocf.write_ocf(path, entry_schema, records)
    by_status: "dict[int, list[dict]]" = {0: [], 1: [], 2: []}
    for r in records:
        by_status[r["status"]].append(r)

    def rows(status: int) -> int:
        return sum(r["data_file"]["record_count"] for r in by_status[status])

    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": min(
            (r["sequence_number"] for r in records), default=seq
        ),
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(by_status[1]),
        "existing_files_count": len(by_status[0]),
        "deleted_files_count": len(by_status[2]),
        "added_rows_count": rows(1),
        "existing_rows_count": rows(0),
        "deleted_rows_count": rows(2),
    }


def _write_manifest_list(
    table: str, snapshot_id: int, manifests: list[dict]
) -> str:
    path = os.path.join(
        _meta_dir(table), f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    avro_ocf.write_ocf(path, _MANIFEST_LIST_SCHEMA, manifests)
    return path


def _next_snapshot(meta: dict) -> "tuple[int, int]":
    """(snapshot id, sequence number) of the next snapshot committed on
    ``meta``. Writers allocate both before writing anything that names
    them (manifest entries, deletion-vector blobs) and hand both to
    :func:`_publish_snapshot`."""
    return int(uuid.uuid4().int % (1 << 62)) + 1, meta["last-sequence-number"] + 1


def _advance_main(meta: dict, snapshot_id: int, ts: int) -> None:
    """Move main's head to ``snapshot_id`` in ``meta`` (in place).
    ``current-snapshot-id``, ``refs.main`` and a new ``snapshot-log``
    entry move TOGETHER: spec readers resolve the main ref,
    `snapshot_as_of` walks the log and `expire_snapshots` retains from
    the refs, so all three must name the same head."""
    meta["current-snapshot-id"] = snapshot_id
    meta["refs"] = {
        **meta.get("refs", {}),
        "main": {"snapshot-id": snapshot_id, "type": "branch"},
    }
    meta["last-updated-ms"] = ts
    meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": ts, "snapshot-id": snapshot_id}
    ]


def _publish_snapshot(
    table: str,
    meta: dict,
    snapshot_id: int,
    seq: int,
    manifests: "list[dict]",
    summary: dict,
    *,
    parent: "int | None",
    schema_id: int,
    first_row_id: "int | None" = None,
    branch: str = "main",
) -> int:
    """Commit snapshot ``snapshot_id`` at ``seq`` (from
    :func:`_next_snapshot`) over ``manifests``, the COMPLETE manifest
    list (carried entries plus this commit's), on top of the metadata
    ``meta`` the writer READ. Returns ``snapshot_id``. The one commit
    path of every Iceberg writer; what it guarantees:

    - the snapshot names ``parent`` (None on a table's first snapshot)
      and ``schema_id`` (delete paths keep the read snapshot's), and
      ``last-sequence-number`` becomes ``seq``;
    - v3 lineage: ``first_row_id`` stamps the snapshot's
      ``first-row-id`` and advances ``next-row-id`` past the rows this
      commit's own data manifests ADDED. A writer that carries foreign
      ids passes None and sets ``next-row-id`` in ``meta`` itself;
    - ``branch="main"`` advances main through :func:`_advance_main`
      (head, ``refs.main`` and ``snapshot-log`` in lockstep); any other
      branch moves only its own ref and leaves main and the log alone;
    - the metadata is written from ``meta`` as read, so the
      put-if-absent commit in :func:`_write_metadata` lands at exactly
      the read version + 1 (``__base-version__``): a writer that lost a
      race to a concurrent commit fails instead of overwriting it."""
    ts = _now_ms()
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": _write_manifest_list(table, snapshot_id, manifests),
        "summary": summary,
        "schema-id": schema_id,
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    meta = dict(meta)
    if first_row_id is not None:
        snapshot["first-row-id"] = first_row_id
        meta["next-row-id"] = first_row_id + sum(
            m["added_rows_count"]
            for m in manifests
            if m.get("content", 0) == 0
            and m.get("added_snapshot_id") == snapshot_id
        )
    meta["last-sequence-number"] = seq
    meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    if branch == "main":
        _advance_main(meta, snapshot_id, ts)
    else:
        meta["last-updated-ms"] = ts
        meta["refs"] = {
            **meta.get("refs", {}),
            branch: {"snapshot-id": snapshot_id, "type": "branch"},
        }
    _write_metadata(table, meta)
    return snapshot_id


def _new_table_metadata(
    table: str,
    schema: dict,
    spec_fields: "list[dict]",
    properties: dict,
    format_version: int = FORMAT_VERSION,
) -> dict:
    """Metadata of a new table at ``table`` before its first snapshot:
    ``schema`` as schema 0, ``spec_fields`` as partition spec 0, no
    sort order, and ``properties`` over the parquet write default."""
    return {
        "format-version": format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table),
        "last-sequence-number": 0,
        "last-updated-ms": _now_ms(),
        "last-column-id": _max_field_id(schema),
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet", **properties},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


# --------------------------------------------------------------------------
# Public write API
# --------------------------------------------------------------------------


def create(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    stat_cols: Sequence[str] = (),
    summary: dict | None = None,
    format_version: int = FORMAT_VERSION,
) -> int:
    """Create an Iceberg table (metadata v1, snapshot 1). Returns the
    snapshot id. ``stat_cols`` records per-file lower/upper bounds in
    the manifests (the `scan_range` data-skipping input).

    ``partition_by`` entries are bare column names (identity transform)
    or transform expressions per the spec's partitioning section:
    ``"day(ts)"`` / ``"month(ts)"`` / ``"year(d)"`` / ``"hour(ts)"`` /
    ``"bucket(16, key)"`` / ``"truncate(4, name)"`` — hidden
    partitioning: queries filter the SOURCE column and pruning happens
    against the transformed manifest tuples.

    ``format_version=3`` opts into Iceberg v3 semantics: row-level
    deletes are stored as DELETION VECTORS (Puffin ``deletion-vector-v1``
    blobs) instead of position-delete parquet files — see
    :func:`delete_where`."""
    if current_version(table) is not None:
        raise FileExistsError(f"{table} already has Iceberg metadata")
    if format_version not in (2, 3):
        raise ValueError(f"unsupported format-version {format_version}")
    os.makedirs(table, exist_ok=True)
    schema = _schema_json(df)
    by_name = {f["name"]: f for f in schema["fields"]}
    parsed = [_parse_partition_field(s, by_name) for s in partition_by]
    if len({p["name"] for p in parsed}) != len(parsed):
        raise ValueError("duplicate partition field names")
    for p in parsed:
        if p["transform"] != "identity" and p["name"] in by_name:
            raise ValueError(
                f"partition field name {p['name']!r} collides with a column"
            )
    spec_fields = [
        {
            "name": p["name"],
            "transform": p["transform"],
            "source-id": by_name[p["source"]]["id"],
            "field-id": 1000 + i,
        }
        for i, p in enumerate(parsed)
    ]
    meta = _new_table_metadata(table, schema, spec_fields, {}, format_version)
    return _commit_snapshot(df, table, meta, "append", False, stat_cols, summary)


class IcebergSchemaMismatchError(ValueError):
    """Append carried columns the table schema doesn't have and
    ``merge_schema`` was not requested (schema enforcement)."""


def append(
    df: DataFrame,
    table: str,
    stat_cols: Sequence[str] = (),
    summary: dict | None = None,
    merge_schema: bool = False,
) -> int:
    """Append snapshot: prior manifests carry over as EXISTING entries
    in the new manifest list; one new manifest holds the added files.

    Schema contract (same semantics as the Delta layer): columns
    MISSING from the batch read back as null; EXTRA columns are
    rejected unless ``merge_schema=True``, which registers a NEW schema
    entry — existing columns KEEP their field ids (the Iceberg
    invariant real readers key columns on) and new ones continue from
    ``last-column-id``. Snapshots read under the current schema, so
    pre-evolution files surface the new columns as null."""
    meta = current_metadata(table)
    declared = meta["schemas"][meta["current-schema-id"]]
    known = {f["name"] for f in declared["fields"]}
    # v3 write-defaults: a declared column the batch omits is FILLED at
    # write time (add_column's write_default); columns without one keep
    # the read-back-as-null contract
    batch_cols = set(df.columns)
    for fld in declared["fields"]:
        if fld.get("write-default") is not None and fld["name"] not in batch_cols:
            dt = _spark_schema({"fields": [fld]}).fields[0].dataType
            df = df.withColumn(
                fld["name"], F.lit(fld["write-default"]).cast(dt)
            )
    extra = [f for f in df.schema.fields if f.name not in known]
    if extra:
        if not merge_schema:
            raise IcebergSchemaMismatchError(
                f"append adds columns {[f.name for f in extra]} not in the "
                f"table schema; pass merge_schema=True to evolve"
            )
        next_id = meta["last-column-id"]
        new_fields = list(declared["fields"])
        hist_names = {
            n for names in _field_name_history(meta).values() for n in names
        }
        import itertools

        counter = itertools.count(next_id + 1)
        for f in extra:
            if f.name in hist_names:
                raise IcebergSchemaMismatchError(
                    f"column name {f.name!r} was carried by a dropped or "
                    "renamed field; physical file names must resolve to "
                    "exactly one field-id — pick a fresh name"
                )
            fid = next(counter)
            new_fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type_of(
                        f.dataType, lambda: next(counter)
                    ),
                }
            )
        next_id = next(counter) - 1
        new_schema = {
            "type": "struct",
            "schema-id": len(meta["schemas"]),
            "fields": new_fields,
        }
        meta = dict(meta)
        meta["schemas"] = list(meta["schemas"]) + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        meta["last-column-id"] = next_id
    if extra:
        # schema-evolving append: a metadata change per the conflict
        # rules — it never auto-rebases, so commit once and surface any
        # race to the caller for a re-plan
        return _commit_snapshot(
            df, table, meta, "append", False, stat_cols, summary
        )
    # blind append: optimistic concurrency with automatic rebase. Stage
    # the data files ONCE, then on losing the put-if-absent race verify
    # the winner left schema/spec/format untouched (a data-only winner
    # always does — file sets are disjoint) and re-attach the same files
    # at the winner's next sequence number. Each retry re-writes only a
    # manifest + manifest list (KB of metadata); lost attempts' metadata
    # files are orphans `remove_orphan_files` reclaims.
    files = _stage_data_files(
        df, table, _spec_info(meta),
        meta["schemas"][meta["current-schema-id"]],
    )
    max_retries = 50
    for _ in range(max_retries):
        try:
            return _commit_snapshot(
                None, table, meta, "append", False, stat_cols, summary,
                staged_files=files,
            )
        except IcebergConcurrentModificationError:
            raise
        except IcebergConcurrentCommitError:
            meta = _rebase_append_metadata(table, meta)
    raise IcebergConcurrentModificationError(
        f"append to {table} lost the commit race {max_retries} times"
    )


def upgrade_format_version(table: str, to_version: int = 3) -> int:
    """Metadata-only upgrade of a v2 table to Iceberg v3 (the cloned /
    migrated-table path onto deletion vectors). Existing snapshots —
    including their position-delete parquet files — stay valid and
    readable exactly as written (the spec grandfathers v2 deletes);
    what changes is the WRITE contract: new row-level deletes commit as
    Puffin deletion vectors, and :func:`rewrite_position_deletes` will
    consolidate the inherited parquet tombstones into DVs. Downgrades
    raise — v3 metadata can reference DV blobs a v2 reader cannot
    decode. Returns the new metadata version."""
    meta = current_metadata(table)
    cur = int(meta.get("format-version", 2))
    if to_version != 3:
        raise ValueError(f"can only upgrade to format-version 3, got {to_version}")
    if cur > to_version:
        raise ValueError(
            f"cannot downgrade format-version {cur} -> {to_version}"
        )
    if cur == to_version:
        return current_version(table)
    meta = dict(meta)
    meta["format-version"] = to_version
    # v3 row lineage: future commits assign row ids from here; files
    # written while the table was v2 stay lineage-free (null _row_id)
    meta.setdefault("next-row-id", 0)
    return _write_metadata(table, meta)


def _live_equality_ids(meta: dict) -> set:
    """Field-ids keyed by any equality-delete file live at the current
    snapshot: those tombstone parquet files store the key columns under
    their WRITE-TIME names, so the schema surgery below refuses to
    touch them (the honest gate — resolving tombstones through renames
    would need field-ids inside the delete files, which Spark-written
    parquet doesn't carry)."""
    sid = meta.get("current-snapshot-id", -1)
    if sid == -1:
        return set()
    ids: set = set()
    snap = _snapshot(meta, sid)
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] in (0, 1) and (
                entry["data_file"].get("content", 0) == 2
            ):
                ids.update(entry["data_file"].get("equality_ids") or [])
    return ids


def _write_name_mapping(meta: dict) -> None:
    """Record the spec's ``schema.name-mapping.default`` property (the
    mechanism external readers use to resolve files written without
    parquet field-id annotations — exactly our files): one entry per
    field-id listing every physical name it has carried."""
    mapping = [
        {"field-id": fid, "names": names}
        for fid, names in sorted(_field_name_history(meta).items())
    ]
    props = dict(meta.get("properties", {}))
    props["schema.name-mapping.default"] = json.dumps(mapping)
    meta["properties"] = props


def _has_defaults(schema_json: dict) -> bool:
    return any(
        f.get("initial-default") is not None for f in schema_json["fields"]
    )


def _navigate_struct(fields: "list[dict]", path: "list[str]") -> "list[dict]":
    """The field list of the nested STRUCT addressed by dotted ``path``
    segments inside ``fields`` (mutating the returned list mutates the
    caller's copy). A segment that is missing raises ``KeyError``; one
    that is not a struct raises — nested evolution addresses struct
    members only (list/map interiors keep an honest gate: their
    element/key/value have no names to address)."""
    cur = fields
    for i, seg in enumerate(path):
        by = {f["name"]: f for f in cur}
        if seg not in by:
            raise KeyError(
                f"{'.'.join(path[: i + 1])!r} not in table schema"
            )
        t = by[seg]["type"]
        if not (isinstance(t, dict) and t["type"] == "struct"):
            raise NotImplementedError(
                f"{'.'.join(path[: i + 1])!r} is not a struct; nested "
                "evolution addresses struct fields only (list/map "
                "interiors are gated)"
            )
        cur = t["fields"]
    return cur


def _nested_name_ever(meta: dict, path: "list[str]", name: str) -> bool:
    """Did ANY schema generation carry a field called ``name`` inside
    the struct at ``path``? Re-adding a once-dropped nested name would
    RESURRECT the old files' bytes (nested reads resolve by name), so
    `add_column` gates on this — the nested analogue of the top-level
    name-history rule."""
    for s in meta["schemas"]:
        try:
            fields = _navigate_struct(
                [dict(f) for f in s["fields"]], path
            )
        except (KeyError, NotImplementedError):
            continue
        if any(f["name"] == name for f in fields):
            return True
    return False


def add_column(
    table: str,
    name: str,
    type_str,
    default=None,
    write_default=None,
) -> int:
    """ADD COLUMN — metadata-only (one new schema entry; zero files
    touched). ``default`` is the v3 spec's ``initial-default``: rows
    written BEFORE the column existed read back as this value instead
    of null — the discriminator is physical (a pre-evolution file
    lacks the column in its footer; a post-evolution file always
    carries it, explicit nulls included), exactly the spec's rule.
    ``write_default`` fills the column at WRITE time when an appended
    batch omits it (defaults to ``default``). Defaults require
    format-version 3; a plain null-filling add works on v2 via
    ``append(..., merge_schema=True)`` as before.

    ``type_str`` is a primitive type name OR a Spark ``DataType``
    (struct/array/map supported — every nested field gets a fresh
    spec field-id). ``name`` may be a DOTTED PATH (``"info.flag"``):
    the new field lands INSIDE the addressed struct — pre-evolution
    files read it as null (parquet missing-subfield semantics), no
    data moves. Nested adds take no defaults (the footer discriminator
    and write-fill are top-level machinery) and a once-dropped nested
    name cannot be re-added (same resurrection rule as top level).
    Returns the new metadata version."""
    import copy
    import itertools

    meta = current_metadata(table)
    declared = meta["schemas"][meta["current-schema-id"]]
    counter = itertools.count(meta["last-column-id"] + 1)

    def _make_field(fname: str) -> dict:
        fid = next(counter)
        t = (
            _iceberg_type(type_str)
            if isinstance(type_str, str)
            else _iceberg_type_of(type_str, lambda: next(counter))
        )
        return {"id": fid, "name": fname, "required": False, "type": t}

    if "." in name:
        if default is not None or write_default is not None:
            raise NotImplementedError(
                "defaults on a nested field add are not supported — "
                "the footer discriminator and write-time fill are "
                "top-level machinery"
            )
        *path, leaf = name.split(".")
        new_fields = copy.deepcopy(declared["fields"])
        parent = _navigate_struct(new_fields, path)
        if any(f["name"] == leaf for f in parent):
            raise ValueError(f"{name!r} already in table schema")
        if _nested_name_ever(meta, path, leaf):
            raise IcebergSchemaMismatchError(
                f"nested name {name!r} was carried by a dropped field; "
                "re-adding it would resurrect the old files' bytes "
                "(nested reads resolve by name) — pick a fresh name"
            )
        parent.append(_make_field(leaf))
    else:
        if any(f["name"] == name for f in declared["fields"]):
            raise ValueError(f"{name!r} already in table schema")
        hist_names = {
            n for names in _field_name_history(meta).values() for n in names
        }
        if name in hist_names:
            raise IcebergSchemaMismatchError(
                f"column name {name!r} was carried by a dropped or renamed "
                "field; physical file names must resolve to exactly one "
                "field-id — pick a fresh name"
            )
        if default is not None or write_default is not None:
            if int(meta.get("format-version", 2)) < 3:
                raise ValueError(
                    "column defaults are an Iceberg v3 feature — "
                    "upgrade_format_version(table, 3) first"
                )
            # only INITIAL defaults touch the read path; a write-default
            # is write-time metadata and composes with any layout
            if default is not None and _identity_part_cols(meta):
                raise NotImplementedError(
                    "initial-defaults on an identity-partitioned table: "
                    "the footer-grouped default read cannot restore hive "
                    "partition columns on every layout"
                )
            if not isinstance(type_str, str):
                raise NotImplementedError(
                    "defaults on a nested-typed column are not supported"
                )
        field = _make_field(name)
        if default is not None:
            field["initial-default"] = default
        if write_default is not None or default is not None:
            field["write-default"] = (
                write_default if write_default is not None else default
            )
        new_fields = list(declared["fields"]) + [field]
    new_schema = {
        "type": "struct",
        "schema-id": len(meta["schemas"]),
        "fields": new_fields,
    }
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-column-id"] = next(counter) - 1
    _write_name_mapping(meta)
    return _write_metadata(table, meta)


def rename_column(table: str, old: str, new: str) -> int:
    """RENAME COLUMN — metadata-only (zero data files touched): a new
    schema generation keeps every field-id and changes one name; data
    files written before the rename keep their physical name and the
    reader resolves them per generation (see `_read_renamed_groups`),
    while the spec's ``schema.name-mapping.default`` property carries
    the same resolution for external readers. Time travel to an older
    snapshot still reads under the name of its day.

    Honest gates (each would silently corrupt a read path otherwise):
    identity-partitioned tables (hive dirs and manifest tuples are
    keyed by physical column names), columns keyed by a LIVE
    equality-delete file (tombstone parquet stores write-time names),
    and reusing ANY historical name of another field (physical names
    must resolve to exactly one field-id). Returns the new schema id."""
    if "." in old or "." in new:
        raise NotImplementedError(
            "nested field rename: old files store the write-time nested "
            "name and the declared-schema read would surface null — the "
            "per-generation group read covers top-level names only"
        )
    meta = current_metadata(table)
    declared = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in declared["fields"]}
    if old not in by_name:
        raise KeyError(f"{old!r} not in table schema")
    hist = _field_name_history(meta)
    fid = by_name[old]["id"]
    for other_fid, names in hist.items():
        if other_fid != fid and new in names:
            raise ValueError(
                f"{new!r} is (or was) the name of another column; physical "
                "file names must resolve to exactly one field-id"
            )
    if new in by_name:
        raise ValueError(f"{new!r} already in table schema")
    if any(
        pf["source-id"] == fid
        and pf.get("transform", "identity") == "identity"
        for spec in meta.get("partition-specs", [])
        for pf in spec["fields"]
    ):
        # only the partition SOURCE columns are physically keyed (hive
        # directory names, manifest partition tuples, basePath
        # restoration) — renaming any OTHER column on a partitioned
        # table is plain name-history resolution like the
        # unpartitioned case
        raise NotImplementedError(
            "rename of an identity-partition source column: hive "
            "directory names and manifest tuples are keyed by the "
            "physical column name"
        )
    if fid in _live_equality_ids(meta):
        raise NotImplementedError(
            f"{old!r} keys a live equality-delete file whose parquet "
            "stores write-time column names; compact the deletes first "
            "(optimize) and retry"
        )
    new_fields = [
        {**f, "name": new} if f["id"] == fid else dict(f)
        for f in declared["fields"]
    ]
    new_schema = {
        "type": "struct",
        "schema-id": len(meta["schemas"]),
        "fields": new_fields,
    }
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-updated-ms"] = _now_ms()
    _write_name_mapping(meta)
    _write_metadata(table, meta)
    return new_schema["schema-id"]


#: sanctioned type promotions (spec §Schema Evolution): widening only,
#: value-preserving, so old files read correctly under the new type
_WIDEN_OK = {("int", "long"), ("float", "double")}


def widen_column(table: str, col: str, new_type: str) -> int:
    """WIDEN COLUMN TYPE — metadata-only (spec type promotion:
    int → long, float → double): a new schema generation keeps the
    field-id and widens the type; zero files rewritten. Old files'
    narrower physical values upcast exactly on read (parquet scan under
    the declared wider schema), and their manifest BOUNDS — encoded
    with the write-time type per Appendix D — decode by payload width
    in `single_value_read`, so scan_range pruning keeps working across
    the promotion boundary.

    Partition SOURCE columns widen too (round 8 — the spec allows it,
    and the layer's machinery is promotion-stable by construction):
    old manifests keep their narrow-typed partition tuples (Avro
    int/float decode to Python values that compare equal to their
    exact upcasts), new manifests write the widened record schema, and
    every transform is value-compatible across the boundary — the
    spec's bucket hash treats int as long and float as double by
    design (`_bucket_udf` hashes 8-byte LE blocks), truncate is plain
    integer math, identity restoration casts to the CURRENT declared
    type. Returns the new schema id.

    ``col`` may be a DOTTED PATH (``"info.cnt"``) — the promotion
    applies to a struct member (same metadata-only rule; old files'
    narrower nested values upcast on read)."""
    import copy

    meta = current_metadata(table)
    declared = meta["schemas"][meta["current-schema-id"]]
    if "." in col:
        *path, leaf = col.split(".")
        new_fields = copy.deepcopy(declared["fields"])
        parent = _navigate_struct(new_fields, path)
        by_leaf = {f["name"]: f for f in parent}
        if leaf not in by_leaf:
            raise KeyError(f"{col!r} not in table schema")
        old_type = by_leaf[leaf]["type"]
        if old_type == new_type:
            return meta["current-schema-id"]
        if not isinstance(old_type, str) or (
            old_type, new_type
        ) not in _WIDEN_OK:
            raise ValueError(
                f"{old_type} -> {new_type} is not a sanctioned promotion "
                f"(allowed: {sorted(_WIDEN_OK)})"
            )
        by_leaf[leaf]["type"] = new_type
        new_schema = {
            "type": "struct",
            "schema-id": len(meta["schemas"]),
            "fields": new_fields,
        }
        meta = dict(meta)
        meta["schemas"] = list(meta["schemas"]) + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        meta["last-updated-ms"] = _now_ms()
        _write_metadata(table, meta)
        return new_schema["schema-id"]
    by_name = {f["name"]: f for f in declared["fields"]}
    if col not in by_name:
        raise KeyError(f"{col!r} not in table schema")
    old_type = by_name[col]["type"]
    if old_type == new_type:
        return meta["current-schema-id"]
    if (old_type, new_type) not in _WIDEN_OK:
        raise ValueError(
            f"{old_type} -> {new_type} is not a sanctioned promotion "
            f"(allowed: {sorted(_WIDEN_OK)})"
        )
    fid = by_name[col]["id"]
    new_schema = {
        "type": "struct",
        "schema-id": len(meta["schemas"]),
        "fields": [
            {**f, "type": new_type} if f["id"] == fid else dict(f)
            for f in declared["fields"]
        ],
    }
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-updated-ms"] = _now_ms()
    if old_type == "float" and any(
        pf["source-id"] == fid and pf.get("transform", "identity") == "identity"
        for spec in meta.get("partition-specs", [])
        for pf in spec["fields"]
    ):
        # hive dir strings keep the narrow float rendering ("0.1");
        # re-casting them under double would silently shift every
        # value — flip reads to manifest-tuple identity restoration
        # (Avro float tuples decode to the EXACT upcast double)
        props = dict(meta.get("properties") or {})
        props["partition-values-authoritative"] = "true"
        meta["properties"] = props
    _write_metadata(table, meta)
    return new_schema["schema-id"]


def drop_column(table: str, col: str) -> int:
    """DROP COLUMN — metadata-only: a new schema generation without the
    field. Data files keep the bytes (time travel to older snapshots
    still surfaces them); current reads simply never select the column.
    The field-id is retired, never reused (``last-column-id`` is
    monotone). Gates: partition-spec SOURCE columns of any spec
    generation (manifest tuples/planning key on them) and live
    equality-delete key columns. Returns the new schema id.

    ``col`` may be a DOTTED PATH (``"info.flag"``) — the member leaves
    the struct's declared shape (bytes stay in the files for time
    travel; the retired name cannot be re-added, see `add_column`).
    The last member of a struct cannot be dropped (parquet has no
    empty groups) — drop the whole column instead."""
    import copy

    meta = current_metadata(table)
    declared = meta["schemas"][meta["current-schema-id"]]
    if "." in col:
        *path, leaf = col.split(".")
        new_fields = copy.deepcopy(declared["fields"])
        parent = _navigate_struct(new_fields, path)
        if not any(f["name"] == leaf for f in parent):
            raise KeyError(f"{col!r} not in table schema")
        if len(parent) == 1:
            raise ValueError(
                f"cannot drop the last member of struct "
                f"{'.'.join(path)!r}; drop the whole column instead"
            )
        parent[:] = [f for f in parent if f["name"] != leaf]
        new_schema = {
            "type": "struct",
            "schema-id": len(meta["schemas"]),
            "fields": new_fields,
        }
        meta = dict(meta)
        meta["schemas"] = list(meta["schemas"]) + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        meta["last-updated-ms"] = _now_ms()
        _write_name_mapping(meta)
        _write_metadata(table, meta)
        return new_schema["schema-id"]
    by_name = {f["name"]: f for f in declared["fields"]}
    if col not in by_name:
        raise KeyError(f"{col!r} not in table schema")
    fid = by_name[col]["id"]
    for spec in meta.get("partition-specs", []):
        if any(pf["source-id"] == fid for pf in spec["fields"]):
            raise ValueError(
                f"{col!r} is a partition source column (spec-id "
                f"{spec.get('spec-id', 0)}); drop the partition field first"
            )
    if fid in _live_equality_ids(meta):
        raise NotImplementedError(
            f"{col!r} keys a live equality-delete file; compact the "
            "deletes first (optimize) and retry"
        )
    new_schema = {
        "type": "struct",
        "schema-id": len(meta["schemas"]),
        "fields": [dict(f) for f in declared["fields"] if f["id"] != fid],
    }
    if not new_schema["fields"]:
        raise ValueError("cannot drop the last column")
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-updated-ms"] = _now_ms()
    _write_name_mapping(meta)
    _write_metadata(table, meta)
    return new_schema["schema-id"]


def overwrite(df: DataFrame, table: str, stat_cols: Sequence[str] = ()) -> int:
    """Overwrite snapshot: the new manifest list names ONLY the new
    manifest — prior snapshots stay time-travelable via their own
    manifest lists."""
    meta = current_metadata(table)
    return _commit_snapshot(df, table, meta, "overwrite", True, stat_cols)


def _commit_snapshot(
    df: DataFrame | None,
    table: str,
    meta: dict,
    operation: str,
    replace: bool,
    stat_cols: Sequence[str] = (),
    summary: dict | None = None,
    staged_files: "list[tuple[str, dict, int, int]] | None" = None,
    assign_row_ids: bool = True,
    explicit_row_ids: "Sequence[int | None] | None" = None,
) -> int:
    """``assign_row_ids=False`` (v3) skips row-id assignment for this
    commit's files — the rewrite paths use it when the staged parquet
    already MATERIALIZES ``_row_id`` (a file must inherit or
    materialize, never both). ``explicit_row_ids`` (aligned with
    ``staged_files``) CARRIES ids this table already allocated instead
    of assigning (the `cherry_pick` path)."""
    snapshot_id, seq = _next_snapshot(meta)
    files = (
        staged_files
        if staged_files is not None
        else _stage_data_files(
            df, table, _spec_info(meta),
            meta["schemas"][meta["current-schema-id"]],
        )
    )
    v3 = int(meta.get("format-version", 2)) >= 3
    first_rid = (
        int(meta.get("next-row-id", 0))
        if v3 and assign_row_ids and explicit_row_ids is None
        else None
    )
    manifests = [
        _write_manifest(
            table, meta, files, snapshot_id, seq, stat_cols,
            first_row_id=first_rid, explicit_row_ids=explicit_row_ids,
        )
    ]
    parent = meta.get("current-snapshot-id", -1)
    parent = None if parent == -1 else parent
    if not replace and parent is not None:
        manifests = (
            avro_ocf.read_ocf(_snapshot(meta, parent)["manifest-list"])
            + manifests
        )
    return _publish_snapshot(
        table, meta, snapshot_id, seq, manifests,
        {"operation": operation, **(summary or {})},
        parent=parent,
        schema_id=meta["current-schema-id"],
        first_row_id=first_rid,
    )


# --------------------------------------------------------------------------
# Read side
# --------------------------------------------------------------------------


def _snapshot(meta: dict, snapshot_id: int) -> dict:
    for s in meta["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise KeyError(f"snapshot {snapshot_id} not in table metadata")


def snapshot_ids(table: str) -> list[int]:
    """All snapshot ids, oldest first (the time-travel surface)."""
    return [s["snapshot-id"] for s in current_metadata(table)["snapshots"]]


def snapshot_files(table: str, snapshot_id: int | None = None) -> list[str]:
    """Live data-file paths (relative to the table root) at a snapshot,
    planned purely from metadata: metadata.json → manifest list →
    manifests. Never lists directories."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    out = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] in (0, 1) and (
                entry["data_file"].get("content", 0) == 0  # data, not deletes
            ):
                out.append(
                    os.path.relpath(
                        entry["data_file"]["file_path"], os.path.abspath(table)
                    )
                )
    return sorted(out)


def snapshot_delete_files(table: str, snapshot_id: int | None = None) -> list[str]:
    """Absolute paths of the POSITION-DELETE parquet files (content=1)
    live at a snapshot — the merge-on-read inputs a reader must
    anti-join. V3 deletion-vector entries (content=1 but file_format
    PUFFIN) are excluded: they are blobs, not parquet — see
    :func:`snapshot_dv_entries`."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    out = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] in (0, 1) and (
                entry["data_file"].get("content", 0) == 1
            ) and (
                (entry["data_file"].get("file_format") or "PARQUET").upper()
                != "PUFFIN"
            ):
                out.append(entry["data_file"]["file_path"])
    return sorted(out)


def snapshot_dv_entries(
    table: str, snapshot_id: int | None = None
) -> "list[dict]":
    """The v3 DELETION-VECTOR entries live at a snapshot: one dict per
    DV — {"puffin_path", "offset", "length", "referenced_data_file",
    "cardinality", "sequence_number"}. Per spec at most one DV exists
    per data file in a snapshot."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    out = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            d = entry["data_file"]
            if entry["status"] in (0, 1) and d.get("content", 0) == 1 and (
                (d.get("file_format") or "").upper() == "PUFFIN"
            ):
                out.append(_dv_of(d, entry["sequence_number"]))
    return sorted(out, key=lambda e: e["referenced_data_file"])


def _dv_of(d: dict, seq: "int | None" = None) -> dict:
    """The :func:`snapshot_dv_entries` dict of a DV manifest
    ``data_file`` ``d`` committed at ``seq``."""
    return {
        "puffin_path": d["file_path"],
        "offset": d["content_offset"],
        "length": d["content_size_in_bytes"],
        "referenced_data_file": d["referenced_data_file"],
        "cardinality": d["record_count"],
        "sequence_number": seq,
    }


def _dv_locator(e: dict) -> dict:
    """`deletion_vectors` locator of a :func:`snapshot_dv_entries`
    entry: the blob's ``length`` is the framed record (u32 BE size +
    data + u32 BE CRC), and the entry's ``record_count`` is the
    cardinality the decoded bitmap must match."""
    return {
        "path": e["puffin_path"],
        "offset": int(e["offset"]),
        "size": int(e["length"]) - 8,
        "cardinality": e["cardinality"],
    }


def _dv_positions(d: dict) -> "list[int]":
    """Deleted positions of a DV manifest ``data_file``: its Puffin
    ``deletion-vector-v1`` blob decoded by `deletion_vectors.positions`
    (the record is byte-identical to a Delta DV sidecar's), checked
    against the entry's ``record_count``."""
    return deletion_vectors.positions(_dv_locator(_dv_of(d)))


def _dv_tombstones(
    spark: SparkSession, dv_entries: "list[dict]", old: "dict | None" = None
) -> DataFrame:
    """(__fp, __pos) tombstones of DV entries through `dv_codec.decode`
    (decoded on the driver for small DV sets, on executors above its
    gate). ``old`` maps a data file to its predecessor DV entry, whose
    positions are subtracted (the rows one commit's DV added)."""
    old = old or {}
    return dv_codec.decode(
        spark,
        [
            (
                e["referenced_data_file"],
                _dv_locator(e),
                _dv_locator(old[e["referenced_data_file"]])
                if e["referenced_data_file"] in old
                else None,
            )
            for e in dv_entries
        ],
    )


#: normalize Spark's _metadata.file_path URI ("file:///abs") to the
#: plain absolute path manifests and delete files carry
def _norm_file_path():
    """``_metadata.file_path`` → the ON-DISK path: strip the ``file:``
    scheme and percent-DECODE the Hadoop-encoded URI (space → %20,
    '%' → %25), so path-keyed joins (position-delete application,
    manifest identity restoration) match the manifests' plain absolute
    paths even under special-char hive partition dirs. '+' is protected
    as %2B first because url_decode is form-decoding ('+' → space)."""
    raw = F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))


def _spark_schema(schema: dict):
    """StructType for an Iceberg schema dict (the declared-read input)."""
    import re

    from pyspark.sql import types as T

    back = {
        "long": T.LongType(), "int": T.IntegerType(), "string": T.StringType(),
        "double": T.DoubleType(), "float": T.FloatType(),
        "boolean": T.BooleanType(), "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        # plain (ntz) timestamps must NOT map to TimestampType or naive
        # values get session-timezone-shifted
        "timestamp": T.TimestampNTZType(),
        "binary": T.BinaryType(),
    }

    def one(t):
        if isinstance(t, dict):  # spec nested forms
            if t["type"] == "struct":
                return T.StructType(
                    [
                        T.StructField(
                            f["name"],
                            one(f["type"]),
                            not f.get("required", False),
                        )
                        for f in t["fields"]
                    ]
                )
            if t["type"] == "list":
                return T.ArrayType(
                    one(t["element"]), not t.get("element-required", False)
                )
            if t["type"] == "map":
                return T.MapType(
                    one(t["key"]),
                    one(t["value"]),
                    not t.get("value-required", False),
                )
            raise NotImplementedError(f"unknown nested type {t['type']!r}")
        if t.startswith("decimal"):
            p, s = re.findall(r"-?\d+", t)
            return T.DecimalType(int(p), int(s))
        return back[t]

    return T.StructType(
        [T.StructField(f["name"], one(f["type"]), True) for f in schema["fields"]]
    )


def _identity_values_by_file(meta: dict, sid: int, id_cols: list) -> dict:
    """abs file path -> {identity col: manifest partition value} for a
    snapshot's data files — the spec's identity-column projection
    input, read from manifests (KBs)."""
    import datetime

    schema = meta["schemas"][meta["current-schema-id"]]
    types = {f["name"]: f["type"] for f in schema["fields"]}
    snap = _snapshot(meta, sid)
    out: dict = {}
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] not in (0, 1) or e["data_file"].get("content", 0):
                continue
            part = e["data_file"].get("partition") or {}
            vals = {}
            for c in id_cols:
                v = part.get(c)
                if v is not None and types.get(c) == "date":
                    v = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
                vals[c] = v
            out[e["data_file"]["file_path"]] = vals
    return out


def _field_name_history(meta: dict) -> "dict[int, list[str]]":
    """Every name each field-id has carried, across ALL schema
    generations, oldest first — the reader's rename-resolution input
    (equivalent to the spec's ``schema.name-mapping.default`` property,
    which :func:`rename_column` also writes for external readers)."""
    hist: dict[int, list[str]] = {}
    for s in meta["schemas"]:
        for f in s["fields"]:
            names = hist.setdefault(f["id"], [])
            if f["name"] not in names:
                names.append(f["name"])
    return hist


def _has_renames(meta: dict) -> bool:
    return any(len(v) > 1 for v in _field_name_history(meta).values())


def _read_renamed_groups(
    spark: SparkSession,
    meta: dict,
    schema_json: dict,
    paths: "list[str]",
    base_path: "str | None",
    extra_fields: "Sequence | None" = None,
    id_cols: "Sequence[str]" = (),
    id_vals: "dict | None" = None,
) -> DataFrame:
    """Per-generation read for tables with renamed columns: data files
    physically carry the column names current WHEN THEY WERE WRITTEN,
    so a single by-name scan would null out every renamed column in
    old files. Group files by their footer's physical name tuple
    (KB-sized footer reads, the same planner cost class as the bounds
    stats), read each group under its physical names with the DECLARED
    types (resolved physical-name → field-id → declared field), alias
    to declared names, and union. `_metadata` is materialized as a real
    column so merge-on-read delete application still works after the
    union.

    Identity partition columns restore via ``base_path`` dir discovery
    on single-spec layouts; an evolved-spec / foreign-path layout
    passes ``id_vals`` (file → manifest partition values, the spec's
    identity projection) instead, restored after the union by a
    broadcast file-keyed join (round 12 — before, this combination
    raised)."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    if id_cols and not base_path and id_vals is None:
        raise NotImplementedError(
            "renamed/defaulted read on an identity-partitioned table "
            "without basePath discovery (evolved-spec or foreign-path "
            "layout) requires manifest identity values"
        )
    spark_decl = _spark_schema(schema_json)
    decl_by_id = {
        f["id"]: (f["name"], sf.dataType)
        for f, sf in zip(schema_json["fields"], spark_decl.fields)
    }
    name_to_id: dict[str, int] = {}
    for fid, names in _field_name_history(meta).items():
        for n in names:
            name_to_id[n] = fid  # unique: rename_column refuses reuse
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        phys = tuple(pq.read_schema(p).names)
        groups.setdefault(phys, []).append(p)
    out = None
    for phys, ps in sorted(groups.items()):
        read_fields, alias_of = [], {}
        for pn in phys:
            fid = name_to_id.get(pn)
            if fid is None or fid not in decl_by_id:
                continue  # dropped or never-declared column: ignore
            dn, dt = decl_by_id[fid]
            read_fields.append(T.StructField(pn, dt))
            alias_of[dn] = pn
        # extra physical fields (v3 lineage columns) carry no field-id
        # and are never renamed: read them by their own names, null
        # where absent
        read_fields.extend(extra_fields or [])
        r = spark.read.schema(T.StructType(read_fields))
        if base_path:
            r = r.option("basePath", base_path)
        d = r.parquet(*ps)
        default_of = {
            f["name"]: f.get("initial-default")
            for f in schema_json["fields"]
        }
        cols = []
        for f in spark_decl.fields:
            if f.name in alias_of:
                cols.append(F.col(alias_of[f.name]).alias(f.name))
            elif f.name in id_cols:
                if base_path is None:
                    continue  # restored post-union from id_vals
                # identity partition column: never in the footer (hive
                # layout) and never renameable (gated) — basePath
                # discovery restored it under its own stable name
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                # absent from this footer group: v3 initial-default
                # when declared, else the usual null fill
                cols.append(
                    F.lit(default_of.get(f.name))
                    .cast(f.dataType)
                    .alias(f.name)
                )
        cols.extend(F.col(f.name) for f in (extra_fields or []))
        d = d.select(*cols, F.col("_metadata"))
        out = d if out is None else out.unionByName(d)
    if id_cols and base_path is None:
        # manifest-authoritative identity restoration (the evolved-
        # spec rule): file-count-sized broadcast map; __fp / __pos
        # materialized BEFORE the join severs `_metadata`, so delete
        # application downstream keeps working
        by_name = {f.name: f for f in spark_decl.fields}
        rows = [
            tuple([fp] + [vals.get(c) for c in id_cols])
            for fp, vals in sorted((id_vals or {}).items())
        ]
        map_schema = T.StructType(
            [T.StructField("__fp", T.StringType(), False)]
            + [by_name[c] for c in id_cols]
        )
        pmap = local_df(spark, rows, map_schema)
        out = (
            out.withColumn("__fp", _norm_file_path())
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(F.broadcast(pmap), "__fp", "left")
        )
    return out


def _read_raw(
    spark: SparkSession,
    table: str,
    meta: dict,
    sid: int,
    rel_files: Sequence[str],
    schema_id: int | None = None,
    extra_fields: "Sequence | None" = None,
) -> "tuple[DataFrame, list[str]]":
    """Read data files under the snapshot's DECLARED schema with
    hive-layout identity-partition columns restored — but WITHOUT
    applying delete files and WITHOUT the final projection (the hidden
    `_metadata` column is still reachable). Returns (df, declared
    column names). Transform partition fields need no restoration —
    their source columns live in the data files (hidden partitioning).
    The raw form is the CDC input: a change feed must see physically
    added rows even when later tombstoned.

    ``extra_fields`` appends nullable StructFields to the read schema —
    files lacking those physical columns surface null. The v3 row-
    lineage reader uses this to pick up ``_row_id`` /
    ``_last_updated_sequence_number`` columns materialized by
    compaction (`read_lineage`); the returned name list never includes
    them.

    Identity columns restore via basePath dir discovery on single-spec
    tables; an EVOLVED table's generations have different dir depths
    (Spark's discovery refuses mixed layouts), so multi-spec tables
    restore identity values from the MANIFEST tuples instead — the
    spec's identity-column projection — with a broadcast
    (file → values) join, file-count-sized."""
    from pyspark.sql import types as T

    # the snapshot's own schema-id (spec rule): time travel to a
    # pre-evolution snapshot reads under the schema it was written
    # with. Callers reading the CURRENT table state pass schema_id
    # explicitly (a rename/drop is a metadata-only change — no snapshot
    # restamps, but current reads must see the current names).
    snap_schema_id = (
        _snapshot(meta, sid).get("schema-id", meta["current-schema-id"])
        if schema_id is None
        else schema_id
    )
    schema_json = meta["schemas"][snap_schema_id]
    spark_schema = _spark_schema(schema_json)
    declared = [f.name for f in spark_schema.fields]
    if extra_fields:
        spark_schema = T.StructType(
            list(spark_schema.fields) + list(extra_fields)
        )
    id_cols = _identity_part_cols_at(meta, sid)
    evolved = len(meta.get("partition-specs", [])) > 1
    has_spec = bool(_spec_info(meta))
    # clone tables reference the SOURCE's files in place: paths that
    # escape the table root defeat basePath discovery, so identity
    # restoration must come from the manifests instead (the evolved-
    # table machinery, which never needs discovery)
    foreign = any(
        os.path.isabs(f) or f.split(os.sep, 1)[0] == ".." for f in rel_files
    )
    # float→double widening of an identity partition source leaves hive
    # dirs in the narrow rendering; the widen commit sets this property
    # so restoration uses the manifests' exact typed tuples instead
    foreign = foreign or (
        (meta.get("properties") or {}).get("partition-values-authoritative")
        == "true"
    )
    paths = [os.path.join(table, f) for f in sorted(rel_files)]
    if _has_renames(meta) or _has_defaults(schema_json):
        # identity partition columns come back via basePath discovery
        # (partition SOURCES are never renameable — gated — so their
        # dir names are stable); evolved-spec/foreign layouts raise
        # inside. Defaults need the per-footer grouping: only files
        # physically LACKING the column take the initial-default (a
        # post-evolution file's explicit null stays null, per spec).
        base = (
            table if (has_spec and not evolved and not foreign) else None
        )
        df = _read_renamed_groups(
            spark, meta, schema_json, paths, base, extra_fields,
            id_cols=id_cols,
            id_vals=(
                _identity_values_by_file(meta, sid, list(id_cols))
                if (id_cols and base is None)
                else None
            ),
        )
        return df, declared
    if not id_cols:
        # transform dirs (if any) are derived values, not schema
        # columns; basePath only when there ARE partition dirs — a
        # converted table's data files can live outside the table root.
        # Evolved tables skip basePath entirely: explicit file lists
        # need no discovery, and mixed-generation dir depths would
        # make Spark refuse.
        r = spark.read.schema(spark_schema)
        if has_spec and not evolved and not foreign:
            r = r.option("basePath", table)
        df = r.parquet(*paths)
    elif not evolved and not foreign:
        data_schema = T.StructType(
            [f for f in spark_schema.fields if f.name not in id_cols]
        )
        df = spark.read.schema(data_schema).option("basePath", table).parquet(*paths)
        for f in spark_schema.fields:
            if f.name in id_cols:
                df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    else:
        data_schema = T.StructType(
            [f for f in spark_schema.fields if f.name not in id_cols]
        )
        df = spark.read.schema(data_schema).parquet(*paths)
        by_file = _identity_values_by_file(meta, sid, id_cols)
        want = {os.path.abspath(os.path.join(table, f)) for f in rel_files}
        rows = [
            tuple([fp] + [vals[c] for c in id_cols])
            for fp, vals in sorted(by_file.items())
            if fp in want
        ]
        by_name = {f.name: f for f in spark_schema.fields}
        map_schema = T.StructType(
            [T.StructField("__fp", T.StringType(), False)]
            + [by_name[c] for c in id_cols]
        )
        pmap = local_df(spark, rows, map_schema)
        # materialize __fp AND __pos BEFORE the identity join: the join
        # severs `_metadata`, and downstream delete application
        # (`_apply_delete_files`) needs both — it reuses these helpers
        # when present
        df = (
            df.withColumn("__fp", _norm_file_path())
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(F.broadcast(pmap), "__fp", "left")
        )
    return df, declared


def _read_data_files(
    spark: SparkSession,
    table: str,
    meta: dict,
    sid: int,
    rel_files: Sequence[str],
    schema_id: int | None = None,
) -> DataFrame:
    """`_read_raw` + the snapshot's delete files (merge-on-read:
    position tombstones anti-join on (_metadata.file_path, row_index);
    equality tombstones anti-join on key columns under the sequence
    ordering rule) + the declared-column-order projection."""
    df, names = _read_raw(spark, table, meta, sid, rel_files, schema_id)
    df = _apply_delete_files(spark, table, sid, df)
    return df.select(*names)


def read_iceberg(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    *,
    as_of_ms: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Time-travel reader: the table as of ``snapshot_id`` (default
    current), under the declared schema; hive-layout identity-partition
    columns restored via basePath discovery and cast to declared types.
    ``as_of_ms`` resolves a TIMESTAMP-AS-OF read via the snapshot log;
    ``ref`` resolves a named tag or branch. At most one of the three
    selectors may be given."""
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    current_read = snapshot_id is None and as_of_ms is None and ref is None
    if as_of_ms is not None:
        snapshot_id = snapshot_as_of(table, as_of_ms)
    elif ref is not None:
        snapshot_id = resolve_ref(table, ref)
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    files = snapshot_files(table, sid)
    if not files:
        raise FileNotFoundError(f"{table} snapshot has no data files")
    # a current read sees the CURRENT schema even when the latest
    # schema change (rename/drop) was metadata-only and no snapshot
    # restamped; explicit time travel keeps the snapshot's own schema
    schema_id = meta["current-schema-id"] if current_read else None
    return _read_data_files(spark, table, meta, sid, files, schema_id)


def read_lineage(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """V3 ROW LINEAGE read: the table's declared columns plus
    ``_row_id`` and ``_last_updated_sequence_number`` (both nullable
    long), per the v3 spec's metadata-column semantics:

    - a data file with an entry-level ``first_row_id`` INHERITS:
      ``_row_id = first_row_id + row position``,
      ``_last_updated_sequence_number = the file's data sequence`` —
      the zero-cost path every plain append takes (ids live in one
      manifest long, never in data files);
    - a file whose entry ``first_row_id`` is null but which carries a
      MATERIALIZED ``_row_id`` column (compaction output / UPDATE
      carry) reads the physical column, with a materialized
      ``_last_updated_sequence_number`` column when present, else the
      file's sequence — this is how lineage SURVIVES rewrites: row
      position changes, the physical id column doesn't;
    - a file with neither (written before `upgrade_format_version`)
      surfaces null lineage — the honest answer; the upgrade does not
      retro-assign.

    Deletion vectors and other delete files are applied first, so ids
    of dead rows never surface; a surviving row's ``_row_id`` is
    STABLE across deletes, compactions, and (via `update_where`'s
    carry) updates — the property CDC consumers key on.
    """
    from pyspark.sql import types as T

    meta = current_metadata(table)
    if int(meta.get("format-version", 2)) < 3:
        raise ValueError(
            "row lineage is an Iceberg v3 feature — "
            "upgrade_format_version(table, 3) first"
        )
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    schema_id = meta["current-schema-id"] if snapshot_id is None else None
    df, names = _read_files_lineage(spark, table, meta, sid, None, schema_id)
    return df.select(*names, "_row_id", "_last_updated_sequence_number")


def _read_files_lineage(
    spark: SparkSession,
    table: str,
    meta: dict,
    sid: int,
    rel_files: "Sequence[str] | None",
    schema_id: int | None = None,
    keep_positions: bool = False,
) -> "tuple[DataFrame, list[str]]":
    """Lineage-aware scan of ``rel_files`` (None = every live data
    file) at a snapshot: live rows (delete files applied) with
    ``_row_id`` and ``_last_updated_sequence_number`` resolved per the
    rules in :func:`read_lineage`. Returns (df, declared names) — the
    df carries the two lineage columns after the declared ones, then
    ``__fp``/``__pos`` with ``keep_positions`` (`update_where`'s delete
    hits). Shared by the lineage reader and the rewrite paths that must
    MATERIALIZE lineage into their output files (`optimize`/`compact`/
    `update_where`)."""
    from pyspark.sql import types as T

    snap = _snapshot(meta, sid)
    descs: "list[tuple[str, int | None, int]]" = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        if m.get("content", 0) != 0:
            continue
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] in (0, 1) and e["data_file"].get("content", 0) == 0:
                descs.append(
                    (
                        e["data_file"]["file_path"],
                        e["data_file"].get("first_row_id"),
                        e.get("file_sequence_number") or e["sequence_number"],
                    )
                )
    if not descs:
        raise FileNotFoundError(f"{table} snapshot has no data files")
    abs_table = os.path.abspath(table)
    if rel_files is None:
        rel_files = sorted(
            os.path.relpath(fp, abs_table) for fp, _, _ in descs
        )
    else:
        want = {
            os.path.abspath(os.path.join(table, f)) for f in rel_files
        }
        descs = [d for d in descs if d[0] in want]
    extra = [
        T.StructField("_row_id", T.LongType(), True),
        T.StructField("_last_updated_sequence_number", T.LongType(), True),
    ]
    df, names = _read_raw(
        spark, table, meta, sid, sorted(rel_files), schema_id,
        extra_fields=extra,
    )
    live = _apply_delete_files(spark, table, sid, df, keep_positions=True)
    lmap = local_df(
        spark, [(fp, first, int(seq)) for fp, first, seq in descs],
        "__lfp string, __first long, __fseq long",
    )
    live = live.join(
        F.broadcast(lmap), live["__fp"] == lmap["__lfp"], "left"
    )
    row_id = F.coalesce(
        F.col("_row_id"), F.col("__first") + F.col("__pos")
    )
    lus = F.when(
        row_id.isNotNull(),
        F.coalesce(F.col("_last_updated_sequence_number"), F.col("__fseq")),
    )
    return (
        live.select(
            *names,
            row_id.alias("_row_id"),
            lus.alias("_last_updated_sequence_number"),
            *(["__fp", "__pos"] if keep_positions else []),
        ),
        names,
    )


def snapshot_diff_changelog(
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """SNAPSHOT-DIFF CDC via row lineage (v3): the row-level changes
    between ANY two snapshots, computed by joining the two lineage
    reads on ``_row_id`` — no commit walk, no per-commit manifests, no
    requirement that the intermediate history still exists (expired
    mid-range snapshots are irrelevant; `table_changes` can't say
    that). This is the flagship consumer of row lineage:

    - a row id only at the NEW snapshot → ``insert``;
    - only at the OLD snapshot → ``delete``;
    - at both with a HIGHER ``_last_updated_sequence_number`` →
      ``update_preimage`` (old values) + ``update_postimage`` (new);
    - at both, same lus → unchanged, emits nothing (compaction is
      invisible for free: rewrites preserve both id and lus).

    The result carries the declared columns + ``_row_id`` +
    ``_change_type``. Cost: two lineage scans + one shuffle join on a
    long key — O(|old| + |new|), independent of how many commits
    separate the snapshots (a month of history diffs at the cost of
    two reads). Raises when either snapshot contains null-lineage rows
    (pre-upgrade files) — identity-keyed diffing needs identities."""
    meta = current_metadata(table)
    if int(meta.get("format-version", 2)) < 3:
        raise ValueError("snapshot_diff_changelog needs v3 row lineage")
    sid_new = (
        meta["current-snapshot-id"] if to_snapshot is None else to_snapshot
    )
    names = [
        f["name"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    ]
    # the null-id check runs only when the METADATA admits rows without
    # ids: some live entry inherits no id (pre-upgrade or materialized
    # files) and its parquet footer does not prove a materialized
    # `_row_id` column with zero nulls (compaction/update-carry output)
    from march_mania_spark_lakehouse_spark.sources.delta_log import (
        footer_proves_nonnull,
    )

    def _may_have_null_ids(snap_id: int) -> bool:
        snap = _snapshot(meta, snap_id)
        for m in avro_ocf.read_ocf(snap["manifest-list"]):
            if m.get("content", 0) != 0:
                continue
            for e in avro_ocf.read_ocf(m["manifest_path"]):
                if (
                    e["status"] in (0, 1)
                    and e["data_file"].get("content", 0) == 0
                    and e["data_file"].get("first_row_id") is None
                    and not footer_proves_nonnull(
                        e["data_file"]["file_path"], "_row_id"
                    )
                ):
                    return True
        return False

    return lineage_changelog(
        read_lineage(spark, table, from_snapshot),
        read_lineage(spark, table, sid_new),
        names,
        "_last_updated_sequence_number",
        _may_have_null_ids(from_snapshot) or _may_have_null_ids(sid_new),
    )


def _apply_delete_files(
    spark: SparkSession,
    table: str,
    sid: int,
    df: DataFrame,
    keep_positions: bool = False,
) -> DataFrame:
    """Apply this snapshot's delete files to a parquet-scan DataFrame
    that still has its `_metadata` column available (call BEFORE any
    final projection):

    - position deletes (content=1): broadcast anti-join on
      (normalized file path, _metadata.row_index);
    - equality deletes (content=2): per delete file, broadcast
      anti-join on the equality columns restricted to data files with a
      STRICTLY LOWER sequence number (the spec ordering rule — rows
      appended after the delete survive even when their keys match).

    ``keep_positions`` retains ``__fp``/``__pos`` helper columns
    (normalized file path, physical row index) in the result — the
    `delete_where` input, so new tombstones can only target LIVE rows.
    """
    pos_dels = snapshot_delete_files(table, sid)
    eq_dels = snapshot_equality_deletes(table, sid)
    dv_entries = snapshot_dv_entries(table, sid)
    # the manifest-restore scan branch materializes __fp/__pos BEFORE
    # its identity join (which severs _metadata); reuse them here
    has_helpers = "__fp" in df.columns and "__pos" in df.columns
    if not pos_dels and not eq_dels and not dv_entries:
        if not keep_positions:
            return df.drop("__fp", "__pos") if has_helpers else df
        if has_helpers:
            return df
        return df.select(
            "*",
            _norm_file_path().alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
    out_cols = [c for c in df.columns if c not in ("__fp", "__pos")]
    if not has_helpers:
        df = df.select(
            "*",
            _norm_file_path().alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
    if pos_dels or dv_entries:
        dels = None
        if pos_dels:
            dels = spark.read.parquet(*pos_dels).select(
                F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
            )
        if dv_entries:  # v3 deletion vectors
            dv = _dv_tombstones(spark, dv_entries)
            dels = dv if dels is None else dels.unionByName(dv)
        df = df.join(F.broadcast(dels), ["__fp", "__pos"], "left_anti")
    if eq_dels:
        seq_rows = [
            (path, seq) for path, seq in _data_file_sequences(table, sid).items()
        ]
        seq_df = local_df(spark, seq_rows, "__fp string, __dseq long")
        df = df.join(F.broadcast(seq_df), "__fp", "left")
        # CONSOLIDATE tombstone files sharing an equality-column set
        # into ONE anti-join (each key row tagged with its file's
        # sequence number): a CDC-heavy table accumulates one eq-delete
        # file per upsert batch, and a join per FILE would grow the
        # plan linearly with history — a join per COLUMN-SET stays O(1)
        by_cols: dict = {}
        for path, del_seq, cols in eq_dels:
            by_cols.setdefault(tuple(cols), []).append((path, del_seq))
        for cols, files in sorted(by_cols.items()):
            keys = None
            for path, del_seq in files:
                k = spark.read.parquet(path).select(
                    *[F.col(c).alias(f"__k_{c}") for c in cols],
                    F.lit(del_seq).alias("__k_seq"),
                )
                keys = k if keys is None else keys.unionByName(k)
            cond = F.col("__dseq") < F.col("__k_seq")
            for c in cols:
                # null-safe: an equality delete whose key value is NULL
                # matches rows with NULL in that column (spec; plain ==
                # would silently never match them)
                cond = cond & F.col(c).eqNullSafe(F.col(f"__k_{c}"))
            df = df.join(F.broadcast(keys), on=cond, how="left_anti")
    if keep_positions:
        return df.select(*out_cols, "__fp", "__pos")
    return df.select(*out_cols)


def _resolve_partition_predicates(
    meta: dict, values: dict, spec_id: int | None = None
) -> dict:
    """Normalize a user ``values`` dict to {partition field name:
    manifest representation} UNDER ONE SPEC. A key naming a partition
    FIELD compares its value raw (identity values get the date/ts → int
    conversion); a key naming a SOURCE column of transform fields
    applies each such field's transform — hidden partitioning's
    contract: callers filter on source columns, pruning happens on
    transform values. A source-column key with no field in THIS spec
    contributes no constraint (its files are kept; the residual filter
    restores exactness) — that is what makes pruning correct across an
    EVOLVED spec history."""
    spec = _spec_info(meta, spec_id)
    by_field = {pf["name"]: pf for pf in spec}
    schema_cols = {
        f["name"] for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    want: dict = {}
    for k, v in values.items():
        if k in by_field:
            pf = by_field[k]
            if pf["transform"] == "identity":
                want[pf["name"]] = _partition_compare_value(
                    v, "identity", pf["source_type"]
                )
            else:
                want[pf["name"]] = v  # raw transform value
            continue
        hits = [pf for pf in spec if pf["source"] == k]
        if not hits and k not in schema_cols and not any(
            pf["name"] == k
            for s in meta["partition-specs"]
            for pf in _spec_info(meta, s.get("spec-id", 0))
        ):
            raise ValueError(
                f"{k!r} is neither a partition field nor a partition source "
                f"column (spec fields: {sorted(by_field)})"
            )
        for pf in hits:
            want[pf["name"]] = apply_transform(
                pf["transform"], v, pf["source_type"]
            )
    return want


def _partition_residual(meta: dict, values: dict):
    """Exact residual predicate for ``values``: source-column keys
    compare the column itself; field-name keys recompute the transform
    expression. Semantically a no-op on files kept by tuple equality
    under a matching spec — it exists for manifests written under
    OLDER specs that could not prune the key."""
    all_fields = {}
    for s in meta["partition-specs"]:
        for pf in _spec_info(meta, s.get("spec-id", 0)):
            all_fields.setdefault(pf["name"], pf)
    schema_cols = {
        f["name"] for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    pred = F.lit(True)
    for k, v in values.items():
        if k in schema_cols:
            pred = pred & (
                F.col(k).isNull() if v is None else (F.col(k) == F.lit(v))
            )
        elif k in all_fields:
            pf = all_fields[k]
            expr = _transform_expr(pf["transform"], pf["source"], pf["source_type"])
            pred = pred & (
                expr.isNull() if v is None else (expr == F.lit(v))
            )
    return pred


def scan_partition(
    spark: SparkSession, table: str, values: dict, snapshot_id: int | None = None
) -> DataFrame:
    """Partition-pruned scan planned from the manifests' typed partition
    tuples — non-matching partitions contribute zero files/tasks.
    ``values`` keys may be partition field names (raw transform values)
    or source column names (source values; the transform is applied
    here, planner-side — e.g. ``{"ts": date(2024, 1, 1)}`` against a
    ``day(ts)`` spec prunes to that day's files). Each manifest is
    pruned under ITS OWN spec (`partition_spec_id`), so evolved tables
    plan correctly: old-spec manifests that cannot prune a key keep
    their files, and the exact residual predicate restores semantics."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    want_by_spec: dict = {}
    keep = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        m_spec = m.get("partition_spec_id", 0)
        if m_spec not in want_by_spec:
            want_by_spec[m_spec] = _resolve_partition_predicates(
                meta, values, m_spec
            )
        want = want_by_spec[m_spec]
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] not in (0, 1):
                continue
            if entry["data_file"].get("content", 0) != 0:
                continue  # delete files are applied, not scanned
            part = entry["data_file"]["partition"] or {}
            if all(part.get(k) == v for k, v in want.items()):
                keep.append(
                    os.path.relpath(
                        entry["data_file"]["file_path"], os.path.abspath(table)
                    )
                )
    schema_id = meta["current-schema-id"] if snapshot_id is None else None
    if not keep:
        return read_iceberg(spark, table, sid).filter(F.lit(False))
    out = _read_data_files(spark, table, meta, sid, keep, schema_id)
    if len(meta["partition-specs"]) > 1:
        out = out.filter(_partition_residual(meta, values))
    return out


def scan_range(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Data skipping planned from manifests alone — KBs, not footers:
    open only files that can hold ``col`` values in [lo, hi], judged by
    (a) per-file lower/upper bounds when recorded (``stat_cols``) and
    (b) the partition tuple, when ``col`` is the source of an
    ORDER-PRESERVING transform field (day/month/year/hour/truncate —
    a day-partitioned table answers a time-range scan from metadata;
    bucket scrambles order, so bucket fields never range-prune). Files
    with undecodable or missing bounds are conservatively kept; the
    exact residual filter runs after."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    schema = meta["schemas"][meta["current-schema-id"]]
    # top-level name or dotted struct path — nested leaves prune from
    # their own field-id's bounds exactly like flat columns
    fid, ftype = _resolve_field_path(schema, col)

    def _range_fields(spec_id: int) -> list:
        return [
            (
                pf["name"],
                apply_transform(pf["transform"], lo, pf["source_type"]),
                apply_transform(pf["transform"], hi, pf["source_type"]),
            )
            for pf in _spec_info(meta, spec_id)
            if pf["source"] == col and _is_order_preserving(pf["transform"])
        ]

    rf_by_spec: dict = {}
    keep = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        m_spec = m.get("partition_spec_id", 0)
        if m_spec not in rf_by_spec:
            rf_by_spec[m_spec] = _range_fields(m_spec)
        range_fields = rf_by_spec[m_spec]
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] not in (0, 1):
                continue
            if entry["data_file"].get("content", 0) != 0:
                continue  # delete files are applied, not scanned
            df_rec = entry["data_file"]
            part = df_rec.get("partition") or {}
            if any(
                part.get(name) is not None
                and not (t_lo <= part[name] <= t_hi)
                for name, t_lo, t_hi in range_fields
            ):
                continue  # pruned from the partition tuple alone
            lob = {b["key"]: b["value"] for b in (df_rec.get("lower_bounds") or [])}
            upb = {b["key"]: b["value"] for b in (df_rec.get("upper_bounds") or [])}
            if fid in lob and fid in upb:
                try:
                    f_lo = single_value_read(lob[fid], ftype)
                    f_hi = single_value_read(upb[fid], ftype)
                except NotImplementedError:
                    pass  # undecodable bounds: keep the file (no pruning)
                else:
                    if f_lo > hi or f_hi < lo:
                        continue  # skipped from metadata alone
            keep.append(
                os.path.relpath(df_rec["file_path"], os.path.abspath(table))
            )
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    schema_id = meta["current-schema-id"] if snapshot_id is None else None
    if not keep:
        return read_iceberg(spark, table, sid).filter(F.lit(False))
    return _read_data_files(spark, table, meta, sid, keep, schema_id).filter(pred)


def scan_eq(
    spark: SparkSession, table: str, col: str, value, snapshot_id: int | None = None
) -> DataFrame:
    """Point lookup: partition-prune on every spec field sourced from
    ``col`` (for ``bucket(N, col)`` this is THE pruning a hash
    partition exists for — 1/N of the files planned, from metadata
    alone), then apply the exact residual equality filter (a bucket
    holds other keys too)."""
    pruned = scan_partition(spark, table, {col: value}, snapshot_id)
    return pruned.filter(F.col(col) == F.lit(value))


def evolve_partition_spec(table: str, partition_by: Sequence[str]) -> int:
    """PARTITION EVOLUTION (the spec's headline maintenance feature):
    register a new default partition spec — a metadata-only commit, no
    data rewritten. Files already written keep their old spec (each
    manifest-list entry records its ``partition_spec_id``); new writes
    land under the new spec; and every scan prunes each manifest under
    the spec it was written with, with exact residual predicates
    covering what an old spec couldn't prune. The canonical use: a
    table outgrows ``day(ts)`` and moves to ``hour(ts)`` (or gains a
    ``bucket(N, key)``) without touching a byte of history.

    Scope kept honest: the IDENTITY-column set must be unchanged across
    specs — identity partitioning physically removes columns from data
    files (hive layout), so evolving it would fork the file schema;
    transform fields (temporal/bucket/truncate) evolve freely because
    their source columns stay IN the files (hidden partitioning).
    Fields identical to a prior spec's (same source, same transform)
    keep their field-id, per the spec. Returns the new spec id."""
    meta = current_metadata(table)
    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    parsed = [_parse_partition_field(s, by_name) for s in partition_by]
    if len({p["name"] for p in parsed}) != len(parsed):
        raise ValueError("duplicate partition field names")
    old_identity = set(_identity_part_cols(meta))
    new_identity = {p["source"] for p in parsed if p["transform"] == "identity"}
    if old_identity != new_identity:
        raise NotImplementedError(
            f"evolving the identity-column set ({sorted(old_identity)} -> "
            f"{sorted(new_identity)}) would change the physical file "
            "schema; only transform fields may evolve metadata-only — "
            "use repartition_table for an identity relayout (it "
            "rewrites the live data under the new spec in one commit)"
        )
    return _register_partition_spec(table, meta, parsed)


def repartition_table(
    spark: SparkSession,
    table: str,
    partition_by: Sequence[str],
    stat_cols: Sequence[str] = (),
) -> int:
    """REPLACE ... PARTITIONED BY for Iceberg: change the IDENTITY
    partition layout by rewriting the live data pre-shaped under the
    new spec in ONE ``replace`` snapshot — the Iceberg twin of
    `delta_log.repartition_table`, and the only way to change the
    identity set in this engine (identity fields are hive-laid-out, so
    their columns physically leave the data files; a metadata-only
    flip would strand one generation unreadable —
    `evolve_partition_spec`'s honest gate). Transform fields may ride
    along (``["k", "bucket(4, id)"]``).

    Semantics mirror the Delta op: rows are unchanged, so the commit
    is ``operation='replace'`` (change feeds skip it); tombstones on
    the old layout are MATERIALIZED by the rewrite (the new snapshot
    has no delete files); v3 row lineage survives as materialized
    ``_row_id`` columns; old snapshots keep their old spec and stay
    time-travelable (reads resolve identity columns PER SNAPSHOT). The
    spec registration and the file swap land in one atomic metadata
    write — no torn intermediate state for a concurrent writer to
    append into. The Delta-mirror sync replays this as one relayout
    commit (metaData partitionColumns change + full file swap,
    ``dataChange=false``).

    Returns the new snapshot id (or the current one when the spec
    already matches)."""
    meta = current_metadata(table)
    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    parsed = [_parse_partition_field(s, by_name) for s in partition_by]
    if len({p["name"] for p in parsed}) != len(parsed):
        raise ValueError("duplicate partition field names")
    cur_spec = _spec_info(meta)
    want = [(p["name"], p["transform"], p["source"]) for p in parsed]
    have = [(pf["name"], pf["transform"], pf["source"]) for pf in cur_spec]
    sid = meta.get("current-snapshot-id", -1)
    if want == have:
        return sid
    if sid == -1:
        # empty table: pure spec registration, nothing to rewrite
        _register_partition_spec(table, meta, parsed)
        return sid
    v3 = int(meta.get("format-version", 2)) >= 3
    if v3:
        df, _ = _read_files_lineage(
            spark, table, meta, sid, None, meta["current-schema-id"]
        )
    else:
        df = read_iceberg(spark, table)
    meta2, spec_id = _registered_spec_meta(meta, parsed)
    staged = _stage_data_files(
        df, table, _spec_info(meta2, spec_id),
        meta2["schemas"][meta2["current-schema-id"]],
    )
    if not stat_cols:
        # a relayout must not silently drop the data-skipping stats
        # the live entries carried (nested leaf bounds included)
        stat_cols = _live_stat_paths(meta, sid)
    return _commit_snapshot(
        None, table, meta2, "replace", True, stat_cols,
        {"repartitioned-by": ",".join(partition_by)},
        staged, assign_row_ids=not v3,
    )


def _register_partition_spec(table: str, meta: dict, parsed: list) -> int:
    """Register a parsed partition spec as the new default (shared by
    `evolve_partition_spec` and the sync's partition-change replay —
    the latter bypasses the writer-path identity gate because its data
    files arrive PRE-SHAPED from the Delta source and every pre-change
    file is replaced in the same commit)."""
    meta2, spec_id = _registered_spec_meta(meta, parsed)
    if meta2 is not meta:
        _write_metadata(table, meta2)
    return spec_id


def _registered_spec_meta(meta: dict, parsed: list) -> "tuple[dict, int]":
    """PURE spec registration: returns (new meta dict, spec id) without
    writing — `repartition_table` folds the registration and its full
    rewrite into ONE metadata commit (a crash between a written spec
    flip and the rewrite would otherwise leave a mixed-identity head
    that new appends could corrupt). Returns ``meta`` unchanged (same
    object) when the parsed spec already IS the default."""
    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    # reuse field-ids for (source, transform) pairs seen in ANY prior
    # spec; new pairs continue from last-partition-id
    prior: dict = {}
    for s in meta["partition-specs"]:
        for pf in s["fields"]:
            prior[(pf["source-id"], pf.get("transform", "identity"))] = pf[
                "field-id"
            ]
    next_id = meta.get("last-partition-id", 999)
    spec_fields = []
    for p in parsed:
        key = (by_name[p["source"]]["id"], p["transform"])
        if key in prior:
            fid = prior[key]
        else:
            next_id += 1
            fid = next_id
        spec_fields.append(
            {
                "name": p["name"],
                "transform": p["transform"],
                "source-id": by_name[p["source"]]["id"],
                "field-id": fid,
            }
        )
    # reference Iceberg reuses an EQUIVALENT existing spec rather than
    # minting a new id — layout flip-flops (REPLACE PARTITIONED BY
    # toggling, RESTORE across a repartition) must not grow
    # partition-specs unboundedly
    for s in meta["partition-specs"]:
        if s["fields"] == spec_fields:
            new_spec_id = s.get("spec-id", 0)
            if meta.get("default-spec-id", 0) == new_spec_id:
                return meta, new_spec_id  # already the default: no-op
            meta = dict(meta)
            break
    else:
        meta = dict(meta)
        new_spec_id = (
            max(s.get("spec-id", 0) for s in meta["partition-specs"]) + 1
        )
        meta["partition-specs"] = list(meta["partition-specs"]) + [
            {"spec-id": new_spec_id, "fields": spec_fields}
        ]
    meta["default-spec-id"] = new_spec_id
    meta["last-partition-id"] = next_id
    meta["last-updated-ms"] = _now_ms()
    return meta, new_spec_id


def scan_null(
    spark: SparkSession,
    table: str,
    col: str,
    is_null: bool = True,
    snapshot_id: int | None = None,
) -> DataFrame:
    """IS NULL / IS NOT NULL scan pruned from the manifests'
    null_value_counts (spec field-id 110): for IS NULL a file with a
    recorded null count of ZERO is skipped; for IS NOT NULL a file
    whose null count equals its record_count (all-null) is skipped.
    Files without recorded counts are conservatively kept; the exact
    residual predicate runs after. At 100 TB a sparse-null column's
    IS NULL audit query plans a handful of files from metadata alone."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    schema = meta["schemas"][meta["current-schema-id"]]
    fid = next(f["id"] for f in schema["fields"] if f["name"] == col)
    keep = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] not in (0, 1):
                continue
            df_rec = entry["data_file"]
            if df_rec.get("content", 0) != 0:
                continue
            nvc = {
                b["key"]: b["value"]
                for b in (df_rec.get("null_value_counts") or [])
            }
            if fid in nvc:
                if is_null and nvc[fid] == 0:
                    continue  # no nulls in this file: skip
                if not is_null and nvc[fid] == df_rec["record_count"]:
                    continue  # all-null file: skip
            keep.append(
                os.path.relpath(df_rec["file_path"], os.path.abspath(table))
            )
    pred = F.col(col).isNull() if is_null else F.col(col).isNotNull()
    schema_id = meta["current-schema-id"] if snapshot_id is None else None
    if not keep:
        return read_iceberg(spark, table, sid).filter(F.lit(False))
    return _read_data_files(spark, table, meta, sid, keep, schema_id).filter(pred)


#: auto-sizing floor: never shatter a compaction into files smaller
#: than this just to hit the parallelism target
MIN_COMPACTION_FILE_BYTES = 8 * 1024 * 1024


def _compaction_file_count(
    spark: SparkSession,
    total_bytes: int,
    target_file_bytes: int,
    target_files: int | None,
) -> int:
    """Output file count for a compaction: ``target_files`` wins when
    given; otherwise bin-pack to ``target_file_bytes`` but never below
    the cluster's parallelism (bounded by an 8 MB per-file floor) — a
    compaction that packs everything into ONE 128 MB file turns the
    next scan into one task, which is exactly the serialization the
    q188 100× probe measured. At real scale the size target dominates
    (100 TB / 128 MB ≫ any cluster's cores); the parallelism floor only
    engages for small-to-medium tables, where re-scanning in parallel
    is worth slightly under-target files."""
    import math

    if target_files is not None:
        return max(1, target_files)
    packed = max(1, math.ceil(total_bytes / target_file_bytes))
    par_cap = max(1, total_bytes // MIN_COMPACTION_FILE_BYTES)
    return max(packed, min(spark.sparkContext.defaultParallelism, par_cap))


def optimize(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    stat_cols: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    target_files: int | None = None,
) -> int:
    """Bin-pack compaction (the selective cousin of `compact`): rewrite
    ONLY data files smaller than ``small_file_bytes`` (default
    target/2) into ~target-sized files; files already at a healthy size
    carry into the new snapshot as EXISTING manifest entries with their
    ORIGINAL sequence numbers — zero bytes of theirs move. This is the
    shape that matters at 100 TB: a streaming sink drips thousands of
    KB-sized files per hour, and compaction cost must track the SMALL
    tail, never the table (`compact` rewrites everything).

    Tombstones referencing rewritten files are materialized (the small
    subset is read with deletes applied); delete manifests carry
    forward while they still govern an untouched file — one whose
    every reference was packed away is dropped, not carried as
    metadata debris. Rewritten rows get
    the NEW sequence number, so older equality tombstones — correctly —
    no longer apply to them (spec strictly-lower-sequence rule).
    Committed as operation='replace': the change feeds SKIP it (a
    layout rewrite has no row-level delta — the Delta side's
    dataChange=false invisibility; see :func:`change_feed_entries`),
    and old snapshots stay time-travelable until `expire_snapshots`.

    ``sort_by`` range-clusters the packed rows (repartitionByRange +
    sortWithinPartitions) so each output file covers a TIGHT, disjoint
    interval in the sort columns — with ``stat_cols`` recording the
    bounds, later `scan_range` calls on those columns prune to a
    handful of files. Compacting and clustering in one pass is the
    standard maintenance shape: the rewrite you were paying for anyway
    buys data skipping too.

    Returns the new snapshot id (the current one when there is nothing
    to pack: fewer than two small files)."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    snap = _snapshot(meta, sid)
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    ml = avro_ocf.read_ocf(snap["manifest-list"])
    delete_ml = [m for m in ml if m.get("content", 0) == 1]
    small_entries, big_entries = [], []
    for m in ml:
        if m.get("content", 0) == 1:
            continue
        m_spec = m.get("partition_spec_id", 0)
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] not in (0, 1):
                continue
            if e["data_file"].get("content", 0) != 0:
                continue
            if e["data_file"]["file_size_in_bytes"] < small_file_bytes:
                small_entries.append(e)
            else:
                big_entries.append((m_spec, e))
    if len(small_entries) < 2:
        return sid
    rel_small = [
        os.path.relpath(e["data_file"]["file_path"], os.path.abspath(table))
        for e in small_entries
    ]
    # read ONLY the small subset, deletes applied (tombstones on these
    # files are materialized by the rewrite), under the CURRENT schema
    # so the packed replacement files physically carry current names.
    # v3: lineage rides along as MATERIALIZED _row_id /
    # _last_updated_sequence_number columns in the packed files (row
    # position changes under packing; the physical ids don't), and the
    # new entries stay lineage-free per the inherit-or-materialize rule
    if int(meta.get("format-version", 2)) >= 3:
        df, _ = _read_files_lineage(
            spark, table, meta, sid, sorted(rel_small),
            meta["current-schema-id"],
        )
    else:
        df = _read_data_files(
            spark, table, meta, sid, sorted(rel_small),
            meta["current-schema-id"],
        )
    total = sum(e["data_file"]["file_size_in_bytes"] for e in small_entries)
    n_out = _compaction_file_count(
        spark, total, target_file_bytes, target_files
    )
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(
            *sort_by
        )
        _apply_sort_order(meta, sort_by)  # recorded in THIS commit
    else:
        df = df.coalesce(n_out)
    if not stat_cols:
        # cluster-by cols plus every path the live entries already
        # carry bounds for (nested leaves included) — a compaction
        # must not silently drop the skipping stats the table had
        stat_cols = sorted(set(sort_by) | set(_live_stat_paths(meta, sid)))
    staged = _stage_data_files(
        df, table, _spec_info(meta),
        meta["schemas"][meta["current-schema-id"]],
    )

    snapshot_id, seq = _next_snapshot(meta)
    # EXISTING entries keep their original sequence numbers AND their
    # original spec: entries are grouped per source spec and written
    # into one manifest per spec (an evolved table's old-spec partition
    # tuples have a different Avro record shape)
    default_spec = meta["default-spec-id"]
    by_spec: "dict[int, list[dict]]" = {}
    for s, e in big_entries:
        by_spec.setdefault(s, []).append(_existing(e))
    manifests = [
        _write_entries_manifest(
            table, meta, default_spec, 0, snapshot_id, seq,
            _data_file_records(table, meta, staged, snapshot_id, seq, stat_cols)
            + by_spec.pop(default_spec, []),
        )
    ] + [
        _write_entries_manifest(
            table, meta, spec_id, 0, snapshot_id, seq, by_spec[spec_id]
        )
        for spec_id in sorted(by_spec)
    ]
    # delete manifests carry forward only while they still GOVERN a
    # live file: a DV / position-delete manifest whose every reference
    # was packed away (the rewrite materialized those tombstones) is
    # dropped, not carried as metadata debris — `delete_files` /
    # `position_deletes` inspection stays truthful. A manifest where
    # only SOME references survive is REWRITTEN with just the
    # governing entries (carrying it verbatim would leave stale DV /
    # position entries for packed-away files as debris rows in those
    # same metadata tables); one where every entry survives (or any
    # equality delete, which references by value) carries verbatim.
    live_paths = {
        e["data_file"]["file_path"] for _, e in big_entries
    }

    def _carry_delete_manifest(m: dict) -> "dict | None":
        import pyarrow.parquet as _pq

        entries = list(avro_ocf.read_ocf(m["manifest_path"]))

        def _governs(e: dict) -> bool:
            if e["status"] == 2:
                return False
            d = e["data_file"]
            if d.get("content", 0) == 2:
                return True  # equality delete: value-addressed
            if (d.get("file_format") or "").upper() == "PUFFIN":
                return d["referenced_data_file"] in live_paths
            refs_col = _pq.read_table(
                d["file_path"], columns=["file_path"]
            ).column("file_path").to_pylist()
            return any(p in live_paths for p in refs_col)

        alive = [e for e in entries if _governs(e)]
        if not alive:
            return None
        if len(alive) == len(entries):
            return m
        return _write_entries_manifest(
            table, meta, m.get("partition_spec_id", 0), 1, snapshot_id, seq,
            [_existing(e) for e in alive],
        )

    manifests += [
        c for m in delete_ml if (c := _carry_delete_manifest(m)) is not None
    ]
    return _publish_snapshot(
        table, meta, snapshot_id, seq, manifests,
        {
            "operation": "replace",
            "packed-files": str(len(small_entries)),
            "packed-into": str(len(staged)),
        },
        parent=sid,
        schema_id=meta["current-schema-id"],
    )


# --------------------------------------------------------------------------
# Time travel by timestamp, and named refs (tags / branches / WAP)
# --------------------------------------------------------------------------


def snapshot_as_of(table: str, ts_ms: int) -> int:
    """Snapshot id current AS OF ``ts_ms`` (epoch millis): the newest
    snapshot-log entry at or before the timestamp — the log tracks the
    main lineage's head over time, which is what 'the table as the
    reader saw it then' means. Raises if the timestamp predates the
    table (or the history was expired past it)."""
    meta = current_metadata(table)
    best = None
    for e in meta.get("snapshot-log", []):
        if e["timestamp-ms"] <= ts_ms:
            best = e["snapshot-id"]
    if best is None:
        raise ValueError(
            f"no snapshot at or before {ts_ms}; table history starts later "
            "(or was expired past it)"
        )
    return best


class IcebergRefError(ValueError):
    """Unknown ref name, or a ref operation that violates ref rules."""


#: metadata_table kinds and their result schemas (Spark DDL)
_META_TABLE_SCHEMAS = {
    "snapshots": (
        "committed_at_ms long, snapshot_id long, parent_id long, "
        "sequence_number long, operation string"
    ),
    "history": "made_current_at_ms long, snapshot_id long, is_current boolean",
    "refs": "name string, type string, snapshot_id long",
    "manifests": (
        "path string, length long, partition_spec_id int, content int, "
        "sequence_number long, added_files_count int, "
        "existing_files_count int, deleted_files_count int"
    ),
    "files": (
        "content int, file_path string, file_format string, "
        "partition string, record_count long, file_size_in_bytes long, "
        "sequence_number long"
    ),
    "delete_files": (
        "content int, file_path string, file_format string, "
        "partition string, record_count long, file_size_in_bytes long, "
        "sequence_number long"
    ),
    "partitions": (
        "partition string, file_count long, record_count long, "
        "total_size_bytes long"
    ),
    "entries": (
        "status int, snapshot_id long, sequence_number long, "
        "content int, file_path string, file_format string, "
        "partition string, record_count long, file_size_in_bytes long"
    ),
    "all_manifests": (
        "path string, length long, partition_spec_id int, content int, "
        "sequence_number long, added_files_count int, "
        "existing_files_count int, deleted_files_count int, "
        "reference_snapshot_id long"
    ),
    "all_files": (
        "content int, file_path string, file_format string, "
        "partition string, record_count long, file_size_in_bytes long, "
        "sequence_number long"
    ),
    "position_deletes": (
        "file_path string, pos long, delete_file_path string, "
        "sequence_number long"
    ),
    "metadata_log_entries": (
        "timestamp_ms long, file string, latest_snapshot_id long, "
        "latest_schema_id int, latest_sequence_number long"
    ),
}


def _scan_manifest_entries(
    spark: SparkSession,
    manifest_paths: "list[str]",
    schema: str,
    want_deletes: "bool | None",
) -> DataFrame:
    """Live manifest ENTRIES of the given manifests as a DataFrame,
    read ON EXECUTORS (one task per group of manifests via
    `mapInPandas`). ``want_deletes`` filters by data-file content
    (False → data files, True → delete files, None → both)."""
    if not manifest_paths:
        return local_df(spark, [], schema)
    # one task per group of manifests (sources/local_rows.py)
    mdf = local_df(spark, [(p,) for p in manifest_paths], "path string")

    def read_entries(batches):
        import json as _json

        import pandas as pd

        from march_mania_spark_lakehouse_spark.sources import (
            avro_ocf as _avro,
        )

        cols = [
            "content", "file_path", "file_format", "partition",
            "record_count", "file_size_in_bytes", "sequence_number",
        ]
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                for e in _avro.read_ocf(p):
                    if e["status"] == 2:
                        continue
                    d = e["data_file"]
                    if want_deletes is not None and (
                        (d.get("content", 0) != 0) != want_deletes
                    ):
                        continue
                    rows.append(
                        (
                            d.get("content", 0),
                            d["file_path"],
                            d.get("file_format"),
                            _json.dumps(
                                {
                                    k: None if v is None else str(v)
                                    for k, v in sorted(
                                        (d.get("partition") or {}).items()
                                    )
                                }
                            ),
                            d["record_count"],
                            d["file_size_in_bytes"],
                            e["sequence_number"],
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return mdf.mapInPandas(read_entries, schema)


def metadata_table(
    spark: SparkSession,
    table: str,
    kind: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """The spec's METADATA TABLES (``SELECT * FROM tbl$files`` surface):
    inspect a table's own metadata layer as DataFrames.

    - ``snapshots`` / ``history`` / ``refs`` / ``manifests``: built
      from the metadata JSON / one manifest list — driver-side, KB-
      sized by construction.
    - ``files`` / ``delete_files``: the snapshot's live manifest
      ENTRIES, read ON EXECUTORS (one task per group of manifests via
      `mapInPandas` — at 100 TB a table has ~10⁵–10⁶ manifest entries
      and the spec's answer is a distributed scan of the manifest
      avro, not a driver loop). ``partition`` is rendered as a
      canonical sorted-key JSON string so it groups/joins portably.
    - ``partitions``: the files table aggregated per partition tuple
      (file_count / record_count / total_size — record_count is
      PHYSICAL rows per spec: DVs do not change it).
    - ``entries`` (round 12): the snapshot's RAW manifest entries with
      status (0 existing / 1 added / 2 deleted) and owning snapshot id
      — an OPTIMIZE shows its survivors as EXISTING entries here.
    - ``all_manifests`` / ``all_files`` (round 12): the union across
      EVERY retained snapshot (all_manifests stamps
      ``reference_snapshot_id``; all_files scans each distinct
      manifest once, executor-side).
    - ``position_deletes`` (round 12): the materialized positions of
      the snapshot's delete files — v3 Puffin DVs decoded and
      position-delete parquet read, executor-side, one row per
      (data file, position).

    ``snapshot_id`` pins any kind that reads a snapshot (default:
    current); the ``all_*`` kinds ignore it by construction."""
    meta = current_metadata(table)
    if kind not in _META_TABLE_SCHEMAS:
        raise ValueError(
            f"unknown metadata table {kind!r}; one of "
            f"{sorted(_META_TABLE_SCHEMAS)}"
        )
    schema = _META_TABLE_SCHEMAS[kind]
    if kind == "snapshots":
        rows = [
            (
                s["timestamp-ms"],
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["sequence-number"],
                (s.get("summary") or {}).get("operation"),
            )
            for s in meta["snapshots"]
        ]
        return local_df(spark, rows, schema)
    if kind == "history":
        cur = meta.get("current-snapshot-id", -1)
        rows = [
            (e["timestamp-ms"], e["snapshot-id"], e["snapshot-id"] == cur)
            for e in meta.get("snapshot-log", [])
        ]
        return local_df(spark, rows, schema)
    if kind == "refs":
        # ONE main row, always showing the live head: meta["refs"] may
        # hold a 'main' entry (every commit path writes it) but older
        # metadata may predate that — emit main exactly once, overridden
        # to current-snapshot-id
        refs = dict(meta.get("refs", {}))
        refs["main"] = {
            "snapshot-id": meta.get("current-snapshot-id", -1),
            "type": "branch",
        }
        rows = [
            (name, r.get("type", "branch"), r["snapshot-id"])
            for name, r in sorted(refs.items())
        ]
        return local_df(spark, sorted(rows), schema)
    if kind == "metadata_log_entries":
        # every still-addressable metadata GENERATION (vN.metadata.json
        # not yet retired by cleanup_metadata) — KB-sized driver reads
        import re as _re

        mdir = _meta_dir(table)
        rows = []
        for name in sorted(
            os.listdir(mdir),
            key=lambda n: int(n[1:].split(".")[0])
            if _re.fullmatch(r"v\d+\.metadata\.json", n)
            else -1,
        ):
            if not _re.fullmatch(r"v\d+\.metadata\.json", name):
                continue
            with open(os.path.join(mdir, name)) as f:
                g = json.load(f)
            rows.append(
                (
                    g.get("last-updated-ms"),
                    name,
                    g.get("current-snapshot-id", -1),
                    g.get("current-schema-id", 0),
                    g.get("last-sequence-number", 0),
                )
            )
        return local_df(spark, rows, schema)
    if kind == "all_manifests":
        # every retained snapshot's manifest list, each row stamped
        # with the snapshot that references it — manifest lists are
        # KB-sized driver reads, one per snapshot
        rows = [
            (
                m["manifest_path"],
                m["manifest_length"],
                m.get("partition_spec_id", 0),
                m.get("content", 0),
                m["sequence_number"],
                m.get("added_files_count"),
                m.get("existing_files_count"),
                m.get("deleted_files_count"),
                s["snapshot-id"],
            )
            for s in meta["snapshots"]
            for m in avro_ocf.read_ocf(s["manifest-list"])
        ]
        return local_df(spark, rows, schema)
    if kind == "all_files":
        # the union of DISTINCT manifests across every retained
        # snapshot (a manifest shared by N snapshots reads once), their
        # live entries scanned ON EXECUTORS like `files`
        seen: "dict[str, None]" = {}
        for s in meta["snapshots"]:
            for m in avro_ocf.read_ocf(s["manifest-list"]):
                seen.setdefault(m["manifest_path"])
        return _scan_manifest_entries(spark, sorted(seen), schema, None)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    ml = avro_ocf.read_ocf(snap["manifest-list"])
    if kind == "entries":
        man_rows = [
            (m["manifest_path"], m.get("added_snapshot_id"))
            for m in ml
        ]
        if not man_rows:
            return local_df(spark, [], schema)
        mdf = local_df(spark, man_rows, "path string, added_snapshot_id long")

        def read_all_entries(batches):
            import json as _json

            import pandas as pd

            from march_mania_spark_lakehouse_spark.sources import (
                avro_ocf as _avro,
            )

            cols = [
                "status", "snapshot_id", "sequence_number", "content",
                "file_path", "file_format", "partition",
                "record_count", "file_size_in_bytes",
            ]
            for pdf in batches:
                rows = []
                for p, asid in zip(pdf["path"], pdf["added_snapshot_id"]):
                    for e in _avro.read_ocf(p):
                        d = e["data_file"]
                        rows.append(
                            (
                                e["status"],
                                e.get("snapshot_id")
                                if e.get("snapshot_id") is not None
                                else (None if asid is None else int(asid)),
                                e["sequence_number"],
                                d.get("content", 0),
                                d["file_path"],
                                d.get("file_format"),
                                _json.dumps(
                                    {
                                        k: None if v is None else str(v)
                                        for k, v in sorted(
                                            (d.get("partition") or {}).items()
                                        )
                                    }
                                ),
                                d["record_count"],
                                d["file_size_in_bytes"],
                            )
                        )
                yield pd.DataFrame(rows, columns=cols)

        return mdf.mapInPandas(read_all_entries, schema)
    if kind == "position_deletes":
        mans = [m["manifest_path"] for m in ml if m.get("content", 0) != 0]
        if not mans:
            return local_df(spark, [], schema)
        mdf = local_df(spark, [(p,) for p in mans], "path string")

        def read_positions(batches):
            import pandas as pd
            import pyarrow.parquet as _pq

            from march_mania_spark_lakehouse_spark.sources import (
                avro_ocf as _avro,
            )
            from march_mania_spark_lakehouse_spark.sources.iceberg import (
                _dv_positions,
            )

            cols = [
                "file_path", "pos", "delete_file_path", "sequence_number",
            ]
            for pdf in batches:
                rows = []
                for p in pdf["path"]:
                    for e in _avro.read_ocf(p):
                        if e["status"] == 2:
                            continue
                        d = e["data_file"]
                        if d.get("content", 0) != 1:
                            continue  # equality deletes: no positions
                        seq = e["sequence_number"]
                        if (d.get("file_format") or "").upper() == "PUFFIN":
                            ref = d["referenced_data_file"]
                            for pos in sorted(_dv_positions(d)):
                                rows.append(
                                    (ref, pos, d["file_path"], seq)
                                )
                        else:
                            t = _pq.read_table(
                                d["file_path"],
                                columns=["file_path", "pos"],
                            )
                            for ref, pos in zip(
                                t.column("file_path").to_pylist(),
                                t.column("pos").to_pylist(),
                            ):
                                rows.append(
                                    (ref, pos, d["file_path"], seq)
                                )
                yield pd.DataFrame(rows, columns=cols)

        return mdf.mapInPandas(read_positions, schema)
    if kind == "manifests":
        rows = [
            (
                m["manifest_path"],
                m["manifest_length"],
                m.get("partition_spec_id", 0),
                m.get("content", 0),
                m["sequence_number"],
                m.get("added_files_count"),
                m.get("existing_files_count"),
                m.get("deleted_files_count"),
            )
            for m in ml
        ]
        return local_df(spark, rows, schema)
    want_deletes = kind == "delete_files"
    mans = [
        m["manifest_path"]
        for m in ml
        if (m.get("content", 0) != 0) == want_deletes
    ]
    files = _scan_manifest_entries(
        spark, mans, _META_TABLE_SCHEMAS["files"], want_deletes
    )
    if kind in ("files", "delete_files"):
        return files
    return files.groupBy("partition").agg(
        F.count(F.lit(1)).alias("file_count"),
        F.sum("record_count").alias("record_count"),
        F.sum("file_size_in_bytes").alias("total_size_bytes"),
    )


def rollback_to_snapshot(table: str, snapshot_id: int) -> int:
    """The spec's manage-snapshots ROLLBACK: swing main's head back to
    an ANCESTOR snapshot — one metadata write, zero files touched. The
    rolled-off snapshots stay in the metadata (time-travelable, and
    recoverable by a forward rollback while retained; the next
    `expire_snapshots` retires them — retention counts along the main
    ancestry). Sequence numbers and ``next-row-id`` are NOT rolled
    back: both are monotonic per spec, so commits after the rollback
    can never collide with rolled-off sequence numbers or row ids.
    A non-ancestor target raises — that would silently graft another
    branch's state onto main (use `fast_forward` for publishing a
    branch). Returns the new metadata version."""
    meta = current_metadata(table)
    _snapshot(meta, snapshot_id)  # must exist
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    node = meta.get("current-snapshot-id", -1)
    ancestors = set()
    while node in by_id:
        ancestors.add(node)
        node = by_id[node].get("parent-snapshot-id", -1)
    if snapshot_id not in ancestors:
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            "main head; rollback only travels the main ancestry"
        )
    if snapshot_id == meta.get("current-snapshot-id"):
        return current_version(table)
    meta = dict(meta)
    _advance_main(meta, snapshot_id, _now_ms())
    return _write_metadata(table, meta)


def create_tag(table: str, name: str, snapshot_id: int | None = None) -> None:
    """Name a snapshot with an immutable TAG ref (audit pins, release
    marks). Metadata-only commit; `expire_snapshots` keeps tagged
    snapshots alive."""
    _set_ref(table, name, snapshot_id, "tag")


def create_branch(table: str, name: str, snapshot_id: int | None = None) -> None:
    """Create a BRANCH ref (an independently-appendable head) at
    ``snapshot_id`` (default: current). `append_to_branch` advances it;
    `fast_forward` publishes it into main."""
    _set_ref(table, name, snapshot_id, "branch")


def _set_ref(table: str, name: str, snapshot_id: int | None, kind: str) -> None:
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    _snapshot(meta, sid)  # must exist
    refs = dict(meta.get("refs", {}))
    if name in refs:
        raise IcebergRefError(f"ref {name!r} already exists")
    if name == "main":
        raise IcebergRefError("'main' is reserved for the current head")
    refs[name] = {"snapshot-id": sid, "type": kind}
    meta = dict(meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = _now_ms()
    _write_metadata(table, meta)


def drop_ref(table: str, name: str) -> None:
    meta = current_metadata(table)
    refs = dict(meta.get("refs", {}))
    if name not in refs:
        raise IcebergRefError(f"ref {name!r} does not exist")
    del refs[name]
    meta = dict(meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = _now_ms()
    _write_metadata(table, meta)


def resolve_ref(table: str, ref: str) -> int:
    """Snapshot id a ref points at ('main' = current head)."""
    meta = current_metadata(table)
    if ref == "main":
        return meta["current-snapshot-id"]
    refs = meta.get("refs", {})
    if ref not in refs:
        raise IcebergRefError(
            f"ref {ref!r} not found (have: {sorted(refs) + ['main']})"
        )
    return refs[ref]["snapshot-id"]


def append_to_branch(
    df: DataFrame, table: str, branch: str, stat_cols: Sequence[str] = ()
) -> int:
    """Append ON A BRANCH: the commit parents the branch head, carries
    the branch head's manifests, and advances ONLY the branch ref —
    main (current-snapshot-id) and the snapshot-log are untouched, so
    readers of the table see nothing until `fast_forward` publishes.
    This is the staging half of write-audit-publish."""
    meta = current_metadata(table)
    refs = meta.get("refs", {})
    if branch not in refs or refs[branch]["type"] != "branch":
        raise IcebergRefError(f"{branch!r} is not a branch")
    head = refs[branch]["snapshot-id"]
    head_snap = _snapshot(meta, head)
    snapshot_id, seq = _next_snapshot(meta)
    files = _stage_data_files(
        df, table, _spec_info(meta),
        meta["schemas"][meta["current-schema-id"]],
    )
    # branch commits consume row ids too (spec: ids are assigned at
    # commit, fast_forward publishes them unchanged)
    first_rid = (
        int(meta.get("next-row-id", 0))
        if int(meta.get("format-version", 2)) >= 3
        else None
    )
    manifests = avro_ocf.read_ocf(head_snap["manifest-list"]) + [
        _write_manifest(
            table, meta, files, snapshot_id, seq, stat_cols,
            first_row_id=first_rid,
        )
    ]
    return _publish_snapshot(
        table, meta, snapshot_id, seq, manifests,
        {"operation": "append", "branch": branch},
        parent=head,
        schema_id=meta["current-schema-id"],
        first_row_id=first_rid,
        branch=branch,
    )


def fast_forward(table: str, branch: str) -> int:
    """Publish: fast-forward main to the branch head. Requires main's
    current head to be an ANCESTOR of the branch head (walked via
    parent-snapshot-id) — if main moved since the branch forked, the
    publish must be rebuilt, not forced. Returns the new head id."""
    meta = current_metadata(table)
    refs = meta.get("refs", {})
    if branch not in refs or refs[branch]["type"] != "branch":
        raise IcebergRefError(f"{branch!r} is not a branch")
    target = refs[branch]["snapshot-id"]
    cur = meta["current-snapshot-id"]
    node, ancestors = target, set()
    while node is not None:
        ancestors.add(node)
        try:
            node = _snapshot(meta, node).get("parent-snapshot-id")
        except KeyError:
            break  # chain expired past this point — walked far enough
    if cur != -1 and cur not in ancestors:
        raise IcebergRefError(
            f"main head {cur} is not an ancestor of {branch!r} head "
            f"{target}; cannot fast-forward"
        )
    meta = dict(meta)
    _advance_main(meta, target, _now_ms())
    _write_metadata(table, meta)
    return target


def cherry_pick(table: str, snapshot_id: int) -> int:
    """CHERRY-PICK (the spec's manage-snapshots ``cherrypick_snapshot``):
    apply an APPEND snapshot's added files onto the CURRENT main head
    as a NEW commit — the publish path when main has MOVED since the
    branch forked, where `fast_forward`'s ancestor rule correctly
    refuses. Metadata-only: the picked files are re-attached through a
    fresh manifest at a fresh sequence number; no data byte moves, and
    the change feed emits the rows once, at the new sequence.

    Honest gates (each would silently corrupt state otherwise): only
    ``operation='append'`` snapshots pick (an overwrite/delete/replace
    captures a whole-table view that may conflict with main's moves —
    rebuild instead, per the reference behavior); the picked files
    must not already be live on main (double-pick); and the picked
    manifests must be under the CURRENT default partition spec (a
    relayout between fork and publish re-shapes the partition record).
    On v3, the picked entries CARRY their branch-assigned
    ``first_row_id``s — ids were allocated at branch-commit time from
    the shared monotonic counter, so re-attachment cannot collide.
    Returns the new metadata version."""
    meta = current_metadata(table)
    snap = _snapshot(meta, snapshot_id)
    op = (snap.get("summary") or {}).get("operation")
    if op != "append":
        raise NotImplementedError(
            f"cherry-pick of a {op!r} snapshot: only append snapshots "
            "re-apply safely onto a moved main — rebuild the change "
            "instead"
        )
    added: "list[tuple[str, dict, int, int]]" = []
    row_ids: "list[int | None]" = []
    table_abs = os.path.abspath(table)
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        if m.get("content", 0) != 0:
            continue
        if m.get("added_snapshot_id") != snapshot_id:
            continue
        if m.get("partition_spec_id", 0) != meta["default-spec-id"]:
            raise NotImplementedError(
                "cherry-pick across a partition-spec change: the "
                "picked manifest's partition record no longer matches "
                "the default spec — rebuild the change"
            )
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] != 1 or e["data_file"].get("content", 0) != 0:
                continue
            rec = e["data_file"]
            added.append(
                (
                    os.path.relpath(rec["file_path"], table_abs),
                    dict(rec.get("partition") or {}),
                    int(rec["record_count"]),
                    int(rec["file_size_in_bytes"]),
                )
            )
            row_ids.append(rec.get("first_row_id"))
    if not added:
        raise ValueError(f"snapshot {snapshot_id} added no data files")
    live = set(snapshot_files(table))  # table-relative paths
    dup = [rel for rel, *_ in added if rel in live]
    if dup:
        raise ValueError(
            f"cherry-pick would double-apply {len(dup)} file(s) already "
            f"live on main (e.g. {dup[0]!r}) — already published?"
        )
    v3 = int(meta.get("format-version", 2)) >= 3
    explicit = row_ids if v3 and all(r is not None for r in row_ids) else None
    return _commit_snapshot(
        None,
        table,
        meta,
        "append",
        False,
        (),
        {"cherry-picked-from": str(snapshot_id)},
        staged_files=added,
        assign_row_ids=explicit is None,
        explicit_row_ids=explicit,
    )


class IcebergAuditError(RuntimeError):
    """The audit callback rejected the staged snapshot."""


def write_audit_publish(
    df: DataFrame,
    table: str,
    audit_fn,
    branch: str = "wap_audit",
    stat_cols: Sequence[str] = (),
) -> int:
    """Write-audit-publish on the Iceberg layer (the
    `delta_log.write_audit_publish` analogue, shaped like Iceberg's own
    WAP): stage the append on an ephemeral branch, run
    ``audit_fn(staged_df)`` against the BRANCH head (main still serves
    the old table), and only on audit pass fast-forward main. On audit
    failure the branch is dropped and main never moved — the staged
    files become unreferenced debris for `expire_snapshots`. Returns
    the published snapshot id."""
    spark = df.sparkSession
    create_branch(table, branch)
    try:
        staged_id = append_to_branch(df, table, branch, stat_cols)
        staged = read_iceberg(spark, table, staged_id)
        if not audit_fn(staged):
            raise IcebergAuditError(
                f"audit rejected staged snapshot {staged_id}"
            )
        return fast_forward(table, branch)
    finally:
        drop_ref(table, branch)


def cleanup_metadata(table: str, keep_last: int = 5) -> "list[str]":
    """Delete old ``vN.metadata.json`` generations beyond the newest
    ``keep_last`` — the spec's ``write.metadata.previous-versions-max``
    maintenance. Snapshots, manifests and data files are untouched
    (they live in their own files, and every reader resolves the
    CURRENT metadata via version-hint.text), so time travel BY
    SNAPSHOT keeps working; only the removed metadata GENERATIONS
    themselves stop being addressable. Returns deleted names."""
    cur = current_version(table)
    if cur is None:
        return []
    deleted = []
    for v in range(1, cur - keep_last + 1):
        p = os.path.join(_meta_dir(table), f"v{v}.metadata.json")
        if os.path.exists(p):
            os.unlink(p)
            deleted.append(os.path.basename(p))
    return deleted


def expire_snapshots(
    table: str, keep_last: int = 1, older_than_ms: int | None = None
) -> list[str]:
    """Retire old snapshots: rewrite the metadata without them (a new
    metadata version — history of the metadata itself is preserved in
    older vN files) and delete data files, manifests and manifest
    lists referenced ONLY by the expired snapshots. Retention combines
    the spec's two knobs: the newest ``keep_last`` along the main
    ancestry ALWAYS stay, and with ``older_than_ms`` (absolute epoch
    millis, the `expireSnapshots().expireOlderThan(ts)` form) every
    snapshot at-or-after the cutoff ALSO stays — expiry takes only
    what both rules allow. Snapshots named by a ref (tag or branch
    head) are always retained — expiring a tagged release mark out
    from under its name is never what retention means; intermediate
    branch ancestry MAY expire (each snapshot's manifest list is
    self-contained, so the head stays readable). Returns the deleted
    paths (table-relative)."""
    meta = current_metadata(table)
    snaps = meta["snapshots"]
    if len(snaps) <= keep_last and older_than_ms is None:
        return []
    ref_ids = {
        r["snapshot-id"]
        for name, r in meta.get("refs", {}).items()
        if name != "main"
    }
    # "newest keep_last" counts along the MAIN ANCESTRY, not list
    # order: a staged branch append lands last in the list, and
    # keeping it INSTEAD of the main head would expire the snapshot
    # current-snapshot-id points at — a corrupt table
    by_sid = {s["snapshot-id"]: s for s in snaps}
    main_ids: list = []
    node = meta.get("current-snapshot-id", -1)
    while node in by_sid:
        main_ids.append(node)
        node = by_sid[node].get("parent-snapshot-id", -1)
    kept_ids_now = set(main_ids[:keep_last]) | ref_ids
    if older_than_ms is not None:
        kept_ids_now |= {
            s["snapshot-id"]
            for s in snaps
            if s["timestamp-ms"] >= older_than_ms
        }
    expired = [s for s in snaps if s["snapshot-id"] not in kept_ids_now]
    kept = [s for s in snaps if s["snapshot-id"] in kept_ids_now]  # in order
    if not expired:
        return []

    def _refs(snapshots):
        mls, manifests, files = set(), set(), set()
        for s in snapshots:
            mls.add(s["manifest-list"])
            for m in avro_ocf.read_ocf(s["manifest-list"]):
                manifests.add(m["manifest_path"])
                for e in avro_ocf.read_ocf(m["manifest_path"]):
                    files.add(e["data_file"]["file_path"])
        return mls, manifests, files

    keep_mls, keep_manifests, keep_files = _refs(kept)
    exp_mls, exp_manifests, exp_files = _refs(expired)
    doomed = (
        (exp_mls - keep_mls) | (exp_manifests - keep_manifests)
        | (exp_files - keep_files)
    )
    meta = dict(meta)
    meta["snapshots"] = kept
    keep_ids = {s["snapshot-id"] for s in kept}
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in keep_ids
    ]
    meta["last-updated-ms"] = _now_ms()
    _write_metadata(table, meta)
    deleted = []
    for path in sorted(doomed):
        if os.path.exists(path):
            os.unlink(path)
        deleted.append(os.path.relpath(path, os.path.abspath(table)))
    return deleted


def add_files(
    table: str, paths: Sequence[str], stat_cols: Sequence[str] = ()
) -> int:
    """Register EXISTING parquet files into the table without copying
    or rewriting a byte (the `add_files` migration procedure): one
    append snapshot whose manifest points at the files in place,
    record counts and optional column bounds read from the footers
    (KBs). The in-place escape hatch for onboarding a directory of
    parquet into table management; unpartitioned specs only (hive
    partition mapping is `convert_from_delta`'s job)."""
    import pyarrow.parquet as pq

    meta = current_metadata(table)
    if _spec_info(meta):
        raise NotImplementedError(
            "add_files targets unpartitioned tables; partitioned "
            "onboarding needs an explicit layout mapping"
        )
    staged = []
    for p in paths:
        ap = os.path.abspath(p)
        n_rows = pq.ParquetFile(ap).metadata.num_rows
        staged.append((ap, {}, n_rows, os.path.getsize(ap)))
    return _commit_snapshot(
        None, table, meta, "append", False, stat_cols, None, staged
    )


def clone(table: str, target: str) -> int:
    """ZERO-COPY shallow clone: a new Iceberg table whose single
    snapshot references the source's CURRENT data files in place —
    metadata is rewritten (fresh uuid/location/history), data is
    shared. The dev/test-sandbox primitive: clone production, run
    experiments, throw the clone away — O(metadata) cost at any table
    size. Writes to the clone never touch the source (appends make new
    files, merge-on-read deletes are tombstone sidecars in the CLONE's
    metadata only). Same retention caveat as converted tables:
    `expire_snapshots` on either side must not assume sole ownership
    of shared files. PARTITIONED sources compose (the Delta
    shallow_clone rule): the source's partition specs ride into the
    clone's metadata and every manifest entry keeps its partition
    tuple verbatim — identity restoration then comes from the
    manifests, never from hive dirs under a foreign root. Manifest
    entries carry over with their bounds/null counts, so stats pruning
    works on the clone unchanged. ALL live delete files carry (round
    8): every entry — data, position-delete, equality-delete — is
    written as a spec "existing" (status 0) entry keeping its ORIGINAL
    sequence number under one snapshot at the source's last sequence
    number, so the strictly-lower-sequence rule that decides which
    data files an equality tombstone kills is preserved verbatim (a
    row appended after the tombstone in the source survives in the
    clone too). One trade, stated: the clone's sequence numbers below
    its single snapshot have no retained snapshots, so the change
    feeds refuse to stream the PRE-clone range (the clone point is the
    feed's epoch), exactly as they refuse expired history. The clone
    keeps the source's format version and, on v3, its ``next-row-id``,
    so carried DVs and row ids stay meaningful."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    if current_version(target) is not None:
        raise FileExistsError(f"{target} already has Iceberg metadata")
    schema = meta["schemas"][meta["current-schema-id"]]
    os.makedirs(_meta_dir(target), exist_ok=True)
    specs = [
        dict(s)
        for s in meta.get("partition-specs", [{"spec-id": 0, "fields": []}])
    ]
    new_meta = _new_table_metadata(
        target,
        dict(schema, **{"schema-id": 0}),
        [],
        {"cloned-from": os.path.abspath(table), "cloned-snapshot-id": str(sid)},
        # a v3 source's DV entries and row ids need a v3 clone: later
        # deletes write DVs and appends allocate ids past the source's
        format_version=int(meta.get("format-version", FORMAT_VERSION)),
    )
    if "next-row-id" in meta:
        new_meta["next-row-id"] = meta["next-row-id"]
    new_meta.update(
        {
            # the clone's one snapshot lands at the source's last
            # sequence number, at or above every carried entry's
            "last-sequence-number": max(meta["last-sequence-number"], 1) - 1,
            "last-column-id": meta["last-column-id"],
            "default-spec-id": meta.get("default-spec-id", 0),
            "partition-specs": specs,
            "last-partition-id": meta.get("last-partition-id", 999),
        }
    )
    snap = _snapshot(meta, sid)
    #: live entries grouped per source SPEC and kind (an evolved
    #: table's generations have different partition-tuple shapes, so
    #: each spec gets its own manifest in the clone too); every entry
    #: keeps its ORIGINAL sequence numbers — the equality-delete
    #: ordering rule depends on them
    data_by_spec: dict[int, list[dict]] = {}
    dels_by_spec: dict[int, list[dict]] = {}
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        m_spec = m.get("partition_spec_id", 0)
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] not in (0, 1):
                continue
            kind = data_by_spec if (
                e["data_file"].get("content", 0) == 0
            ) else dels_by_spec
            kind.setdefault(m_spec, []).append(e)
    clone_sid, clone_seq = _next_snapshot(new_meta)
    manifests = [
        _write_entries_manifest(
            target, new_meta, spec_id, content, clone_sid, clone_seq,
            [_existing(e) for e in by_spec[spec_id]],
        )
        for content, by_spec in ((0, data_by_spec), (1, dels_by_spec))
        for spec_id in sorted(by_spec)
    ]
    return _publish_snapshot(
        target, new_meta, clone_sid, clone_seq, manifests,
        {"operation": "append"}, parent=None, schema_id=0,
    )


def remove_orphan_files(
    table: str, older_than_ms: int = 3 * 24 * 3600 * 1000
) -> list[str]:
    """Delete files under ``data/`` referenced by NO retained snapshot
    — the debris of crashed writes and losing concurrent commits
    (staged parquet whose metadata commit never landed). The
    modification-time guard (default 3 days, the maintenance-tool
    convention) keeps in-flight commits safe: a writer that staged
    files but hasn't committed yet is younger than the cutoff. Returns
    the deleted paths (table-relative). Note rejected WAP snapshots are
    NOT orphans — their snapshot entries stay in metadata until
    `expire_snapshots` retires them, after which their files are
    deleted there."""
    meta = current_metadata(table)
    referenced = set()
    for s in meta["snapshots"]:
        for m in avro_ocf.read_ocf(s["manifest-list"]):
            for e in avro_ocf.read_ocf(m["manifest_path"]):
                referenced.add(os.path.realpath(e["data_file"]["file_path"]))
    cutoff = (_now_ms() - older_than_ms) / 1000.0
    deleted = []
    data_root = os.path.join(table, "data")
    for root, _dirs, files in os.walk(data_root):
        for fn in files:
            p = os.path.join(root, fn)
            if os.path.realpath(p) in referenced:
                continue
            if os.path.getmtime(p) > cutoff:
                continue  # possibly an in-flight commit's staging
            os.unlink(p)
            deleted.append(os.path.relpath(p, os.path.abspath(table)))
    return sorted(deleted)


# --------------------------------------------------------------------------
# Inspection surface (the `table.snapshots` / `table.files` /
# `table.partitions` metadata tables real engines expose) — all planned
# purely from table metadata, returned as small DataFrames.
# --------------------------------------------------------------------------


def inspect_snapshots(spark: SparkSession, table: str) -> DataFrame:
    """One row per retained snapshot: (snapshot_id, parent_id,
    sequence_number, timestamp_ms, operation, schema_id, is_current)."""
    meta = current_metadata(table)
    cur = meta["current-snapshot-id"]
    rows = [
        (
            s["snapshot-id"],
            s.get("parent-snapshot-id"),
            s["sequence-number"],
            s["timestamp-ms"],
            s.get("summary", {}).get("operation"),
            s.get("schema-id"),
            s["snapshot-id"] == cur,
        )
        for s in meta["snapshots"]
    ]
    return local_df(
        spark, rows,
        "snapshot_id long, parent_id long, sequence_number long, "
        "timestamp_ms long, operation string, schema_id int, "
        "is_current boolean",
    )


def inspect_refs(spark: SparkSession, table: str) -> DataFrame:
    """(name, type, snapshot_id) for every named ref, including main."""
    meta = current_metadata(table)
    refs = dict(meta.get("refs", {}))
    refs.setdefault(
        "main", {"snapshot-id": meta["current-snapshot-id"], "type": "branch"}
    )
    rows = [
        (name, r["type"], r["snapshot-id"]) for name, r in sorted(refs.items())
    ]
    return local_df(spark, rows, "name string, type string, snapshot_id long")


def inspect_files(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """One row per manifest entry at a snapshot: (file_path, content,
    status, spec_id, sequence_number, record_count, file_size_bytes,
    partition as a canonical JSON string). The audit answer to 'what
    files does this snapshot actually plan?' without touching storage."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    rows = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] not in (0, 1):
                continue
            d = e["data_file"]
            rows.append(
                (
                    os.path.relpath(d["file_path"], os.path.abspath(table)),
                    int(d.get("content", 0)),
                    int(e["status"]),
                    int(m.get("partition_spec_id", 0)),
                    e["sequence_number"],
                    d["record_count"],
                    d["file_size_in_bytes"],
                    json.dumps(d.get("partition") or {}, sort_keys=True),
                )
            )
    return local_df(
        spark, rows,
        "file_path string, content int, status int, spec_id int, "
        "sequence_number long, record_count long, file_size_bytes long, "
        "partition string",
    )


def inspect_partitions(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """Per-partition-tuple rollup of the DATA files at a snapshot:
    (spec_id, partition JSON, file_count, record_count) — the skew /
    small-file dashboard input, computed from manifests alone."""
    files = inspect_files(spark, table, snapshot_id)
    return (
        files.filter(F.col("content") == 0)
        .groupBy("spec_id", "partition")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
        )
    )


def last_streamed_batch(table: str, app_id: str) -> int:
    """Highest streaming batch id committed for ``app_id`` (-1 if none),
    read from snapshot summary properties — the Iceberg-side half of the
    exactly-once streaming-append contract (the Delta layer's
    SetTransaction analogue). Snapshot expiration that drops every
    snapshot of an active stream would also drop its watermark — keep
    at least the stream's newest snapshot (real Iceberg sinks carry the
    same caveat)."""
    if current_version(table) is None:
        return -1
    best = -1
    for s in current_metadata(table)["snapshots"]:
        smry = s.get("summary", {})
        if smry.get("streaming-app-id") == app_id:
            best = max(best, int(smry.get("streaming-batch-id", -1)))
    return best


def merge(
    changes: DataFrame,
    table: str,
    keys: Sequence[str],
    delete_col: str | None = None,
    stat_cols: Sequence[str] = (),
) -> int:
    """MERGE INTO the Iceberg table (copy-on-write, the Delta layer's
    strategy): apply `operators.merge.merge_upsert` to the current
    snapshot and commit the result as an overwrite snapshot — old
    snapshots stay time-travelable. A production merge narrows the
    rewrite to files whose bounds overlap the changeset's key range
    (`scan_range` is that planner input)."""
    from march_mania_spark_lakehouse_spark.operators.merge import merge_upsert

    spark = changes.sparkSession
    merged = merge_upsert(
        read_iceberg(spark, table), changes, list(keys), delete_col
    )
    meta = current_metadata(table)
    return _commit_snapshot(
        merged, table, meta, "overwrite", True, stat_cols,
        {"merge-keys": ",".join(keys)},
    )


def _delta_linked_rel(part_cols, pv: dict, delta_rel: str) -> str:
    """Deterministic hive-layout location for a hard-linked Delta data
    file: the basename is a digest of the source's LOG-relative path,
    so :func:`sync_from_delta` can map later remove / re-add actions
    onto the linked file with NO stored state (distinct sources →
    distinct digests), while either table's name for the inode can
    still be deleted independently."""
    dirs = os.path.join(*(f"{c}={pv[c]}" for c in part_cols))
    name = hashlib.sha256(delta_rel.encode()).hexdigest()[:32] + ".parquet"
    return os.path.join("data", dirs, name)


def convert_from_delta(delta_table: str, iceberg_table: str) -> int:
    """In-place metadata migration: register a Delta table's CURRENT
    snapshot as a new Iceberg table over the same data files, with zero
    data bytes copied. Returns the snapshot id.

    Gates: ``iceberg_table`` has no Iceberg metadata yet, and no Delta
    partition column is a timestamp (identity partitions on it are
    unbounded, the `create` rule). The table gets an identity spec over
    the Delta partition columns; a row-tracking source makes it v3.

    The conversion is the mirror's FIRST SYNC: the head's live adds go
    through the same mapping as every later commit (files in place or
    hard-linked, DVs moved verbatim, row ids carried; see
    :func:`sync_from_delta`), onto an empty table. Its snapshot is the
    root of the synced history: no parent and no ``delta-version``.

    Retention caveat (inherent to dual-metadata tables, same as
    UniForm-style deployments): `expire_snapshots` on the converted
    table would delete shared data files the Delta log still
    references — coordinate vacuum/expiration across both layers
    (hard-linked layouts soften this: each layer owns its own name)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    part_cols = delta_log.table_partition_columns(delta_table)
    if current_version(iceberg_table) is not None:
        raise FileExistsError(f"{iceberg_table} already has Iceberg metadata")
    v = delta_log.latest_version(delta_table)
    tracking = delta_log._row_tracking_enabled(delta_table, v)
    schema = _schema_json_from_struct(delta_log.table_schema(delta_table, v))
    by_name = {f["name"]: f for f in schema["fields"]}
    for c in part_cols:
        if by_name[c]["type"] == "timestamptz":
            raise NotImplementedError(
                "timestamp identity partitions are unbounded-cardinality "
                "(same rule as create())"
            )
    os.makedirs(iceberg_table, exist_ok=True)
    meta = _new_table_metadata(
        iceberg_table,
        schema,
        [
            {
                "name": c,
                "transform": "identity",
                "source-id": by_name[c]["id"],
                "field-id": 1000 + i,
            }
            for i, c in enumerate(part_cols)
        ],
        {
            "migrated-from": os.path.abspath(delta_table),
            "migrated-delta-version": str(v),
        },
        3 if tracking else FORMAT_VERSION,  # carried row ids need v3
    )
    return _mirror_delta_actions(
        delta_table, iceberg_table, meta, v,
        [{"add": a} for a in delta_log._replay(delta_table, v).values()],
    )


def convert_to_delta(iceberg_table: str, delta_table: str) -> int:
    """The reverse migration: register this Iceberg table's CURRENT
    snapshot as version 0 of a new Delta table over the SAME data files
    (zero bytes copied). Returns 0.

    Gates: the current partition spec is identity-only (Delta has no
    hidden partitioning to map day/bucket/truncate onto), the snapshot
    has no position or equality delete FILES (compact first, or on a v3
    table `rewrite_position_deletes` them into DVs), and
    ``delta_table`` has no Delta log yet. A v3 table with row lineage
    makes a row-tracking Delta table.

    The conversion is the mirror's FIRST SYNC: the snapshot is mapped
    by the same state diff as every later one (files in place or
    hard-linked, DVs moved verbatim, row ids carried; see
    :func:`sync_to_delta`), from an empty mirror, into one commit of the
    ``CONVERT`` commitInfo, a protocol, the metaData and the adds. Same
    dual-metadata retention caveat as `convert_from_delta`."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    meta = current_metadata(iceberg_table)
    sid = meta["current-snapshot-id"]
    spec = _spec_info(meta)
    if any(pf["transform"] != "identity" for pf in spec):
        raise NotImplementedError(
            "Delta cannot represent transform partition specs "
            "(no hidden partitioning); identity specs convert"
        )
    if snapshot_delete_files(iceberg_table, sid) or snapshot_equality_deletes(
        iceberg_table, sid
    ):
        raise NotImplementedError(
            "snapshot has position/equality delete files; Delta cannot "
            "represent them — compact first (or, on a v3 table, "
            "rewrite_position_deletes to consolidate them into DVs)"
        )
    if delta_log.latest_version(delta_table) is not None:
        raise FileExistsError(f"{delta_table} already has a Delta log")
    os.makedirs(delta_table, exist_ok=True)
    # v3 row lineage → Delta row tracking: ids carry 1:1
    tracking = (
        int(meta.get("format-version", 2)) >= 3 and "next-row-id" in meta
    )
    protocol, configuration = delta_log._new_table_protocol(tracking)
    metadata = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _spark_schema(
            meta["schemas"][meta["current-schema-id"]]
        ).json(),
        "partitionColumns": [pf["source"] for pf in spec],
        "configuration": configuration,
        "createdTime": _now_ms(),
    }
    snap = _snapshot(meta, sid)
    mapped = _iceberg_snapshot_actions(
        iceberg_table, delta_table, meta, snap, None,
        _DeltaMirror(metadata, protocol, tracking, {}, -1), 0, restate=True,
    )
    # the mapping re-states the protocol when DVs need their feature
    # (and the metaData when the snapshot's files use another identity
    # layout than the current spec); commit 0 holds one of each
    header = {"protocol": protocol, "metaData": metadata}
    for a in mapped:
        header.update({k: a[k] for k in a if k in header})
    delta_log._write_commit(
        delta_table,
        0,
        [
            delta_log._commit_info(
                "CONVERT",
                {
                    "source": os.path.abspath(iceberg_table),
                    "sourceSnapshotId": sid,
                    # the sync cursor sync_to_delta resumes from
                    "sourceSequence": snap["sequence-number"],
                },
            ),
            *({k: v} for k, v in header.items()),
            *sorted(
                (a for a in mapped if "add" in a),
                key=lambda a: a["add"]["path"],
            ),
            *(a for a in mapped if "domainMetadata" in a),
        ],
    )
    _pin_sync_cursor(iceberg_table, delta_table, sid)
    return 0


def _pin_sync_cursor(
    iceberg_table: str, delta_table: str, sid: int
) -> None:
    """Auto-managed ``sync-cursor-*`` TAG on the SOURCE table pinned to
    the mirror's last-synced snapshot (round 13), keyed per mirror path
    so independent mirrors don't thrash one ref. Ref retention keeps
    the cursor snapshot alive through `expire_snapshots`, so continuous
    sync never hits the documented re-convert under routine
    maintenance — including the rollback case, where the pinned
    OFF-ANCESTRY cursor staying retained is exactly what makes the
    compensating state diff computable. Each sync advances the tag;
    `drop_ref` releases it if the mirror is decommissioned."""
    name = (
        "sync-cursor-"
        + hashlib.sha256(
            os.path.abspath(delta_table).encode()
        ).hexdigest()[:8]
    )
    meta = current_metadata(iceberg_table)
    refs = dict(meta.get("refs", {}))
    if refs.get(name, {}).get("snapshot-id") == sid:
        return
    refs[name] = {"snapshot-id": sid, "type": "tag"}
    meta = dict(meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = _now_ms()
    _write_metadata(iceberg_table, meta)


def _delta_pv_str(v, t: str) -> "str | None":
    """Manifest representation → Delta partitionValues string (inverse
    of `_typed_partition`: days-since-epoch back to ISO). Shared by
    :func:`convert_to_delta` and :func:`sync_to_delta`."""
    import datetime

    if v is None:
        return None
    if t == "date":
        return (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        ).isoformat()
    if t == "boolean":
        return "true" if v else "false"
    return str(v)


class DeltaSyncSchemaChangeError(NotImplementedError):
    """A Delta commit in the sync range changed the schema in a way
    the mirror cannot replay (partition-column changes, non-widening
    retypes, name reuse across the format line) — re-convert."""


#: Delta schemaString type names ⇄ Iceberg primitive type names
_DELTA_TO_ICE = {
    "long": "long", "integer": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp", "binary": "binary",
}


def _norm_delta_dtype(t):
    """A Delta schemaString type in structural form: field metadata
    stripped, nullability booleans normalized, decimal rendered without
    the space — the comparison key for 'same type across the format
    line' checks (a mapped mirror's nested fields may carry
    columnMapping metadata that is irrelevant to shape)."""
    if isinstance(t, dict):
        if t["type"] == "struct":
            return (
                "struct",
                tuple(
                    (
                        f["name"],
                        _norm_delta_dtype(f["type"]),
                        bool(f.get("nullable", True)),
                    )
                    for f in t["fields"]
                ),
            )
        if t["type"] == "array":
            return (
                "array",
                _norm_delta_dtype(t["elementType"]),
                bool(t.get("containsNull", True)),
            )
        if t["type"] == "map":
            return (
                "map",
                _norm_delta_dtype(t["keyType"]),
                _norm_delta_dtype(t["valueType"]),
                bool(t.get("valueContainsNull", True)),
            )
        return ("?", str(t))
    return t.replace(" ", "") if t.startswith("decimal") else t


def _ice_type_to_delta(t):
    """Iceberg type → Delta schemaString type, recursive (struct /
    list→array / map). Raises ``KeyError`` on a primitive with no
    Delta counterpart — callers wrap that into the re-convert error."""
    if isinstance(t, dict):
        if t["type"] == "struct":
            return {
                "type": "struct",
                "fields": [
                    {
                        "name": f["name"],
                        "type": _ice_type_to_delta(f["type"]),
                        "nullable": not f.get("required", False),
                        "metadata": {},
                    }
                    for f in t["fields"]
                ],
            }
        if t["type"] == "list":
            return {
                "type": "array",
                "elementType": _ice_type_to_delta(t["element"]),
                "containsNull": not t.get("element-required", False),
            }
        if t["type"] == "map":
            return {
                "type": "map",
                "keyType": _ice_type_to_delta(t["key"]),
                "valueType": _ice_type_to_delta(t["value"]),
                "valueContainsNull": not t.get("value-required", False),
            }
        raise KeyError(f"unknown nested type {t['type']!r}")
    if t.startswith("decimal"):
        return t.replace(" ", "")
    return _ICE_TO_DELTA_JSON[t]


def _nested_change_replays(old_t, new_t) -> bool:
    """True iff ``new_t`` (Iceberg type) differs from ``old_t`` only by
    nested field ADDs, DROPs, and sanctioned primitive WIDENs — names
    stable per field-id. These are exactly the nested changes whose
    Delta-mirror replay is a pure schemaString type re-render: a
    missing nested subfield reads null, a dropped one is pruned, a
    widened one upcasts, all on unchanged parquet. Nested renames and
    container re-shapes return False (re-convert)."""
    if isinstance(old_t, str) or isinstance(new_t, str):
        return old_t == new_t or (old_t, new_t) in _WIDEN_OK
    if old_t["type"] != new_t["type"]:
        return False
    if old_t["type"] == "struct":
        old_by = {f["id"]: f for f in old_t["fields"]}
        new_by = {f["id"]: f for f in new_t["fields"]}
        for i in old_by.keys() & new_by.keys():
            if old_by[i]["name"] != new_by[i]["name"]:
                return False
            if not _nested_change_replays(
                old_by[i]["type"], new_by[i]["type"]
            ):
                return False
        return True
    if old_t["type"] == "list":
        return old_t["element-id"] == new_t[
            "element-id"
        ] and _nested_change_replays(old_t["element"], new_t["element"])
    if old_t["type"] == "map":
        return (
            old_t["key-id"] == new_t["key-id"]
            and old_t["value-id"] == new_t["value-id"]
            and _nested_change_replays(old_t["key"], new_t["key"])
            and _nested_change_replays(old_t["value"], new_t["value"])
        )
    return False


def _delta_nested_ops(path: str, old_t, new_t, ops: "list[tuple]") -> None:
    """Diff two Delta schemaString nested types into dotted
    add/drop/widen ops for the Iceberg mirror. Fields pair by NAME —
    legal because nested renames are gated on the Delta writer (nested
    members resolve by name there too). List/map interior changes and
    container re-shapes raise re-convert; the writer gates them, so
    reaching one here means the logs were produced elsewhere."""
    if isinstance(old_t, str) or isinstance(new_t, str):
        if _norm_delta_dtype(old_t) == _norm_delta_dtype(new_t):
            return
        if not (isinstance(old_t, str) and isinstance(new_t, str)):
            raise DeltaSyncSchemaChangeError(
                f"nested type of {path!r} changed container shape; the "
                "mirror cannot replay it — re-convert"
            )
        ops.append(("widen", path, new_t))
        return
    if old_t.get("type") != new_t.get("type"):
        raise DeltaSyncSchemaChangeError(
            f"nested type of {path!r} changed container shape; the "
            "mirror cannot replay it — re-convert"
        )
    if old_t["type"] == "struct":
        old_by = {f["name"]: f for f in old_t["fields"]}
        new_by = {f["name"]: f for f in new_t["fields"]}
        for n in old_by:
            if n not in new_by:
                ops.append(("drop", f"{path}.{n}", None))
        for n, f in new_by.items():
            if n not in old_by:
                ops.append(("add", f"{path}.{n}", f["type"]))
            else:
                _delta_nested_ops(
                    f"{path}.{n}", old_by[n]["type"], f["type"], ops
                )
        return
    raise DeltaSyncSchemaChangeError(
        f"nested change inside a {old_t['type']!r} at {path!r} does not "
        "replay (no names to address) — re-convert"
    )


def _delta_ice_shape_eq(delta_fields: "list[dict]", ice_fields: "list[dict]") -> bool:
    """True iff a Delta field list and an Iceberg field list declare
    the same (name, type-shape) sequence — the cross-format
    'is the mirror an image of this generation?' predicate."""
    if len(delta_fields) != len(ice_fields):
        return False
    try:
        return [
            (f["name"], _norm_delta_dtype(f["type"])) for f in delta_fields
        ] == [
            (f["name"], _norm_delta_dtype(_ice_type_to_delta(f["type"])))
            for f in ice_fields
        ]
    except (KeyError, NotImplementedError):
        return False


def _parse_delta_sql_literal(s: str):
    """Inverse of `delta_log.add_column`'s CURRENT_DEFAULT rendering:
    a SQL literal string back to the Python value."""
    if s.startswith("'") and s.endswith("'"):
        return s[1:-1].replace("''", "'")
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(s)
    except ValueError:
        return float(s)


def _pair_delta_fields(
    prev_fields: "list[dict]", new_fields: "list[dict]"
) -> "tuple[list[tuple[dict, dict]], list[dict], list[dict]]":
    """FIELD-ID RECONCILIATION across one Delta metaData action:
    match fields by ``delta.columnMapping.id`` when both generations
    carry it (stable under rename), else by name (without mapping the
    only legal Delta changes are add/widen — names are stable).
    Returns (matched pairs old→new, added, dropped)."""

    def _mid(f: dict):
        return (f.get("metadata") or {}).get("delta.columnMapping.id")

    prev_by_id = {_mid(f): f for f in prev_fields if _mid(f) is not None}
    pairs: "list[tuple[dict, dict]]" = []
    un_prev = list(prev_fields)
    added: "list[dict]" = []
    for f in new_fields:
        mid = _mid(f)
        if mid is not None and mid in prev_by_id:
            pairs.append((prev_by_id[mid], f))
            un_prev.remove(prev_by_id[mid])
        else:
            added.append(f)
    # second pass: unmatched new fields pair with unmatched prev by
    # name (the pre-mapping / mapping-enable generations)
    prev_by_name = {f["name"]: f for f in un_prev}
    still_added = []
    for f in added:
        if f["name"] in prev_by_name:
            p = prev_by_name.pop(f["name"])
            pairs.append((p, f))
            un_prev.remove(p)
        else:
            still_added.append(f)
    return pairs, still_added, un_prev


def _replay_delta_schema_change(
    delta_table: str, iceberg_table: str, v: int, md: dict
) -> None:
    """Replay ONE Delta metaData action's schema evolution onto the
    Iceberg mirror — metadata-only on both sides, field identity
    reconciled via `_pair_delta_fields`:

    - ADD COLUMN → `add_column`; a ``CURRENT_DEFAULT`` becomes the
      Iceberg ``write-default`` (NEVER ``initial-default``: Delta
      defaults are write-time-only per spec, so pre-evolution rows
      must read null on BOTH layers), auto-upgrading a v2 mirror to
      v3. On a column-mapped source the new field's parquet files
      store the PHYSICAL ``col-<uuid>`` name, so the mirror adds the
      column under that name and immediately renames it to the
      logical one — the physical name lands in the field's
      name-history, and `_read_renamed_groups` resolves every file
      generation by footer.
    - RENAME COLUMN → `rename_column` (same field-id, new name; the
      old physical name stays in the history so post-rename Delta
      files — which still store the old physical name — resolve).
    - WIDEN COLUMN → `widen_column` (the sanctioned promotions map
      1:1 across the specs).
    - DROP COLUMN → `drop_column`.
    - mapping-enable / configuration-only metaData actions are
      no-ops here (names and types unchanged).

    Partition-column changes and anything the Iceberg surgery gates
    refuse (name reuse, partition-source renames, non-promotions)
    raise :class:`DeltaSyncSchemaChangeError`."""
    import json as _json

    from march_mania_spark_lakehouse_spark.sources import delta_log

    prev_md = delta_log._latest_metadata(delta_table, v - 1)
    prev_fields = _json.loads(prev_md["schemaString"])["fields"]
    new_fields = _json.loads(md["schemaString"])["fields"]
    if list(md.get("partitionColumns") or []) != list(
        prev_md.get("partitionColumns") or []
    ):
        raise DeltaSyncSchemaChangeError(
            f"delta version {v} changes the partition columns; the "
            "mirror cannot replay it — re-convert"
        )
    pairs, added, dropped = _pair_delta_fields(prev_fields, new_fields)
    if not (added or dropped) and all(
        p["name"] == n["name"] and p["type"] == n["type"]
        for p, n in pairs
    ):
        return  # mapping-enable / config-only: nothing to mirror
    # the mirror's declared schema must still be the image of the
    # PREVIOUS Delta schema or the two layers already diverged
    meta = current_metadata(iceberg_table)
    mirror = meta["schemas"][meta["current-schema-id"]]
    if not _delta_ice_shape_eq(prev_fields, mirror["fields"]):
        raise DeltaSyncSchemaChangeError(
            f"the mirror's schema does not match delta version {v - 1}'s "
            "— the layers diverged; re-convert"
        )
    try:
        # order: widen (keyed by the OLD name) → rename → drop → add
        for p, n in pairs:
            if _norm_delta_dtype(p["type"]) == _norm_delta_dtype(n["type"]):
                continue
            if not (
                isinstance(p["type"], str) and isinstance(n["type"], str)
            ):
                # NESTED evolution (round 13): diff the type trees into
                # dotted add/drop/widen ops and replay them on the
                # mirror. Root path = the PREVIOUS name — a same-commit
                # top-level rename replays in the rename phase below,
                # after these ops land on the pre-rename mirror state.
                from pyspark.sql.types import _parse_datatype_json_value

                nested_ops: "list[tuple]" = []
                _delta_nested_ops(
                    p["name"], p["type"], n["type"], nested_ops
                )
                for kind, pth, t in nested_ops:
                    if kind == "widen":
                        widen_column(iceberg_table, pth, _DELTA_TO_ICE[t])
                    elif kind == "drop":
                        drop_column(iceberg_table, pth)
                    else:
                        add_column(
                            iceberg_table,
                            pth,
                            _parse_datatype_json_value(t),
                        )
                continue
            widen_column(
                iceberg_table, p["name"], _DELTA_TO_ICE[_dtype_str(n)]
            )
        for p, n in pairs:
            if p["name"] != n["name"]:
                rename_column(iceberg_table, p["name"], n["name"])
        for p in dropped:
            drop_column(iceberg_table, p["name"])
        for f in added:
            t = f["type"]
            if isinstance(t, dict):
                # nested-typed ADD: translate the whole type tree; the
                # mirror allocates fresh ids for every nested field
                from pyspark.sql.types import _parse_datatype_json_value

                add_t = _parse_datatype_json_value(t)
                wd = None
            elif t in _DELTA_TO_ICE:
                add_t = _DELTA_TO_ICE[t]
                wd = None
            else:
                raise DeltaSyncSchemaChangeError(
                    f"added column {f['name']!r} has unsupported type "
                    f"{t!r}; the mirror cannot replay it"
                )
            fmeta = f.get("metadata") or {}
            if not isinstance(t, dict):
                wd = fmeta.get("CURRENT_DEFAULT")
            if wd is not None:
                wd = _parse_delta_sql_literal(str(wd))
                if int(
                    current_metadata(iceberg_table).get(
                        "format-version", 2
                    )
                ) < 3:
                    upgrade_format_version(iceberg_table, 3)
            phys = fmeta.get("delta.columnMapping.physicalName", f["name"])
            add_column(iceberg_table, phys, add_t, write_default=wd)
            if phys != f["name"]:
                rename_column(iceberg_table, phys, f["name"])
    except DeltaSyncSchemaChangeError:
        raise
    except (ValueError, KeyError, NotImplementedError) as e:
        raise DeltaSyncSchemaChangeError(
            f"delta version {v}'s schema change does not replay onto "
            f"the mirror: {e}"
        ) from e


def _dtype_str(f: dict) -> str:
    """A Delta schemaString field's type name (nested types come back
    as dicts — surfaced verbatim so callers can refuse them)."""
    t = f["type"]
    return t if isinstance(t, str) else str(t)


def _replay_delta_partition_change(
    delta_table: str, iceberg_table: str, v: int, md: dict, actions: list
) -> None:
    """Replay a Delta ``partitionColumns`` change (REPLACE ...
    PARTITIONED BY) as ICEBERG PARTITION EVOLUTION — one metadata-only
    spec registration; the commit's remove+add data diff then lands as
    an ordinary mirrored snapshot whose new manifest carries the NEW
    spec id, while old snapshots keep their old spec (time travel and
    per-manifest spec-aware pruning unchanged — q195's machinery).

    The writer-path identity gate does not apply here: Delta can only
    change partitioning through a FULL rewrite (one metaData action
    governs every live file), so the same commit must remove every
    pre-change file — verified below; a partial rewrite raises
    re-convert. The new identity spec's data files arrive pre-shaped
    from Delta (hive layout, partition columns restored from manifest
    partition tuples on read)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    removes = {a["remove"]["path"] for a in actions if "remove" in a}
    stale = set(delta_log._replay(delta_table, v - 1)) - removes
    if stale:
        raise DeltaSyncSchemaChangeError(
            f"delta version {v} changes the partition columns but "
            f"keeps {len(stale)} pre-change file(s); a partition "
            "change must be a full rewrite — re-convert"
        )
    meta = current_metadata(iceberg_table)
    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    new_parts = list(md.get("partitionColumns") or [])
    bad = [c for c in new_parts if c not in by_name]
    if bad:
        raise DeltaSyncSchemaChangeError(
            f"delta version {v} partitions by {bad} which the mirror's "
            "schema lacks — the layers diverged; re-convert"
        )
    _register_partition_spec(
        iceberg_table,
        meta,
        [
            {"name": c, "source": c, "transform": "identity"}
            for c in new_parts
        ],
    )


def sync_from_delta(delta_table: str, iceberg_table: str) -> int:
    """UniForm-style CONTINUOUS metadata sync: replay the Delta commits
    made since :func:`convert_from_delta` (or the previous sync) onto
    the Iceberg mirror — one Iceberg snapshot per Delta version, zero
    data movement, ever. This is the production dual-format story: the
    Delta table stays the single writer, and Iceberg readers follow it
    at commit granularity (time travel, change feeds, and the streaming
    CDC source all see the mirrored history).

    Per-commit mapping (all actions read from the public Delta log):

    - blind APPEND (adds only) → Iceberg ``append`` snapshot
      referencing the new files in place (unpartitioned) or by hard
      link (partitioned — zero bytes copied, named by a digest of the
      Delta path so remove/re-add actions map statelessly; partition
      values that need hive escaping are refused). Row-tracking
      sources carry ``baseRowId`` → ``first_row_id`` and the
      high-water mark → ``next-row-id``, so ``_row_id`` is identical
      on both sides.
    - DV DELETE / UPDATE (``remove`` + re-``add`` of the same path
      carrying a deletionVector) → ``delete`` snapshot whose Puffin
      DVs are the Delta sidecar records' FRAMED BYTES moved verbatim
      (both specs frame identically — the bitmap is never decoded);
      Delta descriptors are complete per-file bitmaps, so the new blob
      REPLACES the file's previous DV entry, exactly v3's
      merge-and-replace rule. A v2 mirror auto-upgrades to
      format-version 3 on its first synced DV. UPDATE's new files ride
      the same snapshot as appends.
    - re-add WITHOUT a DV of a file that had one (Delta DROPPED the
      vector, e.g. restore) → the mirror drops the DV entry.
    - OPTIMIZE (``dataChange=false``) → ``operation='replace'``
      snapshot: change feeds skip it, per both specs.
    - OVERWRITE / copy-on-write rewrites (removed files with
      ``dataChange=true``) → ``operation='overwrite'``: reads stay
      exact; row-level feeds honestly refuse the snapshot (a
      file-level rewrite does not decompose).
    - configuration-only ``metaData`` commits bump the sync cursor
      with no snapshot; SCHEMA or partition-column changes raise
      :class:`DeltaSyncSchemaChangeError` (honest gate — replaying
      schema evolution needs field-id reconciliation).

    :func:`convert_from_delta` is the first sync, from an empty
    mirror, through the same mapper (`_mirror_delta_actions`). The sync
    cursor is the mirror's ``migrated-delta-version``
    property, so calls are incremental and idempotent (a no-op sync
    writes nothing). Cost per sync is O(changed manifests + sidecar
    bytes): untouched data manifests are CARRIED by reference in the
    new manifest list, never rewritten — at 100 TB a daily delete
    syncs in seconds because the mirror only rewrites the delete
    manifest it consolidates.

    Returns the new Iceberg metadata version (or the current one if
    already up to date)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    meta = current_metadata(iceberg_table)
    props = meta.get("properties", {})
    if "migrated-delta-version" not in props:
        raise ValueError(
            f"{iceberg_table} was not created by convert_from_delta; "
            "nothing to sync"
        )
    recorded = props.get("migrated-from")
    if recorded and os.path.realpath(recorded) != os.path.realpath(
        delta_table
    ):
        raise ValueError(
            f"mirror tracks {recorded}, not {os.path.abspath(delta_table)}"
        )
    last_synced = int(props["migrated-delta-version"])
    latest = delta_log.latest_version(delta_table)
    if latest is None:
        raise FileNotFoundError(f"{delta_table} has no Delta log")
    if latest > last_synced:
        _rebase_over_foreign_iceberg_snapshots(iceberg_table, meta)
    for v in range(last_synced + 1, latest + 1):
        _sync_delta_commit(delta_table, iceberg_table, v)
    return current_version(iceberg_table)


def _rebase_over_foreign_iceberg_snapshots(
    iceberg_table: str, meta: dict
) -> None:
    """Foreign-commit tolerance on the Iceberg mirror (round 11,
    symmetric with `_rebase_over_mirror_maintenance`): mirror-side
    MAINTENANCE — compaction's ``operation='replace'`` snapshots —
    must not brick the follow loop. The sync's stateless path mapping
    assumes the mirror's live set is the image of the last synced
    Delta version, so before replaying further commits the maintenance
    is superseded by ONE ``replace`` snapshot that re-points at the
    last sync-owned snapshot's manifests (carried by reference — zero
    data movement; the compacted files are orphaned for the next
    vacuum). Foreign snapshots with any other operation raise: genuine
    divergence."""
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    node = meta.get("current-snapshot-id", -1)
    foreign: "list[dict]" = []
    base = None
    while node in by_id:
        s = by_id[node]
        summary = s.get("summary") or {}
        if "delta-version" in summary or "sync-rebase" in summary or (
            "parent-snapshot-id" not in s
        ):
            base = s  # sync-owned snapshot or the conversion root
            break
        foreign.append(s)
        node = s.get("parent-snapshot-id")
    if not foreign:
        return
    if base is None:
        raise ValueError(
            f"{iceberg_table}'s history no longer reaches a sync-owned "
            "snapshot; the mirror has diverged — re-convert"
        )
    for s in foreign:
        if (s.get("summary") or {}).get("operation") != "replace":
            raise ValueError(
                f"{iceberg_table} has an independent "
                f"{(s.get('summary') or {}).get('operation')!r} snapshot "
                f"({s['snapshot-id']}) after its last sync; the mirror "
                "has diverged — re-convert"
            )
    snapshot_id, seq = _next_snapshot(meta)
    _publish_snapshot(
        iceberg_table, meta, snapshot_id, seq,
        avro_ocf.read_ocf(base["manifest-list"]),
        {
            "operation": "replace",
            "sync-rebase": "true",
            "undone-snapshots": ",".join(
                str(s["snapshot-id"]) for s in foreign
            ),
        },
        parent=meta["current-snapshot-id"],
        schema_id=meta["current-schema-id"],
    )


def _sync_delta_commit(delta_table: str, iceberg_table: str, v: int) -> None:
    """Replay ONE Delta commit onto the mirror (see
    :func:`sync_from_delta` for the mapping)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    actions = delta_log._read_actions(delta_log._commit_path(delta_table, v))
    meta = dict(current_metadata(iceberg_table))

    # ---- schema evolution REPLAYS (round 11); partition-layout
    # changes replay as Iceberg PARTITION EVOLUTION (round 12);
    # non-replayable surgeries still raise inside the replay ----------
    evolved = False
    for a in actions:
        md = a.get("metaData")
        if md is None:
            continue
        prev_md = delta_log._latest_metadata(delta_table, v - 1)
        if list(md.get("partitionColumns") or []) != list(
            (prev_md or {}).get("partitionColumns") or []
        ):
            _replay_delta_partition_change(
                delta_table, iceberg_table, v, md, actions
            )
            # the partition part is handled; let the schema replay see
            # an unchanged layout so any schema diff in the same
            # commit still replays (or gates) normally
            md = {
                **md,
                "partitionColumns": list(
                    (prev_md or {}).get("partitionColumns") or []
                ),
            }
        _replay_delta_schema_change(delta_table, iceberg_table, v, md)
        evolved = True
    if evolved:
        # the replay wrote metadata versions — re-read before building
        # the mirrored snapshot on top of them
        meta = dict(current_metadata(iceberg_table))
    if _mirror_delta_actions(delta_table, iceberg_table, meta, v, actions) is None:
        # config/protocol/txn-only commit or stats-refresh re-adds:
        # nothing to mirror, only the cursor moves
        props = dict(meta.get("properties", {}))
        props["migrated-delta-version"] = str(v)
        meta["properties"] = props
        _write_metadata(iceberg_table, meta)


def _mirror_delta_actions(
    delta_table: str,
    iceberg_table: str,
    meta: dict,
    v: int,
    actions: "list[dict]",
) -> "int | None":
    """Map the ``add``/``remove`` ``actions`` of Delta version ``v`` onto
    the Iceberg mirror whose metadata is ``meta`` and publish them as one
    snapshot (the mapping is listed in :func:`sync_from_delta`); returns
    its id, or None when they change nothing on the mirror.

    A mirror with no snapshot is EMPTY — :func:`convert_from_delta`
    feeding the head's live adds. Its snapshot always lands, as the
    ROOT of the synced history: no parent, no ``delta-version`` in its
    summary (`_rebase_over_foreign_iceberg_snapshots` stops there), and
    a data change even when the adds say ``dataChange=false``."""
    import pyarrow.parquet as pq

    from march_mania_spark_lakehouse_spark.sources import delta_log

    adds = {a["add"]["path"]: a["add"] for a in actions if "add" in a}
    removes = {
        a["remove"]["path"]: a["remove"] for a in actions if "remove" in a
    }
    sid = meta["current-snapshot-id"]
    root = sid == -1
    if not (adds or removes or root):
        return None

    part_cols = delta_log.table_partition_columns(delta_table, v)
    # files already ON the mirror were linked under the layout of the
    # version that added them — across a partition change (REPLACE
    # PARTITIONED BY) the removes still resolve under the PREVIOUS
    # layout while the adds stage under the new one
    prev_part_cols = (
        delta_log.table_partition_columns(delta_table, v - 1)
        if v > 0 and not root
        else part_cols
    )
    prior_ml = (
        [] if root else avro_ocf.read_ocf(_snapshot(meta, sid)["manifest-list"])
    )

    # live data entries of the mirror, for stateless path mapping
    live_by_fp: dict[str, dict] = {}
    for m in prior_ml:
        if m.get("content", 0) != 0:
            continue
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] in (0, 1) and e["data_file"].get("content", 0) == 0:
                live_by_fp[e["data_file"]["file_path"]] = e
    by_digest = {os.path.basename(fp): fp for fp in live_by_fp}
    prior_deletes = [
        e
        for m in prior_ml
        if m.get("content", 0) == 1
        for e in avro_ocf.read_ocf(m["manifest_path"])
        if e["status"] != 2
    ]

    def is_dv(e: dict) -> bool:
        return (e["data_file"].get("file_format") or "").upper() == "PUFFIN"

    def fp_of_existing(rel: str) -> str:
        if not prev_part_cols:
            return rel if os.path.isabs(rel) else os.path.abspath(
                os.path.join(delta_table, rel)
            )
        name = hashlib.sha256(rel.encode()).hexdigest()[:32] + ".parquet"
        if name not in by_digest:
            raise ValueError(
                f"delta path {rel!r} has no linked mirror file — was the "
                "mirror created by an older convert_from_delta? re-convert"
            )
        return by_digest[name]

    # ---- classify the commit's actions ------------------------------
    dv_updates: "list[tuple[str, bytes, int]]" = []  # (fp, framed, card)
    dv_drops: set = set()
    staged: "list[tuple[str, dict, int, int]]" = []
    # row-tracking sources: carry baseRowId → first_row_id per staged
    # file so _row_id stays identical across the mirror
    sync_tracking = delta_log._row_tracking_enabled(delta_table, v)
    carried_ids: "list[int | None]" = []
    removed_fps: set = set()
    data_change = root or any(
        x.get("dataChange", True)
        for x in list(adds.values()) + list(removes.values())
    )
    for rel in sorted(removes):
        if rel not in adds:
            removed_fps.add(fp_of_existing(rel))
    dv_fps_prior = {
        e["data_file"]["referenced_data_file"]
        for e in prior_deletes
        if is_dv(e)
    }
    for rel in sorted(adds):
        add = adds[rel]
        desc = add.get("deletionVector")
        is_readd = rel in removes or (
            not prev_part_cols
            and fp_of_existing(rel) in live_by_fp
        ) or (
            # partitioned mirror files are digest-named; a Delta re-add
            # WITHOUT a paired remove (stats-refresh re-commit, legal
            # per spec) must map to its existing linked file or it gets
            # staged twice and double-counts rows on the mirror
            bool(prev_part_cols)
            and hashlib.sha256(rel.encode()).hexdigest()[:32] + ".parquet"
            in by_digest
        )
        if is_readd:
            fp = fp_of_existing(rel)
            if desc:
                dv_updates.append(
                    (
                        fp,
                        deletion_vectors.framed_dv_bytes(delta_table, desc),
                        int(desc["cardinality"]),
                    )
                )
            elif fp in dv_fps_prior:
                dv_drops.add(fp)  # delta dropped the file's vector
            continue
        # genuinely new data file: in place when unpartitioned,
        # hard-linked (zero bytes copied) into the mirror's own hive
        # layout when partitioned, so basePath partition restoration
        # works on both layers
        src = (
            rel
            if os.path.isabs(rel)
            else os.path.abspath(os.path.join(delta_table, rel))
        )
        stats = json.loads(add.get("stats") or "{}")
        n_rows = stats.get("numRecords")
        if n_rows is None:
            n_rows = pq.ParquetFile(src).metadata.num_rows
        pvals = delta_log._normalize_partition_values(
            add.get("partitionValues")
        )
        fp = src
        if part_cols:
            # raw Delta partitionValues are not URL-escaped: values
            # needing hive escaping are refused rather than silently
            # corrupted on the dir round trip
            for c in part_cols:
                val = pvals.get(c)
                if val is not None and any(ch in val for ch in "%=/\\:\n"):
                    raise NotImplementedError(
                        f"partition value {val!r} needs hive escaping"
                    )
            pv = {
                c: (
                    pvals[c]
                    if pvals.get(c) is not None
                    else "__HIVE_DEFAULT_PARTITION__"
                )
                for c in part_cols
            }
            dst_rel = _delta_linked_rel(part_cols, pv, rel)
            dst = os.path.join(iceberg_table, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(dst):
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)  # cross-device fallback
            staged.append((dst_rel, pv, int(n_rows), os.path.getsize(src)))
            fp = os.path.join(os.path.abspath(iceberg_table), dst_rel)
        else:
            staged.append((src, {}, int(n_rows), os.path.getsize(src)))
        if desc:
            dv_updates.append(
                (
                    fp,
                    deletion_vectors.framed_dv_bytes(delta_table, desc),
                    int(desc["cardinality"]),
                )
            )
        carried_ids.append(
            add.get("baseRowId") if sync_tracking else None
        )

    if not (staged or dv_updates or dv_drops or removed_fps or root):
        return None  # stats-refresh re-adds: nothing to mirror

    # ---- build the mirrored snapshot ---------------------------------
    if not data_change:
        operation = "replace"
    elif removed_fps:
        operation = "overwrite"
    elif dv_updates or dv_drops:
        # include_deletes feeds decompose a DV snapshot as insert(all
        # physical rows) + delete(masked); append-only feeds refuse it
        operation = "delete"
    else:
        operation = "append"
    if dv_updates and int(meta.get("format-version", 2)) < 3:
        meta["format-version"] = 3  # first synced DV upgrades the mirror

    snapshot_id, seq = _next_snapshot(meta)
    manifests: list[dict] = []

    # data manifests: carried by reference unless they lose a file
    for m in prior_ml:
        if m.get("content", 0) != 0:
            continue
        entries = avro_ocf.read_ocf(m["manifest_path"])
        if not any(
            e["status"] in (0, 1)
            and e["data_file"]["file_path"] in removed_fps
            for e in entries
        ):
            manifests.append(m)
            continue
        survivors = [
            _existing(e)
            for e in entries
            if e["status"] in (0, 1)
            and e["data_file"]["file_path"] not in removed_fps
        ]
        if not survivors:
            continue  # the whole manifest was removed
        manifests.append(
            _write_entries_manifest(
                iceberg_table, meta, m.get("partition_spec_id", 0), 0,
                snapshot_id, seq, survivors,
            )
        )
    sync_first_rid = (
        int(meta.get("next-row-id", 0))
        if int(meta.get("format-version", 2)) >= 3
        and not sync_tracking
        and (staged or root)
        else None
    )
    if staged or root:
        manifests.append(
            _write_manifest(
                iceberg_table, meta, staged, snapshot_id, seq,
                first_row_id=sync_first_rid,
                explicit_row_ids=carried_ids if sync_tracking else None,
            )
        )

    # delete manifests: consolidate (the _commit_dv_delete rule — new
    # DV replaces the file's previous one; removed files shed theirs).
    # A DV lands in the SAME snapshot as the data it masks: a DV at seq
    # N applies to data at seq <= N
    touched = {fp for fp, _, _ in dv_updates} | dv_drops | removed_fps
    records = [
        _existing(e)
        for e in prior_deletes
        if not (is_dv(e) and e["data_file"].get("referenced_data_file") in touched)
    ]
    if dv_updates:
        records += _write_framed_dvs(
            iceberg_table, snapshot_id, seq, dv_updates
        )
    if records:
        manifests.append(
            _write_entries_manifest(
                iceberg_table, meta, meta["default-spec-id"], 1,
                snapshot_id, seq, records,
            )
        )

    if sync_tracking:
        # carried ids: the mirror's counter follows the SOURCE's mark
        meta["next-row-id"] = max(
            int(meta.get("next-row-id", 0)),
            delta_log._row_id_high_water_mark(delta_table, v) + 1,
        )
    props = dict(meta.get("properties", {}))
    props["migrated-delta-version"] = str(v)
    meta["properties"] = props
    summary = {"operation": operation}
    if not root:
        summary.update(
            {"delta-version": str(v), "added-dvs": str(len(dv_updates))}
        )
    return _publish_snapshot(
        iceberg_table, meta, snapshot_id, seq, manifests, summary,
        parent=None if root else sid,
        schema_id=meta["current-schema-id"],
        first_row_id=sync_first_rid,
    )


#: Iceberg primitive type → Delta schemaString type name
_ICE_TO_DELTA_JSON = {
    "long": "long", "int": "integer", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz", "binary": "binary",
}


def _render_delta_sql_literal(v) -> str:
    """`delta_log.add_column`'s CURRENT_DEFAULT rendering."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _flip_mirror_to_id_mapping(
    iceberg_table: str, delta_table: str, seq_stamp: int
) -> None:
    """ONE cursor-stamped commit flipping the mirror to
    ``delta.columnMapping.mode=id``: the schema's
    ``delta.columnMapping.id`` values are already the ICEBERG FIELD
    IDS (the schema reconcile sets them), and every data file carries
    matching ``PARQUET:field_id`` footer entries (the caller verified
    it), so reads resolve by id across every rename generation —
    the spec's own answer to per-generation physical names."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    dv = delta_log.latest_version(delta_table)
    md = delta_log._latest_metadata(delta_table, dv)
    conf = dict(md.get("configuration") or {})
    if conf.get("delta.columnMapping.mode") == "id":
        return
    conf["delta.columnMapping.mode"] = "id"
    delta_log._commit_read_dependent(
        delta_table,
        dv + 1,
        [
            delta_log._commit_info(
                "SYNC COLUMN MAPPING MODE",
                {
                    "source": os.path.abspath(iceberg_table),
                    "sourceSequence": str(seq_stamp),
                    "mode": "id",
                },
            ),
            {"metaData": {**md, "configuration": conf}},
        ],
        "SYNC COLUMN MAPPING MODE",
    )


def _rebase_over_mirror_maintenance(
    iceberg_table: str,
    delta_table: str,
    synced_v: int,
    latest: int,
    cursor: int,
) -> None:
    """Foreign-commit tolerance on the Delta mirror (round 11): the
    mirror has ONE logical writer (the sync), but mirror-side
    MAINTENANCE — OPTIMIZE's remove+add with ``dataChange=false`` —
    must not brick the follow loop. The sync's per-snapshot diffs are
    computed against the MAPPED source state, so before replaying the
    next snapshot the maintenance is UNDONE in one ``dataChange=false``
    commit: the compaction outputs are removed and the original add
    actions (baseRowId, DV descriptors, stats — verbatim from the
    last-synced state) are re-attached. Zero data movement; the
    compacted layout is simply superseded (compaction on a mirror is
    wasted work by design — the source drives the layout). A foreign
    commit carrying ``dataChange=true`` actions, or any metaData /
    protocol change, still raises: that is genuine divergence.

    Raises when an original file was vacuumed after the compaction —
    the pre-maintenance state is then unrecoverable (re-convert)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    undo_removes: "list[str]" = []  # foreign adds to retire
    undo_readds: "list[str]" = []  # original paths to restore
    for v in range(synced_v + 1, latest + 1):
        for a in delta_log._read_actions(
            delta_log._commit_path(delta_table, v)
        ):
            if "commitInfo" in a or "domainMetadata" in a:
                # a row-tracking OPTIMIZE bumps the hwm domain — pure
                # bookkeeping (the mark is monotonic; ids skip a range)
                continue
            add, rem = a.get("add"), a.get("remove")
            if add is not None and add.get("dataChange") is False:
                undo_removes.append(add["path"])
            elif rem is not None and rem.get("dataChange") is False:
                undo_readds.append(rem["path"])
            else:
                raise ValueError(
                    f"{delta_table} has independent commits after its "
                    f"last sync (version {v}); the mirror has "
                    "diverged — re-convert"
                )
    # original add actions verbatim from the last-synced snapshot
    synced_live = delta_log._replay(delta_table, synced_v)
    ts = _now_ms()
    actions: "list[dict]" = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "SYNC REBASE",
                "operationParameters": {
                    "source": os.path.abspath(iceberg_table),
                    "sourceSequence": str(cursor),
                    "undoneVersions": f"{synced_v + 1}-{latest}",
                },
            }
        }
    ]
    cur_live = delta_log._replay(delta_table, latest)
    for p in sorted(set(undo_removes)):
        if p not in cur_live:
            continue  # superseded by a later maintenance commit
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": ts,
                    "dataChange": False,
                }
            }
        )
    # a chained compaction removes its predecessor's own outputs —
    # those were never part of the synced state and need no restore
    for p in sorted(set(undo_readds) - set(undo_removes)):
        if p in cur_live:
            continue  # re-added by a later maintenance commit
        orig = synced_live.get(p)
        if orig is None:
            raise ValueError(
                f"maintenance removed {p!r} which the last-synced "
                "state never carried; the mirror has diverged — "
                "re-convert"
            )
        abs_p = p if os.path.isabs(p) else os.path.join(delta_table, p)
        if not os.path.exists(abs_p):
            raise ValueError(
                f"{p!r} was vacuumed after the mirror-side compaction; "
                "the pre-maintenance state is unrecoverable — re-convert"
            )
        actions.append({"add": {**orig, "dataChange": False}})
    if len(actions) > 1:
        delta_log._commit_read_dependent(
            delta_table, latest + 1, actions, "SYNC REBASE"
        )


def _reconcile_delta_mirror_schema(
    iceberg_table: str,
    delta_table: str,
    meta: dict,
    target_schema: dict,
    seq_stamp: int,
) -> bool:
    """Bring the Delta mirror's declared schema up to ``target_schema``
    (an Iceberg schema generation) in ONE metaData commit — the
    reverse-direction schema replay (round 11), field identity
    reconciled by matching the mirror's current schema to the Iceberg
    generation that produced it and diffing FIELD IDS from there:

    - widen → the field's Delta type re-declared wider (sanctioned
      promotions only);
    - rename → the logical name changes; the commit auto-enables Delta
      column mapping with ``delta.columnMapping.id`` set to the
      ICEBERG FIELD ID and the physical name pinned to the old name
      (what the already-staged files store);
    - drop → the field leaves the schemaString;
    - add → a new field whose PHYSICAL name equals its Iceberg name
      (post-add Iceberg files store exactly that); a ``write-default``
      maps to ``CURRENT_DEFAULT`` (+ the allowColumnDefaults
      protocol), while an ``initial-default`` RAISES — Delta defaults
      are write-time-only per spec, so a retroactive default cannot be
      represented without rewriting data.

    The commit's commitInfo carries ``sourceSequence=seq_stamp`` (the
    LAST ALREADY-SYNCED sequence) so a crash between this commit and
    the snapshot replay resumes exactly: the re-run's reconcile is a
    no-op and the snapshot replays next. Returns True when a commit
    was written."""
    import json as _json

    from march_mania_spark_lakehouse_spark.sources import delta_log

    dv = delta_log.latest_version(delta_table)
    mirror_md = delta_log._latest_metadata(delta_table, dv)
    schema_json = _json.loads(mirror_md["schemaString"])
    if _delta_ice_shape_eq(schema_json["fields"], target_schema["fields"]):
        return False
    # which Iceberg generation is the mirror an image of? (unique —
    # every surgery changes the (name, type) list and name reuse is
    # refused; identical duplicates would carry identical fields)
    old_schema = None
    for s in meta["schemas"]:
        if _delta_ice_shape_eq(schema_json["fields"], s["fields"]):
            old_schema = s
    if old_schema is None:
        raise DeltaSyncSchemaChangeError(
            f"the mirror's schema matches no generation of "
            f"{iceberg_table}; the layers diverged — re-convert"
        )
    old_by_id = {f["id"]: f for f in old_schema["fields"]}
    new_by_id = {f["id"]: f for f in target_schema["fields"]}
    renames = [
        (old_by_id[i]["name"], new_by_id[i]["name"])
        for i in old_by_id.keys() & new_by_id.keys()
        if old_by_id[i]["name"] != new_by_id[i]["name"]
    ]
    retypes = [
        (old_by_id[i]["name"], old_by_id[i]["type"], new_by_id[i]["type"])
        for i in old_by_id.keys() & new_by_id.keys()
        if old_by_id[i]["type"] != new_by_id[i]["type"]
    ]
    widens = [
        t for t in retypes if isinstance(t[1], str) and isinstance(t[2], str)
    ]
    nested_retypes = [t for t in retypes if t not in widens]
    drops = [old_by_id[i] for i in old_by_id.keys() - new_by_id.keys()]
    adds = [new_by_id[i] for i in new_by_id.keys() - old_by_id.keys()]

    conf = dict(mirror_md.get("configuration") or {})
    part_cols = list(mirror_md.get("partitionColumns") or [])
    by_name = {f["name"]: f for f in schema_json["fields"]}
    mapped = conf.get("delta.columnMapping.mode") in ("name", "id")
    if (renames or drops) and not mapped:
        # enable column mapping IN the same commit, ids = Iceberg
        # field ids — the cross-format field-id reconciliation
        for f in schema_json["fields"]:
            fid = {
                g["name"]: g["id"] for g in old_schema["fields"]
            }[f["name"]]
            md = dict(f.get("metadata") or {})
            md["delta.columnMapping.id"] = fid
            md["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = md
        conf["delta.columnMapping.mode"] = "name"
        mapped = True
    for name, ot, nt in widens:
        o_d = _ICE_TO_DELTA_JSON.get(ot, ot)
        n_d = _ICE_TO_DELTA_JSON.get(nt, nt)
        if (o_d, n_d) not in delta_log._WIDEN_OK:
            raise DeltaSyncSchemaChangeError(
                f"{ot} -> {nt} on {name!r} is not a sanctioned "
                "promotion; the mirror cannot replay it"
            )
        if name in part_cols and ot == "float":
            raise DeltaSyncSchemaChangeError(
                f"widening partition column {name!r} float -> double "
                "needs the mirror's partition values re-rendered; "
                "re-convert"
            )
        by_name[name]["type"] = n_d
    for name, ot, nt in nested_retypes:
        # nested evolution (field adds/drops/widens INSIDE a struct /
        # list / map, ids stable): the Delta replay is a pure type
        # re-render — missing subfields read null, dropped ones prune,
        # widened ones upcast, all on unchanged parquet. Anything else
        # (nested rename, container re-shape) re-converts.
        if not _nested_change_replays(ot, nt):
            raise DeltaSyncSchemaChangeError(
                f"the nested type change on {name!r} is not a pure "
                "add/drop/widen of struct members; the mirror cannot "
                "replay it — re-convert"
            )
        try:
            by_name[name]["type"] = _ice_type_to_delta(nt)
        except (KeyError, NotImplementedError) as e:
            raise DeltaSyncSchemaChangeError(
                f"the nested type of {name!r} does not render onto "
                f"Delta: {e}"
            ) from e
    for old, new in renames:
        if old in part_cols:
            raise DeltaSyncSchemaChangeError(
                f"rename of partition column {old!r} does not replay "
                "(hive directories are keyed by the physical name)"
            )
        if new in by_name:
            raise DeltaSyncSchemaChangeError(
                f"rename {old!r} -> {new!r} collides on the mirror"
            )
        by_name[old]["name"] = new
    for f in drops:
        if f["name"] in part_cols:
            raise DeltaSyncSchemaChangeError(
                f"drop of partition column {f['name']!r} does not replay"
            )
        schema_json["fields"] = [
            g for g in schema_json["fields"] if g["name"] != f["name"]
        ]
    if not schema_json["fields"]:
        raise DeltaSyncSchemaChangeError("cannot drop the last column")
    actions: "list[dict]" = []
    for f in sorted(adds, key=lambda f: f["id"]):
        if f.get("initial-default") is not None:
            raise DeltaSyncSchemaChangeError(
                f"added column {f['name']!r} carries an Iceberg "
                "initial-default; Delta defaults are write-time-only — "
                "the retroactive read cannot be represented without a "
                "rewrite"
            )
        t = f["type"]
        try:
            t_delta = _ice_type_to_delta(t)
        except (KeyError, NotImplementedError) as e:
            raise DeltaSyncSchemaChangeError(
                f"added column {f['name']!r} has type {t!r} with no "
                f"Delta rendering ({e}); the mirror cannot replay it"
            ) from e
        fmeta: dict = {}
        if mapped:
            # physical name == Iceberg name: that is what post-add
            # Iceberg data files physically store
            fmeta["delta.columnMapping.id"] = f["id"]
            fmeta["delta.columnMapping.physicalName"] = f["name"]
        wd = f.get("write-default")
        if wd is not None:
            fmeta["CURRENT_DEFAULT"] = _render_delta_sql_literal(wd)
            actions.append(
                {
                    "protocol": delta_log._merge_protocol(
                        delta_log._effective_protocol(delta_table, dv),
                        delta_log.DEFAULTS_PROTOCOL,
                    )
                }
            )
        schema_json["fields"].append(
            {
                "name": f["name"],
                "type": t_delta,
                "nullable": True,
                "metadata": fmeta,
            }
        )
    if mapped:
        ids = [
            (f.get("metadata") or {}).get("delta.columnMapping.id", 0)
            for f in schema_json["fields"]
        ]
        conf["delta.columnMapping.maxColumnId"] = str(
            max(
                [int(conf.get("delta.columnMapping.maxColumnId", "0"))]
                + [int(i) for i in ids]
            )
        )
    actions.insert(
        0,
        delta_log._commit_info(
            "SYNC SCHEMA",
            {
                "source": os.path.abspath(iceberg_table),
                "sourceSequence": str(seq_stamp),
                "sourceSchemaId": str(target_schema["schema-id"]),
            },
        ),
    )
    actions.append(
        {
            "metaData": {
                **mirror_md,
                "schemaString": _json.dumps(schema_json),
                "configuration": conf,
            }
        }
    )
    delta_log._commit_read_dependent(
        delta_table, dv + 1, actions, "SYNC SCHEMA"
    )
    return True


def sync_to_delta(
    iceberg_table: str, delta_table: str, rewrite: str = "strict"
) -> int:
    """The REVERSE continuous sync: replay the Iceberg snapshots
    committed since :func:`convert_to_delta` (or the previous sync)
    onto the Delta mirror — one Delta commit per snapshot, zero data
    movement. With :func:`sync_from_delta` this closes the symmetry:
    either format can be the single writer while the other follows at
    commit granularity.

    Per-snapshot mapping, computed as a STATE DIFF against the parent
    snapshot (so append / overwrite / compaction all reduce to the
    same add/remove algebra):

    - new data files → ``add`` actions (in place for unpartitioned
      sources; hard-linked under the deterministic digest layout for
      identity-partitioned ones); on a row-tracking mirror the entry's
      ``first_row_id`` becomes ``baseRowId`` and ``next-row-id`` the
      high-water mark;
    - files gone from the snapshot → ``remove`` actions;
    - a file whose DV changed → ``remove`` + re-``add`` with the new
      ``deletionVector`` descriptor — the Puffin blob's framed bytes
      moved verbatim into one fresh ``.bin`` sidecar per commit (the
      protocol action upgrades the mirror to the deletionVectors
      feature on the first synced DV); Delta's DV-delete feed shape
      falls out exactly;
    - ``operation='replace'`` (compaction / delete rewrites) →
      ``dataChange=false`` on every action, so Delta change feeds skip
      it, per both specs;
    - position-delete parquet raises by default; with
      ``rewrite='auto'`` (opt-in, round 12) the positions are
      converted to Delta DELETION VECTORS in flight — per referenced
      file, DV ∪ position rows roaring-encoded into one fresh sidecar,
      cost bounded by the delete-file bytes, data files untouched
      (the alternative: `rewrite_position_deletes` on a v3 table
      first);
    - equality deletes, schema surgeries the reconcile can't express,
      and partition-spec changes raise (honest gates — Delta cannot
      represent them).

    :func:`convert_to_delta` is the first sync, from an empty mirror,
    through the same mapper (`_iceberg_snapshot_actions`). The sync
    cursor is the ``sourceSequence`` recorded in each synced
    commit's commitInfo (seeded by `convert_to_delta`); a foreign
    commit on the mirror after the last sync raises — the mirror has
    ONE writer, the sync. Calls are incremental and idempotent.
    Returns the mirror's new latest version."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    meta = current_metadata(iceberg_table)
    latest = delta_log.latest_version(delta_table)
    if latest is None:
        raise FileNotFoundError(f"{delta_table} has no Delta log")
    cursor = None
    cursor_sid = None
    for dv_ver in range(latest, -1, -1):
        _op, params = delta_log._commit_operation(delta_table, dv_ver)
        if "sourceSequence" in params:
            src = params.get("source")
            if src and os.path.realpath(src) != os.path.realpath(
                iceberg_table
            ):
                raise ValueError(
                    f"mirror tracks {src}, not "
                    f"{os.path.abspath(iceberg_table)}"
                )
            if dv_ver != latest:
                # foreign MAINTENANCE commits (OPTIMIZE et al.,
                # dataChange=false) rebase; data commits still raise
                _rebase_over_mirror_maintenance(
                    iceberg_table, delta_table, dv_ver, latest,
                    int(params["sourceSequence"]),
                )
                latest = delta_log.latest_version(delta_table)
            cursor = int(params["sourceSequence"])
            if "sourceSnapshotId" in params:
                cursor_sid = int(params["sourceSnapshotId"])
            break
    if cursor is None:
        raise ValueError(
            f"{delta_table} was not created by convert_to_delta; "
            "nothing to sync"
        )
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    if cursor_sid is None:
        # metadata-only sync commits (schema reconcile, id-mapping
        # flip, rebase) stamp the sequence but not the snapshot id —
        # sequence numbers are unique per table, so resolve it
        hits = [
            s["snapshot-id"]
            for s in meta["snapshots"]
            if s["sequence-number"] == cursor
        ]
        if len(hits) == 1:
            cursor_sid = hits[0]
    # follow the MAIN lineage back from the head (meta["snapshots"]
    # also holds staged/branch snapshots that never merged — those
    # must not replay), stopping at the CURSOR SNAPSHOT. The stop is
    # by snapshot ID, not sequence number: after a writer-side
    # `rollback_to_snapshot` (or a fast-forward past a rollback) the
    # cursor snapshot is NOT on the head's ancestry, and replaying
    # parent-diffs on top of the mirror's cursor-image state would
    # silently leave the rolled-off rows on the mirror.
    lineage: list[dict] = []
    anchor = None  # the already-synced snapshot the replay stacks on
    node = meta["current-snapshot-id"]
    while node in by_id:
        s = by_id[node]
        if (
            node == cursor_sid
            if cursor_sid is not None
            else s["sequence-number"] == cursor
        ):
            anchor = node
            break
        if cursor_sid is None and s["sequence-number"] < cursor:
            # the walk passed BELOW a sid-less cursor without an exact
            # sequence hit: the cursor snapshot was rolled off the main
            # ancestry and then expired. Anchoring on this ancestor
            # (seq < cursor) would replay parent-diffs onto the
            # mirror's cursor-image state and silently keep the
            # rolled-off rows — the state diff is unknowable. Fall
            # through to the re-convert raise below.
            break
        lineage.append(s)
        node = s.get("parent-snapshot-id")
        if node is None:
            break
    if anchor is None:
        if cursor_sid is None or cursor_sid not in by_id:
            raise ValueError(
                "the snapshot the mirror was last synced to is no "
                "longer retained (expired) and is not on the head's "
                "ancestry; the state diff is unknowable — re-convert"
            )
        # non-linear history (rollback / fast-forward past one): the
        # cursor snapshot is retained but off the main ancestry. The
        # mirror's state is the cursor snapshot's image, so ONE
        # compensating commit carrying the STATE DIFF cursor→head
        # reconverges it exactly (removes the rolled-off files,
        # retracting their rows from the mirror's change feed). The
        # target schema is the table's CURRENT one — schema changes
        # are metadata-only and never roll back, so a head snapshot
        # written under an older schema still reads (and mirrors)
        # under the current schema with null fill.
        head = by_id[meta["current-snapshot-id"]]
        _reconcile_delta_mirror_schema(
            iceberg_table, delta_table, meta,
            meta["schemas"][meta["current-schema-id"]],
            cursor,
        )
        v = delta_log.latest_version(delta_table) + 1
        _sync_iceberg_snapshot(
            iceberg_table, delta_table, meta, head, v,
            base_sid=cursor_sid, rewrite=rewrite,
        )
        _pin_sync_cursor(
            iceberg_table, delta_table, head["snapshot-id"]
        )
        return delta_log.latest_version(delta_table)
    last_seq = cursor
    for s in reversed(lineage):
        # schema changes BETWEEN snapshots replay first, stamped with
        # the last already-synced sequence (crash-safe resume: the
        # re-run's reconcile is a no-op and the snapshot replays next)
        _reconcile_delta_mirror_schema(
            iceberg_table, delta_table, meta,
            meta["schemas"][s.get("schema-id", meta["current-schema-id"])],
            last_seq,
        )
        v = delta_log.latest_version(delta_table) + 1
        _sync_iceberg_snapshot(
            iceberg_table, delta_table, meta, s, v, rewrite=rewrite
        )
        last_seq = s["sequence-number"]
    # trailing metadata-only schema changes (no snapshot after them)
    _reconcile_delta_mirror_schema(
        iceberg_table, delta_table, meta,
        meta["schemas"][meta["current-schema-id"]], last_seq,
    )
    if meta.get("current-snapshot-id", -1) != -1:
        _pin_sync_cursor(
            iceberg_table, delta_table, meta["current-snapshot-id"]
        )
    return delta_log.latest_version(delta_table)


def _iceberg_data_entries(meta: dict, snapshot_id: int) -> "dict[str, dict]":
    """file_path → data_file record of the LIVE data files at a
    snapshot (content 0, status 0/1)."""
    out: dict[str, dict] = {}
    for m in avro_ocf.read_ocf(_snapshot(meta, snapshot_id)["manifest-list"]):
        if m.get("content", 0) != 0:
            continue
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] in (0, 1) and e["data_file"].get("content", 0) == 0:
                out[e["data_file"]["file_path"]] = e["data_file"]
    return out


_SYNC_BASE_PARENT = object()  # sentinel: diff against snap's parent


class _DeltaMirror(NamedTuple):
    """The Delta mirror's state a snapshot's actions are built on, as a
    value: its ``metaData`` action (schema, partition columns, physical
    names), its protocol, whether it tracks row ids and, when it does,
    its live adds and row-id high-water mark."""

    metadata: dict
    protocol: dict
    tracking: bool
    adds: "dict[str, dict]"
    hwm: int

    @classmethod
    def at(cls, delta_table: str, version: int) -> "_DeltaMirror":
        from march_mania_spark_lakehouse_spark.sources import delta_log

        tracking = delta_log._row_tracking_enabled(delta_table, version)
        return cls(
            delta_log._latest_metadata(delta_table, version),
            delta_log._effective_protocol(delta_table, version),
            tracking,
            delta_log._replay(delta_table, version) if tracking else {},
            delta_log._row_id_high_water_mark(delta_table, version)
            if tracking
            else -1,
        )


class _MirrorNeedsIdMapping(Exception):
    """Files to mirror store a renamed column under its new name; the
    mirror must switch to ``columnMapping.mode=id`` first."""


def _sync_iceberg_snapshot(
    iceberg_table: str, delta_table: str, meta: dict, snap: dict, v: int,
    base_sid=_SYNC_BASE_PARENT,
    rewrite: str = "strict",
) -> None:
    """Replay ONE Iceberg snapshot onto the Delta mirror as version
    ``v`` (see :func:`sync_to_delta` for the mapping). ``base_sid``
    overrides the diff base (default: the snapshot's parent) — the
    COMPENSATING path after a writer-side rollback diffs head against
    the off-ancestry cursor snapshot instead (see
    :func:`_iceberg_snapshot_actions`'s ``restate``)."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    compensating = base_sid is not _SYNC_BASE_PARENT
    base = base_sid if compensating else snap.get("parent-snapshot-id")

    def build(v: int) -> "list[dict]":
        return _iceberg_snapshot_actions(
            iceberg_table, delta_table, meta, snap, base,
            _DeltaMirror.at(delta_table, v - 1), v,
            restate=compensating, rewrite=rewrite,
        )

    try:
        mapped = build(v)
    except _MirrorNeedsIdMapping:
        _flip_mirror_to_id_mapping(
            iceberg_table, delta_table, snap["sequence-number"] - 1
        )
        v = delta_log.latest_version(delta_table) + 1  # past the flip
        mapped = build(v)
    op = snap.get("summary", {}).get("operation")
    commit_info = {
        "commitInfo": {
            "timestamp": _now_ms(),
            "operation": "SYNC",
            "operationParameters": {
                "source": os.path.abspath(iceberg_table),
                "sourceSnapshotId": str(snap["snapshot-id"]),
                "sourceSequence": str(snap["sequence-number"]),
                "sourceOperation": (
                    "sync-compensate" if compensating else str(op)
                ),
                **(
                    {"compensatedFromSnapshotId": str(base_sid)}
                    if compensating
                    else {}
                ),
            },
        }
    }
    delta_log._write_commit(delta_table, v, [commit_info, *mapped])


def _iceberg_snapshot_actions(
    iceberg_table: str,
    delta_table: str,
    meta: dict,
    snap: dict,
    base: "int | None",
    mirror: _DeltaMirror,
    v: int,
    *,
    restate: bool = False,
    rewrite: str = "strict",
) -> "list[dict]":
    """The Delta actions, all but ``commitInfo``, that move the mirror
    at ``delta_table``, in state ``mirror``, from the image of snapshot
    ``base`` (None: an empty table) to the image of ``snap`` as version
    ``v``: the state diff :func:`sync_to_delta` lists. Data files are
    linked and DV sidecars written on the way; the caller commits the
    actions.

    ``restate`` maps ``snap`` as a STATE reached from ``base`` rather
    than as the commit it was: the current schema governs and every
    action is a data change. The compensating sync after a rollback
    uses it (removing rolled-off rows is a real row change whatever the
    head's own operation was), and so does :func:`convert_to_delta`
    from an empty mirror. ``rewrite='auto'`` converts POSITION-DELETE
    parquet to Delta deletion vectors in flight (round 12): each
    endpoint's per-file tombstone state is the union of its DV
    positions and its position-delete rows, and a file whose effective
    state changed re-adds with a freshly roaring-encoded descriptor —
    cost bounded by the delete-file bytes, data files untouched.
    Equality deletes stay gated (no Delta analogue).

    Raises :class:`_MirrorNeedsIdMapping` before writing anything when
    the mirror must switch to id column mapping first."""
    from pyspark.sql import types as T

    from march_mania_spark_lakehouse_spark.sources import delta_log

    sid = snap["snapshot-id"]
    op = snap.get("summary", {}).get("operation")
    pos_cur = snapshot_delete_files(iceberg_table, sid)
    pos_prev = (
        snapshot_delete_files(iceberg_table, base)
        if base is not None
        else []
    )
    if pos_cur and rewrite != "auto":
        raise NotImplementedError(
            f"snapshot {sid} carries position-delete parquet; Delta "
            "cannot represent it — rewrite_position_deletes on a v3 "
            "table first, or sync with rewrite='auto' to convert the "
            "positions to deletion vectors in flight"
        )
    eq_cur = snapshot_equality_deletes(iceberg_table, sid)
    eq_prev = (
        snapshot_equality_deletes(iceberg_table, base)
        if base is not None
        else []
    )
    if eq_cur and rewrite != "auto":
        raise NotImplementedError(
            f"snapshot {sid} carries equality deletes; Delta cannot "
            "represent them — compact first, or sync with "
            "rewrite='auto' to resolve them to deletion vectors in "
            "flight (bounded by the key-column scan of lower-sequence "
            "files)"
        )
    # schema / spec gates against the mirror's declared state (a
    # restated snapshot gates against the CURRENT schema: the head
    # snapshot may have been written before later metadata-only schema
    # commits, and a rolled-back head always reads under the current
    # schema)
    schema = meta["schemas"][
        meta["current-schema-id"]
        if restate
        else snap.get("schema-id", meta["current-schema-id"])
    ]
    mirror_schema = json.loads(mirror.metadata["schemaString"])
    # simpleString comparison: nullability-insensitive on both sides,
    # and nested types (struct/array/map) render recursively
    want = [
        (f.name, f.dataType.simpleString())
        for f in _spark_schema(schema).fields
    ]
    have = [
        (f.name, f.dataType.simpleString())
        for f in T.StructType.fromJson(mirror_schema).fields
    ]
    if want != have:
        raise DeltaSyncSchemaChangeError(
            f"snapshot {sid}'s schema does not match the mirror's; "
            "schema changes do not replay — re-convert"
        )
    # the spec governing THIS snapshot's data files, resolved from its
    # manifests' spec ids — once `repartition_table` has evolved the
    # layout, the current default spec doesn't answer for mid-lineage
    # snapshots
    snap_spec_ids = sorted(
        {
            m.get("partition_spec_id", 0)
            for m in avro_ocf.read_ocf(snap["manifest-list"])
            if m.get("content", 0) == 0
        }
    )
    specs = [_spec_info(meta, i) for i in snap_spec_ids]
    if any(pf["transform"] != "identity" for sp in specs for pf in sp):
        raise NotImplementedError(
            "Delta cannot represent transform partition specs"
        )
    prev_cols = list(mirror.metadata.get("partitionColumns") or [])
    col_sets = {tuple(pf["source"] for pf in sp) for sp in specs}
    if len(col_sets) > 1:
        raise DeltaSyncSchemaChangeError(
            f"snapshot {sid} mixes manifests of different identity "
            "layouts — re-convert"
        )
    part_cols = list(col_sets.pop()) if col_sets else list(prev_cols)
    type_by_name = {f["name"]: f["type"] for f in schema["fields"]}
    part_types = {
        c: type_by_name[c]
        for c in set(part_cols) | set(prev_cols)
        if c in type_by_name
    }
    relayout = part_cols != prev_cols

    cur = _iceberg_data_entries(meta, sid)
    prev = _iceberg_data_entries(meta, base) if base is not None else {}
    if relayout and set(cur) & set(prev):
        raise DeltaSyncSchemaChangeError(
            f"snapshot {sid} changes the partition layout but keeps "
            f"{len(set(cur) & set(prev))} pre-change file(s); a layout "
            "change must be a full rewrite — re-convert"
        )
    cur_dvs = {
        e["referenced_data_file"]: e
        for e in snapshot_dv_entries(iceberg_table, sid)
    }
    prev_dvs = (
        {
            e["referenced_data_file"]: e
            for e in snapshot_dv_entries(iceberg_table, base)
        }
        if base is not None
        else {}
    )
    added = sorted(set(cur) - set(prev))
    removed = sorted(set(prev) - set(cur))

    # partitionValues (and the hive dirs) are keyed by the mirror's
    # PHYSICAL names on column-mapped mirrors (Delta spec; what the
    # reader's broadcast restoration looks up) — a relayout by a
    # RENAMED column would otherwise write logical keys the reader
    # can't resolve. metaData.partitionColumns stays the LOGICAL view.
    pv_phys = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in mirror_schema["fields"]
    }

    # post-rename generation guard: a mode=name mirror pins ONE
    # physical name per field, but Iceberg files written after a
    # rename store the NEW name. When every data file carries PARQUET
    # FIELD IDS (this engine's writer stamps them — round 11), the
    # mirror FLIPS to columnMapping.mode=id in one commit (ids are
    # already the Iceberg field ids, set by the schema reconcile) and
    # resolution becomes generation-proof; files without ids keep the
    # honest raise.
    name_mapped = (mirror.metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    ) == "name"
    misnamed = {
        log: phys for log, phys in pv_phys.items() if log != phys
    } if name_mapped else {}
    if misnamed and added:
        import pyarrow.parquet as _pq

        def _ids_of(fp: str) -> "set | None":
            out = set()
            for fld in _pq.read_schema(fp):
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is None:
                    if fld.name in (
                        "_row_id", "_last_updated_sequence_number",
                        "_row_commit_version",
                    ):
                        continue  # lineage extras: resolved by name
                    return None
                out.add(int(fid))
            return out

        bad_files = []
        for fp in added:
            names = set(_pq.read_schema(fp).names)
            if any(
                log in names and phys not in names
                for log, phys in misnamed.items()
            ):
                bad_files.append(fp)
        if bad_files:
            probe = list(prev) + added
            if all(_ids_of(fp) is not None for fp in probe):
                raise _MirrorNeedsIdMapping()
            raise DeltaSyncSchemaChangeError(
                f"data file {os.path.basename(bad_files[0])} stores "
                "renamed column(s) under the NEW physical name and "
                "not every file carries parquet field ids; Delta "
                "cannot express per-generation physical names "
                "without id resolution — re-convert the mirror"
            )

    def _dv_key(e: dict) -> tuple:
        return (e["puffin_path"], int(e["offset"]), int(e["length"]))

    rewrite_positions = rewrite == "auto" and bool(
        pos_cur or pos_prev or eq_cur or eq_prev
    )
    if rewrite_positions:
        # rewrite='auto': each endpoint's per-file tombstone STATE is
        # DV positions ∪ position-delete rows ∪ equality deletes
        # RESOLVED to positions (round 13); diff on the effective sets
        # (the verbatim framed-bytes fast path can't apply — the union
        # must be re-encoded)
        import pyarrow.parquet as _pq

        def _positions_of(dvs, pos_files, eq_sid) -> "dict[str, set]":
            out: dict[str, set] = {}
            for e in dvs.values():
                out.setdefault(e["referenced_data_file"], set()).update(
                    deletion_vectors.positions(_dv_locator(e))
                )
            for p in pos_files:
                t = _pq.read_table(p, columns=["file_path", "pos"])
                for fp, pos in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    out.setdefault(fp, set()).add(pos)
            if eq_sid is not None:
                for fp, poss in _equality_delete_positions(
                    iceberg_table, eq_sid
                ).items():
                    out.setdefault(fp, set()).update(poss)
            return out

        cur_pos = _positions_of(cur_dvs, pos_cur, sid if eq_cur else None)
        prev_pos = _positions_of(
            prev_dvs, pos_prev, base if eq_prev else None
        )
        dv_changed = sorted(
            fp
            for fp, s2 in cur_pos.items()
            if fp in cur and s2 and prev_pos.get(fp, set()) != s2
        )
        dv_dropped = sorted(
            fp
            for fp, s2 in prev_pos.items()
            if s2 and fp in cur and not cur_pos.get(fp)
        )
    else:
        dv_changed = sorted(
            fp
            for fp, e in cur_dvs.items()
            if fp in cur
            and (fp not in prev_dvs or _dv_key(prev_dvs[fp]) != _dv_key(e))
        )
        dv_dropped = sorted(
            fp
            for fp in prev_dvs
            if fp in cur and fp not in cur_dvs
        )
    data_change = restate or op != "replace"

    def delta_path(
        fp: str, df_rec: dict, cols: "list[str] | None" = None
    ) -> "tuple[str, dict]":
        """(add-action path, partitionValues) for an Iceberg data file
        — in place when unpartitioned; when partitioned, a hard link
        (zero bytes copied) in the mirror's hive layout whose basename
        is a digest of the SOURCE path, so later diffs map onto it with
        no stored state. ``cols`` selects the layout: removes across a
        RELAYOUT commit resolve under the mirror's pre-change columns,
        adds under the snapshot's own."""
        cols = part_cols if cols is None else cols
        if not cols:
            return fp, {}
        pv = {
            pv_phys.get(c, c): _delta_pv_str(
                (df_rec.get("partition") or {}).get(c), part_types[c]
            )
            for c in cols
        }
        dirs = os.path.join(
            *(
                "{}={}".format(
                    pv_phys.get(c, c),
                    pv[pv_phys.get(c, c)]
                    if pv[pv_phys.get(c, c)] is not None
                    else "__HIVE_DEFAULT_PARTITION__",
                )
                for c in cols
            )
        )
        name = hashlib.sha256(fp.encode()).hexdigest()[:32] + ".parquet"
        return os.path.join(dirs, name), pv

    # one fresh sidecar per commit holding every changed DV's blob —
    # the framed bytes moved verbatim out of the Puffin file on the
    # pure-DV path (both specs frame identically: the bitmap is never
    # decoded), roaring re-encoded from the effective position union
    # on the rewrite='auto' path
    descriptors: dict[str, dict] = {}
    if dv_changed and rewrite_positions:
        descriptors = deletion_vectors.write_dv_blobs(
            delta_table,
            [
                (
                    fp,
                    deletion_vectors.encode_dv(sorted(cur_pos[fp])),
                    len(cur_pos[fp]),
                )
                for fp in dv_changed
            ],
        )
    elif dv_changed:
        items = [
            (
                fp,
                deletion_vectors.read_record(_dv_locator(cur_dvs[fp])),
                int(cur_dvs[fp]["cardinality"]),
            )
            for fp in dv_changed
        ]
        descriptors = deletion_vectors.write_dv_blobs(delta_table, items)

    ts = _now_ms()

    def add_action(fp: str, with_dv: bool) -> dict:
        df_rec = cur[fp]
        path, pv = delta_path(fp, df_rec)
        if part_cols:
            dst = os.path.join(delta_table, path)
            if not os.path.exists(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(fp, dst)
                except OSError:
                    shutil.copy2(fp, dst)  # cross-device fallback
        add = {
            "path": path,
            "partitionValues": pv,
            "size": df_rec["file_size_in_bytes"],
            "modificationTime": ts,
            "dataChange": data_change,
            "stats": json.dumps({"numRecords": df_rec["record_count"]}),
        }
        if mirror.tracking:
            # row-lineage carry: _row_id stays identical — re-adds copy
            # the prior add's baseRowId/commit version (spec), new
            # files take the Iceberg entry's first_row_id
            prior = mirror.adds.get(path)
            if prior is not None and prior.get("baseRowId") is not None:
                add["baseRowId"] = prior["baseRowId"]
                add["defaultRowCommitVersion"] = prior.get(
                    "defaultRowCommitVersion"
                )
            elif df_rec.get("first_row_id") is not None:
                add["baseRowId"] = df_rec["first_row_id"]
                add["defaultRowCommitVersion"] = v
        if with_dv and fp in descriptors:
            add["deletionVector"] = descriptors[fp]
        return add

    def remove_action(path: str) -> dict:
        return {
            "remove": {
                "path": path,
                "deletionTimestamp": ts,
                "dataChange": data_change,
            }
        }

    actions: list[dict] = []
    if dv_changed:
        # MERGE into the mirror's effective protocol (like
        # delete_where) — a bare DV_PROTOCOL would strip rowTracking/
        # domainMetadata writer features from a row-tracking mirror
        # while its configuration still demands them: spec-invalid
        actions.append(
            {
                "protocol": delta_log._merge_protocol(
                    mirror.protocol, delta_log.DV_PROTOCOL
                )
            }
        )
    if relayout:
        # one commit changes partitionColumns AND swaps every file —
        # the only legal Delta shape for a layout change (mirrors
        # delta_log.repartition_table); removes resolve under the
        # mirror's PRE-change layout, adds under the snapshot's own
        actions.append(
            {
                "metaData": {
                    **mirror.metadata, "partitionColumns": list(part_cols)
                }
            }
        )
    for fp in removed:
        actions.append(remove_action(delta_path(fp, prev[fp], prev_cols)[0]))
    for fp in added:
        actions.append({"add": add_action(fp, with_dv=True)})
    for fp in dv_changed + dv_dropped:
        if fp in added:
            continue  # descriptor already rode the add
        actions.append(remove_action(delta_path(fp, cur[fp])[0]))
        actions.append({"add": add_action(fp, with_dv=fp in dv_changed)})
    if mirror.tracking and "next-row-id" in meta:
        new_hwm = int(meta["next-row-id"]) - 1
        if new_hwm > mirror.hwm:
            actions.append(delta_log._hwm_action(new_hwm))
    return actions


def _write_dv_puffin(
    table: str, snapshot_id: int, seq: int, items: "list[tuple]"
) -> "list[tuple]":
    """`dv_codec.encode`'s container writer: :func:`_write_framed_dvs`
    over ``(data file, encode_dv bytes, cardinality)`` items; returns
    (file, puffin path, blob offset, blob length, cardinality) per
    blob."""
    entries = _write_framed_dvs(
        table, snapshot_id, seq,
        [(fp, deletion_vectors.frame_dv(data), n) for fp, data, n in items],
    )
    return [
        (d["referenced_data_file"], d["file_path"], d["content_offset"],
         d["content_size_in_bytes"], d["record_count"])
        for d in (e["data_file"] for e in entries)
    ]


def _commit_dv_delete(
    spark: SparkSession,
    table: str,
    meta: dict,
    hits: DataFrame,
    operation: str = "delete",
    drop_position_deletes: bool = False,
) -> int:
    """V3 merge-on-read DELETE: encode the matched positions as Puffin
    ``deletion-vector-v1`` blobs (spec: one DV per data file per
    snapshot; a new DV MERGES and REPLACES the file's previous one —
    readers apply exactly one bitmap per file, never a chain).

    The blobs are built by `dv_codec.encode`, gated on the snapshot's
    live data rows (from the manifest list's row counts, an upper bound
    on the hits): a small table encodes on the driver into one
    ``.puffin`` file; above the gate each task encodes its files and
    writes one ``.puffin`` sidecar, and the driver only collects
    descriptors, so a 10⁹-row delete cannot OOM the driver. Either way
    the file's previous DV is merged in.

    Commit: the previous delete manifests are consolidated into one
    manifest that keeps every surviving entry (eq-deletes, DVs of
    untouched files) as spec "existing" status-0 entries at their
    ORIGINAL sequence numbers and adds the new DVs as status-1 entries;
    replaced DV entries are dropped. Data manifests ride unchanged.
    """
    sid = meta["current-snapshot-id"]
    snap = _snapshot(meta, sid)
    snapshot_id, seq = _next_snapshot(meta)
    manifests = avro_ocf.read_ocf(snap["manifest-list"])
    counts = [
        (m.get("added_rows_count"), m.get("existing_rows_count"))
        for m in manifests
        if m.get("content", 0) == 0
    ]
    bound = (
        sum(a + e for a, e in counts)
        if all(a is not None and e is not None for a, e in counts)
        else None
    )
    desc_rows = dv_codec.encode(
        hits.select(F.col("file_path").alias("fp"), "pos"),
        bound,
        {
            e["referenced_data_file"]: _dv_locator(e)
            for e in snapshot_dv_entries(table, sid)
        },
        functools.partial(
            _write_dv_puffin, os.path.abspath(table), snapshot_id, seq
        ),
    )
    if not desc_rows and not drop_position_deletes:
        return sid  # nothing matched: no commit
    # (a rewrite with zero live tombstones still commits: the stale
    # position-delete parquet entries must drop from the new snapshot)

    touched = {r[0] for r in desc_rows}
    data_ml: list[dict] = []
    records: list[dict] = []
    for m in manifests:
        if m.get("content", 0) == 0:
            data_ml.append(m)
            continue
        for e in avro_ocf.read_ocf(m["manifest_path"]):
            if e["status"] == 2:
                continue
            d = e["data_file"]
            is_puffin = (d.get("file_format") or "").upper() == "PUFFIN"
            replaced = (
                d.get("content", 0) == 1
                and is_puffin
                and d.get("referenced_data_file") in touched
            )
            if drop_position_deletes and d.get("content", 0) == 1 and not is_puffin:
                # the rewrite consolidates position-delete parquet INTO
                # the new DVs: the parquet entries die with this commit
                continue
            if not replaced:
                records.append(_existing(e))
    records += [
        _dv_entry(snapshot_id, seq, path, fp, off, length, card)
        for fp, path, off, length, card in sorted(desc_rows)
    ]
    return _publish_snapshot(
        table, meta, snapshot_id, seq,
        data_ml + [
            _write_entries_manifest(
                table, meta, meta["default-spec-id"], 1, snapshot_id, seq,
                records,
            )
        ],
        {"operation": operation, "added-dvs": str(len(desc_rows))},
        parent=sid,
        schema_id=snap.get("schema-id", meta["current-schema-id"]),
    )


def delete_where(spark: SparkSession, table: str, condition) -> int:
    """Merge-on-read DELETE: write POSITION-DELETE files (spec content=1
    — parquet of (file_path, pos) tombstones) instead of rewriting any
    data file. At 100 TB this is the point of the mechanism: deleting a
    few rows costs O(matching rows) bytes, not a copy-on-write rewrite
    of every touched file; readers pay one broadcast anti-join.
    ``condition`` is a Column or SQL string over the table's columns.
    Returns the new snapshot id (or the current one when nothing
    matched — an empty delete commits nothing).

    On a ``format_version=3`` table the same positions are committed as
    DELETION VECTORS instead — Puffin ``deletion-vector-v1`` blobs, one
    per touched data file, merged with the file's previous DV
    (:func:`_commit_dv_delete`); v3 forbids new position-delete
    files."""
    from pyspark.sql import Column

    pred = F.expr(condition) if isinstance(condition, str) else condition
    assert isinstance(pred, Column)
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    # a DELETE is a CURRENT-state operation: read under the CURRENT
    # schema-id (the same rule read_iceberg and update_where apply), not
    # the snapshot's stamped one — rename/drop are metadata-only (no new
    # snapshot), so a predicate naming a just-renamed column must still
    # resolve (and one naming a dropped column must fail analysis)
    df, _names = _read_raw(
        spark, table, meta, sid, snapshot_files(table, sid),
        meta["current-schema-id"],
    )
    # scan through ALL existing deletes (position AND equality) so new
    # tombstones can only target live rows — double-tombstoning would
    # break the CDC decomposition of delete commits
    hits = (
        _apply_delete_files(spark, table, sid, df, keep_positions=True)
        .filter(pred)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
    )
    return _commit_delete_hits(spark, table, meta, hits)


def _commit_delete_hits(
    spark: SparkSession, table: str, meta: dict, hits: DataFrame
) -> int:
    """The COMMIT half of a merge-on-read delete: tombstone ``hits``
    (``file_path``/``pos`` of live rows read at ``meta``'s current
    snapshot) as deletion vectors on a v3 table, as position-delete
    files otherwise. The commit builds on ``meta``, so a concurrent
    commit since the read fails it. Shared by `delete_where` and
    `update_where`, which feeds it the hits of its own single scan.
    Returns the new snapshot id (the read one when ``hits`` is empty)."""
    if int(meta.get("format-version", 2)) >= 3:
        return _commit_dv_delete(spark, table, meta, hits)
    return _commit_delete_files(table, meta, hits, 1, {"operation": "delete"})


def _write_delete_files(
    table: str,
    rows: DataFrame,
    content: int,
    snapshot_id: int,
    seq: int,
    equality_ids: "list[int] | None" = None,
) -> "list[dict]":
    """Write ``rows`` as v2 delete parquet under ``data/`` and return
    the ADDED entries of the non-empty files: ``content`` 1 = position
    deletes (``file_path``/``pos``), 2 = equality deletes keyed on
    ``equality_ids``."""
    import pyarrow.parquet as pq

    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    rows.write.mode("overwrite").parquet(staging)
    prefix = "delete" if content == 1 else "eqdelete"
    records = []
    for root, dirs, fs in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(fs):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            src = os.path.join(root, fn)
            n = pq.ParquetFile(src).metadata.num_rows
            if n == 0:
                continue
            dst = os.path.join(
                os.path.abspath(table), "data",
                f"{prefix}-{uuid.uuid4().hex}.parquet",
            )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            data_file = {
                "content": content,
                "file_path": dst,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(dst),
            }
            if equality_ids is not None:
                data_file["equality_ids"] = equality_ids
            records.append(_added(snapshot_id, seq, data_file))
    shutil.rmtree(staging)
    return records


def _commit_delete_files(
    table: str,
    meta: dict,
    rows: DataFrame,
    content: int,
    summary: dict,
    equality_ids: "list[int] | None" = None,
) -> int:
    """Commit ``rows`` as delete files (see :func:`_write_delete_files`)
    in one snapshot on top of ``meta``'s current one. Returns the new
    snapshot id, or the current one when ``rows`` is empty."""
    sid = meta["current-snapshot-id"]
    snap = _snapshot(meta, sid)
    snapshot_id, seq = _next_snapshot(meta)
    records = _write_delete_files(
        table, rows, content, snapshot_id, seq, equality_ids
    )
    if not records:
        return sid  # nothing matched: no commit
    return _publish_snapshot(
        table, meta, snapshot_id, seq,
        avro_ocf.read_ocf(snap["manifest-list"]) + [
            _write_entries_manifest(
                table, meta, meta["default-spec-id"], 1, snapshot_id, seq,
                records,
            )
        ],
        summary,
        parent=sid,
        schema_id=snap.get("schema-id", meta["current-schema-id"]),
    )


def snapshot_equality_deletes(
    table: str, snapshot_id: int | None = None
) -> list[tuple[str, int, list[str]]]:
    """(path, sequence_number, equality column names) for the
    EQUALITY-DELETE files (content=2) live at a snapshot."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    schema = meta["schemas"][snap.get("schema-id", meta["current-schema-id"])]
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    out = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] in (0, 1) and (
                entry["data_file"].get("content", 0) == 2
            ):
                ids = entry["data_file"].get("equality_ids") or []
                out.append(
                    (
                        entry["data_file"]["file_path"],
                        entry["sequence_number"],
                        [by_id[i] for i in ids],
                    )
                )
    return sorted(out)


def _equality_delete_positions(
    table: str, snapshot_id: int
) -> "dict[str, set[int]]":
    """Resolve a snapshot's EQUALITY deletes to per-file POSITIONS —
    the shape `sync_to_delta(rewrite='auto')` needs to encode them as
    Delta deletion vectors (round 13). Applies the spec's rules exactly
    as the scan path does: a tombstone key at sequence d kills matching
    rows only in data files with STRICTLY LOWER sequence, and a NULL
    key value matches NULL (tuple equality, the eqNullSafe twin).

    Cost is bounded by a KEY-COLUMN-pruned scan of the candidate data
    files (those below the highest tombstone sequence) plus the
    tombstone files themselves — the same matching-row scan every read
    of this snapshot already performs. Key columns that are identity
    partition columns (physically absent from data files) resolve from
    the manifest partition tuples: all rows of a file share the value,
    so the whole file matches or none of it does."""
    import pyarrow.parquet as _pq

    eq = snapshot_equality_deletes(table, snapshot_id)
    if not eq:
        return {}
    meta = current_metadata(table)
    id_cols = set(_identity_part_cols_at(meta, snapshot_id))
    src_type = {
        f["name"]: f["type"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    seqs = _data_file_sequences(table, snapshot_id)
    entries = _iceberg_data_entries(meta, snapshot_id)
    out: dict[str, set[int]] = {}
    by_cols: dict = {}
    for path, dseq, cols in eq:
        by_cols.setdefault(tuple(cols), []).append((path, dseq))
    for cols, files in sorted(by_cols.items()):
        # consolidated tombstone keys: value tuple → highest sequence.
        # Identity-column key values convert to the MANIFEST
        # representation (date → days, ts → micros) so they compare
        # like-for-like with the partition tuples.
        key_seq: dict = {}
        for path, dseq in files:
            t = _pq.read_table(path, columns=list(cols))
            for rec in t.to_pylist():
                val = tuple(
                    _partition_compare_value(
                        rec[c], "identity", src_type[c]
                    )
                    if c in id_cols and rec[c] is not None
                    else rec[c]
                    for c in cols
                )
                key_seq[val] = max(key_seq.get(val, dseq), dseq)
        max_seq = max(s for _, s in files)
        file_cols = [c for c in cols if c not in id_cols]
        # manifest-bounds pruning: a candidate file whose recorded
        # [lower, upper] for SOME key column excludes every tombstone
        # value cannot match — skipped from metadata alone. At 100 TB
        # with sort-clustered keys this is what turns the resolution
        # from "scan every older file's keys" into "scan the files the
        # tombstones actually touch". Null tombstone keys disable the
        # prune on their column (bounds never cover nulls).
        fid_of = {
            f["name"]: f["id"]
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        }
        vals_by_col = {
            c: {v[i] for v in key_seq} for i, c in enumerate(cols)
        }

        def _can_match(fp: str) -> bool:
            e = entries.get(fp)
            if e is None:
                return True
            part = e.get("partition") or {}
            for c in cols:
                if c in id_cols and c in part:
                    # identity value: ALL rows share it — exact prune
                    if part[c] not in vals_by_col[c]:
                        return False
                    continue
                if None in vals_by_col[c]:
                    continue
                lob = {b["key"]: b["value"] for b in (e.get("lower_bounds") or [])}
                upb = {b["key"]: b["value"] for b in (e.get("upper_bounds") or [])}
                fid = fid_of.get(c)
                if fid not in lob or fid not in upb:
                    continue
                try:
                    lo = single_value_read(lob[fid], src_type[c])
                    hi = single_value_read(upb[fid], src_type[c])
                except NotImplementedError:
                    continue  # undecodable bounds: keep the file
                try:
                    hit = any(
                        v is not None and lo <= v <= hi
                        for v in vals_by_col[c]
                    )
                except TypeError:
                    continue  # incomparable reps (tz-naive/aware): keep
                if not hit:
                    return False
            return True

        for fp, fseq in sorted(seqs.items()):
            if fseq >= max_seq:
                continue  # spec ordering rule: nothing here can match
            if not _can_match(fp):
                continue
            part = (entries[fp].get("partition") or {}) if fp in entries else {}
            fixed = {c: part.get(c) for c in cols if c in id_cols}
            t = (
                _pq.read_table(fp, columns=file_cols)
                if file_cols
                else None
            )
            n = (
                t.num_rows
                if t is not None
                else entries[fp]["record_count"]
            )
            rows = t.to_pylist() if t is not None else [{}] * n
            for pos, rec in enumerate(rows):
                val = tuple(
                    fixed[c] if c in fixed else rec[c] for c in cols
                )
                s = key_seq.get(val)
                if s is not None and fseq < s:
                    out.setdefault(fp, set()).add(pos)
    return out


def _data_file_sequences(table: str, snapshot_id: int) -> dict[str, int]:
    """file_path (absolute) -> sequence number for the snapshot's data
    files — the ordering input for equality-delete application."""
    meta = current_metadata(table)
    snap = _snapshot(meta, snapshot_id)
    out = {}
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        for entry in avro_ocf.read_ocf(m["manifest_path"]):
            if entry["status"] in (0, 1) and (
                entry["data_file"].get("content", 0) == 0
            ):
                out[entry["data_file"]["file_path"]] = entry["sequence_number"]
    return out


def delete_by_equality(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    summary: "dict | None" = None,
) -> int:
    """Equality DELETE (spec content=2): tombstone every row matching
    any key tuple in ``keys`` (a DataFrame whose columns name the
    equality columns), WITHOUT scanning the data at write time — this
    is the streaming-CDC primitive (a Flink-style upsert writes the new
    row plus an equality delete of its key; no read-side lookup, no
    rewrite). Per spec the delete applies only to data files with a
    STRICTLY LOWER sequence number, so rows appended after the delete
    keep living even if their keys match.

    Write cost: the key tuples themselves — independent of table size
    (position deletes need a scan to find positions; equality deletes
    don't, which is why CDC writers use them)."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    snap = _snapshot(meta, sid)
    schema = meta["schemas"][snap.get("schema-id", meta["current-schema-id"])]
    by_name = {f["name"]: f["id"] for f in schema["fields"]}
    eq_cols = list(keys.columns)
    missing = [c for c in eq_cols if c not in by_name]
    if missing:
        raise ValueError(f"equality columns {missing} not in table schema")

    return _commit_delete_files(
        table, meta, keys.distinct().coalesce(1), 2,
        {"operation": "delete", **(summary or {})},
        equality_ids=[by_name[c] for c in eq_cols],
    )


def compact(spark: SparkSession, table: str) -> int:
    """Materialize merge-on-read tombstones: read the current snapshot
    (deletes applied) and commit it as an overwrite — the new snapshot
    has clean data files and NO delete files, read cost returns to a
    plain scan, and Delta conversion becomes possible again. This is
    what OPTIMIZE does on a merge-on-read table; history stays
    time-travelable (the tombstoned snapshots keep their delete files
    until `expire_snapshots`). On a v3 table the rewrite MATERIALIZES
    ``_row_id`` / ``_last_updated_sequence_number`` into the new
    parquet (spec: lineage survives rewrites as physical columns —
    row POSITION changes, ids don't) and the new entries stay
    lineage-free (a file must inherit or materialize, never both)."""
    meta = current_metadata(table)
    stat_cols = _live_stat_paths(meta, meta["current-snapshot-id"])
    if int(meta.get("format-version", 2)) >= 3:
        sid = meta["current-snapshot-id"]
        df, _ = _read_files_lineage(
            spark, table, meta, sid, None, meta["current-schema-id"]
        )
        staged = _stage_data_files(
        df, table, _spec_info(meta),
        meta["schemas"][meta["current-schema-id"]],
    )
        return _commit_snapshot(
            None, table, meta, "overwrite", True, stat_cols, None, staged,
            assign_row_ids=False,
        )
    return overwrite(read_iceberg(spark, table), table, stat_cols=stat_cols)


def upsert(
    spark: SparkSession, table: str, changes: DataFrame, keys: Sequence[str]
) -> int:
    """CDC-style UPSERT in the merge-on-read idiom: an equality delete
    of the changed keys followed by an append of the new rows — the
    order matters (the append's higher sequence number is what lets the
    new rows survive the tombstones that kill the old ones). No
    read-time lookup, no data-file rewrite: write cost is O(changes)
    whatever the table size — the reason CDC writers (Flink's upsert
    sink) use exactly this shape. Both commits carry a shared
    ``upsert-id`` summary tag so :func:`table_changes_cdf` reads the
    pair back as update_preimage/update_postimage rows."""
    uid = uuid.uuid4().hex
    delete_by_equality(
        spark, table, changes.select(*keys).distinct(),
        summary={"upsert-id": uid, "upsert-keys": ",".join(keys)},
    )
    return append(changes, table, summary={"upsert-id": uid})


class IcebergNonAppendChangeError(RuntimeError):
    """The requested change range contains a rewrite or delete commit,
    whose file-level actions are not row-level inserts."""


def change_feed_entries(
    meta: dict,
    lo: int,
    hi: int,
    ok_ops: "tuple[str, ...]",
    err: type = IcebergNonAppendChangeError,
) -> "list[dict]":
    """Manifest entries for a change range ``(lo, hi]``, planned PER
    SNAPSHOT against each in-range snapshot's OWN manifest list.

    Two properties the naive current-snapshot scan lacks:

    - ``operation='replace'`` snapshots (compaction / delete-file
      rewrites) are SKIPPED: per the Iceberg spec a replace commit
      changes zero logical rows, so it contributes nothing to a
      row-level feed — routine OPTIMIZE maintenance no longer breaks
      `table_changes` / `table_changes_cdf` / the streaming CDC source
      (the Delta side's ``dataChange=false`` invisibility rule).
    - a layout rewrite ANYWHERE at-or-after an in-range commit cannot
      hide that commit's files: each commit is read from the manifest
      list it created, where its files are still ADDED entries —
      the current snapshot may have dropped them (packed away).

    Every other non-``ok_ops`` operation still raises ``err``, as does
    a range touching expired sequence numbers (their operations are
    unknowable). Entries are deduped by per-snapshot WINDOWS: snapshot
    s at seq q owns entries with seq in (prev_retained_seq, q] from its
    own list — the first window is wide enough to cover carried
    status-0 clone-bootstrap entries at original sequence numbers, and
    later windows are exactly one commit wide. Manifests are pruned by
    their [min_sequence_number, sequence_number] span before opening,
    so each commit reads O(its own manifests), never O(table).

    Returns raw manifest entries (status-2 excluded), each with its
    ``sequence_number`` and ``data_file`` intact.
    """
    from march_mania_spark_lakehouse_spark.sources import avro_ocf

    # the feed is MAIN's history: restrict to the head's ancestry so a
    # staged WAP / branch snapshot whose sequence number falls in range
    # never leaks unpublished rows into the feed (fast-forwarded
    # branch snapshots ARE on the ancestry and replay normally)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    anc_ids: set = set()
    node = meta.get("current-snapshot-id", -1)
    while node in by_id:
        anc_ids.add(node)
        node = by_id[node].get("parent-snapshot-id", -1)
    anc_seqs = {by_id[i]["sequence-number"] for i in anc_ids}
    if lo > 0 and lo not in anc_seqs:
        # a RETAINED snapshot at the boundary that once was main (it
        # appears in the snapshot-log) but no longer is means the
        # writer ROLLED BACK past the consumer's cursor: continuing
        # linearly would silently skip the retractions
        s_lo = next(
            (s for s in meta["snapshots"] if s["sequence-number"] == lo),
            None,
        )
        log_ids = {
            e["snapshot-id"] for e in meta.get("snapshot-log", [])
        }
        if s_lo is not None and s_lo["snapshot-id"] in log_ids:
            raise err(
                f"the snapshot at sequence number {lo} was rolled off "
                "the main ancestry (rollback_to_snapshot); a linear "
                "change feed cannot represent the retractions"
            )
    snaps = sorted(
        (
            s
            for s in meta["snapshots"]
            if lo < s["sequence-number"] <= hi
            and s["snapshot-id"] in anc_ids
        ),
        key=lambda s: s["sequence-number"],
    )
    for s in snaps:
        op = s.get("summary", {}).get("operation")
        if op != "replace" and op not in ok_ops:
            raise err(
                f"snapshot seq {s['sequence-number']} is {op!r}; this "
                "change feed cannot represent it"
            )
    retained = {s["sequence-number"] for s in meta["snapshots"]}
    expired = [q for q in range(lo + 1, hi + 1) if q not in retained]
    if expired:
        raise err(
            f"sequence numbers {expired} in the requested range were "
            "expired by expire_snapshots; their operations are unknowable"
        )
    replace_seqs = {
        s["sequence-number"]
        for s in snaps
        if s.get("summary", {}).get("operation") == "replace"
    }
    out: list[dict] = []
    prev = lo
    for s in snaps:
        seq = s["sequence-number"]
        if seq not in replace_seqs:
            for m in avro_ocf.read_ocf(s["manifest-list"]):
                if (
                    m["sequence_number"] <= prev
                    or m.get("min_sequence_number", 0) > seq
                ):
                    continue  # no entry of this manifest is in-window
                for e in avro_ocf.read_ocf(m["manifest_path"]):
                    if e["status"] == 2:
                        continue
                    es = e["sequence_number"]
                    if prev < es <= seq and es not in replace_seqs:
                        out.append(e)
        prev = seq
    return out


def table_changes(
    spark: SparkSession,
    table: str,
    from_seq: int,
    to_seq: int | None = None,
    include_deletes: bool = False,
) -> DataFrame:
    """Row-level change feed (the `delta_log.table_changes` analogue)
    for commits with sequence numbers in ``(from_seq, to_seq]``,
    planned from manifest entries alone — the incremental-refresh input
    (`operators/ivm.py`): refresh cost tracks the delta, never the
    table.

    Default (``include_deletes=False``): append-only — the ADDED rows;
    any overwrite/MERGE/delete commit in the range raises
    :class:`IcebergNonAppendChangeError`.

    ``include_deletes=True``: the result carries a ``_change_type``
    column ('insert' / 'delete') and merge-on-read DELETE commits
    decompose exactly:

    - appended data files emit their rows RAW as inserts (a row
      inserted and later deleted inside the range emits both — net
      zero, the CDC contract);
    - position-delete files recover their tombstoned rows by reading
      ONLY the referenced data files at the referenced positions
      (`delete_where` guarantees tombstones target live rows, so no
      double-delete);
    - equality-delete files emit the rows alive at their PARENT
      snapshot matching the key tuples (null-safe) — an `upsert`
      therefore feeds as delete(old) + insert(new).

    ``operation='replace'`` snapshots (compaction / delete-file
    rewrites) are SKIPPED — a layout rewrite changes zero logical
    rows, so routine OPTIMIZE maintenance inside or after the range
    never breaks the feed (each commit plans from its OWN manifest
    list; see :func:`change_feed_entries`). Copy-on-write rewrites
    that DO change rows (overwrite/MERGE) still raise: a file-level
    rewrite does not decompose into row-level changes."""
    meta = current_metadata(table)
    hi = meta["last-sequence-number"] if to_seq is None else to_seq
    ok_ops = ("append", "delete") if include_deletes else ("append",)
    snap = _snapshot(meta, meta["current-snapshot-id"])
    sid = meta["current-snapshot-id"]
    added: list[str] = []
    pos_del_paths: list[str] = []
    eq_dels: list[tuple[str, int, list[str]]] = []
    schema_id = snap.get("schema-id", meta["current-schema-id"])
    schema = meta["schemas"][schema_id]
    by_fid = {f["id"]: f["name"] for f in schema["fields"]}
    dv_dels: dict[int, list[dict]] = {}  # commit seq -> DV data_files
    for entry in change_feed_entries(meta, from_seq, hi, ok_ops):
        content = entry["data_file"].get("content", 0)
        if content == 0:
            added.append(
                os.path.relpath(
                    entry["data_file"]["file_path"], os.path.abspath(table)
                )
            )
        elif content == 1:
            d = entry["data_file"]
            if (d.get("file_format") or "").upper() == "PUFFIN":
                dv_dels.setdefault(entry["sequence_number"], []).append(d)
            else:
                pos_del_paths.append(d["file_path"])
        elif content == 2:
            eq_dels.append(
                (
                    entry["data_file"]["file_path"],
                    entry["sequence_number"],
                    [
                        by_fid[i]
                        for i in entry["data_file"].get("equality_ids") or []
                    ],
                )
            )
    names: list[str] = [f["name"] for f in schema["fields"]]
    base = read_iceberg(spark, table)  # declared-schema read machinery

    def _inserts() -> DataFrame | None:
        if not added:
            return None
        df, cols = _read_raw(spark, table, meta, sid, sorted(added))
        return df.select(*cols)

    if not include_deletes:
        ins = _inserts()
        return ins if ins is not None else base.filter(F.lit(False))

    pieces: list[DataFrame] = []
    ins = _inserts()
    if ins is not None:
        pieces.append(ins.withColumn("_change_type", F.lit("insert")))
    if pos_del_paths:
        # tombstoned rows, recovered from ONLY the referenced files
        tomb = spark.read.parquet(*sorted(pos_del_paths)).select(
            "file_path", "pos"
        )
        ref_files = [
            os.path.relpath(r["file_path"], os.path.abspath(table))
            for r in tomb.select("file_path").distinct().collect()
        ]
        raw, cols = _read_raw(spark, table, meta, sid, sorted(ref_files))
        raw = raw.select(
            *cols,
            _norm_file_path().alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        dead = raw.join(
            F.broadcast(
                tomb.select(
                    F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
                )
            ),
            ["__fp", "__pos"],
        ).select(*cols)
        pieces.append(dead.withColumn("_change_type", F.lit("delete")))
    for dseq in sorted(dv_dels):
        # v3 deletion vectors: a DV REPLACES the file's previous DV, so
        # the rows THIS commit killed are (new positions − the parent
        # snapshot's positions for the same file), rows recovered from
        # ONLY the referenced data files
        snap_s = next(
            s for s in meta["snapshots"] if s["sequence-number"] == dseq
        )
        parent = snap_s.get("parent-snapshot-id")
        parent_dvs = {
            e["referenced_data_file"]: e
            for e in (
                snapshot_dv_entries(table, parent)
                if parent is not None
                else []
            )
        }
        tomb = _dv_tombstones(
            spark, [_dv_of(d) for d in dv_dels[dseq]], parent_dvs
        )
        ref_files = sorted(
            {
                os.path.relpath(
                    d["referenced_data_file"], os.path.abspath(table)
                )
                for d in dv_dels[dseq]
            }
        )
        raw, cols_dv = _read_raw(spark, table, meta, sid, ref_files)
        raw = raw.select(
            *cols_dv,
            _norm_file_path().alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        dead = raw.join(F.broadcast(tomb), ["__fp", "__pos"]).select(*cols_dv)
        pieces.append(dead.withColumn("_change_type", F.lit("delete")))
    for path, del_seq, cols_eq in sorted(eq_dels):
        # rows alive at the delete commit's PARENT snapshot matching
        # the key tuples (null-safe) — exactly what the tombstone killed.
        # Read under the feed's schema, not the parent's older one: a
        # column added later reads null in the old images
        del_snap = next(
            s for s in meta["snapshots"] if s["sequence-number"] == del_seq
        )
        parent = del_snap.get("parent-snapshot-id")
        alive = _read_data_files(
            spark, table, meta, parent, snapshot_files(table, parent), schema_id
        )
        keys = spark.read.parquet(path).select(
            *[F.col(c).alias(f"__k_{c}") for c in cols_eq]
        )
        cond = F.lit(True)
        for c in cols_eq:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__k_{c}"))
        dead = alive.join(F.broadcast(keys), on=cond, how="left_semi")
        pieces.append(dead.withColumn("_change_type", F.lit("delete")))
    if not pieces:
        return base.filter(F.lit(False)).withColumn(
            "_change_type", F.lit("insert")
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(*names, "_change_type")


def table_changes_cdf(
    spark: SparkSession,
    table: str,
    from_seq: int,
    to_seq: int | None = None,
) -> DataFrame:
    """Changelog view with UPDATE pairs (the Delta
    `table_changes_cdf` symmetry): ``_change_type`` ∈ insert / delete /
    update_preimage / update_postimage plus ``_change_ordinal`` (the
    commit's sequence number).

    `upsert` lands as an equality-delete commit and an append commit
    tagged with a shared ``upsert-id`` summary; this reader pairs them
    back — the tombstoned rows re-emit as update_preimage and the
    appended rows as update_postimage, BOTH stamped with the pair's
    final (append) sequence number. Every other commit keeps
    :func:`table_changes`' insert/delete decomposition, stamped with
    its own sequence. A delete half whose append twin is missing or
    beyond ``to_seq`` degrades to plain deletes — never mislabeled.

    Cost: one per-commit change scan (manifest-list planned, like
    every Iceberg read); whole-range consumers keep the one-plan
    `table_changes` fast path."""
    meta = current_metadata(table)
    hi = meta["last-sequence-number"] if to_seq is None else to_seq
    by_seq = {
        s_["sequence-number"]: s_ for s_ in meta["snapshots"]
    }
    pieces: list[DataFrame] = []

    def _stamp(df: DataFrame, label: "str | None", seq: int) -> DataFrame:
        if label is not None:
            df = df.withColumn("_change_type", F.lit(label))
        return df.withColumn("_change_ordinal", F.lit(seq).cast("long"))

    v = from_seq + 1
    while v <= hi:
        snap = by_seq.get(v)
        summ = (snap or {}).get("summary") or {}
        if snap is not None and summ.get("operation") == "replace":
            # compaction / delete-file rewrite: zero logical rows —
            # skip it (same invisibility as Delta dataChange=false)
            v += 1
            continue
        uid = summ.get("upsert-id")
        if (
            uid
            and summ.get("operation") == "delete"
            and v < hi
            and ((by_seq.get(v + 1) or {}).get("summary") or {}).get(
                "upsert-id"
            ) == uid
        ):
            pre = table_changes(
                spark, table, v - 1, v, include_deletes=True
            ).filter(F.col("_change_type") == "delete")
            post = table_changes(spark, table, v, v + 1, include_deletes=True)
            pieces.append(_stamp(pre, "update_preimage", v + 1))
            pieces.append(_stamp(post, "update_postimage", v + 1))
            v += 2
            continue
        d = table_changes(spark, table, v - 1, v, include_deletes=True)
        pieces.append(_stamp(d, None, v))
        v += 1
    if not pieces:
        return (
            read_iceberg(spark, table)
            .filter(F.lit(False))
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_change_ordinal", F.lit(0).cast("long"))
        )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


# --------------------------------------------------------------------------
# Table statistics: Puffin NDV sketch files (spec `statistics` field)
# --------------------------------------------------------------------------


def _field_id(meta: dict, col: str) -> int:
    schema = meta["schemas"][meta["current-schema-id"]]
    for f in schema["fields"]:
        if f["name"] == col:
            return f["id"]
    raise KeyError(f"{col} not in table schema")


def _column_kmv_state(df: DataFrame, col: str, k: int) -> list[int]:
    """Distributed bottom-k (KMV) sketch state for one column: the k
    smallest distinct 63-bit DataSketches item hashes.

    Shape at scale: `.distinct()` on the single projected column does
    map-side partial aggregation, so the exchange carries per-partition
    distincts only; `mapInPandas` then hashes each partition's distinct
    values and emits its LOCAL bottom-k (a mergeable partial sketch —
    at most k rows per partition leave Python); the global TakeOrdered
    k merges the partials. Driver memory is k longs; no stage ever
    materializes more than k rows per partition. Hashing is Python-side
    by necessity (murmur3-x64-128 with the DataSketches seed is not a
    JVM builtin) — a stats job runs once per snapshot, off the query
    path.
    """
    import pandas as pd

    from march_mania_spark_lakehouse_spark.sources.puffin import (
        datasketches_hash63,
        item_bytes,
    )

    dtype = dict(df.dtypes)[col]
    if dtype in ("int", "smallint", "tinyint"):
        proj, conv = F.col(col).cast("long"), int
    elif dtype == "bigint":
        proj, conv = F.col(col), int
    elif dtype == "string":
        proj, conv = F.col(col), str
    else:
        raise NotImplementedError(
            f"NDV sketch over {dtype} column {col!r}: only integral and "
            "string columns carry a canonical DataSketches item "
            "serialization here"
        )

    def _partial(batches):
        state: set[int] = set()
        for pdf in batches:
            for v in pdf["__v"].dropna():
                h = datasketches_hash63(item_bytes(conv(v)))
                if h:
                    state.add(h)
            if len(state) > 8 * k:  # keep the partial bounded
                state = set(sorted(state)[:k])
        yield pd.DataFrame({"h": sorted(state)[:k] or []}).astype("int64")

    partials = (
        df.select(proj.alias("__v"))
        .distinct()
        .mapInPandas(_partial, "h long")
    )
    return [r.h for r in partials.orderBy("h").limit(k).collect()]


def write_statistics(
    spark: SparkSession,
    table: str,
    cols: Sequence[str],
    k: int = 1024,
    snapshot_id: int | None = None,
) -> dict:
    """Compute per-column NDV theta sketches for a snapshot and attach
    them as a Puffin statistics file (table-metadata ``statistics``
    list, one entry per snapshot — replaced if recomputed). The blob is
    the spec's standard ``apache-datasketches-theta-v1`` with the
    ``ndv`` blob property carrying the estimate, which is what engines
    read for CBO inputs without decoding the sketch. Metadata-only
    commit; returns the statistics entry written."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    seq = snap["sequence-number"]
    df = read_iceberg(spark, table, snapshot_id)
    # resolve the sketch columns and their field-ids from the SAME
    # schema generation the read used: current schema for a current-
    # snapshot call, the snapshot's stamped schema for explicit time
    # travel — otherwise a post-rename stats run against an old
    # snapshot would look the column up under the wrong name
    stats_schema_id = (
        meta["current-schema-id"]
        if snapshot_id is None
        else snap.get("schema-id", meta["current-schema-id"])
    )
    ids_by_name = {
        f["name"]: f["id"]
        for f in meta["schemas"][stats_schema_id]["fields"]
    }
    blobs = []
    for c in cols:
        if c not in ids_by_name:
            raise KeyError(
                f"{c!r} not in schema generation {stats_schema_id} "
                f"(columns: {sorted(ids_by_name)})"
            )
        state = _column_kmv_state(df, c, k)
        est, _theta = puffin.kmv_estimate(state, k)
        blobs.append(
            {
                "type": "apache-datasketches-theta-v1",
                "fields": [ids_by_name[c]],
                "snapshot-id": sid,
                "sequence-number": seq,
                "payload": puffin.theta_sketch_bytes(state, k),
                "properties": {"ndv": str(int(round(est)))},
            }
        )
    path = os.path.join(_meta_dir(table), f"{sid}-{uuid.uuid4().hex}.stats")
    info = puffin.write_puffin(
        path, blobs, {"created-by": "march_mania_spark_lakehouse_spark"}
    )
    entry = {
        "snapshot-id": sid,
        "statistics-path": path,
        "file-size-in-bytes": info["file-size-in-bytes"],
        "file-footer-size-in-bytes": info["file-footer-size-in-bytes"],
        "blob-metadata": info["blob-metadata"],
    }
    meta = dict(meta)
    meta["statistics"] = [
        s for s in meta.get("statistics", []) if s["snapshot-id"] != sid
    ] + [entry]
    meta["last-updated-ms"] = _now_ms()
    _write_metadata(table, meta)
    return entry


def table_ndv(table: str, col: str, snapshot_id: int | None = None) -> int:
    """NDV estimate for ``col`` from the snapshot's Puffin statistics
    (the ``ndv`` blob property). Raises KeyError when no statistics
    file covers the snapshot/column — callers must treat missing stats
    as "unknown", never as zero."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    fid = _field_id(meta, col)
    for entry in meta.get("statistics", []):
        if entry["snapshot-id"] != sid:
            continue
        for bm in entry["blob-metadata"]:
            if bm["fields"] == [fid] and "ndv" in bm.get("properties", {}):
                return int(bm["properties"]["ndv"])
    raise KeyError(f"no NDV statistics for {col} at snapshot {sid}")


def inspect_statistics(spark: SparkSession, table: str) -> DataFrame:
    """The statistics audit surface: one row per (stats entry, blob),
    with the recorded NDV property AND the estimate re-derived from the
    sketch payload itself — a reader that distrusts the property can
    check the blob. Columns: snapshot_id, column, blob_type, ndv,
    sketch_ndv, payload_bytes."""
    meta = current_metadata(table)
    schema = meta["schemas"][meta["current-schema-id"]]
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    rows = []
    for entry in meta.get("statistics", []):
        _props, blobs = puffin.read_puffin(entry["statistics-path"])
        for bm, payload in blobs:
            rows.append(
                (
                    entry["snapshot-id"],
                    by_id.get(bm["fields"][0], str(bm["fields"][0])),
                    bm["type"],
                    int(bm.get("properties", {}).get("ndv", -1)),
                    int(round(puffin.theta_estimate_from_bytes(payload))),
                    bm["length"],
                )
            )
    return local_df(
        spark, rows,
        "snapshot_id long, column string, blob_type string, "
        "ndv long, sketch_ndv long, payload_bytes long",
    )


def snapshot_row_count(table: str, snapshot_id: int | None = None) -> int:
    """Total live data-file rows at a snapshot, from manifest
    record_counts alone (no data read) — the other CBO input."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    total = 0
    for mf in avro_ocf.read_ocf(snap["manifest-list"]):
        for e in avro_ocf.read_ocf(mf["manifest_path"]):
            if e["status"] == 2:  # DELETED
                continue
            if e["data_file"].get("content", 0) != 0:
                continue  # delete files carry no live rows
            total += e["data_file"]["record_count"]
    return total


def stats_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str] | str,
    broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Statistics-driven join of two Iceberg tables: the smaller side
    (by manifest-recorded row count — table stats, not Spark's
    scan-size guesses, which under-estimate badly on compressed
    columnar data) gets an explicit broadcast hint when it is under
    ``broadcast_rows``. Falls back to a plain shuffle join when
    neither side qualifies. Pair with :func:`estimate_join_rows` for
    the NDV-based output-cardinality estimate."""
    keys = [on] if isinstance(on, str) else list(on)
    left, right = read_iceberg(spark, left_table), read_iceberg(spark, right_table)
    nl, nr = snapshot_row_count(left_table), snapshot_row_count(right_table)
    if min(nl, nr) <= broadcast_rows:
        if nl <= nr:
            return F.broadcast(left).join(right, on=keys)
        return left.join(F.broadcast(right), on=keys)
    return left.join(right, on=keys)


def estimate_join_rows(
    left_table: str, right_table: str, key: str
) -> int:
    """System-R equi-join cardinality estimate from table statistics:
    ``|L|·|R| / max(ndv_L(key), ndv_R(key))`` — row counts from the
    manifests, NDVs from the Puffin sketches (KeyError when either
    table lacks statistics for ``key``; unknown stats must surface,
    not default). This is the number a cost-based planner compares
    against both inputs to pick join order and to spot many-to-many
    explosions before running them."""
    nl, nr = snapshot_row_count(left_table), snapshot_row_count(right_table)
    ndv = max(table_ndv(left_table, key), table_ndv(right_table, key))
    if ndv == 0:
        return 0
    return (nl * nr) // ndv


def update_where(
    spark: SparkSession,
    table: str,
    condition,
    assignments: dict,
    stat_cols: Sequence[str] = (),
) -> int:
    """Merge-on-read UPDATE: position-tombstone every live row matching
    ``condition`` and append the updated row images — O(matched rows)
    bytes, no copy-on-write rewrite of touched files. ``assignments``
    maps column name → Column/SQL-string expression evaluated against
    the PRE-update row (standard UPDATE semantics; assignments never
    see each other's results). Two snapshots (delete, then append) —
    the exact decomposition the CDC feed emits for an update; stage on
    a branch (write_audit_publish) when readers must see it atomically.
    Returns the final snapshot id (unchanged when nothing matched).

    ONE scan of the pre-update snapshot is materialized
    (localCheckpoint) with the updated images and the matched rows'
    ``__fp``/``__pos``: the delete commit takes its hits from it
    (`_commit_delete_hits`, built on the read metadata, so a concurrent
    commit since the read fails it) and the append writes its images."""
    pred = F.expr(condition) if isinstance(condition, str) else condition
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    schema_id = meta["current-schema-id"]
    names = [
        f["name"] for f in meta["schemas"][schema_id]["fields"]
    ]
    unknown = set(assignments) - set(names)
    if unknown:
        # a typo'd assignment name must be an error, not a silent no-op
        raise KeyError(
            f"UPDATE assignments reference non-columns: {sorted(unknown)} "
            f"(table columns: {names})"
        )
    v3 = int(meta.get("format-version", 2)) >= 3
    if v3:
        # lineage-preserving UPDATE: the new row images CARRY their
        # _row_id as a materialized column (same row, new version),
        # and _last_updated_sequence_number falls out of the append
        # entry's own sequence — exactly the v3 update contract
        live, _ = _read_files_lineage(
            spark, table, meta, sid, snapshot_files(table, sid), schema_id,
            keep_positions=True,
        )
    else:
        df, _ = _read_raw(
            spark, table, meta, sid, snapshot_files(table, sid), schema_id
        )
        live = _apply_delete_files(spark, table, sid, df, keep_positions=True)
    exprs = []
    for n in names:
        if n in assignments:
            a = assignments[n]
            exprs.append(
                (F.expr(a) if isinstance(a, str) else a).alias(n)
            )
        else:
            exprs.append(F.col(n))
    if v3:
        exprs.append(F.col("_row_id"))
    matched = (
        live.filter(pred).select(*exprs, "__fp", "__pos").localCheckpoint()
    )
    if not matched.head(1):
        return sid  # nothing matched: no commits
    hits = matched.select(
        F.col("__fp").alias("file_path"), F.col("__pos").alias("pos")
    )
    _commit_delete_hits(spark, table, meta, hits)
    updated = matched.drop("__fp", "__pos")
    if v3:
        meta2 = current_metadata(table)
        staged = _stage_data_files(
            updated, table, _spec_info(meta2),
            meta2["schemas"][meta2["current-schema-id"]],
        )
        return _commit_snapshot(
            None, table, meta2, "append", False, stat_cols, None, staged,
            assign_row_ids=False,
        )
    return append(updated, table, stat_cols=stat_cols)


def inspect_manifests(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """One row per manifest in a snapshot's manifest list (the
    table.manifests audit surface): path, length, spec id, and the
    added/existing/deleted file and row counts the list records —
    planned from the manifest LIST alone, no manifest opened."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = _snapshot(meta, sid)
    rows = [
        (
            m["manifest_path"],
            m["manifest_length"],
            m.get("partition_spec_id", 0),
            m.get("content", 0),
            m["added_files_count"],
            m["existing_files_count"],
            m["deleted_files_count"],
            m["added_rows_count"],
            m["existing_rows_count"],
        )
        for m in avro_ocf.read_ocf(snap["manifest-list"])
    ]
    return local_df(
        spark, rows,
        "path string, length long, partition_spec_id int, content int, "
        "added_files int, existing_files int, deleted_files int, "
        "added_rows long, existing_rows long",
    )


def _apply_sort_order(meta: dict, cols: Sequence[str]) -> int:
    """Mutate ``meta`` to make ``cols`` (identity asc, nulls-first) the
    default sort order, reusing an existing order-id when the field
    list matches. Returns the order id. Callers commit the metadata."""
    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    fields = []
    for c in cols:
        if c not in by_name:
            raise KeyError(f"{c!r} not in table schema")
        fields.append(
            {
                "transform": "identity",
                "source-id": by_name[c]["id"],
                "direction": "asc",
                "null-order": "nulls-first",
            }
        )
    orders = list(meta.get("sort-orders", []))
    for o in orders:
        if o["fields"] == fields:
            meta["default-sort-order-id"] = o["order-id"]
            return o["order-id"]
    new_id = max((o["order-id"] for o in orders), default=0) + 1
    meta["sort-orders"] = orders + [{"order-id": new_id, "fields": fields}]
    meta["default-sort-order-id"] = new_id
    return new_id


def set_sort_order(table: str, cols: Sequence[str]) -> int:
    """Register a sort order (spec `sort-orders` + `default-sort-order-id`)
    — metadata-only: identity-transform ascending/nulls-first fields.
    Declares WRITE-TIME clustering intent; `optimize(sort_by=...)`
    records it in ITS commit so readers (and future writers) can see
    the table is range-clustered, the spec's contract for why
    scan_range skipping works post-compaction. Returns the order id."""
    meta = dict(current_metadata(table))
    before = (meta.get("default-sort-order-id"), meta.get("sort-orders"))
    oid = _apply_sort_order(meta, cols)
    if (meta.get("default-sort-order-id"), meta.get("sort-orders")) != before:
        meta["last-updated-ms"] = _now_ms()
        _write_metadata(table, meta)
    return oid


def table_sort_order(table: str) -> "list[str]":
    """Column names of the default sort order ([] when unsorted)."""
    meta = current_metadata(table)
    oid = meta.get("default-sort-order-id", 0)
    order = next(
        (o for o in meta.get("sort-orders", []) if o["order-id"] == oid),
        None,
    )
    if not order:
        return []
    schema = meta["schemas"][meta["current-schema-id"]]
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    return [by_id[f["source-id"]] for f in order["fields"]]


def rewrite_position_deletes(spark: SparkSession, table: str) -> int:
    """DELETE-FILE COMPACTION (the maintenance twin of `optimize` for
    the merge-on-read side): every DELETE commits one small
    position-delete file, so a delete-heavy table accumulates tombstone
    files that each add a branch to every reader's anti-join input.
    This rewrite unions all live position-delete files into ONE
    consolidated file (dropping tombstones whose target data file is no
    longer live) and commits a snapshot whose manifest list carries:

    - every data manifest unchanged (zero data bytes moved),
    - equality-delete entries carried over as EXISTING with their
      ORIGINAL sequence numbers (the strictly-lower rule must keep
      applying exactly as before),
    - one new delete manifest for the consolidated file.

    Position deletes target (file_path, pos) directly — sequence
    numbers don't gate them — so re-sequencing the consolidated file is
    semantics-free. Old delete files stay on disk for time travel and
    are reclaimed by `remove_orphan_files` after `expire_snapshots`.
    Returns the new snapshot id (current one when ≤ 1 live file).

    On a ``format_version=3`` table the rewrite CONVERTS instead: v3
    forbids new position-delete files, so any pos-delete parquet still
    live (inherited from a v2 history via
    :func:`upgrade_format_version`) is consolidated into Puffin
    DELETION VECTORS — one DV per referenced data file, merged with the
    file's existing DV if it already has one — and the parquet
    tombstone entries are dropped from the new snapshot. The commit is
    ``operation='replace'`` (zero logical rows changed), so change
    feeds and the streaming CDC source skip it, exactly like data-file
    compaction."""
    meta = current_metadata(table)
    sid = meta["current-snapshot-id"]
    snap = _snapshot(meta, sid)
    pos_files = snapshot_delete_files(table, sid)
    v3 = int(meta.get("format-version", 2)) >= 3
    if len(pos_files) <= (0 if v3 else 1):
        return sid
    live_df = local_df(
        spark,
        [(os.path.abspath(os.path.join(table, f)),) for f in snapshot_files(table, sid)],
        "file_path string",
    )
    if v3:
        hits = (
            spark.read.parquet(*pos_files)
            .distinct()
            .join(F.broadcast(live_df), "file_path", "left_semi")
            .select("file_path", "pos")
        )
        return _commit_dv_delete(
            spark, table, meta, hits,
            operation="replace", drop_position_deletes=True,
        )
    merged = (
        spark.read.parquet(*pos_files)
        .distinct()
        # keep only tombstones whose target data file is still live —
        # broadcast semi-join (file-count-sized), not a giant IN-list
        .join(F.broadcast(live_df), "file_path", "left_semi")
        .coalesce(1)
    )
    snapshot_id, seq = _next_snapshot(meta)
    consolidated = _write_delete_files(table, merged, 1, snapshot_id, seq)
    manifests = []
    for m in avro_ocf.read_ocf(snap["manifest-list"]):
        if m.get("content", 0) != 1:
            manifests.append(m)  # data manifests: untouched
            continue
        # equality deletes carry over as EXISTING at their original
        # sequence numbers; a manifest of only position deletes drops
        keep = [
            _existing(e)
            for e in avro_ocf.read_ocf(m["manifest_path"])
            if e["status"] in (0, 1)
            and e["data_file"].get("content", 0) == 2
        ]
        if keep:
            manifests.append(
                _write_entries_manifest(
                    table, meta, m.get("partition_spec_id", 0), 1,
                    snapshot_id, seq, keep,
                )
            )
    if consolidated:
        manifests.append(
            _write_entries_manifest(
                table, meta, meta["default-spec-id"], 1, snapshot_id, seq,
                consolidated,
            )
        )
    return _publish_snapshot(
        table, meta, snapshot_id, seq, manifests,
        {
            "operation": "replace",
            "rewritten-delete-files": str(len(pos_files)),
        },
        parent=sid,
        schema_id=snap.get("schema-id", meta["current-schema-id"]),
    )
