"""Delta deletion vectors: the protocol's merge-on-read DELETE format.

Implements, from the PUBLIC specs only (delta-io PROTOCOL.md
"Deletion Vectors" + the RoaringBitmap format spec's 64-bit portable
extension), the on-disk bits a Delta DV carries:

- **Z85 encoding** (the ZeroMQ RFC 32/Z85 alphabet) of the 16-byte DV
  file UUID that rides in the descriptor's ``pathOrInlineDv``.
- **64-bit portable RoaringBitmap** serialization: ``u64 LE`` count of
  32-bit buckets, then per bucket a ``u32 LE`` high-key and a standard
  32-bit RoaringBitmap stream. All THREE container kinds are written
  and read: array (sorted u16 values, cardinality ≤ 4096), bitmap
  (1024 × u64 LE words), and run (u16 n_runs + (start, length-1) u16
  pairs). The writer is size-optimal per container (the spec's
  ``runOptimize``): runs win for dense deletes, bounding sidecar size;
  a stream with ≥1 run container uses cookie 12347 (container count in
  the cookie's high 16 bits, run-flag bitset, offset header omitted
  under 4 containers), otherwise the plain 12346 layout. The reader
  accepts both cookies, so externally produced DVs (delta-rs /
  Databricks emit runs for dense deletes) decode correctly.
- **DV file layout**: a 1-byte format version (1), then per DV a
  ``u32 BE`` data size, the data itself — ``u32 LE`` magic 1681511377
  followed by the portable bitmap — and a ``u32 BE`` CRC-32 of the
  data. The descriptor's ``offset`` addresses the size field,
  ``sizeInBytes`` is the data length, ``cardinality`` the set bit
  count.
- **Descriptors**: ``storageType`` "u" (UUID-named file in the table
  dir, ``pathOrInlineDv`` = optional prefix + 20-char Z85 UUID),
  "p" (absolute path) and "i" (inline: ``pathOrInlineDv`` is the Z85
  of the data itself) are all readable; the writer emits "u".

Verification is the Delta layer's usual two-step: structural
round-trip tests here plus a CLEAN-ROOM decoder in
`tests/delta_reader_independent.py` (its own Z85 + roaring code) that
must agree with the engine on every produced table.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

MAGIC = 1681511377  # u32 LE magic prefixing every serialized DV blob
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("Z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i: i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("Z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i: i + 5]:
            v = v * 85 + _Z85_INV[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


# --------------------------------------------------------------------------
# Portable 64-bit RoaringBitmap
# --------------------------------------------------------------------------


def _runs_of(sorted_vals: "list[int]") -> "list[tuple[int, int]]":
    """Maximal runs of consecutive values as (start, length-1) pairs —
    exactly the 16-bit pair the run-container stream stores."""
    runs: list[tuple[int, int]] = []
    start = prev = sorted_vals[0]
    for v in sorted_vals[1:]:
        if v != prev + 1:
            runs.append((start, prev - start))
            start = v
        prev = v
    runs.append((start, prev - start))
    return runs


def _serialize_roaring32(values: "list[int]") -> bytes:
    """Standard-format 32-bit RoaringBitmap of SORTED uint32 values.

    Per-container encoding is size-optimal (the spec's ``runOptimize``
    rule): a run container (2 + 4·n_runs bytes) is emitted when it is
    strictly smaller than the array (2·card) / bitmap (8192) form —
    dense deletes (the common DELETE shape) collapse to a few runs. If
    any container is run-encoded the stream carries the run cookie
    12347 with its per-container run-flag bitset; otherwise the plain
    12346 layout is kept byte-for-byte as before."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    run_flags = bytearray((n + 7) // 8)
    blobs = []
    for i, k in enumerate(keys):
        vals = containers[k]
        card = len(vals)
        runs = _runs_of(vals)
        flat_size = 2 * card if card <= 4096 else 8192
        if 2 + 4 * len(runs) < flat_size:
            run_flags[i >> 3] |= 1 << (i & 7)
            blobs.append(
                struct.pack("<H", len(runs))
                + b"".join(struct.pack("<HH", s, l) for s, l in runs)
            )
        elif card <= 4096:
            blobs.append(struct.pack(f"<{card}H", *vals))
        else:
            words = [0] * 1024
            for lo in vals:
                words[lo >> 6] |= 1 << (lo & 63)
            blobs.append(struct.pack("<1024Q", *words))
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    if any(run_flags):
        head = struct.pack("<I", _SERIAL_COOKIE_RUN | ((n - 1) << 16))
        head += bytes(run_flags)
        # offset header omitted below the spec's 4-container threshold
        with_offsets = n >= 4
    else:
        head = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
        with_offsets = True
    if not with_offsets:
        return head + desc + b"".join(blobs)
    offsets = []
    pos = len(head) + len(desc) + 4 * n
    for b in blobs:
        offsets.append(pos)
        pos += len(b)
    off = struct.pack(f"<{n}I", *offsets)
    return head + desc + off + b"".join(blobs)


def _deserialize_roaring32(data: bytes, start: int) -> "tuple[list[int], int]":
    """Decode one 32-bit bitmap at ``start``; returns (values, end).
    Handles both the no-run (12346) and run (12347) cookies, including
    externally produced streams (delta-rs / Databricks emit run
    containers for dense deletes)."""
    (cookie,) = struct.unpack_from("<I", data, start)
    if (cookie & 0xFFFF) == _SERIAL_COOKIE_RUN:
        n = (cookie >> 16) + 1
        nflag = (n + 7) // 8
        run_flags = data[start + 4: start + 4 + nflag]
        pos = start + 4 + nflag
        with_offsets = n >= 4
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", data, start + 4)
        run_flags = b"\x00" * ((n + 7) // 8)
        pos = start + 8
        with_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    desc = struct.unpack_from(f"<{2 * n}H", data, pos)
    pos += 4 * n
    if with_offsets:
        offsets = struct.unpack_from(f"<{n}I", data, pos)
        pos += 4 * n
    else:
        offsets = None
    out: list[int] = []
    end = pos
    for i in range(n):
        key, card_m1 = desc[2 * i], desc[2 * i + 1]
        card = card_m1 + 1
        pos = start + offsets[i] if offsets is not None else end
        if run_flags[i >> 3] >> (i & 7) & 1:
            (n_runs,) = struct.unpack_from("<H", data, pos)
            pairs = struct.unpack_from(f"<{2 * n_runs}H", data, pos + 2)
            for r in range(n_runs):
                s, lm1 = pairs[2 * r], pairs[2 * r + 1]
                out.extend((key << 16) | v for v in range(s, s + lm1 + 1))
            end = max(end, pos + 2 + 4 * n_runs)
        elif card <= 4096:
            vals = struct.unpack_from(f"<{card}H", data, pos)
            out.extend((key << 16) | v for v in vals)
            end = max(end, pos + 2 * card)
        else:
            words = struct.unpack_from("<1024Q", data, pos)
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    out.append((key << 16) | (wi << 6) | b.bit_length() - 1)
                    w ^= b
            end = max(end, pos + 8192)
    return out, end


def serialize_roaring64(positions: "list[int]") -> bytes:
    """Portable 64-bit format: u64 LE bucket count, then per bucket a
    u32 LE high-key + standard 32-bit stream."""
    buckets: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        buckets.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = [struct.pack("<Q", len(buckets))]
    for hi in sorted(buckets):
        out.append(struct.pack("<I", hi))
        out.append(_serialize_roaring32(buckets[hi]))
    return b"".join(out)


def deserialize_roaring64(data: bytes) -> "list[int]":
    (n,) = struct.unpack_from("<Q", data, 0)
    pos = 8
    out: list[int] = []
    for _ in range(n):
        (hi,) = struct.unpack_from("<I", data, pos)
        vals, pos = _deserialize_roaring32(data, pos + 4)
        out.extend((hi << 32) | v for v in vals)
    return out


# --------------------------------------------------------------------------
# DV files + descriptors
# --------------------------------------------------------------------------


def encode_dv(positions: "list[int]") -> bytes:
    """One DV's serialized data: u32 LE magic + portable 64-bit roaring
    bitmap. Called once per touched data file by `dv_codec.encode`, on
    the driver for small tables and inside executor tasks above its
    size gate."""
    return struct.pack("<I", MAGIC) + serialize_roaring64(positions)


def frame_dv(data: bytes) -> bytes:
    """One DV's FRAMED record: ``u32 BE size + data + u32 BE CRC-32``.
    The framing is byte-identical to an Iceberg Puffin
    ``deletion-vector-v1`` blob (deliberately, per both public specs),
    so the same record serves a Delta sidecar and a Puffin file."""
    crc = zlib.crc32(data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + data + struct.pack(">I", crc)


def write_dv_blobs(
    table: str, items: "list[tuple[str, bytes, int]]"
) -> "dict[str, dict]":
    """Write ONE deletion-vector sidecar holding the given pre-encoded
    blobs (``(key, encode_dv bytes, cardinality)``); returns {key:
    descriptor dict} ready to ride in add actions. `dv_codec.encode`
    calls it once per DELETE on the driver path and once per TASK on
    the executor path (a DELETE touching 10k data files costs
    O(tasks) new objects, not 10k)."""
    u = _uuid.uuid4()
    name = f"deletion_vector_{u}.bin"
    descriptors: dict[str, dict] = {}
    with open(os.path.join(table, name), "wb") as f:
        f.write(b"\x01")  # format version
        pos = 1
        for key, data, cardinality in items:
            f.write(frame_dv(data))
            descriptors[key] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": pos,
                "sizeInBytes": len(data),
                "cardinality": cardinality,
            }
            pos += 4 + len(data) + 4
    return descriptors


def framed_dv_bytes(table: str, descriptor: dict) -> bytes:
    """One DV's framed record (:func:`frame_dv`), CRC-verified.
    Cross-format conversion (`iceberg.convert_from_delta`) moves these
    bytes VERBATIM into a Puffin file: the bitmap is never decoded or
    re-encoded. Inline ("i") descriptors carry unframed data and are
    framed here."""
    return frame_dv(read_record(locate(table, descriptor)))


def unframe_dv(blob: bytes, size: int) -> bytes:
    """Strip the framing off one framed DV record (a Delta sidecar
    record or — identically — an Iceberg Puffin ``deletion-vector-v1``
    blob), verifying the stated ``size``, the CRC and the magic;
    returns the raw data (magic + portable bitmap). The inverse of
    :func:`frame_dv`."""
    (got,) = struct.unpack_from(">I", blob, 0)
    if got != size:
        raise ValueError(f"DV size {got} != descriptor size {size}")
    data = blob[4: 4 + size]
    (crc,) = struct.unpack_from(">I", blob, 4 + size)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise ValueError("DV checksum mismatch")
    return _check_magic(data)


def _check_magic(data: bytes) -> bytes:
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad DV magic {magic}")
    return data


def dv_file_path(table: str, descriptor: dict) -> str:
    """Resolve a storageType "u"/"p" descriptor to its absolute path."""
    st = descriptor["storageType"]
    if st == "p":
        return descriptor["pathOrInlineDv"]
    if st != "u":
        raise ValueError(f"storageType {st!r} has no file path")
    enc = descriptor["pathOrInlineDv"]
    prefix, z = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=z85_decode(z))
    return os.path.join(table, prefix, f"deletion_vector_{u}.bin")


def locate(table: str, descriptor: dict) -> dict:
    """The LOCATOR of a Delta DV descriptor (storage types u/p/i). A
    locator addresses one DV in either format: ``{"path", "offset",
    "size", "cardinality"}`` for a framed record whose size field sits
    at ``offset`` of ``path`` (a sidecar or a Puffin file), or
    ``{"inline", "cardinality"}`` for a Delta inline DV. A locator
    without ``cardinality`` skips the count check."""
    if descriptor["storageType"] == "i":
        return {
            "inline": descriptor["pathOrInlineDv"],
            "cardinality": descriptor["cardinality"],
        }
    return {
        "path": dv_file_path(table, descriptor),
        "offset": int(descriptor["offset"]),
        "size": int(descriptor["sizeInBytes"]),
        "cardinality": descriptor["cardinality"],
    }


def read_record(loc: dict) -> bytes:
    """The verified raw data (magic + bitmap) a locator names."""
    if "inline" in loc:
        return _check_magic(z85_decode(loc["inline"]))
    with open(loc["path"], "rb") as f:
        f.seek(loc["offset"])
        blob = f.read(loc["size"] + 8)
    return unframe_dv(blob, loc["size"])


def positions(loc: dict) -> "list[int]":
    """Decode a locator into its deleted positions, verifying size,
    CRC, magic and — when the locator states one — the cardinality
    (Delta's descriptor ``cardinality``, Iceberg's manifest-entry
    ``record_count``)."""
    out = deserialize_roaring64(read_record(loc)[4:])
    want = loc.get("cardinality")
    if want is not None and len(out) != int(want):
        raise ValueError(f"DV cardinality {len(out)} != descriptor {want}")
    return out


def read_dv(table: str, descriptor: dict) -> "list[int]":
    """Decode a Delta descriptor into its deleted-position list,
    verifying the magic, the CRC-32 and the cardinality."""
    return positions(locate(table, descriptor))
