"""Baseline JPEG codec in pure numpy + stdlib — no external libraries.

Closes the last stubbed media format in `operators/multimodal.py`
(JPEG previously raised NotImplementedError because the container ships
no codec libraries): a from-scratch implementation of ITU-T T.81
baseline sequential JPEG, the public spec every real-world JPEG reader
implements.

Scope (honest about what it is):

- **Encoder**: 8-bit greyscale or RGB, 4:4:4 (no chroma subsampling),
  JFIF APP0, Annex K.1/K.2 quantization tables scaled by ``quality``
  (the libjpeg 1–100 convention), Annex K.3 standard Huffman tables.
  ``encode_progressive`` emits the same quantized coefficients as a
  SOF2 scan ladder (spectral selection + successive approximation with
  EOB-run batching) for progressive-decoder fixtures.
- **Decoder**: baseline sequential (SOF0/1) DCT AND progressive (SOF2,
  T.81 G.2: per-band Ss..Se scans, Ah/Al successive approximation, EOB
  runs, AC refinement correction bits), 1–4 components, any sampling
  factors ≤ 2×2 (so 4:4:4, 4:2:2 and 4:2:0 streams decode), restart
  markers (DRI/RSTn), 0xFF00 byte-unstuffing. Arithmetic coding,
  hierarchical mode and 12-bit precision raise NotImplementedError —
  they are different entropy pipelines, not missing constants.

The DCT is the exact orthonormal form (F = C·B·Cᵀ with the c(0)=1/√2
normalization), so forward/inverse are broadcast matrix products over
all blocks at once, and both decode modes reconstruct in that one pass.
The only per-symbol Python loop is Huffman entropy coding, which is
irreducibly sequential: one table lookup per decoded symbol, code
tables built once per process.

Speed posture: a correctness/plumbing codec for the media pipeline's
decode slot (schema, batching, dispatch). An encode + decode round trip
of one q174 document (8–23 px solid RGB) takes ~0.4 ms on a 4-CPU x86
host, against ~1.1 ms with a per-block IDCT and a bit-at-a-time code
walk; a production cluster would swap in libjpeg-turbo behind the same
`decode(payload)` signature.
"""

from __future__ import annotations

import array
import functools
import struct

import numpy as np

# --------------------------------------------------------------------------
# Constants from the public spec (ITU-T T.81 Annex K)
# --------------------------------------------------------------------------

#: zig-zag scan order: index i of the scan holds flat position ZIGZAG[i]
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: K.1 luminance quantization table (natural row-major order)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

#: K.2 chrominance quantization table
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

#: orthonormal 8-point DCT-II matrix: F = C · block · Cᵀ is exactly the
#: JPEG FDCT, and C is orthogonal so the IDCT is Cᵀ · F · C.
_C = np.zeros((8, 8))
for _u in range(8):
    _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


# --------------------------------------------------------------------------
# Canonical Huffman code construction (T.81 Annex C) — shared by both
# directions: codes are assigned in value order, shorter lengths first.
# --------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length). Cached per table: callers share the
    returned dict and must not mutate it."""
    return _canonical_codes(bytes(bits), bytes(vals))


@functools.lru_cache(maxsize=64)
def _canonical_codes(bits: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@functools.lru_cache(maxsize=64)
def _lookup_table(bits: bytes, vals: bytes) -> array.array:
    """Decode table indexed by the next 16 bits of the stream: entry
    ``(symbol << 5) | length`` for the code those bits start with, 0 where
    no code matches. One lookup replaces a bit-at-a-time code walk."""
    table = array.array("H", bytes(2 << 16))
    for sym, (code, length) in _canonical_codes(bits, vals).items():
        lo = code << (16 - length)
        table[lo: lo + (1 << (16 - length))] = array.array(
            "H", [(sym << 5) | length]
        ) * (1 << (16 - length))
    return table


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality → scaling convention (public, in every codec)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255)


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) for a DC diff / AC coefficient —
    negative values use the one's-complement convention (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    cat = int(v if v > 0 else -v).bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _fdct_quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """All 8×8 blocks of a padded plane → quantized zig-zag coefficient
    rows, vectorized: (n_blocks_y, n_blocks_x, 64) int32."""
    h, w = plane.shape
    by, bx = h // 8, w // 8
    blocks = plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).astype(np.float64)
    blocks -= 128.0
    qt = qt.reshape(8, 8)
    scaled = (_C @ blocks @ _C.T) / qt
    # The matmul and the three-operand einsum below sum in different
    # orders, so they differ in the last bits. That changes a quantized
    # value only on an exact .5 tie, which integer-valued planes hit at
    # the DC and the (0,4)/(4,0)/(4,4) positions; a plane with any value
    # near a tie quantizes from the einsum, so the encoded bytes do not
    # depend on which form ran.
    if (np.abs(np.abs(scaled) % 1.0 - 0.5) < 1e-6).any():
        scaled = np.einsum("ux,abxy,vy->abuv", _C, blocks, _C) / qt
    q = np.round(scaled).astype(np.int32)
    return q.reshape(by, bx, 64)[:, :, ZIGZAG]


def _encode_block(w: _BitWriter, zz: list[int], last_nz: int, dc_pred: int,
                  dc_codes, ac_codes) -> int:
    dc = zz[0]
    cat, extra = _magnitude(dc - dc_pred)
    code, ln = dc_codes[cat]
    w.write(code, ln)
    if cat:
        w.write(extra, cat)
    run = 0
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            if run == 16:
                code, ln = ac_codes[0xF0]  # ZRL
                w.write(code, ln)
                run = 0
            continue
        cat, extra = _magnitude(v)
        code, ln = ac_codes[(run << 4) | cat]
        w.write(code, ln)
        w.write(extra, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
    return dc


def _pad_to_8(plane: np.ndarray) -> np.ndarray:
    """Edge-replicate a plane up to whole 8×8 blocks."""
    h, w = plane.shape
    rows = np.minimum(np.arange(h + -h % 8), h - 1)
    cols = np.minimum(np.arange(w + -w % 8), w - 1)
    return plane[rows[:, None], cols]


def _frame(pixels: np.ndarray, quality: int,
           sof: int) -> tuple[bytearray, list[np.ndarray], list[int]]:
    """The part both encoders share: colour-convert (RGB → YCbCr),
    quantize every plane, and write SOI, APP0, DQT and a 4:4:4 SOFn.
    Returns those bytes, the (by, bx, 64) zig-zag planes and each
    component's quantization/Huffman table id."""
    h, w = pixels.shape[:2]
    if pixels.ndim == 2:
        planes = [pixels.astype(np.float64)]
        qts = [_quality_scale(QT_LUMA, quality)]
        table_ids = [0]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        qts = [_quality_scale(QT_LUMA, quality),
               _quality_scale(QT_CHROMA, quality)]
        table_ids = [0, 1, 1]
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"  # APP0
    for tid, qt in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) \
            + qt[ZIGZAG].astype(np.uint8).tobytes()
    n_comp = len(planes)
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w, n_comp)
    for ci in range(n_comp):
        out += bytes([ci + 1, 0x11, table_ids[ci]])  # 4:4:4: h=v=1
    zz_planes = [
        _fdct_quant(_pad_to_8(p), qts[table_ids[ci]])
        for ci, p in enumerate(planes)
    ]
    return out, zz_planes, table_ids


def _dht(specs: list[tuple[int, list[int], list[int]]]) -> bytes:
    """DHT segments for (Tc<<4 | Th, BITS, HUFFVAL) table specs."""
    return b"".join(
        b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc_th])
        + bytes(bits) + bytes(vals)
        for tc_th, bits, vals in specs
    )


def encode(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Encode an (h, w) greyscale or (h, w, 3) RGB uint8 array as a
    baseline JFIF JPEG (4:4:4, standard tables)."""
    out, zz_planes, table_ids = _frame(pixels, quality, 0xC0)
    n_comp = len(zz_planes)
    specs = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
             (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS), (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    specs = specs[:2 if n_comp == 1 else 4]
    out += _dht(specs)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * n_comp, n_comp)
    for ci in range(n_comp):
        out += bytes([ci + 1, 0x11 * table_ids[ci]])  # DC and AC table ids
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    codes = {tc_th: _build_codes(bits, vals) for tc_th, bits, vals in specs}
    rows = [z.tolist() for z in zz_planes]
    # zig-zag index of each block's last nonzero AC coefficient (0: none)
    nzs = [z[..., :0:-1] != 0 for z in zz_planes]
    lasts = [np.where(nz.any(-1), 63 - nz.argmax(-1), 0).tolist() for nz in nzs]
    bw = _BitWriter()
    preds = [0] * n_comp
    by, bx = zz_planes[0].shape[:2]
    for yb in range(by):
        for xb in range(bx):
            for ci in range(n_comp):  # 4:4:4 MCU = one block per comp
                preds[ci] = _encode_block(
                    bw, rows[ci][yb][xb], lasts[ci][yb][xb], preds[ci],
                    codes[table_ids[ci]], codes[0x10 | table_ids[ci]],
                )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _uniform_ac_table() -> tuple[list[int], list[int]]:
    """An AC Huffman table that can code every progressive-scan symbol:
    EOBn (r<<4 for r=0..14), ZRL (0xF0) and all (run,size) pairs with
    size 1..10 — 176 symbols, all at 8-bit canonical codes (Kraft sum
    176/256 < 1; the last code, 175, keeps the all-ones word unused as
    T.81 requires). The standard AC tables lack the EOBn symbols, so
    progressive scans define this one instead; fixtures are tiny, so the
    flat 8-bit cost is irrelevant next to exercising real EOB runs."""
    syms = sorted(
        {r << 4 for r in range(15)}
        | {0xF0}
        | {(r << 4) | s for r in range(16) for s in range(1, 11)}
    )
    bits = [0] * 16
    bits[7] = len(syms)  # all codes 8 bits long
    return bits, syms


class _ProgressiveACWriter:
    """Shared EOB-run state for one progressive AC scan: first-pass
    scans batch end-of-band runs (EOBn = 2^r + ext bits); refinement
    scans additionally buffer correction bits that must be emitted after
    the EOBn symbol that closes the run (T.81 G.1.2.3 encode side)."""

    def __init__(self, w: _BitWriter, codes: dict) -> None:
        self.w = w
        self.codes = codes
        self.eobrun = 0
        self.pending: list[int] = []  # buffered correction bits

    def emit_symbol(self, sym: int) -> None:
        code, ln = self.codes[sym]
        self.w.write(code, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.emit_symbol(r << 4)
            if r:
                self.w.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for bit in self.pending:
            self.w.write(bit, 1)
        self.pending = []

    def add_eob(self, correction_bits: list[int]) -> None:
        self.eobrun += 1
        self.pending.extend(correction_bits)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def encode_progressive(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Encode an (h, w) greyscale or (h, w, 3) RGB uint8 array as a
    progressive (SOF2) JFIF JPEG — 4:4:4, the same quantized
    coefficients as :func:`encode`, delivered over a scan ladder that
    exercises every progressive feature: interleaved DC first scan with
    successive approximation (Al=1), split spectral-selection AC first
    scans (1..5, 6..63 at Al=1), per-band AC refinement scans (Ah=1,
    Al=0, with EOB-run-buffered correction bits), and a final DC
    refinement scan. decode() of this stream is bit-identical to
    decode() of the baseline stream for the same pixels/quality, which
    is the round-trip contract the tests pin."""
    out, zz_planes, table_ids = _frame(pixels, quality, 0xC2)
    n_comp = len(zz_planes)
    ac_bits, ac_vals = _uniform_ac_table()
    dc_specs = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
                (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS)][: 1 if n_comp == 1 else 2]
    out += _dht([*dc_specs, (0x10, ac_bits, ac_vals)])

    dc_codes = [_build_codes(bits, vals) for _, bits, vals in dc_specs]
    ac_codes = _build_codes(ac_bits, ac_vals)
    by, bx = zz_planes[0].shape[:2]

    def sos_header(comp_ids: list[int], dc_tab: bool,
                   ss: int, se: int, ah: int, al: int) -> bytes:
        hdr = struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids))
        for cid in comp_ids:
            td = table_ids[cid - 1] if dc_tab else 0
            hdr += bytes([cid, (td << 4) if dc_tab else td])
        return b"\xff\xda" + hdr + bytes([ss, se, (ah << 4) | al])

    # ---- scan 1: DC first, interleaved, Al=1 --------------------------
    out += sos_header(list(range(1, n_comp + 1)), True, 0, 0, 0, 1)
    bw_ = _BitWriter()
    preds = [0] * n_comp
    for yb in range(by):
        for xb in range(bx):
            for ci in range(n_comp):
                dc = int(zz_planes[ci][yb, xb, 0]) >> 1  # point transform
                cat, extra = _magnitude(dc - preds[ci])
                code, ln = dc_codes[table_ids[ci]][cat]
                bw_.write(code, ln)
                if cat:
                    bw_.write(extra, cat)
                preds[ci] = dc
    out += bw_.flush()

    # ---- AC first scans per component: bands 1..5 and 6..63, Al=1 -----
    for ci in range(n_comp):
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([ci + 1], False, ss, se, 0, 1)
            bw_ = _BitWriter()
            pw = _ProgressiveACWriter(bw_, ac_codes)
            for yb in range(by):
                for xb in range(bx):
                    blk = zz_planes[ci][yb, xb]
                    t = [
                        (1 if blk[k] >= 0 else -1) * (abs(int(blk[k])) >> 1)
                        for k in range(ss, se + 1)
                    ]
                    nz = [i for i, v in enumerate(t) if v]
                    if not nz:
                        pw.add_eob([])
                        continue
                    pw.flush_eobrun()
                    run = 0
                    for i in range(nz[-1] + 1):
                        if t[i] == 0:
                            run += 1
                            continue
                        while run > 15:
                            pw.emit_symbol(0xF0)
                            run -= 16
                        cat, extra = _magnitude(t[i])
                        pw.emit_symbol((run << 4) | cat)
                        bw_.write(extra, cat)
                        run = 0
                    if nz[-1] < se - ss:
                        pw.add_eob([])
            pw.flush_eobrun()
            out += bw_.flush()

    # ---- AC refinement scans per component: band 1..63, Ah=1 Al=0 -----
    for ci in range(n_comp):
        out += sos_header([ci + 1], False, 1, 63, 1, 0)
        bw_ = _BitWriter()
        pw = _ProgressiveACWriter(bw_, ac_codes)
        for yb in range(by):
            for xb in range(bx):
                blk = zz_planes[ci][yb, xb]
                absv = [abs(int(blk[k])) for k in range(1, 64)]
                # last newly-significant position (history |c|>>1 == 0)
                eob_pos = max(
                    (i for i, v in enumerate(absv) if v == 1), default=-1
                )
                run = 0
                corrections: list[int] = []
                for i, v in enumerate(absv):
                    if v == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eob_pos:
                        pw.flush_eobrun()
                        pw.emit_symbol(0xF0)
                        for bit in corrections:
                            bw_.write(bit, 1)
                        corrections = []
                        run -= 16
                    if v > 1:  # history-nonzero: buffer correction bit
                        corrections.append(v & 1)
                        continue
                    pw.flush_eobrun()
                    pw.emit_symbol((run << 4) | 1)
                    bw_.write(1 if blk[i + 1] >= 0 else 0, 1)
                    for bit in corrections:
                        bw_.write(bit, 1)
                    corrections = []
                    run = 0
                if run > 0 or corrections:
                    pw.add_eob(corrections)
        pw.flush_eobrun()
        out += bw_.flush()

    # ---- final scan: DC refinement, interleaved, Ah=1 Al=0 ------------
    out += sos_header(list(range(1, n_comp + 1)), True, 0, 0, 1, 0)
    bw_ = _BitWriter()
    for yb in range(by):
        for xb in range(bx):
            for ci in range(n_comp):
                bw_.write(int(zz_planes[ci][yb, xb, 0]) & 1, 1)
    out += bw_.flush()
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _BitReader:
    """Reads the entropy-coded segment with 0xFF00 unstuffing. At a
    marker it shifts in zero bits instead, so a 16-bit lookahead may run
    past the last code; consuming a pad bit raises _RestartMarker (RSTn)
    or _SegmentEnd (any other marker), where an on-demand reader would."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.pad = 0  # zero bits shifted in past the marker (low end of acc)
        self.marker: int | None = None

    def fill(self) -> None:
        data, pos = self.data, self.pos
        if self.marker is None and data[pos] == 0xFF and data[pos + 1]:
            self.marker = data[pos + 1]
        if self.marker is None:
            self.pos += 2 if data[pos] == 0xFF else 1  # 0xFF00 is a stuffed 0xFF
            self.acc = (self.acc << 8) | data[pos]
        else:
            self.acc <<= 8
            self.pad += 8
        self.n += 8

    def past_marker(self) -> Exception:
        m = self.marker
        return _RestartMarker(m) if 0xD0 <= m <= 0xD7 else _SegmentEnd()

    def take(self, k: int) -> None:
        """Consume the next k bits."""
        self.n -= k
        if self.n < self.pad:
            raise self.past_marker()
        self.acc &= (1 << self.n) - 1

    def bits(self, k: int) -> int:
        while self.n < k:
            self.fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.take(k)
        return v

    def align(self) -> None:
        self.acc = 0
        self.n = 0
        self.pad = 0
        self.marker = None

    def skip_restart(self) -> None:
        assert self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _SegmentEnd(Exception):
    pass


def _read_symbol(br: _BitReader, table: array.array) -> int:
    """Next Huffman symbol, found by one lookup on the next 16 bits."""
    while br.n < 16:
        br.fill()
    entry = table[(br.acc >> (br.n - 16)) & 0xFFFF]
    if not entry:
        if br.n - 16 < br.pad:  # no code ends before the marker
            raise br.past_marker()
        raise ValueError("invalid Huffman code in entropy stream")
    br.take(entry & 0x1F)
    return entry >> 5


def _extend(v: int, cat: int) -> int:
    """Undo the one's-complement magnitude convention (T.81 F.2.2.1)."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode(payload: bytes) -> np.ndarray:
    """Decode a baseline sequential (SOF0/1) or progressive (SOF2) JPEG
    to (h, w) greyscale or (h, w, 3) RGB uint8. Raises
    NotImplementedError for arithmetic-coded / hierarchical / 12-bit
    streams and ValueError for non-JPEG input.

    Both modes fill per-block coefficient arrays and reconstruct them
    in one vectorized pass: a baseline stream after its one scan, a
    progressive stream at EOI, after accumulating coefficient state
    across scans (spectral selection Ss..Se, successive approximation
    Ah/Al per T.81 G.2)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], array.array] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    coeffs: list[np.ndarray] = []  # per comp: (bh, bw, 64) zig-zag order
    saw_scan = False
    pos = 2
    while True:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            if progressive and saw_scan:
                return _reconstruct(coeffs, comps, qts, h, w)
            raise ValueError("no scan data")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2: pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(body[i + 1: i + 65], dtype=np.uint8)
                qts[tq] = tbl
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = body[i + 1: i + 17]
                n_vals = sum(bits)
                vals = body[i + 17: i + 17 + n_vals]
                huff[(tc, th)] = _lookup_table(bits, vals)
                i += 17 + n_vals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            precision, h, w, n_comp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError(f"{precision}-bit precision")
            for ci in range(n_comp):
                cid, hv, tq = body[6 + 3 * ci: 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            if any(c["h"] > 2 or c["v"] > 2 for c in comps):
                raise NotImplementedError("sampling factors > 2")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coeffs = [np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
                      for c in comps]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0/1) and progressive (SOF2) are supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — scan follows
            n_scan = body[0]
            scan_map = {}
            for si in range(n_scan):
                cid, tables = body[1 + 2 * si], body[2 + 2 * si]
                scan_map[cid] = (tables >> 4, tables & 0x0F)
            if not progressive:
                _decode_scan(payload, pos + seg_len, comps, scan_map, huff,
                             coeffs, restart_interval)
                return _reconstruct(coeffs, comps, qts, h, w)
            ss, se = body[1 + 2 * n_scan], body[2 + 2 * n_scan]
            ahal = body[3 + 2 * n_scan]
            ah, al = ahal >> 4, ahal & 0x0F
            scan_ids = [body[1 + 2 * si] for si in range(n_scan)]
            pos = _decode_progressive_scan(
                payload, pos + seg_len, h, w, comps, scan_ids, scan_map,
                huff, coeffs, ss, se, ah, al, restart_interval,
            )
            saw_scan = True
            continue
        pos += seg_len


def _comp_block_dims(c: dict, comps: list[dict], h: int, w: int) -> tuple[int, int]:
    """Non-interleaved block grid of one component: ceil(scaled size / 8)
    per T.81 A.1.1 (NOT padded to the MCU multiple)."""
    hmax = max(x["h"] for x in comps)
    vmax = max(x["v"] for x in comps)
    cw = -(-w * c["h"] // hmax)
    ch = -(-h * c["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _decode_progressive_scan(
    data, pos, h, w, comps, scan_ids, scan_map, huff, coeffs,
    ss, se, ah, al, restart_interval,
):
    """One progressive scan (T.81 G.2): DC scans (Ss=0) may be
    interleaved across components; AC scans cover one component's band
    Ss..Se. Ah=0 scans establish coefficients at precision Al; Ah>0
    scans refine one bit (DC: two's-complement OR; AC: magnitude growth
    with correction bits, the G.1.2.3 algorithm). Updates ``coeffs`` in
    place and returns the stream position after the scan's entropy data."""
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    mcuy = coeffs[0].shape[0] // comps[0]["v"]
    mcux = coeffs[0].shape[1] // comps[0]["h"]
    br = _BitReader(data, pos)
    state = {"eobrun": 0, "preds": [0] * len(comps), "mcu": 0}

    def check_restart():
        if restart_interval and state["mcu"] == restart_interval:
            br.align()
            br.skip_restart()
            state["preds"] = [0] * len(comps)
            state["eobrun"] = 0
            state["mcu"] = 0

    def dc_block(ci, byi, bxi):
        blk = coeffs[ci][byi, bxi]
        if ah == 0:
            dc_t = huff[(0, scan_map[comps[ci]["id"]][0])]
            cat = _read_symbol(br, dc_t)
            diff = _extend(br.bits(cat), cat) if cat else 0
            state["preds"][ci] += diff
            blk[0] = state["preds"][ci] << al
        else:
            if br.bits(1):
                blk[0] |= 1 << al

    try:
        if ss == 0:  # DC scan
            if len(scan_ids) > 1:  # interleaved MCU order
                for my in range(mcuy):
                    for mx in range(mcux):
                        check_restart()
                        for cid in scan_ids:
                            ci = by_id[cid]
                            c = comps[ci]
                            for vy in range(c["v"]):
                                for vx in range(c["h"]):
                                    dc_block(
                                        ci, my * c["v"] + vy, mx * c["h"] + vx
                                    )
                        state["mcu"] += 1
            else:
                ci = by_id[scan_ids[0]]
                bh, bw = _comp_block_dims(comps[ci], comps, h, w)
                for byi in range(bh):
                    for bxi in range(bw):
                        check_restart()
                        dc_block(ci, byi, bxi)
                        state["mcu"] += 1
        else:  # AC scan: single component, band ss..se
            ci = by_id[scan_ids[0]]
            ac_t = huff[(1, scan_map[scan_ids[0]][1])]
            bh, bw = _comp_block_dims(comps[ci], comps, h, w)
            p1, m1 = 1 << al, -1 << al
            for byi in range(bh):
                for bxi in range(bw):
                    check_restart()
                    blk = coeffs[ci][byi, bxi]
                    if ah == 0:  # first pass for this band/bit
                        if state["eobrun"] > 0:
                            state["eobrun"] -= 1
                        else:
                            k = ss
                            while k <= se:
                                rs = _read_symbol(br, ac_t)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    state["eobrun"] = (1 << r) - 1
                                    if r:
                                        state["eobrun"] += br.bits(r)
                                    break
                                k += r
                                blk[k] = _extend(br.bits(s), s) << al
                                k += 1
                    else:  # refinement pass (T.81 G.1.2.3)
                        k = ss
                        if state["eobrun"] == 0:
                            while k <= se:
                                rs = _read_symbol(br, ac_t)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r < 15:
                                        state["eobrun"] = (1 << r)
                                        if r:
                                            state["eobrun"] += br.bits(r)
                                        break  # tail corrected below
                                    newval = 0  # ZRL: skip 16 zero-history
                                else:
                                    # newly-significant coefficient: ±1<<al
                                    newval = p1 if br.bits(1) else m1
                                # advance past r zero-history coefficients,
                                # correcting nonzero-history ones en route
                                while k <= se:
                                    if blk[k] != 0:
                                        if br.bits(1) and not (blk[k] & p1):
                                            blk[k] += p1 if blk[k] > 0 else m1
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if s and k <= se:
                                    blk[k] = newval
                                k += 1
                        if state["eobrun"] > 0:
                            # EOB run covers this block: correction bits
                            # for the remaining nonzero coefficients
                            while k <= se:
                                if blk[k] != 0 and br.bits(1) and not (blk[k] & p1):
                                    blk[k] += p1 if blk[k] > 0 else m1
                                k += 1
                            state["eobrun"] -= 1
                    state["mcu"] += 1
    except _SegmentEnd:
        pass  # truncated scan: keep what was accumulated
    # skip to the next marker (tolerate pad bits / stuffing / restarts)
    p = br.pos
    while True:
        if data[p] == 0xFF and data[p + 1] != 0x00:
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1


def _reconstruct(coeffs, comps, qts, h, w) -> np.ndarray:
    """Dequantize + IDCT every block (vectorized), upsample to the MCU
    grid, crop and color-convert — the shared tail of baseline and
    progressive decoding."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        zz = coeffs[ci].astype(np.float64)
        qt = qts[c["tq"]].astype(np.float64)
        # zz[..., i] is the coefficient for NATURAL position ZIGZAG[i]; its
        # quant step is the natural-order table at that same position.
        nat = np.zeros_like(zz)
        nat[..., ZIGZAG] = zz * qt[ZIGZAG]
        by, bx = nat.shape[:2]
        spatial = _C.T @ nat.reshape(by, bx, 8, 8) @ _C + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        if c["h"] < hmax:
            plane = np.repeat(plane, hmax // c["h"], axis=1)
        if c["v"] < vmax:
            plane = np.repeat(plane, vmax // c["v"], axis=0)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    if len(full) != 3:
        raise NotImplementedError(f"{len(full)}-component JPEG")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_scan(data, pos, comps, scan_map, huff, coeffs,
                 restart_interval) -> None:
    """The one scan of a baseline stream (all components interleaved):
    entropy-decode every block in MCU order into ``coeffs``, the
    per-component (by, bx, 64) zig-zag arrays ``_reconstruct`` turns into
    pixels. A truncated scan leaves the blocks it did not finish at
    zero, i.e. neutral grey."""
    mcuy = coeffs[0].shape[0] // comps[0]["v"]
    mcux = coeffs[0].shape[1] // comps[0]["h"]
    # decoded coefficients as (flat index into coeffs[ci], value) lists
    at: list[list[int]] = [[] for _ in comps]
    val: list[list[int]] = [[] for _ in comps]
    tabs = [
        (huff[(0, scan_map[c["id"]][0])], huff[(1, scan_map[c["id"]][1])])
        for c in comps
    ]
    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    ci = mark = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count == restart_interval:
                    br.align()
                    br.skip_restart()
                    preds = [0] * len(comps)
                    mcu_count = 0
                for ci, c in enumerate(comps):
                    dc_t, ac_t = tabs[ci]
                    ats, vals = at[ci], val[ci]
                    row = coeffs[ci].shape[1] * 64
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            mark = len(ats)
                            base = (my * c["v"] + by) * row + (mx * c["h"] + bx) * 64
                            cat = _read_symbol(br, dc_t)
                            if cat:
                                preds[ci] += _extend(br.bits(cat), cat)
                            ats.append(base)
                            vals.append(preds[ci])
                            k = 1
                            while k < 64:
                                rs = _read_symbol(br, ac_t)
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError("AC run past the end of a block")
                                cat = rs & 0x0F
                                ats.append(base + k)
                                vals.append(_extend(br.bits(cat), cat))
                                k += 1
                mcu_count += 1
    except _SegmentEnd:
        del at[ci][mark:], val[ci][mark:]  # drop the unfinished block
    for cf, ats, vals in zip(coeffs, at, val):
        cf.reshape(-1)[ats] = vals
