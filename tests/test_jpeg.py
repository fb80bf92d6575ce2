"""Tests for the from-scratch baseline JPEG codec (`operators/jpeg.py`).

Two independence layers, to avoid the self-verification trap:

- **Hand-built byte streams**: minimal JPEGs assembled byte-by-byte in
  the tests from the public spec (markers, canonical Huffman codes
  derived by hand, DC-only scan data) — the decoder must produce the
  hand-computed pixel values. These pin the marker layout, canonical
  code construction, magnitude convention, dequantization and IDCT
  scaling without touching the encoder.
- **Round trips**: solid greys must be BIT-exact for every level (the
  mathematical argument in q174's header: zero chroma DC + luma DC
  quantization error < 0.5 grey level), textured images must clear a
  PSNR bar, and a synthetic 4:2:0 stream (written with the module's
  bit-writer but decoded through the generic MCU/upsampling path the
  encoder never produces) must reconstruct exactly.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from march_mania_spark_lakehouse_spark.operators import jpeg


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    return b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc_th]) \
        + bytes(bits) + bytes(vals)


def _dqt_segment(tid: int, table: np.ndarray) -> bytes:
    return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) \
        + bytes(int(v) for v in table[jpeg.ZIGZAG])


def _hand_jpeg_grey8x8(scan: bytes) -> bytes:
    """Minimal single-component 8×8 baseline JPEG around a hand-made
    entropy-coded segment."""
    return (
        b"\xff\xd8"
        + _dqt_segment(0, jpeg.QT_LUMA)
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
        + _dht_segment(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht_segment(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
        + b"\x00\x3f\x00"
        + scan
        + b"\xff\xd9"
    )


def test_hand_built_solid_128():
    """DC diff category 0 + EOB, all codes derived by hand from the
    Annex K tables: DC symbol 0 is canonical code '00' (2 bits), AC EOB
    is '1010' (4 bits); '001010' + 2 pad ones = 0x2B. Level shift means
    an all-zero block decodes to solid 128."""
    img = jpeg.decode(_hand_jpeg_grey8x8(b"\x2b"))
    assert img.shape == (8, 8)
    assert (img == 128).all()


def test_hand_built_solid_136():
    """Quantized DC = 4 (category 3, extra bits '100'; DC symbol 3 is
    canonical code '100'): bits '100'+'100'+'1010' + 6 pad ones =
    0x92 0xBF. Dequantized 4·16 = 64 → every pixel 64/8 + 128 = 136."""
    img = jpeg.decode(_hand_jpeg_grey8x8(b"\x92\xbf"))
    assert (img == 136).all()


def test_hand_built_negative_dc():
    """Quantized DC = -4: category 3, one's-complement extra bits '011';
    bits '100'+'011'+'1010' + pad = 0x8D 0x7F… wait: '1000111010' →
    10001110 10+6·1 = 0x8E 0xBF. Every pixel −64/8 + 128 = 120."""
    img = jpeg.decode(_hand_jpeg_grey8x8(b"\x8e\xbf"))
    assert (img == 120).all()


def test_hand_built_420_mcu_decodes_through_upsampling():
    """A 16×16 solid-grey 4:2:0 stream (2×2 luma sampling): one MCU of
    four Y blocks + Cb + Cr. The encoder never emits subsampled streams,
    so this pins the decoder's generic MCU walk + chroma upsampling.
    v=136 → luma DC diff 4 on the first block, 0 after; chroma DC 0."""
    w = jpeg._BitWriter()
    dc_l = jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    ac_l = jpeg._build_codes(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    dc_c = jpeg._build_codes(jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS)
    ac_c = jpeg._build_codes(jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS)

    def block(dc_diff, dc_t, ac_t):
        cat, extra = jpeg._magnitude(dc_diff)
        code, ln = dc_t[cat]
        w.write(code, ln)
        if cat:
            w.write(extra, cat)
        code, ln = ac_t[0x00]  # EOB
        w.write(code, ln)

    block(4, dc_l, ac_l)   # first Y block: DC 4 (dequant 64 → +8 grey)
    for _ in range(3):
        block(0, dc_l, ac_l)
    block(0, dc_c, ac_c)   # Cb
    block(0, dc_c, ac_c)   # Cr
    scan = w.flush()

    payload = (
        b"\xff\xd8"
        + _dqt_segment(0, jpeg.QT_LUMA)
        + _dqt_segment(1, jpeg.QT_CHROMA)
        + b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 16, 16, 3)
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
        + _dht_segment(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht_segment(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + _dht_segment(0x01, jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS)
        + _dht_segment(0x11, jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS)
        + b"\xff\xda" + struct.pack(">HB", 12, 3)
        + bytes([1, 0x00, 2, 0x11, 3, 0x11])
        + b"\x00\x3f\x00"
        + scan
        + b"\xff\xd9"
    )
    img = jpeg.decode(payload)
    assert img.shape == (16, 16, 3)
    assert (img == 136).all()


def _dc_only_grey_scan(dc_values: list[int], restart: int = 0) -> bytes:
    """Entropy data of DC-only 8×8 luma blocks (every AC band one EOB),
    with an RSTn marker after every ``restart`` blocks when set — the DC
    predictor restarts at 0 in each interval (T.81 F.1.1.5)."""
    dc_t = jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    ac_t = jpeg._build_codes(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    out, w, pred = b"", jpeg._BitWriter(), 0
    for i, dc in enumerate(dc_values):
        if restart and i and i % restart == 0:
            out += w.flush() + bytes([0xFF, 0xD0 + (i // restart - 1) % 8])
            w, pred = jpeg._BitWriter(), 0
        cat, extra = jpeg._magnitude(dc - pred)
        w.write(*dc_t[cat])
        if cat:
            w.write(extra, cat)
        w.write(*ac_t[0x00])
        pred = dc
    return out + w.flush()


def _grey_strip(n_blocks: int, scan: bytes, restart: int = 0) -> bytes:
    """A baseline 8×(8·n) greyscale JPEG around ``scan``."""
    dri = b"\xff\xdd" + struct.pack(">HH", 4, restart) if restart else b""
    return (
        b"\xff\xd8"
        + _dqt_segment(0, jpeg.QT_LUMA)
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8 * n_blocks, 1)
        + bytes([1, 0x11, 0])
        + _dht_segment(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht_segment(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + dri
        + b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
        + b"\x00\x3f\x00"
        + scan
        + b"\xff\xd9"
    )


@pytest.mark.parametrize("restart", [1, 2, 3])
def test_restart_intervals_reset_the_dc_predictor(restart):
    """DRI + RSTn markers: each interval's first DC is coded against 0.
    Dequantized DC d·16 lifts a block by 2·d grey levels."""
    dcs = [4, -4, 2, 0, 7, -1, 3]
    img = jpeg.decode(_grey_strip(len(dcs), _dc_only_grey_scan(dcs, restart), restart))
    assert img.shape == (8, 8 * len(dcs))
    for i, dc in enumerate(dcs):
        assert (img[:, 8 * i: 8 * i + 8] == 128 + 2 * dc).all(), (restart, i)


def test_truncated_scan_keeps_the_decoded_blocks():
    """Entropy data cut after the first two whole blocks: decode returns
    the full frame, with those two blocks intact."""
    scan = _dc_only_grey_scan([4, 4, -4, 4])
    assert len(scan) > 2
    img = jpeg.decode(_grey_strip(4, scan[:2]))  # '100100 1010' + '00 1010'
    assert img.shape == (8, 32)
    assert (img[:, :16] == 136).all()


def test_solid_grey_roundtrip_bit_exact_all_levels():
    """Solid grey RGB round trips are bit-exact for EVERY grey level —
    the property q174's value oracle rests on."""
    for v in range(256):
        px = np.full((12, 20, 3), v, dtype=np.uint8)
        dec = jpeg.decode(jpeg.encode(px, quality=85))
        assert dec.shape == (12, 20, 3)
        assert (dec == v).all(), f"grey {v} not exact"


def test_textured_roundtrip_psnr():
    yy, xx = np.mgrid[0:48, 0:40]
    grey = (128 + 100 * np.sin(yy / 9.0) * np.cos(xx / 11.0)).astype(np.uint8)
    rgb = np.stack([grey, 255 - grey, grey // 2], axis=-1).astype(np.uint8)
    # bounds sit ~5 dB under measured (50.0 / 45.2 dB at q85) so host
    # float variation can't flake them while a real regression (e.g.
    # the zigzag/quant mismatch this test once missed) still fails
    for img, min_db in ((grey, 45.0), (rgb, 40.0)):
        dec = jpeg.decode(jpeg.encode(img, quality=85))
        assert dec.shape == img.shape
        mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
        psnr = 10 * np.log10(255.0**2 / mse)
        assert psnr >= min_db, psnr
        # quality knob actually trades bytes for fidelity
    small = len(jpeg.encode(rgb, quality=30))
    big = len(jpeg.encode(rgb, quality=95))
    assert small < big


def test_non_multiple_of_8_dims():
    px = (np.arange(13 * 21 * 3) % 251).reshape(13, 21, 3).astype(np.uint8)
    dec = jpeg.decode(jpeg.encode(px, quality=95))
    assert dec.shape == (13, 21, 3)


def test_rejects_arithmetic_and_non_jpeg():
    with pytest.raises(ValueError):
        jpeg.decode(b"BM not a jpeg")
    # minimal stream whose first real marker is SOF9 (arithmetic coding)
    arith = b"\xff\xd8\xff\xc9" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) \
        + bytes([1, 0x11, 0])
    with pytest.raises(NotImplementedError):
        jpeg.decode(arith)


def test_progressive_roundtrip_matches_baseline():
    """decode(encode_progressive(px)) must be BIT-IDENTICAL to
    decode(encode(px)): both encoders emit the same quantized
    coefficients, so any difference is a progressive scan-ladder bug
    (DC/AC successive approximation, EOB runs, refinement correction
    bits). Random sweep per the codec-testing lesson: targeted vectors
    alone can pass on consistently-wrong pipelines."""
    rng = np.random.default_rng(7)
    for trial in range(12):
        if trial % 3 == 0:
            shape = (int(rng.integers(9, 70)), int(rng.integers(9, 70)))
        else:
            shape = (int(rng.integers(9, 70)), int(rng.integers(9, 70)), 3)
        if trial % 3 == 2:  # smooth content (long EOB runs)
            yy, xx = np.mgrid[0: shape[0], 0: shape[1]]
            px = np.stack(
                [(yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256],
                axis=-1,
            ).astype(np.uint8)
        else:  # noise (dense refinement corrections)
            px = rng.integers(0, 256, shape, dtype=np.uint8)
        q = int(rng.choice([35, 60, 85, 95]))
        base = jpeg.decode(jpeg.encode(px, q))
        prog = jpeg.decode(jpeg.encode_progressive(px, q))
        assert np.array_equal(base, prog), (trial, shape, q)


def test_progressive_flat_image_exercises_long_eob_runs():
    """A flat 128×128 RGB image leaves every AC band empty — the EOB run
    spans all 256 blocks per scan, forcing EOBn symbols with extension
    bits (run > 2^7) through both encoder and decoder."""
    px = np.full((128, 128, 3), 137, dtype=np.uint8)
    assert np.array_equal(
        jpeg.decode(jpeg.encode(px, 85)),
        jpeg.decode(jpeg.encode_progressive(px, 85)),
    )


def test_progressive_sparse_impulses_exercise_zrl_refinement():
    """Isolated bright pixels on a flat field create blocks whose only
    AC energy sits deep in the band — long zero runs before significant
    coefficients drive the ZRL path in both the first-pass and the
    refinement scans."""
    rng = np.random.default_rng(3)
    px = np.full((96, 96), 128, dtype=np.uint8)
    ys, xs = rng.integers(0, 96, 40), rng.integers(0, 96, 40)
    px[ys, xs] = 255
    assert np.array_equal(
        jpeg.decode(jpeg.encode(px, 95)),
        jpeg.decode(jpeg.encode_progressive(px, 95)),
    )


def test_decode_real_dispatches_jpeg():
    from march_mania_spark_lakehouse_spark.operators.multimodal import decode_real

    px = np.full((16, 16, 3), 90, dtype=np.uint8)
    fmt, w, h, feat = decode_real(jpeg.encode(px, quality=85))
    assert (fmt, w, h) == ("jpeg", 16, 16)
    assert feat.shape == (8,)
    assert np.allclose(feat, 90.0 / 255.0, atol=1e-3)


def test_resize_real_accepts_jpeg(spark):
    from march_mania_spark_lakehouse_spark.operators.multimodal import (
        decode_bmp,
        resize_image_real,
    )

    px = np.zeros((32, 32, 3), dtype=np.uint8)
    px[:16] = 200  # top half bright
    df = spark.createDataFrame(
        [(1, bytearray(jpeg.encode(px, quality=90)))],
        "media_id long, payload binary",
    )
    row = resize_image_real(df, target_w=8, target_h=8).collect()[0]
    out = decode_bmp(bytes(row["payload"]))
    assert out.shape == (8, 8, 3)
    assert out[:4].mean() > 150 and out[4:].mean() < 50


def test_property_random_images_roundtrip():
    """Property sweep (no Spark, so examples are cheap): random dims and
    content — PNG must be bit-exact always; JPEG must decode to the
    right shape, and at quality 95 stay within a generous error bound
    even on white-noise content (the hardest case for a DCT codec)."""
    from march_mania_spark_lakehouse_spark.operators import png

    rng = np.random.default_rng(42)
    for _ in range(12):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        channels = rng.choice([0, 3, 4])
        shape = (h, w) if channels == 0 else (h, w, int(channels))
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)

        assert (png.decode(png.encode(px)) == px).all(), f"png {shape}"

        if channels != 4:  # jpeg has no alpha
            dec = jpeg.decode(jpeg.encode(px, quality=95))
            assert dec.shape == px.shape, f"jpeg {shape}"
            err = np.abs(dec.astype(float) - px.astype(float)).mean()
            assert err < 8.0, (shape, err)  # white noise, still bounded


def _encode_corpus():
    """Encoder inputs whose output bytes are pinned by digest: q174's
    solid greys at q174's per-doc dims, q174's 24×24 texture, seeded
    random greyscale/RGB images of odd sizes at several qualities, and
    progressive streams of noise and smooth content."""
    for doc_id in range(256):
        w, h = 8 + doc_id % 16, 8 + (doc_id * 7) % 16
        yield jpeg.encode(np.full((h, w, 3), doc_id, dtype=np.uint8), quality=85)
    yy, xx = np.mgrid[0:24, 0:24]
    tx = (128 + 90 * np.sin(yy / 7.0) * np.cos(xx / 9.0)).astype(np.uint8)
    yield jpeg.encode(np.stack([tx] * 3, -1), 85)
    rng = np.random.default_rng(8)
    for i in range(50):
        h, w = (2 * int(v) + 1 for v in rng.integers(2, 20, 2))
        shape = (h, w) if i % 2 == 0 else (h, w, 3)
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        yield jpeg.encode(px, int(rng.choice([30, 60, 85, 95])))
    for i in range(10):
        h, w = (int(v) for v in rng.integers(9, 40, 2))
        if i % 2:
            yy, xx = np.mgrid[0:h, 0:w]
            px = np.stack([(yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256],
                          axis=-1).astype(np.uint8)
        else:
            px = rng.integers(0, 256, (h, w), dtype=np.uint8)
        yield jpeg.encode_progressive(px, int(rng.choice([35, 60, 85, 95])))


def test_encoded_bytes_are_pinned():
    """The encoders' output bytes for a fixed corpus hash to a committed
    digest, so a speed change to the DCT, quantizer or entropy coder
    that alters one bit of any stream fails here."""
    import hashlib

    digest = hashlib.sha256()
    n = 0
    for payload in _encode_corpus():
        digest.update(len(payload).to_bytes(8, "big") + payload)
        n += 1
    assert n == 317
    assert digest.hexdigest() == (
        "b6d734ee95a756ccfc7747a5b716e0fef67d3183484f8068fb9734af984e0e39"
    )
