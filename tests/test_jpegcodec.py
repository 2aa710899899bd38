"""JPEG codec tests (baseline + progressive).

The decoder is pinned three independent ways:

1. **Analytic fixtures**: tests below hand-assemble JPEG byte streams
   with their OWN spelling of the marker segments and Huffman tables
   (not the codec's constants), containing DC-only blocks whose decoded
   pixel values have closed form: a block with quantized DC coefficient
   ``d`` and quant step ``q`` decodes to the flat value
   ``clip(round(d·q/8) + 128)`` (orthonormal IDCT of a DC-only block is
   constant ``DC/8`` before level shift). Covers 4:4:4 colour, 4:2:0
   subsampling, grayscale and restart intervals.
2. **Roundtrip at PSNR tolerance**: encode→decode on gradients/noise
   (JPEG is lossy; Annex K at q85-90 keeps smooth content within a few
   counts/pixel).
3. **Progressive ↔ baseline equivalence**: entropy coding is lossless
   over quantized coefficients, so decoding the SOF2 scan script must
   be bit-identical to decoding the baseline stream of the same
   image; real-world progressive files decode with pinned statistics.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from nyc_taxi_etl_spark.operators.jpegcodec import decode_jpeg, encode_jpeg


# ---------------------------------------------------------------------------
# Hand-built fixture machinery (independent of the codec's tables)
# ---------------------------------------------------------------------------

# Minimal custom Huffman spec used by the analytic fixtures:
#   DC table: symbols 0..5 at code lengths 3 (canonical: 000,001,...)
#   AC table: single symbol 0x00 (EOB) with 1-bit code "0"
_DC_BITS = [0, 0, 6] + [0] * 13
_DC_VALS = [0, 1, 2, 3, 4, 5]
_AC_BITS = [1] + [0] * 15
_AC_VALS = [0x00]


class _Bits:
    def __init__(self):
        self.bits = []

    def put(self, code: str):
        self.bits.extend(int(c) for c in code)

    def bytes(self) -> bytes:
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        # byte-stuff
        stuffed = bytearray()
        for b in out:
            stuffed.append(b)
            if b == 0xFF:
                stuffed.append(0x00)
        return bytes(stuffed)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _dqt(tid: int, q: int) -> bytes:
    # flat quant table: every step = q
    return _seg(0xDB, bytes([tid]) + bytes([q] * 64))


def _dht() -> bytes:
    p = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    p += bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    return _seg(0xC4, p)


def _dc_code(cat: int) -> str:
    # canonical: 6 codes of length 3 → 000..101 for symbols 0..5
    return format(cat, "03b")


def _dc_bits_for(diff: int) -> str:
    """DC category code + magnitude bits for a diff (small positives)."""
    assert diff >= 0
    cat = diff.bit_length()
    s = _dc_code(cat)
    if cat:
        s += format(diff, f"0{cat}b")
    return s


_EOB = "0"  # the AC table's single 1-bit code


def _expected_flat(dc: int, q: int) -> int:
    """Decoded value of a DC-only block: round(dc*q/8) + 128."""
    return int(np.clip(round(dc * q / 8.0) + 128, 0, 255))


def test_analytic_444_color_single_mcu():
    """8x8 4:4:4 JPEG, one MCU, DC-only: Y=16 steps q=8 → Y plane 144;
    Cb/Cr diff 0 → 128 → pure gray at Y's level."""
    bits = _Bits()
    for dc in (8, 0, 0):  # Y diff=8, Cb diff=0, Cr diff=0
        bits.put(_dc_bits_for(dc))
        bits.put(_EOB)
    blob = (
        b"\xff\xd8"
        + _dqt(0, 8)
        + _seg(
            0xC0,
            bytes([8]) + struct.pack(">HH", 8, 8) + bytes([3])
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        + _dht()
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bits.bytes()
        + b"\xff\xd9"
    )
    img = decode_jpeg(blob)
    assert img.shape == (8, 8, 3)
    y = _expected_flat(8, 8)  # 136
    # Cb=Cr=128 → R=G=B=Y
    assert np.all(img == y), (img[0, 0], y)


def test_analytic_420_subsampling_block_layout():
    """16x16 4:2:0: one MCU = 4 Y blocks + Cb + Cr. Distinct DC per Y
    block → four flat 8x8 quadrants; chroma at half resolution
    upsamples 2x2."""
    bits = _Bits()
    # Y blocks raster order in MCU: DC values 8, 16, 24, 32 (diffs 8 each)
    for _ in range(4):
        bits.put(_dc_bits_for(8))
        bits.put(_EOB)
    # Cb diff 4, Cr diff 0
    bits.put(_dc_bits_for(4))
    bits.put(_EOB)
    bits.put(_dc_bits_for(0))
    bits.put(_EOB)
    blob = (
        b"\xff\xd8"
        + _dqt(0, 8)
        + _dqt(1, 16)
        + _seg(
            0xC0,
            bytes([8]) + struct.pack(">HH", 16, 16) + bytes([3])
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + _dht()
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bits.bytes()
        + b"\xff\xd9"
    )
    img = decode_jpeg(blob).astype(np.float64)
    assert img.shape == (16, 16, 3)
    # Y quadrant levels: cumulative DC 8,16,24,32 at q=8
    ys = [_expected_flat(d, 8) for d in (8, 16, 24, 32)]
    cb = _expected_flat(4, 16) - 128  # Cb offset from neutral: +8
    # JFIF: B = Y + 1.772*(Cb-128); R = Y + 1.402*(Cr-128) with Cr=128
    for (r0, c0), yv in zip(((0, 0), (0, 8), (8, 0), (8, 8)), ys):
        quad = img[r0 : r0 + 8, c0 : c0 + 8]
        exp_r = np.clip(round(yv + 0.0), 0, 255)
        exp_b = np.clip(round(yv + 1.772 * cb), 0, 255)
        assert np.all(quad[..., 0] == exp_r), (r0, c0)
        assert np.all(quad[..., 2] == exp_b), (r0, c0)
        assert np.all(quad == quad[0, 0]), "quadrant not flat"


def test_analytic_grayscale_and_restart_interval():
    """24x8 grayscale (3 MCUs) with DRI=1: every MCU boundary carries
    an RSTn marker and resets the DC predictor — so identical per-MCU
    diffs decode to identical (not cumulative) levels."""
    per_mcu = _Bits()
    per_mcu.put(_dc_bits_for(8))
    per_mcu.put(_EOB)
    chunk = per_mcu.bytes()
    data = chunk + b"\xff\xd0" + chunk + b"\xff\xd1" + chunk
    blob = (
        b"\xff\xd8"
        + _dqt(0, 8)
        + _seg(
            0xC0,
            bytes([8]) + struct.pack(">HH", 8, 24) + bytes([1])
            + bytes([1, 0x11, 0]),
        )
        + _dht()
        + _seg(0xDD, struct.pack(">H", 1))  # DRI = 1 MCU
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + data
        + b"\xff\xd9"
    )
    img = decode_jpeg(blob)
    assert img.shape == (8, 24, 3)
    level = _expected_flat(8, 8)
    # predictor reset: all three MCUs at the SAME level
    assert np.all(img == level)


def test_analytic_without_restart_accumulates_dc():
    """Same stream without DRI/RSTs: DC diffs accumulate MCU to MCU."""
    bits = _Bits()
    for _ in range(3):
        bits.put(_dc_bits_for(8))
        bits.put(_EOB)
    blob = (
        b"\xff\xd8"
        + _dqt(0, 8)
        + _seg(
            0xC0,
            bytes([8]) + struct.pack(">HH", 8, 24) + bytes([1])
            + bytes([1, 0x11, 0]),
        )
        + _dht()
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bits.bytes()
        + b"\xff\xd9"
    )
    img = decode_jpeg(blob)
    levels = [_expected_flat(d, 8) for d in (8, 16, 24)]
    for m, lv in enumerate(levels):
        assert np.all(img[:, m * 8 : (m + 1) * 8] == lv), m


# ---------------------------------------------------------------------------
# Roundtrip (lossy tolerance)
# ---------------------------------------------------------------------------


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return float("inf") if mse == 0 else 10 * np.log10(255**2 / mse)


def test_roundtrip_gradient_psnr():
    h, w = 37, 53  # non-multiples of 8 exercise edge padding + crop
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(
        np.stack(
            [xx * 255 / w, yy * 255 / h, (xx + yy) * 255 / (h + w)], axis=2
        ),
        0,
        255,
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    assert _psnr(img, dec) > 35.0


def test_roundtrip_flat_exact_and_quality_monotone():
    flat = np.full((24, 16, 3), 99, np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat, 85)), flat)

    rng = np.random.default_rng(42)
    img = np.clip(
        rng.normal(128, 30, (32, 32, 3)), 0, 255
    ).astype(np.uint8)
    p_lo = _psnr(img, decode_jpeg(encode_jpeg(img, quality=30)))
    p_hi = _psnr(img, decode_jpeg(encode_jpeg(img, quality=95)))
    assert p_hi > p_lo  # higher quality → strictly better reconstruction
    assert p_hi > 30.0


def test_roundtrip_determinism_and_jfif_markers():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    b1, b2 = encode_jpeg(img, 85), encode_jpeg(img, 85)
    assert b1 == b2
    assert b1[:2] == b"\xff\xd8" and b1[-2:] == b"\xff\xd9"
    assert b1[6:11] == b"JFIF\x00"


def test_progressive_real_files_decode():
    """Real-world progressive (SOF2) JPEGs shipped on this image:
    non-interleaved DC scans, spectral AC bands, and (full-white-
    stripe) successive approximation with Ah=1 refinement scans.
    They are pictures of white stripes, so the decoded statistics
    are strongly pinned: overwhelmingly near-white, deterministic."""
    import os

    cases = {
        "/usr/share/doc/nodejs/thin-white-stripe.jpg": (58, 493),
        "/usr/share/doc/nodejs/full-white-stripe.jpg": (312, 493),
    }
    ran = 0
    for p, (h, w) in cases.items():
        if not os.path.exists(p):  # pragma: no cover - container layout
            continue
        blob = open(p, "rb").read()
        img = decode_jpeg(blob)
        assert img.shape == (h, w, 3)
        assert img.dtype == np.uint8
        assert img.mean() > 200  # white-stripe artwork
        assert np.array_equal(img, decode_jpeg(blob))  # deterministic
        ran += 1
    if not ran:  # pragma: no cover
        pytest.skip("fixtures not present")


def test_progressive_with_no_scans_raises():
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg(_progressive_stub())


def _progressive_stub() -> bytes:
    """Minimal progressive (SOF2) stream: SOI + SOF2 header. Enough to
    drive the unsupported-process path without a real entropy stream."""
    import struct

    sof2 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1]) + bytes([1, 0x11, 0])
    return (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", len(sof2) + 2)
        + sof2
        + b"\xff\xd9"
    )


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows any number of 0xFF pad bytes before a
    marker; they must not be misread as a segment header."""
    img = np.full((8, 8, 3), 100, np.uint8)
    img[2:5, 3:7] = 30
    blob = encode_jpeg(img, 90)
    ref = decode_jpeg(blob)
    # pad every metadata marker after SOI with extra 0xFF fill bytes
    i = blob.index(b"\xff\xdb")
    padded = blob[:i] + b"\xff\xff\xff" + blob[i:]
    j = padded.index(b"\xff\xc0")
    padded = padded[:j] + b"\xff" + padded[j:]
    assert np.array_equal(decode_jpeg(padded), ref)


def test_truncated_streams_raise_value_error():
    """Truncation anywhere — segment header, segment body, entropy
    data — surfaces as ValueError, never IndexError/struct.error."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    blob = encode_jpeg(img, 85)
    for cut in (4, 10, len(blob) // 4, len(blob) // 2, len(blob) - 10):
        with pytest.raises(ValueError):
            decode_jpeg(blob[:cut])
    # dangling 0xFF at end of stream
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0\x00\x04\x00\x00\xff")
    # an SOS naming an undefined Huffman table (Cb/Cr point at DHT 3)
    sos = blob.index(b"\xff\xda")
    with pytest.raises(ValueError, match="Huffman table"):
        decode_jpeg(blob[: sos + 8] + b"\x33" + blob[sos + 9 :])
    # an SOF component naming an undefined quantization table (Cb -> 2)
    sof = blob.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="quantization table"):
        decode_jpeg(blob[: sof + 15] + b"\x02" + blob[sof + 16 :])


def test_non_integer_sampling_ratio_raises_clearly():
    """hmax=3 with hf=2 (legal per T.81, unsupported here) raises the
    explicit sampling-ratio error before entropy decode, not a numpy
    shape crash."""
    import struct

    sof = (
        bytes([8])
        + struct.pack(">HH", 16, 16)
        + bytes([3])
        + bytes([1, 0x31, 0])  # Y: 3x1
        + bytes([2, 0x21, 1])  # Cb: 2x1 -> 3 % 2 != 0
        + bytes([3, 0x11, 1])
    )
    blob = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", len(sof) + 2)
        + sof
        + b"\xff\xda"
        + struct.pack(">H", 12)
        + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    with pytest.raises(ValueError, match="sampling ratio"):
        decode_jpeg(blob)


def _arithmetic_stub() -> bytes:
    """SOF9 (arithmetic-coded sequential) header stub — a JPEG process
    the builtin codec genuinely does not decode (arithmetic coding was
    patent-encumbered; Huffman files dominate real corpora)."""
    import struct

    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 0x11, 0])
    return (
        b"\xff\xd8"
        + b"\xff\xc9"
        + struct.pack(">H", len(sof) + 2)
        + sof
        + b"\xff\xd9"
    )


def test_unsupported_process_and_fallback_seam():
    """Arithmetic-coded JPEG: the builtin decode raises, and so does the
    sniffing entry point once its Pillow fallback is unavailable —
    ValueError, never another exception type."""
    from nyc_taxi_etl_spark.operators import imagecodec

    blob = _arithmetic_stub()
    with pytest.raises(ValueError, match="SOF|process"):
        decode_jpeg(blob)
    with pytest.raises(ValueError, match="SOF|process"):
        imagecodec.sniff_and_decode(blob)


def test_sniff_integration_and_media_pipeline():
    """sniff_and_decode dispatches JPEG; synthesize_media now cycles a
    real JPEG container through the mapInPandas feature pass."""
    from nyc_taxi_etl_spark.operators.imagecodec import (
        sniff_and_decode,
        sniff_format,
    )

    img = np.full((9, 11, 3), 77, np.uint8)
    blob = encode_jpeg(img, 90)
    assert sniff_format(blob) == "jpeg"
    assert np.array_equal(sniff_and_decode(blob), img)


def test_progressive_roundtrip_bit_identical_to_baseline():
    """Entropy coding is lossless over quantized coefficients, so the
    progressive scan script (DC first+refine, spectral bands, two AC
    successive-approximation levels) must decode to EXACTLY the pixels
    the baseline stream of the same image decodes to — this pins the
    whole Annex G surface (EOB runs, ZRL-in-refine, correction-bit
    buffering) against the independently-validated baseline pair."""
    from nyc_taxi_etl_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(42)
    cases = [
        np.clip(rng.normal(128, 40, (33, 31, 3)), 0, 255).astype(np.uint8),
        np.clip(rng.normal(128, 60, (64, 48, 3)), 0, 255).astype(np.uint8),
        # smooth gradient: long EOB runs across blocks
        np.tile(np.linspace(0, 255, 96).astype(np.uint8)[None, :, None], (64, 1, 3)),
        # flat: maximal EOBRUN accumulation
        np.full((80, 80, 3), 123, np.uint8),
        # flat values whose DCT lands on a rounding tie at q50
        np.full((16, 16, 3), 13, np.uint8),
        np.full((16, 16, 3), 33, np.uint8),
        np.full((16, 16, 3), 51, np.uint8),
    ]
    # sparse impulses: ZRL paths inside refinement scans
    sp = np.full((48, 64, 3), 128, np.uint8)
    sp[5, 7] = 255
    sp[40, 60] = 0
    cases.append(sp)
    for img in cases:
        for q in (50, 85):
            base = decode_jpeg(encode_jpeg(img, q))
            prog = decode_jpeg(encode_jpeg_progressive(img, q))
            assert np.array_equal(base, prog), (img.shape, q)


def test_progressive_sniffs_and_flows_through_media_decode():
    """sniff_and_decode and the media _decode_image path accept SOF2
    streams natively (no Pillow needed)."""
    from nyc_taxi_etl_spark.operators.imagecodec import sniff_and_decode
    from nyc_taxi_etl_spark.operators.jpegcodec import encode_jpeg_progressive
    from nyc_taxi_etl_spark.operators.multimodal import _decode_image

    img = np.full((9, 11, 3), 77, np.uint8)
    blob = encode_jpeg_progressive(img, 90)
    assert np.array_equal(sniff_and_decode(blob), img)
    assert np.array_equal(_decode_image(blob, 11, 9), img)


def test_analytic_progressive_dc_ac_scans_with_restarts():
    """Hand-built SOF2 stream (same independent fixture machinery as
    the baseline analytic tests): grayscale 24x8, DRI=1, a DC-first
    scan whose predictor must reset at every RSTn, then an all-zero AC
    scan (one EOB per block) whose EOB-run state must also reset at
    restarts. Decoded result has closed form: every block at
    round(8*8/8)+128 = 136 — identical diffs decode to identical (not
    cumulative) levels precisely because the restart path works."""
    # DC-first scan: one block per restart segment, diff=8
    seg_dc = _Bits()
    seg_dc.put(_dc_bits_for(8))
    dc_chunk = seg_dc.bytes()
    dc_data = dc_chunk + b"\xff\xd0" + dc_chunk + b"\xff\xd1" + dc_chunk
    # AC scan band 1..63, all zero: one EOB bit per block
    seg_ac = _Bits()
    seg_ac.put(_EOB)
    ac_chunk = seg_ac.bytes()
    ac_data = ac_chunk + b"\xff\xd0" + ac_chunk + b"\xff\xd1" + ac_chunk
    blob = (
        b"\xff\xd8"
        + _dqt(0, 8)
        + _seg(
            0xC2,  # SOF2: progressive
            bytes([8]) + struct.pack(">HH", 8, 24) + bytes([1])
            + bytes([1, 0x11, 0]),
        )
        + _dht()
        + _seg(0xDD, struct.pack(">H", 1))  # DRI = 1 MCU (= 1 block)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))  # DC first Ss=Se=0
        + dc_data
        + _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))  # AC band 1..63
        + ac_data
        + b"\xff\xd9"
    )
    img = decode_jpeg(blob)
    assert img.shape == (8, 24, 3)
    assert np.all(img == _expected_flat(8, 8))


def test_baseline_with_one_scan_per_component():
    """A sequential (SOF0) frame may send each component in its own
    scan (T.81 A.2.2); it must decode to exactly the pixels of the
    interleaved stream, and a frame whose scans skip a component
    raises."""
    from nyc_taxi_etl_spark.operators import jpegcodec as jc

    rng = np.random.default_rng(11)
    for img in (
        rng.integers(0, 256, (21, 35, 3), dtype=np.uint8),
        np.tile(np.linspace(0, 255, 40).astype(np.uint8)[None, :, None], (24, 1, 3)),
    ):
        h, w, qy, qc, coefs = jc._quantize_rgb(img, 85)
        head = jc._write_header(0xC0, h, w, qy, qc, jc._BASELINE_DHTS)
        scans = [jc._write_scan(coefs, jc._BASELINE_DHTS, (ci,), 0, 63, 0, 0) for ci in range(3)]
        blob = bytes(head) + b"".join(scans) + b"\xff\xd9"
        assert np.array_equal(decode_jpeg(blob), decode_jpeg(encode_jpeg(img, 85)))
        with pytest.raises(ValueError, match="undecoded"):
            decode_jpeg(bytes(head) + b"".join(scans[:2]) + b"\xff\xd9")
