"""Image codec tests: PPM/BMP/PNG round-trips, full PNG filter-type
decode coverage (a conforming encoder may emit any of the five), CRC
integrity, and a byte-pinned fixture so the wire format itself is
regression-locked (not just the round-trip)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from nyc_taxi_etl_spark.operators.imagecodec import (
    _PNG_SIG,
    _chunk,
    decode_bmp,
    decode_png,
    decode_ppm,
    encode_bmp,
    encode_png,
    encode_ppm,
    sniff_and_decode,
    sniff_format,
)


def _img(h=11, w=7, seed=3):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize(
    ("enc", "dec", "fmt"),
    [
        (encode_ppm, decode_ppm, "ppm"),
        (encode_bmp, decode_bmp, "bmp"),
        (encode_png, decode_png, "png"),
    ],
)
def test_lossless_roundtrip_and_sniff(enc, dec, fmt):
    img = _img()
    blob = enc(img)
    assert sniff_format(blob) == fmt
    assert np.array_equal(dec(blob), img)
    assert np.array_equal(sniff_and_decode(blob), img)


def test_roundtrip_odd_widths_bmp_padding():
    # widths 1..6 cover every 4-byte row-padding case (pad 0..3)
    for w in range(1, 7):
        img = _img(h=5, w=w, seed=w)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_truncated_bmp_raises_value_error():
    # a cut anywhere, header included, is a ValueError: skip-mode media
    # tasks drop a row only on ValueError
    blob = encode_bmp(_img(h=4, w=4))  # no row padding to cut off
    for cut in range(2, len(blob)):
        with pytest.raises(ValueError):
            decode_bmp(blob[:cut])


def _png_with_filters(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Forward-filter each scanline with the given type (RFC 2083) —
    exercises the decoder against output shapes our encoder never
    emits."""
    h, w = img.shape[:2]
    bpp, stride = 3, w * 3
    flat = img.reshape(h, stride).astype(np.int16)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        cur = flat[y]
        ft = ftypes[y % len(ftypes)]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]])
        if ft == 0:
            out = cur
        elif ft == 1:
            out = cur - left
        elif ft == 2:
            out = cur - prev
        elif ft == 3:
            out = cur - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            out = cur - pred
        raw += bytes([ft]) + (out & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decoder_handles_every_filter_type(ftype):
    img = _img(h=9, w=5, seed=ftype + 10)
    assert np.array_equal(decode_png(_png_with_filters(img, [ftype])), img)


def test_png_decoder_mixed_filters_and_split_idat():
    img = _img(h=10, w=6, seed=99)
    blob = _png_with_filters(img, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(blob), img)
    # split the IDAT stream across two chunks — decoders must concat
    one = encode_png(img)
    sig_ihdr = one[: 8 + 12 + 13]
    (ilen,) = struct.unpack_from(">I", one, 8 + 12 + 13)
    idat = one[8 + 12 + 13 + 8 : 8 + 12 + 13 + 8 + ilen]
    split = (
        sig_ihdr
        + _chunk(b"IDAT", idat[:7])
        + _chunk(b"IDAT", idat[7:])
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(split), img)


def test_png_crc_corruption_detected():
    blob = bytearray(encode_png(_img()))
    blob[40] ^= 0xFF  # flip a byte inside IDAT payload
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_unknown_blob_rejected():
    with pytest.raises(ValueError, match="unrecognized"):
        sniff_and_decode(b"\x00\x01\x02 not an image")


# Byte-pinned fixture: a 2x2 PNG encoded by THIS encoder, hex-frozen.
# If the wire format drifts (chunk layout, zlib params, filter bytes),
# this fails even though round-trips would still pass.
_FIXTURE_PIXELS = np.array(
    [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [17, 34, 51]]], dtype=np.uint8
)
_FIXTURE_PNG_HEX = (
    "89504e470d0a1a0a0000000d4948445200000002000000020802000000"
    "fdd49a730000001349444154789c63f8cfc0c000c20cff05958c011a9e"
    "03641ab85ba30000000049454e44ae426082"
)


def test_fixture_png_bytes_exact():
    assert encode_png(_FIXTURE_PIXELS) == bytes.fromhex(_FIXTURE_PNG_HEX)
    assert np.array_equal(
        decode_png(bytes.fromhex(_FIXTURE_PNG_HEX)), _FIXTURE_PIXELS
    )
