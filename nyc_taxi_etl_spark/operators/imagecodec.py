"""Pure-numpy image codecs: PPM (P6), BMP (24-bit BI_RGB) and PNG
(8-bit truecolor, zlib DEFLATE) — real encoded formats for the
multimodal pipeline, no Pillow/OpenCV dependency.

Beyond-reference scope (north-star "multimodal columns"): the media
operators treat images as opaque ``binary`` columns; this module makes
the decode stage genuine — ``sniff_and_decode`` recognizes the three
container formats by magic bytes and reverses them byte-exactly
(all formats here are lossless, so decode(encode(x)) == x).

Codec notes:
  * PPM P6: ``P6 <w> <h> 255\\n`` header (whitespace/comment grammar
    per the netpbm spec) + raw RGB — the simplest real interchange
    format.
  * BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, 24-bit uncompressed,
    BGR pixel order, rows bottom-up and padded to 4 bytes — the
    classic Windows layout.
  * PNG: signature + IHDR/IDAT/IEND chunks with CRC32 validation,
    zlib-compressed scanlines; the DECODER implements all five filter
    types (None/Sub/Up/Average/Paeth, RFC 2083 §6) so it reads PNGs
    from any conforming encoder; the ENCODER emits filter 0 (None)
    scanlines — valid PNG, chosen for simplicity over ratio.

Scale posture: codecs run inside Arrow-batched ``mapInPandas`` tasks
(operators/multimodal.py) — per-row Python here is the unavoidable
codec boundary, not a dataflow operator; the defilter loops are
O(width) per scanline with numpy row math where the filter allows
(Up is fully vectorized; Sub/Average/Paeth carry a true sequential
dependency along x, as in every PNG implementation).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_ppm",
    "decode_ppm",
    "encode_bmp",
    "decode_bmp",
    "encode_png",
    "decode_png",
    "sniff_format",
    "sniff_and_decode",
]


def _as_rgb(img: np.ndarray) -> np.ndarray:
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8 image, got shape {a.shape}")
    return a


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    a = _as_rgb(img)
    h, w = a.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode("ascii") + a.tobytes()


def _ppm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    # netpbm token grammar: skip whitespace and '#' comments to EOL
    n = len(buf)
    while pos < n:
        c = buf[pos : pos + 1]
        if c == b"#":
            while pos < n and buf[pos : pos + 1] not in (b"\n", b"\r"):
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < n and not buf[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return buf[start:pos], pos


def decode_ppm(blob: bytes) -> np.ndarray:
    magic, pos = _ppm_token(blob, 0)
    if magic != b"P6":
        raise ValueError("not a binary PPM (P6)")
    w_tok, pos = _ppm_token(blob, pos)
    h_tok, pos = _ppm_token(blob, pos)
    maxval_tok, pos = _ppm_token(blob, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(maxval_tok)
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pos += 1  # exactly one whitespace byte after maxval, per spec
    data = blob[pos : pos + w * h * 3]
    if len(data) != w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ---------------------------------------------------------------------------


def encode_bmp(img: np.ndarray) -> bytes:
    a = _as_rgb(img)
    h, w = a.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # BGR order, bottom-up rows, each padded to a 4-byte boundary
    bgr = a[::-1, :, ::-1]
    body = b"".join(bgr[y].tobytes() + b"\x00" * pad for y in range(h))
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + body


def decode_bmp(blob: bytes) -> np.ndarray:
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(blob) < 54:  # 14-byte file header + 40-byte BITMAPINFOHEADER
        raise ValueError("truncated BMP header")
    (pixel_offset,) = struct.unpack_from("<I", blob, 10)
    (info_size,) = struct.unpack_from("<I", blob, 14)
    if info_size < 40:
        raise ValueError(f"unsupported BMP header size {info_size}")
    w, h_signed = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    (compression,) = struct.unpack_from("<I", blob, 30)
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (planes={planes}, bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(h_signed)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    rows = []
    for y in range(h):
        off = pixel_offset + y * stride
        row = np.frombuffer(blob[off : off + row_bytes], dtype=np.uint8)
        if row.size != row_bytes:
            raise ValueError("truncated BMP pixel data")
        rows.append(row.reshape(w, 3))
    img = np.stack(rows)  # stored order
    if h_signed > 0:  # bottom-up (the common case)
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR → RGB


# ---------------------------------------------------------------------------
# PNG (8-bit truecolor)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    a = _as_rgb(img)
    h, w = a.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))  # filter 0
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _defilter(ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reverse one scanline filter (RFC 2083 §6.2-6.6). ``cur`` is the
    filtered bytes (modified in place and returned), ``prev`` the
    already-reconstructed prior scanline (zeros for the first)."""
    n = cur.size
    if ftype == 0:  # None
        return cur
    if ftype == 1:  # Sub
        for i in range(bpp, n):
            cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
        return cur
    if ftype == 2:  # Up — no x-dependency: vectorized mod-256 add
        np.add(cur, prev, out=cur)  # uint8 wraps, which IS the spec
        return cur
    if ftype == 3:  # Average
        for i in range(n):
            left = int(cur[i - bpp]) if i >= bpp else 0
            cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        return cur
    if ftype == 4:  # Paeth
        for i in range(n):
            left = int(cur[i - bpp]) if i >= bpp else 0
            ul = int(prev[i - bpp]) if i >= bpp else 0
            cur[i] = (int(cur[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        return cur
    raise ValueError(f"unknown PNG filter type {ftype}")


def decode_png(blob: bytes) -> np.ndarray:
    if blob[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        if pos + 12 + length > len(blob):
            # garbage length field or truncated stream — keep the
            # "ValueError or pixels" contract (a raw struct.error here
            # would escape every on_error='skip' / audit path)
            raise ValueError(f"truncated PNG chunk {tag!r}")
        payload = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) != 13:
                raise ValueError("malformed PNG IHDR")
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG variant (need 8-bit truecolor, "
                    f"got depth={depth} color={ctype} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from None
    stride = w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        line = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        cur = np.frombuffer(line[1:], dtype=np.uint8).copy()
        prev = _defilter(line[0], cur, prev, bpp=3)
        out[y] = prev
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Sniffing
# ---------------------------------------------------------------------------


def sniff_format(blob: bytes) -> str | None:
    """'png' | 'bmp' | 'ppm' | 'jpeg' by magic bytes, else None."""
    if blob[: len(_PNG_SIG)] == _PNG_SIG:
        return "png"
    if blob[:2] == b"BM":
        return "bmp"
    if blob[:2] == b"P6":
        return "ppm"
    if blob[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return None


def _pillow_decode(blob: bytes, err: ValueError) -> np.ndarray:
    """Decode ``blob`` with Pillow when it is importable, for streams
    the builtin codecs reject. Every failure (no Pillow, or Pillow
    rejecting the bytes with its own ``UnidentifiedImageError``, an
    OSError) raises ``err``: callers see ValueError or pixels, which
    is what ``on_error='skip'`` and the decode audit catch."""
    try:  # pragma: no cover - Pillow is optional
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"))
    except Exception:
        raise err from None


def sniff_and_decode(blob: bytes) -> np.ndarray:
    """Decode by magic-byte sniff. JPEG features beyond the builtin
    codec (arithmetic coding; baseline and progressive Huffman decode
    natively) fall through to Pillow when it is importable; without it
    the builtin's clear ValueError surfaces."""
    fmt = sniff_format(blob)
    if fmt == "png":
        return decode_png(blob)
    if fmt == "bmp":
        return decode_bmp(blob)
    if fmt == "ppm":
        return decode_ppm(blob)
    if fmt == "jpeg":
        from .jpegcodec import decode_jpeg

        try:
            return decode_jpeg(blob)
        except ValueError as exc:
            return _pillow_decode(blob, exc)
    raise ValueError(
        "unrecognized image container (no PNG/BMP/PPM/JPEG magic)"
    )
