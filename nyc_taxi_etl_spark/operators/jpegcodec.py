"""Pure-numpy baseline JPEG (JFIF) codec — the lossy companion to the
lossless PNG/BMP/PPM codecs in ``imagecodec.py``.

Real multimodal corpora are overwhelmingly JPEG, so the decode stage of
the media pipeline must read it. This module implements the baseline
sequential DCT process of ITU-T T.81 (ISO/IEC 10918-1) with no
dependency beyond numpy:

* **Decoder** (``decode_jpeg``): marker parse (DQT 8/16-bit, SOF,
  DHT, SOS, DRI/RSTn, 0xFF fill bytes, APPn/COM skip), entropy decode
  (canonical Huffman per Annex C, byte unstuffing, restart-interval
  DC reset), dequantize + zigzag, batched 8×8 inverse DCT
  (orthonormal separable matrix form over all blocks of a component
  at once), chroma upsample for h/v sampling factors ≤ 4 with integer
  max/factor ratios (covers 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1;
  non-integer ratios raise), YCbCr→RGB per the JFIF matrix. Grayscale
  scans decode to HxWx3 by channel replication (the media pipeline's
  image contract). BOTH Huffman processes are decoded: baseline
  sequential (SOF0/SOF1) and progressive (SOF2, Annex G — spectral
  selection, successive approximation with DC/AC refinement scans and
  EOB runs, interleaved and single-component scans). Arithmetic-coded
  streams raise with a clear message (patent-era rarity;
  ``imagecodec.sniff_and_decode`` then tries Pillow, where it is
  installed).
* **Encoders**: ``encode_jpeg`` — 4:4:4 baseline with the Annex K
  reference quantization tables scaled by the libjpeg quality curve
  (``5000/Q`` below 50, ``200−2Q`` above) and the Annex K "typical"
  Huffman tables (Tables K.3-K.6) — the same defaults virtually every
  camera writes, so any conforming decoder reads our output.
  ``encode_jpeg_progressive`` — the same quantized coefficients
  emitted as an SOF2 scan script (DC first + refinement, spectral AC
  bands, two successive-approximation levels for luma), used both as
  a progressive writer and as the roundtrip pin for the progressive
  decoder.

Validation posture: the decoder is pinned three independent ways —
(1) an ANALYTIC fixture test hand-assembles a JPEG byte-by-byte in the
test file (its own spelling of headers + Huffman tables) whose DC-only
blocks have closed-form decoded values; (2) encode→decode roundtrips
at PSNR tolerance (JPEG is lossy; Annex K at q85 keeps a smooth
gradient within a few counts/pixel); (3) progressive↔baseline
equivalence — entropy coding is lossless over quantized coefficients,
so decoding ``encode_jpeg_progressive``'s stream must be
BIT-IDENTICAL to decoding ``encode_jpeg``'s stream of the same image,
and real-world SOF2 files (non-interleaved DC, Ah=1 refinements)
decode with pinned statistics.

Scale posture: identical to the other codecs — this runs inside
Arrow-batched ``mapInPandas`` media tasks (operators/multimodal.py),
per-row Python at the unavoidable codec boundary, never a dataflow
operator. Huffman entropy decode is inherently bit-serial; the numpy
block pipeline (dequant/IDCT/upsample/color) is vectorized across all
blocks of a component at once.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_jpeg", "encode_jpeg_progressive", "decode_jpeg"]


# ---------------------------------------------------------------------------
# Shared constants (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

#: zigzag scan order: ZIGZAG[i] = natural (row-major) index of the i-th
#: coefficient in zigzag order (T.81 Figure 5).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: Annex K Table K.1 — luminance quantization (quality 50 reference).
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)

#: Annex K Table K.2 — chrominance quantization.
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K "typical" Huffman tables: (BITS counts for code lengths 1-16,
# HUFFVAL symbol list). Tables K.3 (DC luma), K.4 (DC chroma),
# K.5 (AC luma), K.6 (AC chroma).
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

#: orthonormal 8×8 DCT-II basis: block_dct = D @ x @ D.T, idct = D.T @ X @ D.
_DCT = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    _DCT[_k] = _c * np.cos((2 * np.arange(8) + 1) * _k * np.pi / 16)


def _canonical_codes(bits: list[int]) -> list[tuple[int, int]]:
    """Annex C code assignment: ``[(length, code), ...]`` in symbol
    order — codes of each length are consecutive, doubling on length
    increase."""
    out = []
    code = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out.append((ln, code))
            code += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol lookup for the bit-serial decoder."""
    return {
        lc: sym for lc, sym in zip(_canonical_codes(bits), vals)
    }


def _encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (length, code) lookup for the encoder."""
    return {
        sym: lc for lc, sym in zip(_canonical_codes(bits), vals)
    }


# ---------------------------------------------------------------------------
# Bit I/O
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    surfaces RSTn markers as soft resets."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.buf):
            raise ValueError("truncated JPEG entropy-coded data")
        b = self.buf[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.buf):
                raise ValueError("truncated JPEG entropy-coded data")
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:  # stuffed literal FF
                self.pos += 2
            else:
                # restart markers are consumed at MCU boundaries by
                # byte_align_past_restart, never mid-block — hitting any
                # marker during a fill means the stream is malformed
                raise ValueError(
                    f"unexpected marker FF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def byte_align_past_restart(self) -> None:
        """At a known restart boundary: drop padding bits, consume the
        RSTn marker. Any leftover bits in ``acc`` are the byte-align
        padding of the previous restart segment; the marker must be the
        next two bytes."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.buf):
            raise ValueError("truncated JPEG at restart-interval boundary")
        if self.buf[self.pos] != 0xFF or not (
            0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            raise ValueError(
                "expected RSTn at restart-interval MCU boundary, got "
                f"{self.buf[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


class _BitWriter:
    """MSB-first writer with 0xFF byte stuffing; flush pads with 1s
    (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code (>16 bits)")


def _extend(v: int, s: int) -> int:
    """T.81 F.12 sign extension of an s-bit magnitude."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Decode a JFIF/JPEG byte string to an HxWx3 uint8 RGB array
    (grayscale replicates into 3 channels).

    Handles baseline sequential (SOF0/SOF1) and progressive (SOF2)
    Huffman processes — progressive covers spectral selection,
    successive approximation (DC + AC refinement scans, EOB runs per
    T.81 Annex G), interleaved and single-component scans, and
    restart intervals. Entropy decode accumulates quantized
    coefficients per component; dequantize + batched IDCT + upsample
    + color run once at the end, shared by both processes."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    restart_interval = 0
    progressive = False
    frame = None  # (h, w, [(cid, hf, vf, tq)])
    scan = None  # ([(cid, td, ta)], data_start) — baseline only
    state: dict | None = None  # progressive accumulation state
    while pos < len(blob):
        if blob[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — skip them so the byte AFTER the run is the marker
        # code, never misread as a segment header
        while pos + 1 < len(blob) and blob[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(blob):
            raise ValueError("truncated JPEG (dangling 0xFF at end)")
        marker = blob[pos + 1]
        if marker in (0xD8, 0x01, 0x00) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(blob):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack_from(">H", blob, pos + 2)
        if pos + 2 + seglen > len(blob):
            raise ValueError(
                f"truncated JPEG segment FF{marker:02X} "
                f"(declares {seglen} bytes past end of stream)"
            )
        seg = blob[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq:
                    tbl = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                else:
                    tbl = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
                qtables[tq] = tbl  # zigzag order
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = _decode_table(
                    bits, vals
                )
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * c]))
            frame = (h, w, comps)
            progressive = marker == 0xC2
            if progressive:
                state = _progressive_state(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG process (SOF marker FF{marker:02X}); "
                "baseline (SOF0/SOF1) and progressive (SOF2) Huffman "
                "are decoded"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scomps = []
            for s in range(ns):
                cid = seg[1 + 2 * s]
                tt = seg[2 + 2 * s]
                scomps.append((cid, tt >> 4, tt & 0x0F))
            if not progressive:
                scan = (scomps, pos + 2 + seglen)
                pos += 2 + seglen
                break
            # progressive: decode this scan now (tables may be
            # redefined between scans) and continue the marker loop
            # from wherever its entropy data ends
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            reader = _BitReader(blob, pos + 2 + seglen)
            _progressive_scan(
                reader,
                state,
                scomps,
                ss,
                se,
                ahal >> 4,
                ahal & 0x0F,
                dc_tables,
                ac_tables,
                restart_interval,
            )
            state["nscans"] = state.get("nscans", 0) + 1
            pos = reader.pos
            continue
        pos += 2 + seglen
    if frame is None or (not progressive and scan is None):
        raise ValueError("JPEG missing SOF or SOS")
    if progressive and not state.get("nscans"):
        raise ValueError("progressive JPEG with no SOS scans")
    h, w, comps = frame
    if progressive:
        coefs = state["coef"]
    else:
        hmax, vmax, mcux, mcuy = _geometry(h, w, comps)
        coefs = {
            cid: np.zeros((mcuy * vf, mcux * hf, 64), dtype=np.int64)
            for cid, hf, vf, _ in comps
        }
        scomps, data_start = scan
        cinfo = {cid: (hf, vf, tq) for cid, hf, vf, tq in comps}
        reader = _BitReader(blob, data_start)
        pred = {cid: 0 for cid, _, _ in scomps}
        mcu_count = 0

        def decode_block(dc_tbl, ac_tbl) -> np.ndarray:
            zz = np.zeros(64, dtype=np.int64)
            s = _huff_decode(reader, dc_tbl)
            diff = _extend(reader.read_bits(s), s) if s else 0
            zz[0] = diff  # caller adds predictor
            k = 1
            while k < 64:
                rs = _huff_decode(reader, ac_tbl)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = _extend(reader.read_bits(s), s)
                k += 1
            return zz

        for my in range(mcuy):
            for mx in range(mcux):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    reader.byte_align_past_restart()
                    pred = {cid: 0 for cid in pred}
                for cid, td, ta in scomps:
                    hf, vf, _tq = cinfo[cid]
                    for by in range(vf):
                        for bx in range(hf):
                            zz = decode_block(dc_tables[td], ac_tables[ta])
                            pred[cid] += int(zz[0])
                            zz[0] = pred[cid]
                            coefs[cid][my * vf + by, mx * hf + bx] = zz
                mcu_count += 1
    return _finish(h, w, comps, coefs, qtables)


def _geometry(h: int, w: int, comps) -> tuple[int, int, int, int]:
    """(hmax, vmax, mcux, mcuy) with sampling-ratio validation."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    # integer replication upsample needs hmax/vmax to be exact
    # multiples of each component's factors (covers every
    # 4:4:4/4:2:2/4:2:0/4:1:1 file; non-integer ratios like 3:2 are
    # legal but vanishingly rare and would need fractional resampling)
    for cid, hf, vf, _ in comps:
        if hmax % hf or vmax % vf:
            raise ValueError(
                f"unsupported JPEG sampling ratio (component {cid} "
                f"{hf}x{vf} vs max {hmax}x{vmax}: non-integer upsample)"
            )
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _finish(h, w, comps, coefs, qtables) -> np.ndarray:
    """Shared decode tail: dequantize the accumulated zigzag
    coefficients, batched IDCT over every block of a component at
    once, upsample, crop, color-convert."""
    hmax, vmax, _, _ = _geometry(h, w, comps)
    full = {}
    for cid, hf, vf, tq in comps:
        zz = coefs[cid]  # (bh, bw, 64) zigzag-ordered
        natural = np.zeros(zz.shape, dtype=np.float64)
        natural[:, :, ZIGZAG] = zz * qtables[tq]
        bh, bw = natural.shape[:2]
        blocks = natural.reshape(bh, bw, 8, 8)
        # idct: D.T @ X @ D for all blocks at once
        px = np.einsum("ij,xyjk,kl->xyil", _DCT.T, blocks, _DCT)
        p = px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        if hf < hmax or vf < vmax:
            p = np.repeat(np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1)
        full[cid] = p[:h, :w]
    if len(comps) == 1:
        y = np.clip(full[comps[0][0]], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=2)
    if len(comps) != 3:
        raise ValueError(f"unsupported component count {len(comps)}")
    # Y/Cb/Cr by JFIF component ID (1/2/3) when present -- SOF may list
    # components in any order; fall back to SOF order for nonstandard
    # IDs (e.g. Adobe 'RGB'-tagged streams)
    cids = [c[0] for c in comps]
    order = [1, 2, 3] if sorted(cids) == [1, 2, 3] else cids
    yy, cb, cr = (full[cid] for cid in order)
    r = yy + 1.402 * (cr - 128.0)
    g = yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = yy + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(
        np.uint8
    )


# ---------------------------------------------------------------------------
# Progressive scans (T.81 Annex G)
# ---------------------------------------------------------------------------


def _progressive_state(frame) -> dict:
    """Coefficient accumulators + per-component geometry for a SOF2
    frame. Arrays are MCU-padded (covers interleaved DC scans);
    non-interleaved scans iterate only the component's own block grid
    (``nbw``/``nbh`` -- ceil of the component's true dimensions), per
    G.2: trailing MCU-pad blocks exist only in interleaved scans."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = _geometry(h, w, comps)
    state = {"h": h, "w": w, "comps": comps, "mcux": mcux, "mcuy": mcuy,
             "coef": {}, "geom": {}}
    for cid, hf, vf, tq in comps:
        cw = -(-w * hf // hmax)  # ceil(w * hf / hmax)
        ch = -(-h * vf // vmax)
        state["coef"][cid] = np.zeros(
            (mcuy * vf, mcux * hf, 64), dtype=np.int64
        )
        state["geom"][cid] = (hf, vf, tq, -(-cw // 8), -(-ch // 8))
    return state


def _progressive_scan(
    reader: _BitReader,
    state: dict,
    scomps,
    ss: int,
    se: int,
    ah: int,
    al: int,
    dc_tables: dict,
    ac_tables: dict,
    restart_interval: int,
) -> None:
    """Decode one progressive scan into the coefficient accumulators.

    DC scans (Ss=0): interleaved (MCU order) or single-component;
    first pass codes diffs of coef/2^Al, refinements append one bit.
    AC scans (Ss>=1): single component, spectral band [Ss, Se], with
    EOB-run coding; refinement passes emit correction bits for
    already-nonzero coefficients (G.1.2.3 / the libjpeg
    decode_mcu_AC_refine protocol)."""
    coef = state["coef"]
    geom = state["geom"]
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        pred = {cid: 0 for cid, _, _ in scomps}
        interleaved = len(scomps) > 1
        if interleaved:
            units = state["mcuy"] * state["mcux"]
        else:
            cid0 = scomps[0][0]
            _, _, _, nbw0, nbh0 = geom[cid0]
            units = nbw0 * nbh0
        mcux = state["mcux"]
        count = 0
        for u in range(units):
            if restart_interval and count and count % restart_interval == 0:
                reader.byte_align_past_restart()
                pred = {cid: 0 for cid in pred}
            for cid, td, _ta in scomps:
                hf, vf, _tq, nbw, _nbh = geom[cid]
                if interleaved:
                    my, mx = divmod(u, mcux)
                    blocks = [
                        (my * vf + by, mx * hf + bx)
                        for by in range(vf)
                        for bx in range(hf)
                    ]
                else:
                    blocks = [divmod(u, nbw)]
                for by, bx in blocks:
                    if ah == 0:
                        s = _huff_decode(reader, dc_tables[td])
                        diff = _extend(reader.read_bits(s), s) if s else 0
                        pred[cid] += diff
                        coef[cid][by, bx, 0] = pred[cid] << al
                    else:
                        if reader.read_bit():
                            coef[cid][by, bx, 0] |= 1 << al
            count += 1
        return
    # AC scan: exactly one component (G.2)
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid, _td, ta = scomps[0]
    _hf, _vf, _tq, nbw, nbh = geom[cid]
    tbl = ac_tables[ta]
    carr = coef[cid]
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)
    count = 0
    for u in range(nbw * nbh):
        if restart_interval and count and count % restart_interval == 0:
            reader.byte_align_past_restart()
            eobrun = 0
        by, bx = divmod(u, nbw)
        zz = carr[by, bx]
        if ah == 0:  # first pass for this band
            if eobrun:
                eobrun -= 1
            else:
                k = ss
                while k <= se:
                    rs = _huff_decode(reader, tbl)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past end of band")
                    zz[k] = _extend(reader.read_bits(s), s) << al
                    k += 1
        else:  # refinement pass (G.1.2.3)
            if eobrun:
                eobrun -= 1
                # EOB region: only correction bits for nonzero coefs
                for k in range(ss, se + 1):
                    if zz[k]:
                        if reader.read_bit() and not (abs(int(zz[k])) & p1):
                            zz[k] += p1 if zz[k] > 0 else m1
            else:
                k = ss
                while k <= se:
                    rs = _huff_decode(reader, tbl)
                    r, s = rs >> 4, rs & 0x0F
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.read_bits(r)
                            break  # rest of band refined below
                        # r == 15: ZRL -- pass 16 zero-history coefs
                    else:
                        if s != 1:
                            raise ValueError(
                                "invalid magnitude in AC refinement scan"
                            )
                        newval = p1 if reader.read_bit() else m1
                    # advance past r zero-history coefs, emitting
                    # correction bits for nonzero ones along the way
                    while k <= se:
                        if zz[k]:
                            if reader.read_bit() and not (
                                abs(int(zz[k])) & p1
                            ):
                                zz[k] += p1 if zz[k] > 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        zz[k] = newval
                    k += 1
                # EOB reached mid-block: refine the rest of the band
                for kk in range(k, se + 1):
                    if zz[kk]:
                        if reader.read_bit() and not (abs(int(zz[kk])) & p1):
                            zz[kk] += p1 if zz[kk] > 0 else m1
        count += 1


# ---------------------------------------------------------------------------
# Encoder (baseline, 4:4:4, Annex K tables)
# ---------------------------------------------------------------------------


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality curve: 5000/Q below 50, 200−2Q at and above."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(
    writer: _BitWriter, zz: np.ndarray, pred: int, dc_tbl, ac_tbl
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    ln, code = dc_tbl[s]
    writer.write(code, ln)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tbl[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s = _category(v)
        ln, code = ac_tbl[(run << 4) | s]
        writer.write(code, ln)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        ln, code = ac_tbl[0x00]  # EOB
        writer.write(code, ln)
    return dc


def encode_jpeg(img: np.ndarray, quality: int = 85) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a baseline 4:4:4 JFIF JPEG."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8 image, got shape {a.shape}")
    h, w = a.shape[:2]
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    # zigzag-ordered throughout: quantization divides zigzag-ordered
    # coefficients, and DQT payloads are zigzag-ordered by spec
    qy = _quality_scale(QUANT_LUMA[ZIGZAG], quality)
    qc = _quality_scale(QUANT_CHROMA[ZIGZAG], quality)
    # pad to block multiple by edge replication
    hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
    planes = []
    for p in (yy, cb, cr):
        planes.append(
            np.pad(p, ((0, hp - h), (0, wp - w)), mode="edge") - 128.0
        )
    dc_y = _encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_y = _encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    writer = _BitWriter()
    preds = [0, 0, 0]
    tables = [(dc_y, ac_y, qy), (dc_c, ac_c, qc), (dc_c, ac_c, qc)]
    for by in range(hp // 8):
        for bx in range(wp // 8):
            for ci in range(3):
                dc_tbl, ac_tbl, qt = tables[ci]
                blk = planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _DCT @ blk @ _DCT.T
                zz = np.round(coef.reshape(64)[ZIGZAG] / qt).astype(np.int64)
                preds[ci] = _encode_block(writer, zz, preds[ci], dc_tbl, ac_tbl)
    data = writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += seg(0xDB, bytes([0x00]) + bytes(qy.astype(np.uint8)))
    out += seg(0xDB, bytes([0x01]) + bytes(qc.astype(np.uint8)))
    out += seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, 0x11, 0])  # Y: 1x1, qtable 0
        + bytes([2, 0x11, 1])  # Cb
        + bytes([3, 0x11, 1]),  # Cr
    )
    out += seg(0xC4, dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS))
    out += seg(0xC4, dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS))
    out += seg(0xC4, dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS))
    out += seg(0xC4, dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS))
    out += seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    out += data
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (spectral selection + successive approximation)
# ---------------------------------------------------------------------------


def _quantize_rgb(img: np.ndarray, quality: int):
    """Shared front half of encoding: color transform, pad, batched
    DCT, zigzag quantize. Returns (h, w, qy, qc, coefs) with
    ``coefs[ci]`` shaped (bh, bw, 64) int64 zigzag-ordered."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8 image, got shape {a.shape}")
    h, w = a.shape[:2]
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    qy = _quality_scale(QUANT_LUMA[ZIGZAG], quality)
    qc = _quality_scale(QUANT_CHROMA[ZIGZAG], quality)
    hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
    bh, bw = hp // 8, wp // 8
    coefs = []
    for p, qt in ((yy, qy), (cb, qc), (cr, qc)):
        pp = np.pad(p, ((0, hp - h), (0, wp - w)), mode="edge") - 128.0
        blocks = pp.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        fr = np.einsum("ij,xyjk,kl->xyil", _DCT, blocks, _DCT.T)
        zz = np.round(fr.reshape(bh, bw, 64)[:, :, ZIGZAG] / qt)
        coefs.append(zz.astype(np.int64))
    return h, w, qy, qc, coefs


def _emit_sym(writer: _BitWriter, tbl: dict, sym: int) -> None:
    ln, code = tbl[sym]
    writer.write(code, ln)


def _encode_dc_scan(coefs, dc_tbls, ah: int, al: int) -> bytes:
    """Interleaved DC scan over all components (4:4:4 -> MCU =
    one block per component). Ah=0: diff-code coef0 >> Al (arithmetic
    shift, G.1.2.1); Ah>0: one appended magnitude bit per block."""
    writer = _BitWriter()
    bh, bw = coefs[0].shape[:2]
    preds = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                v0 = int(coefs[ci][by, bx, 0])
                if ah == 0:
                    v = v0 >> al
                    diff = v - preds[ci]
                    preds[ci] = v
                    s = _category(diff)
                    _emit_sym(writer, dc_tbls[ci], s)
                    if s:
                        writer.write(
                            diff if diff >= 0 else diff + (1 << s) - 1, s
                        )
                else:
                    writer.write((v0 >> al) & 1, 1)
    return writer.flush()


def _encode_ac_first_scan(carr, tbl, ss: int, se: int, al: int) -> bytes:
    """AC first pass for band [ss, se] at precision Al: runs, ZRL and
    EOB-run coding of the point-transformed (sign-magnitude >> Al)
    coefficients — the encoder mirror of the decoder's Ah=0 branch."""
    writer = _BitWriter()
    bh, bw = carr.shape[:2]
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            _emit_sym(writer, tbl, nbits << 4)
            if nbits:
                writer.write(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

    for by in range(bh):
        for bx in range(bw):
            r = 0
            for k in range(ss, se + 1):
                v = int(carr[by, bx, k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                flush_eobrun()
                while r > 15:
                    _emit_sym(writer, tbl, 0xF0)  # ZRL
                    r -= 16
                s = t.bit_length()
                _emit_sym(writer, tbl, (r << 4) | s)
                val = t if v > 0 else -t
                writer.write(val if val >= 0 else val + (1 << s) - 1, s)
                r = 0
            if r > 0:  # trailing zeros (or all-zero band): EOB block
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eobrun()
    flush_eobrun()
    return writer.flush()


def _encode_ac_refine_scan(carr, tbl, ss: int, se: int, al: int) -> bytes:
    """AC refinement pass (Ah = Al+1): correction bits for
    already-nonzero coefficients, (r,1) symbols + sign bit for newly
    nonzero ones, EOB-runs carrying buffered correction bits — the
    encoder mirror of the decoder's G.1.2.3 branch.

    Two correction-bit buffers, as in every conforming implementation:
    ``eob_bits`` holds bits belonging to blocks already inside the
    pending EOB run (emitted right after the EOB symbol, where the
    decoder's EOB-region sweep reads them) and ``cur_bits`` holds the
    CURRENT block's bits (emitted after this block's next ZRL/(r,1)
    symbol, where the decoder's advance loop reads them)."""
    writer = _BitWriter()
    bh, bw = carr.shape[:2]
    eobrun = 0
    eob_bits: list[int] = []

    def flush_eobrun():
        nonlocal eobrun, eob_bits
        if eobrun:
            nbits = eobrun.bit_length() - 1
            _emit_sym(writer, tbl, nbits << 4)
            if nbits:
                writer.write(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0
            for bit in eob_bits:
                writer.write(bit, 1)
            eob_bits = []

    for by in range(bh):
        for bx in range(bw):
            absvals = [
                abs(int(carr[by, bx, k])) >> al for k in range(ss, se + 1)
            ]
            eob = ss - 1  # index of last NEWLY nonzero coef, if any
            for k in range(ss, se + 1):
                if absvals[k - ss] == 1:
                    eob = k
            r = 0
            cur_bits: list[int] = []
            for k in range(ss, se + 1):
                t = absvals[k - ss]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob:
                    flush_eobrun()
                    _emit_sym(writer, tbl, 0xF0)
                    r -= 16
                    for bit in cur_bits:
                        writer.write(bit, 1)
                    cur_bits = []
                if t > 1:
                    # already nonzero at coarser precision: buffer the
                    # correction bit until this block's next symbol
                    cur_bits.append(t & 1)
                    continue
                # newly nonzero at this precision
                flush_eobrun()
                _emit_sym(writer, tbl, (r << 4) | 1)
                writer.write(1 if int(carr[by, bx, k]) > 0 else 0, 1)
                for bit in cur_bits:
                    writer.write(bit, 1)
                cur_bits = []
                r = 0
            if r > 0 or cur_bits:
                eobrun += 1
                eob_bits.extend(cur_bits)
                if eobrun == 0x7FFF:
                    flush_eobrun()
    flush_eobrun()
    return writer.flush()


#: Progressive AC scans need EOBn symbols (0x10..0xE0) that the Annex K
#: baseline tables do not define (baseline has only EOB0 + ZRL). Real
#: progressive encoders build optimized tables in a 2nd pass; for the
#: reference encoder a FLAT canonical table (every symbol 8 bits: 16
#: runs x 14 magnitudes + EOB0..EOB14 + ZRL = 240 codes <= 256) is
#: valid Huffman and keeps the coder simple — compression optimality
#: is not the point of this encoder, spec coverage is.
_PROG_AC_SYMS = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 15)}
    | {r << 4 for r in range(15)}
    | {0xF0}
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_SYMS), 0, 0, 0, 0, 0, 0, 0, 0]


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a progressive (SOF2) 4:4:4
    JFIF JPEG with the Annex K tables.

    Scan script exercises the full Annex G surface: interleaved DC
    first + refinement, per-component spectral AC bands, and two
    levels of AC successive approximation for luma (Al=2 -> 1 -> 0).
    All precision is restored by the final scans, so decoding this
    stream yields BIT-IDENTICAL pixels to decoding ``encode_jpeg``'s
    baseline stream of the same image — the roundtrip test pins the
    progressive entropy coder and decoder against the baseline pair."""
    h, w, qy, qc, coefs = _quantize_rgb(img, quality)
    dc_y = _encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    dc_c = _encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_y = ac_c = _encode_table(_PROG_AC_BITS, _PROG_AC_SYMS)
    dc_tbls = [dc_y, dc_c, dc_c]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)

    def sos(scomps: list[tuple[int, int]], ss, se, ah, al) -> bytes:
        body = bytes([len(scomps)])
        for cid, tt in scomps:
            body += bytes([cid, tt])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += seg(0xDB, bytes([0x00]) + bytes(qy.astype(np.uint8)))
    out += seg(0xDB, bytes([0x01]) + bytes(qc.astype(np.uint8)))
    out += seg(
        0xC2,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, 0x11, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    out += seg(0xC4, dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS))
    out += seg(0xC4, dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS))
    out += seg(0xC4, dht(1, 0, _PROG_AC_BITS, _PROG_AC_SYMS))
    out += seg(0xC4, dht(1, 1, _PROG_AC_BITS, _PROG_AC_SYMS))
    # scan 1: DC first, interleaved, Al=1
    out += sos([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, 1)
    out += _encode_dc_scan(coefs, dc_tbls, 0, 1)
    # spectral AC first passes
    out += sos([(1, 0x00)], 1, 5, 0, 2)
    out += _encode_ac_first_scan(coefs[0], ac_y, 1, 5, 2)
    out += sos([(2, 0x01)], 1, 63, 0, 1)
    out += _encode_ac_first_scan(coefs[1], ac_c, 1, 63, 1)
    out += sos([(3, 0x01)], 1, 63, 0, 1)
    out += _encode_ac_first_scan(coefs[2], ac_c, 1, 63, 1)
    out += sos([(1, 0x00)], 6, 63, 0, 2)
    out += _encode_ac_first_scan(coefs[0], ac_y, 6, 63, 2)
    # DC refinement restores the low DC bit
    out += sos([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 1, 0)
    out += _encode_dc_scan(coefs, dc_tbls, 1, 0)
    # AC successive-approximation refinements (luma: two levels)
    out += sos([(1, 0x00)], 1, 5, 2, 1)
    out += _encode_ac_refine_scan(coefs[0], ac_y, 1, 5, 1)
    out += sos([(1, 0x00)], 6, 63, 2, 1)
    out += _encode_ac_refine_scan(coefs[0], ac_y, 6, 63, 1)
    out += sos([(1, 0x00)], 1, 5, 1, 0)
    out += _encode_ac_refine_scan(coefs[0], ac_y, 1, 5, 0)
    out += sos([(1, 0x00)], 6, 63, 1, 0)
    out += _encode_ac_refine_scan(coefs[0], ac_y, 6, 63, 0)
    out += sos([(2, 0x01)], 1, 63, 1, 0)
    out += _encode_ac_refine_scan(coefs[1], ac_c, 1, 63, 0)
    out += sos([(3, 0x01)], 1, 63, 1, 0)
    out += _encode_ac_refine_scan(coefs[2], ac_c, 1, 63, 0)
    out += b"\xff\xd9"
    return bytes(out)
