"""Pure-numpy JPEG (JFIF) codec — the lossy companion to the lossless
PNG/BMP/PPM codecs in ``imagecodec.py``.

Real multimodal corpora are overwhelmingly JPEG, so the decode stage of
the media pipeline must read it. This module implements the Huffman
DCT processes of ITU-T T.81 (ISO/IEC 10918-1) with no dependency
beyond numpy, as ONE scan coder: the baseline sequential process is the
``Ss=0, Se=63, Ah=Al=0`` case of the progressive (Annex G) machinery,
in both directions.

* **Decoder** (``decode_jpeg``): marker parse (DQT 8/16-bit, SOF,
  DHT, SOS, DRI/RSTn, 0xFF fill bytes, APPn/COM skip); every scan goes
  through one walker, ``_decode_scan`` (canonical Huffman per Annex C,
  byte unstuffing, restart-interval resets; MCU order for interleaved
  scans, the component's own block grid otherwise; DC then the AC band
  of each block, as a first pass or a refinement). Baseline
  (SOF0/SOF1) files decode whether they interleave their components in
  one scan or send one scan per component; progressive (SOF2) files
  cover spectral selection and successive approximation with DC/AC
  refinement scans and EOB runs. The tail is shared: dequantize +
  zigzag, batched 8×8 inverse DCT (orthonormal separable matrix form
  over all blocks of a component at once), chroma upsample for h/v
  sampling factors ≤ 4 with integer max/factor ratios (covers 4:4:4 /
  4:2:2 / 4:2:0 / 4:1:1; non-integer ratios raise), YCbCr→RGB per the
  JFIF matrix. Grayscale scans decode to HxWx3 by channel replication
  (the media pipeline's image contract). Arithmetic-coded streams
  raise with a clear message (patent-era rarity;
  ``imagecodec.sniff_and_decode`` then tries Pillow, where it is
  installed). A malformed stream raises ``ValueError``.
* **Encoders**: both quantize through ``_quantize_rgb`` (4:4:4, the
  Annex K reference quantization tables scaled by the libjpeg quality
  curve: ``5000/Q`` below 50, ``200−2Q`` above), write their headers
  through ``_write_header`` and their scans through ``_encode_scan``,
  the encoder mirror of the walker. ``encode_jpeg`` writes one
  interleaved sequential scan with the Annex K "typical" Huffman tables
  (Tables K.3-K.6) — the same defaults virtually every camera writes,
  so any conforming decoder reads our output.
  ``encode_jpeg_progressive`` writes the same quantized coefficients
  as an SOF2 scan script (DC first + refinement, spectral AC bands,
  two successive-approximation levels for luma), used both as a
  progressive writer and as the roundtrip pin for the progressive
  decoder.

Validation posture: the decoder is pinned three independent ways —
(1) ANALYTIC fixture tests hand-assemble JPEGs byte-by-byte in the
test file (their own spelling of headers + Huffman tables) whose
DC-only blocks have closed-form decoded values; (2) encode→decode
roundtrips at PSNR tolerance (JPEG is lossy; Annex K at q85 keeps a
smooth gradient within a few counts/pixel); (3) progressive↔baseline
equivalence — entropy coding is lossless over quantized coefficients
and both encoders share one quantizer, so decoding
``encode_jpeg_progressive``'s stream is BIT-IDENTICAL to decoding
``encode_jpeg``'s stream of the same image by construction, a
one-scan-per-component baseline stream decodes to the pixels of the
interleaved one, and real-world SOF2 files (non-interleaved DC, Ah=1
refinements) decode with pinned statistics.

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
    (T.81 F.1.2.3). Carries the EOB run a scan owes from block to
    block, and the refinement correction bits of the blocks inside
    it."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0
        self.eobrun = 0
        self.eob_bits: list[int] = []

    def symbol(self, tbl: dict, sym: int) -> None:
        ln, code = tbl[sym]
        self.write(code, ln)

    def value(self, tbl: dict, r: int, v: int) -> None:
        """Symbol ``(r << 4) | size(v)``, then v's size-bit magnitude
        (F.1.2.1-2; a DC diff is the r = 0 case)."""
        s = abs(v).bit_length()
        self.symbol(tbl, (r << 4) | s)
        if s:
            self.write(v if v >= 0 else v + (1 << s) - 1, s)

    def end_eobrun(self, tbl: dict) -> None:
        """Emit the pending EOB run (G.1.2.2) and its correction bits."""
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            self.symbol(tbl, nbits << 4)
            if nbits:
                self.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
            for bit in self.eob_bits:
                self.write(bit, 1)
            self.eob_bits = []

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

    Every scan goes through the one scan walker, ``_decode_scan``, as
    soon as the marker loop reaches its SOS (tables may be redefined
    between scans). Baseline sequential (SOF0/SOF1) is its sequential
    case ``Ss=0, Se=63, Ah=Al=0``, so a baseline file that sends its
    components in separate scans decodes as well as an interleaved one;
    progressive (SOF2) covers spectral selection, successive
    approximation (DC + AC refinement scans, EOB runs per T.81 Annex
    G), interleaved and single-component scans, and restart intervals.
    Entropy decode accumulates quantized coefficients per component;
    dequantize + batched IDCT + upsample + color run once at the end.
    A malformed stream raises ``ValueError``."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    restart_interval = 0
    state: dict | None = None  # frame geometry + coefficient accumulators
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
            state = _frame_state(h, w, comps, progressive=marker == 0xC2)
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
            if state is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scomps = []
            for s in range(ns):
                cid = seg[1 + 2 * s]
                tt = seg[2 + 2 * s]
                scomps.append((cid, tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            reader = _BitReader(blob, pos + 2 + seglen)
            _decode_scan(
                reader,
                state,
                scomps,
                ss,
                se,
                ahal >> 4,
                ahal & 0x0F,
                qtables,
                dc_tables,
                ac_tables,
                restart_interval,
            )
            # carry on from wherever this scan's entropy data ends
            pos = reader.pos
            continue
        pos += 2 + seglen
    if state is None or not state["quant"]:
        raise ValueError("JPEG with no SOF or no SOS scans")
    if not state["progressive"]:
        missing = [c[0] for c in state["comps"] if c[0] not in state["quant"]]
        if missing:
            raise ValueError(
                f"baseline JPEG scans leave components {missing} undecoded"
            )
    return _finish(state)


def _frame_state(h: int, w: int, comps, progressive: bool) -> dict:
    """Frame geometry + coefficient accumulators, shared by both
    processes. Arrays are MCU-padded (covers interleaved scans);
    single-component scans walk only the component's own block grid
    (``nbw``/``nbh`` -- ceil of the component's true dimensions), per
    A.2.2/G.2: trailing MCU-pad blocks exist only in interleaved scans.
    ``quant`` latches each component's quantization table at its first
    scan (B.2.4.1)."""
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
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    state = {"h": h, "w": w, "comps": comps, "progressive": progressive,
             "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
             "coef": {}, "geom": {}, "quant": {}}
    for cid, hf, vf, tq in comps:
        cw = -(-w * hf // hmax)  # ceil(w * hf / hmax)
        ch = -(-h * vf // vmax)
        state["coef"][cid] = np.zeros(
            (mcuy * vf, mcux * hf, 64), dtype=np.int64
        )
        state["geom"][cid] = (hf, vf, tq, -(-cw // 8), -(-ch // 8))
    return state


def _finish(state: dict) -> np.ndarray:
    """Shared decode tail: dequantize the accumulated zigzag
    coefficients, batched IDCT over every block of a component at
    once, upsample, crop, color-convert."""
    h, w, comps = state["h"], state["w"], state["comps"]
    hmax, vmax = state["hmax"], state["vmax"]
    full = {}
    for cid, hf, vf, _tq in comps:
        zz = state["coef"][cid]  # (bh, bw, 64) zigzag-ordered
        natural = np.zeros(zz.shape, dtype=np.float64)
        # a component no scan reached is all zeros: any step will do
        natural[:, :, ZIGZAG] = zz * state["quant"].get(cid, 0)
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
# The scan walker (T.81 Annex A.2, F.2 and G)
# ---------------------------------------------------------------------------


def _decode_scan(
    reader: _BitReader,
    state: dict,
    scomps,
    ss: int,
    se: int,
    ah: int,
    al: int,
    qtables: dict,
    dc_tables: dict,
    ac_tables: dict,
    restart_interval: int,
) -> None:
    """Decode one scan, baseline or progressive, into the frame's
    coefficient accumulators; a sequential frame's scans are the case
    ``Ss=0, Se=63, Ah=Al=0``.

    Blocks go in MCU order when the scan holds more than one
    component, else over the component's own ``nbw x nbh`` grid; a
    restart unit is one MCU or one block. Per block: DC when ``Ss ==
    0`` (first pass codes diffs of coef/2^Al, refinement appends one
    bit), then the AC band ``[max(Ss, 1), Se]`` (first pass: runs, ZRL,
    EOB runs; refinement: correction bits for already-nonzero
    coefficients, G.1.2.3 / the libjpeg decode_mcu_AC_refine
    protocol)."""
    if not state["progressive"]:
        ss, se, ah, al = 0, 63, 0, 0  # A.2: sequential scans ignore them
    elif ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    elif ss and len(scomps) != 1:
        # AC scan: exactly one component (G.2)
        raise ValueError("progressive AC scan must be single-component")
    comps = []
    for cid, td, ta in scomps:
        if cid not in state["geom"]:
            raise ValueError(f"JPEG scan names component {cid} not in the frame")
        hf, vf, tq, nbw, nbh = state["geom"][cid]
        dc = dc_tables.get(td) if ss == 0 and ah == 0 else {}
        ac = ac_tables.get(ta) if se else {}
        if dc is None or ac is None:
            raise ValueError(
                f"JPEG scan names an undefined Huffman table "
                f"(component {cid}: DC {td}, AC {ta})"
            )
        if cid not in state["quant"]:
            if tq not in qtables:
                raise ValueError(
                    f"JPEG component {cid} names undefined quantization "
                    f"table {tq}"
                )
            state["quant"][cid] = qtables[tq]
        comps.append((state["coef"][cid], dc, ac, hf, vf, nbw, nbh))
    if len(comps) > 1:
        mcux = state["mcux"]
        units = [
            [
                (i, my * vf + by, mx * hf + bx)
                for i, (_, _, _, hf, vf, _, _) in enumerate(comps)
                for by in range(vf)
                for bx in range(hf)
            ]
            for my in range(state["mcuy"])
            for mx in range(mcux)
        ]
    else:
        nbw, nbh = comps[0][5:]
        units = [[(0, by, bx)] for by in range(nbh) for bx in range(nbw)]
    ac_pass = _refine_ac if ah else _first_ac
    lo = max(ss, 1)
    pred = [0] * len(comps)
    eobrun = 0
    for n, unit in enumerate(units):
        if restart_interval and n and n % restart_interval == 0:
            reader.byte_align_past_restart()
            pred = [0] * len(comps)
            eobrun = 0
        for i, by, bx in unit:
            carr, dc, ac = comps[i][:3]
            zz = carr[by, bx]
            if ss == 0:
                if ah == 0:
                    s = _huff_decode(reader, dc)
                    if s:
                        pred[i] += _extend(reader.read_bits(s), s)
                    zz[0] = pred[i] << al
                elif reader.read_bit():
                    zz[0] |= 1 << al
            if se:
                eobrun = ac_pass(reader, ac, zz, lo, se, al, eobrun)


def _first_ac(reader, tbl, zz, ss, se, al, eobrun) -> int:
    """AC first pass over band [ss, se] of one block; returns the EOB
    run still owed by the blocks after it."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(reader, tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) - 1 + (reader.read_bits(r) if r else 0)
        k += r
        if k > se:
            raise ValueError("AC run past end of band")
        zz[k] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _refine_ac(reader, tbl, zz, ss, se, al, eobrun) -> int:
    """AC refinement pass (G.1.2.3) over band [ss, se] of one block;
    returns the EOB run still owed by the blocks after it."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun:
        # EOB region: only correction bits for nonzero coefs
        eobrun -= 1
    else:
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
                    raise ValueError("invalid magnitude in AC refinement scan")
                newval = p1 if reader.read_bit() else m1
            # advance past r zero-history coefs, emitting correction
            # bits for nonzero ones along the way
            while k <= se:
                if zz[k]:
                    if reader.read_bit() and not (abs(int(zz[k])) & p1):
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    # EOB reached (in this block or an earlier one): refine the rest
    for kk in range(k, se + 1):
        if zz[kk]:
            if reader.read_bit() and not (abs(int(zz[kk])) & p1):
                zz[kk] += p1 if zz[kk] > 0 else m1
    return eobrun


# ---------------------------------------------------------------------------
# Encoder (4:4:4, Annex K quantization; one scan coder for both processes)
# ---------------------------------------------------------------------------


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality curve: 5000/Q below 50, 200−2Q at and above."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _quantize_rgb(img: np.ndarray, quality: int):
    """Front half of encoding: color transform, pad by edge
    replication, batched DCT, zigzag quantize. Returns (h, w, qy, qc,
    coefs) with ``coefs[ci]`` shaped (bh, bw, 64) int64 zigzag-ordered
    (quantization divides zigzag-ordered coefficients, and DQT payloads
    are zigzag-ordered by spec)."""
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


def _segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _write_header(sof: int, h: int, w: int, qy, qc, dhts) -> bytearray:
    """SOI, JFIF APP0, the luma and chroma DQTs, a 4:4:4 three-component
    SOF (0xC0 baseline, 0xC2 progressive), then one DHT per ``(tc, th,
    bits, vals)`` of ``dhts`` in the order listed."""
    out = bytearray(b"\xff\xd8")
    out += _segment(
        0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _segment(0xDB, bytes([0x00]) + bytes(qy.astype(np.uint8)))
    out += _segment(0xDB, bytes([0x01]) + bytes(qc.astype(np.uint8)))
    out += _segment(
        sof,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, 0x11, 0])  # Y: 1x1, qtable 0
        + bytes([2, 0x11, 1])  # Cb
        + bytes([3, 0x11, 1]),  # Cr
    )
    for tc, th, bits, vals in dhts:
        out += _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))
    return out


def _write_scan(coefs, dhts, comps, ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS segment + entropy-coded data of one scan over ``comps``
    (indices into ``_quantize_rgb``'s ``coefs``: 0 is luma and codes
    with tables 0, 1 and 2 are chroma and code with tables 1)."""
    tables = {(tc, th): _encode_table(bits, vals) for tc, th, bits, vals in dhts}
    body = bytes([len(comps)])
    scomps = []
    for ci in comps:
        t = min(ci, 1)
        body += bytes([ci + 1, (0 if ss else t) << 4 | (t if se else 0)])
        scomps.append((coefs[ci].tolist(), tables.get((0, t)), tables.get((1, t))))
    return _segment(0xDA, body + bytes([ss, se, ah << 4 | al])) + _encode_scan(
        scomps, ss, se, ah, al
    )


def _encode_scan(scomps, ss: int, se: int, ah: int, al: int) -> bytes:
    """Entropy-code one scan of ``scomps = [(coefs, dc_tbl, ac_tbl)]``
    (nested (bh, bw, 64) zigzag lists; 4:4:4, so an MCU is one block
    per component) — the encoder mirror of ``_decode_scan``. Per block:
    DC when ``Ss == 0``, then the AC band ``[max(Ss, 1), Se]``, each as
    a first pass or a refinement. A sequential scan (``Ss = 0 < Se``)
    ends each block's EOB run at once: the Annex K tables define only
    EOB0."""
    writer = _BitWriter()
    bh, bw = len(scomps[0][0]), len(scomps[0][0][0])
    ac_pass = _encode_ac_refine if ah else _encode_ac_first
    lo = max(ss, 1)
    preds = [0] * len(scomps)
    for by in range(bh):
        for bx in range(bw):
            for i, (coefs, dc_tbl, ac_tbl) in enumerate(scomps):
                zz = coefs[by][bx]
                if ss == 0:
                    v = zz[0] >> al  # arithmetic shift (G.1.2.1)
                    if ah:
                        writer.write(v & 1, 1)
                    else:
                        writer.value(dc_tbl, 0, v - preds[i])
                        preds[i] = v
                if se:
                    ac_pass(writer, ac_tbl, zz, lo, se, al)
                    if ss == 0:
                        writer.end_eobrun(ac_tbl)
    writer.end_eobrun(scomps[0][2])
    return writer.flush()


def _encode_ac_first(writer, tbl, zz, ss: int, se: int, al: int) -> None:
    """AC first pass over band [ss, se] of one block at precision Al:
    runs, ZRL, and a block whose band ends in zeros joins the EOB run
    — the encoder mirror of ``_first_ac``."""
    r = 0
    for k in range(ss, se + 1):
        v = zz[k]
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        writer.end_eobrun(tbl)
        while r > 15:
            writer.symbol(tbl, 0xF0)  # ZRL
            r -= 16
        writer.value(tbl, r, t if v > 0 else -t)
        r = 0
    if r > 0:  # trailing zeros (or all-zero band): EOB block
        writer.eobrun += 1
        if writer.eobrun == 0x7FFF:
            writer.end_eobrun(tbl)


def _encode_ac_refine(writer, tbl, zz, ss: int, se: int, al: int) -> None:
    """AC refinement pass (Ah = Al+1) over band [ss, se] of one block:
    correction bits for already-nonzero coefficients, (r,1) symbols +
    sign bit for newly nonzero ones, EOB runs carrying buffered
    correction bits — the encoder mirror of ``_refine_ac``.

    Two correction-bit buffers, as in every conforming implementation:
    ``writer.eob_bits`` holds bits belonging to blocks already inside
    the pending EOB run (emitted right after the EOB symbol, where the
    decoder's EOB-region sweep reads them) and ``cur_bits`` holds this
    block's bits (emitted after its next ZRL/(r,1) symbol, where the
    decoder's advance loop reads them)."""
    absvals = [abs(v) >> al for v in zz[ss : se + 1]]
    eob = ss - 1  # index of last NEWLY nonzero coef, if any
    for k, t in enumerate(absvals, ss):
        if t == 1:
            eob = k
    r = 0
    cur_bits: list[int] = []
    for k, t in enumerate(absvals, ss):
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            writer.end_eobrun(tbl)
            writer.symbol(tbl, 0xF0)
            r -= 16
            for bit in cur_bits:
                writer.write(bit, 1)
            cur_bits = []
        if t > 1:
            # already nonzero at coarser precision: buffer the
            # correction bit until this block's next symbol
            cur_bits.append(t & 1)
            continue
        # newly nonzero at this precision: (r,1) + sign bit
        writer.end_eobrun(tbl)
        writer.value(tbl, r, 1 if zz[k] > 0 else -1)
        for bit in cur_bits:
            writer.write(bit, 1)
        cur_bits = []
        r = 0
    if r > 0 or cur_bits:
        writer.eobrun += 1
        writer.eob_bits.extend(cur_bits)
        if writer.eobrun == 0x7FFF:
            writer.end_eobrun(tbl)


def _encode(img: np.ndarray, quality: int, sof: int, dhts, script) -> bytes:
    """Quantize, write the header, then each scan ``(comps, Ss, Se, Ah,
    Al)`` of ``script``."""
    h, w, qy, qc, coefs = _quantize_rgb(img, quality)
    out = _write_header(sof, h, w, qy, qc, dhts)
    for scan in script:
        out += _write_scan(coefs, dhts, *scan)
    return bytes(out + b"\xff\xd9")


#: Baseline DHTs, in the order ``encode_jpeg`` writes them.
_BASELINE_DHTS = (
    (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
    (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
    (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
)


def encode_jpeg(img: np.ndarray, quality: int = 85) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a baseline 4:4:4 JFIF JPEG:
    one interleaved sequential scan (``Ss=0, Se=63, Ah=Al=0``)."""
    return _encode(img, quality, 0xC0, _BASELINE_DHTS, [((0, 1, 2), 0, 63, 0, 0)])


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
    JFIF JPEG with the Annex K quantization and DC tables.

    Scan script exercises the full Annex G surface: interleaved DC
    first + refinement, per-component spectral AC bands, and two
    levels of AC successive approximation for luma (Al=2 -> 1 -> 0).
    The quantized coefficients are ``encode_jpeg``'s and all precision
    is restored by the final scans, so decoding this stream yields
    BIT-IDENTICAL pixels to decoding ``encode_jpeg``'s stream of the
    same image, by construction."""
    dhts = (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 0, _PROG_AC_BITS, _PROG_AC_SYMS),
        (1, 1, _PROG_AC_BITS, _PROG_AC_SYMS),
    )
    script = [
        ((0, 1, 2), 0, 0, 0, 1),  # DC first, interleaved, Al=1
        ((0,), 1, 5, 0, 2),  # spectral AC first passes
        ((1,), 1, 63, 0, 1),
        ((2,), 1, 63, 0, 1),
        ((0,), 6, 63, 0, 2),
        ((0, 1, 2), 0, 0, 1, 0),  # DC refinement restores the low bit
        ((0,), 1, 5, 2, 1),  # AC successive approximation (luma: 2 levels)
        ((0,), 6, 63, 2, 1),
        ((0,), 1, 5, 1, 0),
        ((0,), 6, 63, 1, 0),
        ((1,), 1, 63, 1, 0),
        ((2,), 1, 63, 1, 0),
    ]
    return _encode(img, quality, 0xC2, dhts, script)
