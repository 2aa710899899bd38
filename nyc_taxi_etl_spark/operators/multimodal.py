"""Multimodal columns: image / audio / video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched
``mapInPandas`` pipelines.

Beyond-reference scope (the north-star training-data pipeline): the
reference engine is tabular-only; a 100 TB pretraining pipeline carries
media blobs next to text. The Spark-side design here is the real
thing — unified media schema, per-batch columnar processing, bounded
memory via ``maxRecordsPerBatch``, partition-count control — while the
codec layer is swappable:

  * audio: REAL decode — PCM16 little-endian via ``numpy.frombuffer``
    (no external codec needed), then duration / RMS / zero-crossing
    features.
  * image: REAL decode for PNG (zlib inflate + full scanline
    defilter), BMP (24-bit BGR bottom-up), PPM (P6) and JPEG —
    baseline AND progressive Huffman — via the pure-numpy codecs in
    ``imagecodec.py`` / ``jpegcodec.py``; raw RGB buffers of the
    declared size pass through; Pillow, if importable, is tried for
    anything beyond those (arithmetic-coded JPEG); unknown bytes RAISE rather than fabricate pixels, or are
    counted-skipped under ``on_error='skip'`` + ``image_decode_audit``.
  * video: frame sampling over a length-prefixed frame container
    (deterministic synthetic layout) — every-Nth-frame selection, one
    output row per kept frame.

One driver, ``_map_media``, runs every per-row operator: it filters
one ``kind``, decodes each row's payload (HxWx3 pixels, PCM16 samples
or raw frame bytes), applies the ``on_error`` rule to decode failures
only, and feeds the operator's kernel inside one Arrow-batched
``mapInPandas`` loop. Each operator is just its per-row kernel.

Scale posture: all operators are narrow ``mapInPandas`` passes — no
shuffle, no driver collect; blobs stream through Arrow record batches
(`spark.sql.execution.arrow.maxRecordsPerBatch` caps batch memory);
metadata-only queries (width/duration filters) never touch the blob
column thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "synthesize_media",
    "image_features",
    "image_decode_audit",
    "resize_images",
    "audio_features",
    "sample_video_frames",
    "image_phash",
    "image_phash_pairs",
    "synthesize_image_variants",
    "audio_fingerprint",
    "audio_fingerprint_pairs",
    "synthesize_audio_variants",
]

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("width", IntegerType()),  # image/video
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),  # audio
        StructField("n_frames", IntegerType()),  # video
    ]
)


# ---------------------------------------------------------------------------
# Deterministic synthetic media (tests / fixtures)
# ---------------------------------------------------------------------------


def synthesize_media(spark: SparkSession, n: int = 90, seed: int = 42) -> DataFrame:
    """Deterministic media table: n rows cycling image/audio/video.

    Audio blobs are genuine PCM16 sine-ish waves; image blobs cycle
    REAL encoded containers (PNG → BMP → PPM → baseline JPEG →
    progressive JPEG → raw RGB, via ``imagecodec.py`` /
    ``jpegcodec.py``) so the actual codecs — zlib inflate + PNG
    defilter, BMP bottom-up BGR rows, PPM header grammar, JPEG
    Huffman entropy decode + IDCT for BOTH processes (the progressive
    path exercises Annex G successive approximation inside the driver
    run, not just in unit tests); video blobs are ``n_frames``
    concatenated fixed-size frames."""
    from .imagecodec import encode_bmp, encode_png, encode_ppm
    from .jpegcodec import encode_jpeg, encode_jpeg_progressive

    rows = []
    rng = np.random.default_rng(seed)
    img_count = 0
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h = int(rng.integers(8, 33)), int(rng.integers(8, 33))
            pixels = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            codec = (
                encode_png,
                encode_bmp,
                encode_ppm,
                encode_jpeg,
                encode_jpeg_progressive,
                None,
            )[img_count % 6]
            blob = pixels.tobytes() if codec is None else codec(pixels)
            img_count += 1
            rows.append((i, kind, bytearray(blob), w, h, None, None))
        elif kind == "audio":
            sr = int(rng.choice([8000, 16000]))
            dur = float(rng.uniform(0.05, 0.2))
            t = np.arange(int(sr * dur))
            freq = float(rng.uniform(100, 1000))
            wave = (np.sin(2 * np.pi * freq * t / sr) * 12000).astype("<i2")
            rows.append((i, kind, bytearray(wave.tobytes()), None, None, sr, None))
        else:
            w, h, nf = 8, 6, int(rng.integers(4, 13))
            frames = rng.integers(0, 256, nf * w * h * 3, dtype=np.uint8).tobytes()
            rows.append((i, kind, bytearray(frames), w, h, None, nf))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# The media driver (every per-row operator below runs through it)
# ---------------------------------------------------------------------------

_DECODE = {
    "image": lambda r: _decode_image(bytes(r.content), int(r.width), int(r.height)),
    "audio": lambda r: np.frombuffer(bytes(r.content), dtype="<i2"),
    "video": lambda r: bytes(r.content),
}


def _map_media(
    media: DataFrame,
    kind: str,
    schema: StructType,
    kernel: Callable,
    on_error: str = "raise",
    failed: Callable | None = None,
) -> DataFrame:
    """The one media driver: keep the ``kind`` rows and, per Arrow
    batch, decode each row's payload (``_DECODE``) and extend the
    output with ``kernel(row, payload)``'s tuples.

    A decode ``ValueError`` fails the task under ``on_error='raise'``
    and drops the row under ``'skip'``; ``failed(row, exc)``, when
    given, turns it into output rows instead (the decode audit). A
    ``ValueError`` from the kernel itself always propagates."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    decode = _DECODE[kind]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                try:
                    payload = decode(r)
                except ValueError as exc:
                    if failed is not None:
                        out.extend(failed(r, exc))
                    elif on_error == "raise":
                        raise
                    continue
                out.extend(kernel(r, payload))
            yield pd.DataFrame(out, columns=schema.fieldNames())

    return media.filter(F.col("kind") == kind).mapInPandas(run, schema)


def _pack_bits(bits) -> int:
    """Pack booleans big-endian: the first bit is the most significant."""
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val


# ---------------------------------------------------------------------------
# Image
# ---------------------------------------------------------------------------


def _decode_image(blob: bytes, width: int, height: int) -> np.ndarray:
    """Decode an image blob to HxWx3 uint8.

    Decode order: (1) PNG / BMP / PPM / baseline-JPEG containers via
    the REAL pure-numpy codecs in ``imagecodec.py`` + ``jpegcodec.py``
    (magic-byte sniff, CRC checks, full PNG defilter, JPEG Huffman +
    IDCT + chroma upsample; baseline AND progressive/SOF2) — JPEG
    features beyond the builtin codec (arithmetic coding, exotic
    sampling) try Pillow, if importable, before failing; (2) raw RGB
    buffer of the declared size (as produced by a decode-at-ingest
    stage); (3) Pillow if importable, for formats beyond the built-in
    four. Undecodable bytes raise ValueError instead of fabricating
    pixels."""
    from .imagecodec import _pillow_decode, sniff_and_decode, sniff_format

    expect = width * height * 3
    if sniff_format(blob) is not None:
        # A sniffed container that the codecs (and Pillow) reject is
        # corrupt encoded data — re-raise rather than reinterpret it as
        # raw pixels, even if the byte length coincidentally equals
        # width*height*3 (that would silently yield garbage, violating
        # the "raise rather than fabricate pixels" contract).
        return sniff_and_decode(blob)
    if len(blob) == expect:
        return np.frombuffer(blob, dtype=np.uint8).reshape(height, width, 3)
    return _pillow_decode(
        blob,
        ValueError(
            f"undecodable image blob ({len(blob)} bytes; no PNG/BMP/PPM/"
            f"JPEG magic, not raw {width}x{height}x3)"
        ),
    )


_IMG_FEAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("std_intensity", DoubleType()),
        StructField("ahash", StringType()),  # 64-bit average-hash hex
    ]
)


def image_features(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Per-image features via mapInPandas: intensity stats + an
    8x8 average-hash fingerprint (near-dup signal for images, the
    visual twin of SimHash).

    ``on_error``: ``"raise"`` (default — a corrupt blob fails the
    task, the posture for trusted pipelines) or ``"skip"`` — rows the
    decoder rejects (e.g. arithmetic-coded JPEG without Pillow) are
    dropped instead of poisoning the whole task; pair
    with :func:`image_decode_audit` to count and inspect what was
    skipped. At 100 TB a one-in-a-billion malformed blob must not
    kill the job."""

    def kernel(r, img):
        gray = img.mean(axis=2)
        # 8x8 average hash: downsample by block-mean, threshold
        ys = np.array_split(np.arange(gray.shape[0]), 8)
        xs = np.array_split(np.arange(gray.shape[1]), 8)
        small = np.array([[gray[np.ix_(y, x)].mean() for x in xs] for y in ys])
        ahash = _pack_bits((small > small.mean()).flatten())
        return [
            (
                r.media_id,
                int(r.width),
                int(r.height),
                float(img.mean()),
                float(img.std()),
                f"{ahash:016x}",
            )
        ]

    return _map_media(media, "image", _IMG_FEAT_SCHEMA, kernel, on_error)


_DECODE_AUDIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("decode_ok", IntegerType()),
        StructField("error", StringType()),
    ]
)


def image_decode_audit(media: DataFrame) -> DataFrame:
    """Per-image decodability audit: (media_id, decode_ok, error) —
    the 'counted skip' companion to ``image_features(on_error='skip')``.
    A curation run over a crawled corpus groups this by error to see
    exactly which blobs the decode stage dropped (progressive JPEG,
    truncation, bad magic) instead of inferring it from row-count
    deltas. Same Arrow-batched mapInPandas shape as the feature
    extractors; the decoded pixels are discarded, only the verdict
    row flows."""
    return _map_media(
        media,
        "image",
        _DECODE_AUDIT_SCHEMA,
        lambda r, _img: [(r.media_id, 1, None)],
        failed=lambda r, exc: [(r.media_id, 0, str(exc)[:200])],
    )


_RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    media: DataFrame, out_w: int, out_h: int, on_error: str = "raise"
) -> DataFrame:
    """Nearest-neighbor resize to (out_w, out_h) — pure numpy index
    sampling, emitting raw RGB blobs of the new size. Same
    ``on_error`` contract as :func:`image_features` ('skip' drops
    undecodable blobs instead of failing the task)."""

    def kernel(r, img):
        yi = (np.arange(out_h) * img.shape[0] // out_h).clip(0, img.shape[0] - 1)
        xi = (np.arange(out_w) * img.shape[1] // out_w).clip(0, img.shape[1] - 1)
        resized = img[np.ix_(yi, xi)]
        return [(r.media_id, bytearray(resized.tobytes()), out_w, out_h)]

    return _map_media(media, "image", _RESIZE_SCHEMA, kernel, on_error)


# ---------------------------------------------------------------------------
# Audio (real PCM16 decode — numpy only)
# ---------------------------------------------------------------------------

_AUDIO_FEAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossing_rate", DoubleType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """PCM16-LE decode + duration / RMS / zero-crossing-rate features —
    fully real (numpy frombuffer), no codec dependency."""

    def kernel(r, pcm):
        wave = pcm.astype(np.float64)
        n = wave.size
        sr = int(r.sample_rate)
        zc = float(np.mean(np.signbit(wave[1:]) != np.signbit(wave[:-1]))) if n > 1 else 0.0
        return [
            (
                r.media_id,
                sr,
                n,
                round(n / sr, 6) if sr else 0.0,
                float(np.sqrt(np.mean(wave**2))) if n else 0.0,
                zc,
            )
        ]

    return _map_media(media, "audio", _AUDIO_FEAT_SCHEMA, kernel)


# ---------------------------------------------------------------------------
# Video (frame sampling)
# ---------------------------------------------------------------------------

_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def sample_video_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Every-Nth-frame sampling over the synthetic frame container
    (fixed-size raw RGB frames back to back). One output row per kept
    frame — the fan-out a real video pipeline feeds to the image ops."""

    def kernel(r, blob):
        w, h, nf = int(r.width), int(r.height), int(r.n_frames)
        fsz = w * h * 3
        return [
            (r.media_id, idx, bytearray(blob[idx * fsz : (idx + 1) * fsz]), w, h)
            for idx in range(0, nf, every_n)
        ]

    return _map_media(media, "video", _FRAME_SCHEMA, kernel)


# ---------------------------------------------------------------------------
# ViT-style patch embeddings (bilinear resize + patchify — numpy only)
# ---------------------------------------------------------------------------

_PATCH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("grid", IntegerType()),
        StructField("patch_px", IntegerType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Separable bilinear resample (align_corners=False convention —
    the torchvision/PIL default): pure vectorized numpy."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    a = img[np.ix_(y0, x0)].astype(np.float64)
    b = img[np.ix_(y0, x1)].astype(np.float64)
    c = img[np.ix_(y1, x0)].astype(np.float64)
    d = img[np.ix_(y1, x1)].astype(np.float64)
    top = a * (1 - wx) + b * wx
    bot = c * (1 - wx) + d * wx
    return top * (1 - wy) + bot * wy


def image_patch_embeddings(
    media: DataFrame, grid: int = 4, patch_px: int = 8
) -> DataFrame:
    """ViT-preprocessing plumbing, for real: decode → BILINEAR resize
    to (grid·patch_px)² → split into grid×grid patches → per-patch
    mean RGB, concatenated into one grid²·3-dim embedding per image —
    the deterministic stand-in for a patch-projection layer, with
    every numeric step (resample weights, patch folds) actually
    computed, so downstream similarity/dedup over the embedding
    column exercises true image-derived vectors.

    Scale: narrow Arrow-batched mapInPandas, no shuffle; the resize is
    separable vectorized numpy (no per-pixel Python); output is one
    short row per image — the blob never leaves the stage."""
    side = grid * patch_px

    def kernel(r, img):
        rs = _bilinear_resize(img, side, side)
        # (grid, patch_px, grid, patch_px, 3) → mean per patch
        p = rs.reshape(grid, patch_px, grid, patch_px, 3)
        emb = p.mean(axis=(1, 3)).reshape(grid * grid * 3) / 255.0
        return [(int(r.media_id), grid, patch_px, [float(x) for x in emb])]

    return _map_media(media, "image", _PATCH_SCHEMA, kernel)


# ---------------------------------------------------------------------------
# Perceptual hash (pHash) + image near-dup pairs
# ---------------------------------------------------------------------------


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (the classic pHash transform):
    ``D @ x`` is the 1-D DCT of x; ``D @ img @ D.T`` the 2-D DCT."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    d = np.cos(np.pi * k * (2 * i + 1) / (2 * n)) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    return d


def _phash64(img: np.ndarray, size: int = 32, low: int = 8) -> int:
    """64-bit DCT perceptual hash of an RGB image.

    Standard pHash (as popularized by the public imagehash library,
    re-derived here in pure numpy): grayscale → area-mean resize to
    ``size``² → 2-D DCT-II → keep the ``low``×``low`` low-frequency
    block → threshold each AC coefficient against the AC median. The
    DC coefficient (overall brightness) is EXCLUDED from both the
    median and the bits — bit 63 is always 0 — so a uniform exposure
    shift moves the hash at most a couple of bits (float ties at the
    median; the DC term itself never participates).
    """
    gray = img.astype(np.float64).mean(axis=2)
    ys = np.array_split(np.arange(gray.shape[0]), min(size, gray.shape[0]))
    xs = np.array_split(np.arange(gray.shape[1]), min(size, gray.shape[1]))
    row_means = np.array([gray[y].mean(axis=0) for y in ys])
    small = np.array([[row_means[r][x].mean() for x in xs]
                      for r in range(len(ys))])
    n = small.shape[0]
    m = small.shape[1]
    dct = _dct_matrix(n) @ small @ _dct_matrix(m).T
    lo = dct[: min(low, n), : min(low, m)]
    if lo.shape != (low, low):  # tiny image: pad with zeros
        padded = np.zeros((low, low))
        padded[: lo.shape[0], : lo.shape[1]] = lo
        lo = padded
    flat = lo.flatten()
    ac = flat[1:]
    med = np.median(ac)
    return _pack_bits(ac > med)  # 63 bits used; top bit (DC) always 0


_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def image_phash(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Per-image 64-bit DCT perceptual hash: ``(media_id, phash)``.

    The visual member of the dedup fingerprint family — ahash (in
    :func:`image_features`) thresholds raw pixels and flips on any
    local edit; pHash thresholds low-frequency DCT energy, so
    re-encoding (PNG↔BMP↔JPEG), mild noise, and uniform brightness
    shifts leave the hash within a few bits while distinct images
    land ~32 bits apart.

    Scale: narrow Arrow-batched ``mapInPandas`` — decode + hash per
    blob, no shuffle; output is two longs per image, ready for the
    pigeonhole pair join (:func:`image_phash_pairs`)."""
    return _map_media(
        media,
        "image",
        _PHASH_SCHEMA,
        lambda r, img: [(int(r.media_id), _phash64(img))],
        on_error,
    )


def image_phash_pairs(
    media: DataFrame,
    max_hamming: int = 6,
    blocks: int = 8,
    on_error: str = "raise",
) -> DataFrame:
    """Image near-dup pairs by pHash Hamming distance ≤ ``max_hamming``:
    ``(id_a, id_b, hamming)``.

    Same Manku pigeonhole plan as text SimHash (via the shared
    ``dedup.hamming_near_pairs`` core): 8 blocks of 8 bits each give
    256 bucket values per block, and any pair within distance < 8
    collides on at least one block — candidates are block equi-joins,
    never n². At web scale the default (6, 8) mirrors the published
    near-dup settings for 64-bit fingerprints; raising ``max_hamming``
    past 7 requires more/narrower blocks (hotter buckets) — the
    pigeonhole assertion enforces the invariant."""
    from .dedup import hamming_near_pairs

    sig = image_phash(media, on_error=on_error)
    return hamming_near_pairs(
        sig,
        id_col="media_id",
        sig_col="phash",
        bits=64,
        max_hamming=max_hamming,
        blocks=blocks,
    )


def synthesize_image_variants(
    spark: SparkSession, n_base: int = 12, seed: int = 33
) -> DataFrame:
    """Deterministic image corpus with PLANTED near-duplicates, for
    the pHash pipeline: each smooth base image (low-frequency block
    pattern — pHash is a low-frequency statistic, so robustness is
    only meaningful on images with low-frequency structure) appears
    three times: media_id 3i   = original          (PNG),
                 media_id 3i+1 = re-encoded        (BMP, identical pixels),
                 media_id 3i+2 = noised + brighter (PPM, planted near-dup).
    Distinct bases are independent draws → expected pHash distance
    ~32 bits — far outside any near-dup threshold."""
    from .imagecodec import encode_bmp, encode_png, encode_ppm

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_base):
        h, w = int(rng.integers(24, 49)), int(rng.integers(24, 49))
        # 8x8 low-res pattern upsampled: genuine energy in ALL 64
        # low-frequency DCT coefficients, so the AC median sits inside
        # a well-separated distribution and planted noise moves the
        # hash <= 2 bits (a sparser pattern leaves half the
        # coefficients ~0 == at the median, where noise flips them)
        coarse = rng.integers(40, 216, (8, 8, 3), dtype=np.uint8)
        base = np.kron(
            coarse, np.ones((max(1, h // 8), max(1, w // 8), 1), dtype=np.uint8)
        )[:h, :w]
        h, w = base.shape[:2]
        noise = rng.normal(0.0, 2.5, base.shape)
        near = np.clip(base.astype(np.float64) + noise + 9.0, 0, 255).astype(
            np.uint8
        )
        for j, (img, codec) in enumerate(
            ((base, encode_png), (base, encode_bmp), (near, encode_ppm))
        ):
            rows.append(
                (3 * i + j, "image", bytearray(codec(img)), w, h, None, None)
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Audio spectral fingerprint + near-dup pairs
# ---------------------------------------------------------------------------


def _audio_fp64(
    wave: np.ndarray,
    sr: int,
    n_bands: int = 65,
    win: int = 1024,
    hop: int = 512,
    fmin: float = 100.0,
    fmax: float = 3500.0,
) -> int:
    """64-bit spectral fingerprint of a PCM clip.

    Haitsma–Kalker-family robust hash (the published Philips scheme),
    adapted to CLIP-level dedup: Hann-windowed STFT → power in
    ``n_bands`` log-spaced bands (fmin..min(fmax, Nyquist)) →
    time-AVERAGED band energies → sign of each adjacent-band
    difference = one bit. The per-frame time-difference term of the
    original (built for subsequence search in time-varying music) is
    deliberately dropped: for clip identity it only adds variance.
    Energy-difference signs are exactly invariant to uniform gain and
    robust to additive noise well below the signal floor.
    """
    if len(wave) < win:
        raise ValueError(
            f"audio clip too short to fingerprint ({len(wave)} < {win} samples)"
        )
    window = np.hanning(win)
    mags = np.array(
        [
            np.abs(np.fft.rfft(wave[s : s + win].astype(np.float64) * window))
            ** 2
            for s in range(0, len(wave) - win + 1, hop)
        ]
    )
    freqs = np.fft.rfftfreq(win, 1.0 / sr)
    edges = np.geomspace(fmin, min(fmax, sr / 2 - 1), n_bands + 1)
    ebar = np.array(
        [
            mags[:, (freqs >= edges[b]) & (freqs < edges[b + 1])].sum()
            for b in range(n_bands)
        ]
    )
    bits = ebar[:-1] - ebar[1:] > 0
    val = _pack_bits(bits[:64])
    # two's-complement to signed: LongType/Arrow carry int64, and bit
    # 63 is a real data bit here (unlike pHash, whose DC bit is 0)
    return val - (1 << 64) if val >= 1 << 63 else val


_AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("afp", LongType()),
    ]
)


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-clip 64-bit spectral fingerprint: ``(media_id, afp)`` — the
    audio member of the dedup fingerprint family (see
    :func:`_audio_fp64`). Gain changes leave the hash untouched;
    moderate additive noise moves it a few bits; distinct content
    lands ~32 bits apart.

    Scale: narrow Arrow-batched ``mapInPandas`` — PCM decode + STFT
    per blob, no shuffle; two longs out per clip."""
    return _map_media(
        media,
        "audio",
        _AUDIO_FP_SCHEMA,
        lambda r, wave: [(int(r.media_id), _audio_fp64(wave, int(r.sample_rate)))],
    )


def audio_fingerprint_pairs(
    media: DataFrame, max_hamming: int = 7, blocks: int = 8
) -> DataFrame:
    """Audio near-dup pairs by fingerprint Hamming distance ≤
    ``max_hamming``: ``(id_a, id_b, hamming)`` via the shared Manku
    pigeonhole core (``dedup.hamming_near_pairs`` — block equi-join
    candidates, popcount verify, never n²)."""
    from .dedup import hamming_near_pairs

    return hamming_near_pairs(
        audio_fingerprint(media),
        id_col="media_id",
        sig_col="afp",
        bits=64,
        max_hamming=max_hamming,
        blocks=blocks,
    )


def synthesize_audio_variants(
    spark: SparkSession, n_base: int = 12, seed: int = 5
) -> DataFrame:
    """Deterministic audio corpus with PLANTED near-duplicates: each
    base clip is BROADBAND shaped noise (white noise × a smooth
    random spectral envelope — every log band carries real energy, so
    adjacent-band orderings are well separated; pure test tones would
    leave most bands at leakage level, where the sign bits are noise).
    Triples: media_id 3i   = original,
             media_id 3i+1 = gain ×0.7          (fingerprint-identical),
             media_id 3i+2 = noised + gain ×0.7 (planted near-dup).
    Distinct bases are independent spectra → ~32 bits apart."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_base):
        sr = int(rng.choice([8000, 16000]))
        n = int(sr * 0.5)
        spec = np.fft.rfft(rng.normal(0.0, 1.0, n))
        f = np.fft.rfftfreq(n, 1.0 / sr)
        env = np.interp(
            f, np.linspace(0, sr / 2, 8), rng.uniform(0.2, 1.0, 8)
        )
        wave = np.fft.irfft(spec * env, n)
        wave = wave / np.abs(wave).max() * 12000.0
        noise = rng.normal(0.0, 400.0, n)
        variants = (
            wave,
            wave * 0.7,
            np.clip((wave + noise) * 0.7, -32768, 32767),
        )
        for j, v in enumerate(variants):
            blob = v.astype("<i2").tobytes()
            rows.append(
                (3 * i + j, "audio", bytearray(blob), None, None, sr, None)
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
