"""Catalog queries for the ML analyses (SURVEY.md §2.11): MLlib KMeans
cluster profiles and per-group Isolation-Forest outlier detection.

Neither is ANSI-SQL-expressible (iterative Lloyd's; randomized forest),
so these are registered WITHOUT oracles — the driver applies its weaker
rows-only check, and the pytest suite pins the semantics instead
(deterministic seeds, planted-outlier recall, cluster-count invariants).

Reference sites:
  * KMeans(n_clusters=4) on log1p features + per-cluster describe —
    ``notebooks/comprehensive_trip_analysis_part2.ipynb:1008-1030``.
  * IsolationForest(contamination=0.02) per cab type —
    ``notebooks/comprehensive_trip_analysis_part2.ipynb:926-960``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import isolation_forest_by_group, kmeans_cluster_profile
from .queries import query, t


@query("kmeans_lineitem_profile")
def kmeans_lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-means on log1p(quantity, extendedprice, discount), profiled
    per cluster (A17 describe). Deterministic under seed=42 within one
    Spark version; k rows out.

    Scale: MLlib KMeans aggregates per-partition partial sums per
    iteration — no driver-side data, shuffle size O(k × features)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    return kmeans_cluster_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount"], k=4, seed=42
    ).withColumn("cluster", F.col("cluster").cast("long"))


@query("isolation_outliers_by_flag")
def isolation_outliers_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-Forest outlier rate per l_returnflag group (the
    reference's per-cab-type fit). Output: group, rows scored, outliers
    flagged at contamination=0.02.

    Scale: one Arrow batch per group via applyInPandas; groups are the
    shuffle key. Each group is pre-sampled to ≤ max_rows_per_group by a
    Catalyst-side hash gate BEFORE the grouped map (ml.presample_per_group),
    so the Arrow batch — and executor memory — is bounded no matter the
    table size (an in-UDF cap alone would not be: the whole group
    materializes before UDF code runs)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    scored = isolation_forest_by_group(
        li,
        "l_returnflag",
        ["l_quantity", "l_extendedprice"],
        contamination=0.02,
        n_trees=50,
        seed=42,
        max_rows_per_group=20_000,
    )
    return (
        scored.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("rows_scored"),
            F.sum("is_outlier").cast("long").alias("outliers"),
        )
        .orderBy("l_returnflag")
    )


@query("media_image_features")
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image pipeline (beyond-reference north star): binary
    image column → mapInPandas decode through the REAL pure-numpy
    codecs (PNG/BMP/PPM + JPEG baseline AND progressive — the media
    cycle includes an SOF2 blob, so Annex G successive-approximation
    decode runs inside this driver entry) → intensity stats + 8x8
    average-hash. Deterministic synthetic media keyed off seed=42;
    rows-only check (codec output is not SQL-expressible).

    Scale: narrow Arrow-batched pass, no shuffle; blob column pruned
    for metadata-only consumers."""
    from ..operators.multimodal import image_features, synthesize_media

    return image_features(synthesize_media(spark, n=90, seed=42)).orderBy("media_id")


@query("media_audio_features")
def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio pipeline: PCM16 binary column → REAL numpy
    decode → duration/RMS/zero-crossing features via mapInPandas."""
    from ..operators.multimodal import audio_features, synthesize_media

    out = audio_features(synthesize_media(spark, n=90, seed=42))
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        F.round("zero_crossing_rate", 4).alias("zero_crossing_rate"),
    ).orderBy("media_id")


@query("media_video_frames")
def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video pipeline: frame container binary column →
    every-Nth-frame sampling via mapInPandas, one row per kept frame
    (media_id, frame_idx, frame bytes → length + crc32 digest here so
    the driver never ships raw frames). Rows-only check (codec output
    is not SQL-expressible).

    Scale: frame fan-out happens inside the Arrow batch — the blob is
    read once per task and never shuffled; downstream consumers get
    per-frame rows they can repartition independently."""
    from ..operators.multimodal import sample_video_frames, synthesize_media

    frames = sample_video_frames(synthesize_media(spark, n=90, seed=42), every_n=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
        F.crc32("frame").alias("frame_crc32"),
    ).orderBy("media_id", "frame_idx")


@query("lda_document_topics")
def lda_document_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDA topic-term table over the documents corpus (k=5 topics ×
    top-8 terms, EM optimizer, seed-pinned). Rows-only by design —
    iterative EM inference is not SQL-expressible; determinism and
    shape invariants live in tests/test_ml.py.

    Scale: see ml.py::lda_topics — per-iteration shuffles carry
    O(docs × k) vectors; vocab bounded at 200."""
    from ..ml import lda_topics

    docs = t(spark, sf_dir, "documents")
    return lda_topics(docs, "text", k=5, seed=42, vocab_size=200,
                      max_iter=20, top_n=8)


@query("media_image_patch_embeddings")
def media_image_patch_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch embeddings over the synthetic media corpus:
    real decode (PNG/BMP/PPM pure-numpy codecs) → separable bilinear
    resize → 4×4 patchify → 48-dim mean-RGB embedding per image
    (operators/multimodal.py::image_patch_embeddings). Rows-only by
    design (binary media pipeline); the resample/patch math is pinned
    against a closed-form half-black/half-white fixture in
    tests/test_multimodal.py.

    Scale: narrow Arrow-batched mapInPandas — blobs never shuffle;
    output is one short embedding row per image, joinable straight
    into the similarity/dedup stack."""
    from ..operators.multimodal import image_patch_embeddings, synthesize_media

    media = synthesize_media(spark, n=90, seed=42)
    return image_patch_embeddings(media, grid=4, patch_px=8)


@query("media_image_phash_pairs")
def media_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by DCT perceptual hash — the visual
    member of the dedup family (text: minhash/simhash/winnow;
    embeddings: LSH cosine; images: pHash). Real decode (PNG/BMP/PPM
    codecs) → 32² area resize → 2-D DCT-II → 64-bit low-frequency
    sign hash per image, then the SAME Manku pigeonhole plan as
    SimHash (shared ``dedup.hamming_near_pairs`` core: 8 blocks × 8
    bits, block equi-join candidates, popcount verify — never n²).
    The corpus plants re-encoded (identical pixels, distance 0) and
    noised+brightened (distance ≤ 2) variants of each base image;
    distinct bases sit ≥ 24 bits apart. Rows-only by design (binary
    decode is not SQL-expressible); blocked-vs-brute-force exactness
    and robustness margins are pinned in tests/test_multimodal.py.

    Scale: hash = narrow Arrow-batched mapInPandas (no shuffle);
    pair stage shuffles two longs per image on block values.
    """
    from ..operators.multimodal import (
        image_phash_pairs,
        synthesize_image_variants,
    )

    media = synthesize_image_variants(spark, n_base=12, seed=33)
    return image_phash_pairs(media, max_hamming=6, blocks=8).orderBy(
        "id_a", "id_b"
    )


@query("media_audio_fingerprint_pairs")
def media_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by spectral fingerprint — the audio
    member of the dedup family. PCM16 decode → Hann STFT → 65
    log-band energies, time-averaged → 64 adjacent-band-difference
    sign bits (Haitsma–Kalker / Philips robust-hash family, clip-level
    variant: exactly gain-invariant, noise moves ≤ a few bits), then
    the shared Manku pigeonhole pair plan (``dedup.hamming_near_pairs``,
    8 blocks × 8 bits). The corpus plants gain-rescaled (distance 0)
    and noised (distance ≤ 7) variants per base clip; distinct
    broadband spectra sit ≥ 15 bits apart. Rows-only by design
    (FFT decode is not SQL-expressible); blocked-vs-brute exactness
    and margins pinned in tests/test_multimodal.py.

    Scale: fingerprint = narrow Arrow-batched mapInPandas; pair stage
    shuffles two longs per clip on block values.
    """
    from ..operators.multimodal import (
        audio_fingerprint_pairs,
        synthesize_audio_variants,
    )

    media = synthesize_audio_variants(spark, n_base=12, seed=5)
    return audio_fingerprint_pairs(media, max_hamming=7, blocks=8).orderBy(
        "id_a", "id_b"
    )
