"""Multimodal operator tests: schema/batch plumbing is real; audio
decode is genuinely computed (PCM16), image decode runs the real
PNG/BMP/PPM/JPEG codecs, video frame sampling fans out rows."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators.multimodal import (
    audio_features,
    image_features,
    resize_images,
    sample_video_frames,
    synthesize_media,
)


@pytest.fixture(scope="module")
def media(spark):
    df = synthesize_media(spark, n=90, seed=42).repartition(4).cache()
    df.count()
    return df


def test_media_kinds_balanced(media):
    counts = {r["kind"]: r["n"] for r in media.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert counts == {"image": 30, "audio": 30, "video": 30}


def test_image_features_deterministic_and_complete(media):
    f1 = image_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    f2 = image_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert len(f1) == 30
    assert f1.equals(f2)
    assert ((f1["mean_intensity"] > 0) & (f1["mean_intensity"] < 255)).all()
    assert f1["ahash"].str.len().eq(16).all()
    assert f1["ahash"].nunique() > 25  # random images → distinct hashes


def test_resize_images_shape(media, spark):
    out = resize_images(media, 4, 5).toPandas()
    assert len(out) == 30
    assert (out["width"] == 4).all() and (out["height"] == 5).all()
    for blob in out["content"]:
        assert len(bytes(blob)) == 4 * 5 * 3


def test_audio_features_real_decode(media):
    out = audio_features(media).toPandas()
    assert len(out) == 30
    # sine waves at amplitude 12000: RMS ≈ 12000/√2 within tolerance
    assert ((out["rms"] > 6000) & (out["rms"] < 10000)).all()
    assert ((out["duration_s"] > 0.02) & (out["duration_s"] < 0.3)).all()
    assert (out["n_samples"] == (out["duration_s"] * out["sample_rate"]).round()).all()
    assert ((out["zero_crossing_rate"] > 0) & (out["zero_crossing_rate"] < 0.5)).all()


def test_video_frame_sampling_fanout(media):
    frames = sample_video_frames(media, every_n=2).toPandas()
    per_vid = frames.groupby("media_id").size()
    assert len(per_vid) == 30
    meta = {r["media_id"]: r["n_frames"] for r in media.filter("kind='video'").collect()}
    for mid, got in per_vid.items():
        assert got == -(-meta[mid] // 2)  # ceil(n_frames / every_n)
    fsz = 8 * 6 * 3
    assert all(len(bytes(b)) == fsz for b in frames["frame"])


def test_metadata_only_query_prunes_blob_column(media, spark, tmp_path):
    """Width/height filters must not read the blob column: check the
    parquet scan's ReadSchema excludes `content`."""
    p = str(tmp_path / "media.parquet")
    media.write.parquet(p)
    q = spark.read.parquet(p).filter(F.col("kind") == "image").select("media_id", "width", "height")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan
    assert q.count() == 30


def test_image_patch_embeddings_math(spark):
    """Bilinear resize + patchify verified against a closed form: a
    half-black half-white image must embed as black patches on one
    side, white on the other, grays only at the seam column."""
    import numpy as np

    from nyc_taxi_etl_spark.operators.imagecodec import encode_png
    from nyc_taxi_etl_spark.operators.multimodal import (
        image_patch_embeddings,
    )

    img = np.zeros((64, 64, 3), dtype=np.uint8)
    img[:, 32:, :] = 255  # right half white
    blob = encode_png(img)
    media = spark.createDataFrame(
        [(1, "image", bytearray(blob), 64, 64, 0, 0)],
        "media_id long, kind string, content binary, width int, "
        "height int, sample_rate int, n_frames int",
    )
    rows = image_patch_embeddings(media, grid=4, patch_px=8).collect()
    assert len(rows) == 1
    emb = rows[0].embedding
    assert len(emb) == 4 * 4 * 3
    patches = np.array(emb).reshape(4, 4, 3)
    # columns 0-1 black, 2-3 white (seam at exactly x=32 = patch edge)
    assert np.allclose(patches[:, :2, :], 0.0, atol=1e-9)
    assert np.allclose(patches[:, 2:, :], 1.0, atol=1e-9)
    # determinism
    again = image_patch_embeddings(media, grid=4, patch_px=8).collect()
    assert again[0].embedding == emb


def test_patch_embeddings_on_synthetic_corpus(spark):
    from nyc_taxi_etl_spark.operators.multimodal import (
        image_patch_embeddings,
        synthesize_media,
    )

    media = synthesize_media(spark, n=30, seed=42)
    n_images = media.filter("kind = 'image'").count()
    out = image_patch_embeddings(media, grid=4, patch_px=8)
    rows = out.collect()
    assert len(rows) == n_images
    for r in rows:
        assert len(r.embedding) == 48
        assert all(0.0 <= v <= 1.0 for v in r.embedding)


def test_image_features_on_error_skip_and_audit(spark):
    """The counted-skip seam: an arithmetic-coded JPEG (no fallback
    decoder registered, no Pillow in this container) fails decode;
    with on_error='skip' it drops instead of failing the task, and
    image_decode_audit reports exactly which row failed and why."""
    import struct

    from nyc_taxi_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_decode_audit,
        image_phash,
    )

    sof9 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 0x11, 0])
    progressive = (
        b"\xff\xd8" + b"\xff\xc9" + struct.pack(">H", len(sof9) + 2) + sof9 + b"\xff\xd9"
    )
    good = np.full(4 * 4 * 3, 200, np.uint8).tobytes()  # raw RGB path
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(progressive), 4, 4, None, None),
            (2, "image", bytearray(good), 4, 4, None, None),
        ],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="SOF|process"):
        image_features(df).collect()
    kept = image_features(df, on_error="skip").collect()
    assert [r["media_id"] for r in kept] == [2]
    audit = {r["media_id"]: r for r in image_decode_audit(df).collect()}
    assert audit[1]["decode_ok"] == 0 and "SOF" in audit[1]["error"]
    assert audit[2]["decode_ok"] == 1 and audit[2]["error"] is None
    with pytest.raises(ValueError, match="on_error"):
        image_features(df, on_error="bogus")
    # resize carries the same contract
    kept_rs = resize_images(df, 2, 2, on_error="skip").collect()
    assert [r["media_id"] for r in kept_rs] == [2]
    with pytest.raises(ValueError, match="on_error"):
        resize_images(df, 2, 2, on_error="bogus")
    # and so does phash
    kept_ph = image_phash(df, on_error="skip").collect()
    assert [r["media_id"] for r in kept_ph] == [2]
    with pytest.raises(ValueError, match="on_error"):
        image_phash(df, on_error="bogus")


def test_corrupt_container_never_reinterpreted_as_raw(spark):
    """A sniffed-but-undecodable container whose byte length happens
    to equal width*height*3 must raise (counted skip under
    on_error='skip'), never be silently reinterpreted as a raw RGB
    buffer of garbage pixels."""
    from nyc_taxi_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_decode_audit,
    )

    w = h = 4
    expect = w * h * 3  # 48 bytes
    # PNG magic followed by junk, padded to exactly the declared raw size
    corrupt = b"\x89PNG\r\n\x1a\n" + b"\xab" * (expect - 8)
    assert len(corrupt) == expect
    df = spark.createDataFrame(
        [(1, "image", bytearray(corrupt), w, h, None, None)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="PNG|chunk|truncated|IHDR"):
        image_features(df).collect()
    assert image_features(df, on_error="skip").count() == 0
    audit = image_decode_audit(df).collect()[0]
    assert audit["decode_ok"] == 0 and audit["error"] is not None


# ---------------------------------------------------------------------------
# pHash + image near-dup pairs
# ---------------------------------------------------------------------------


def _phash_media(spark):
    from nyc_taxi_etl_spark.operators.multimodal import (
        synthesize_image_variants,
    )

    return synthesize_image_variants(spark, n_base=8, seed=33)


def test_phash_reencode_is_identical(spark):
    """PNG and BMP variants carry identical pixels — the pHash must be
    bit-identical (decode-then-hash is container-invariant)."""
    from nyc_taxi_etl_spark.operators.multimodal import image_phash

    hashes = {
        r["media_id"]: r["phash"]
        for r in image_phash(_phash_media(spark)).collect()
    }
    for base in range(0, len(hashes), 3):
        assert hashes[base] == hashes[base + 1]


def test_phash_planted_near_dups_within_threshold(spark):
    """Noised + brightened variants stay within 2 bits of their base;
    distinct bases stay far apart (the corpus's documented margins)."""
    from nyc_taxi_etl_spark.operators.multimodal import image_phash

    hashes = {
        r["media_id"]: r["phash"]
        for r in image_phash(_phash_media(spark)).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    bases = sorted(hashes)[::3]
    for b in bases:
        assert ham(hashes[b], hashes[b + 2]) <= 2
    for i, a in enumerate(bases):
        for b in bases[i + 1 :]:
            assert ham(hashes[a], hashes[b]) > 12


def test_phash_pairs_match_brute_force(spark):
    """The pigeonhole-blocked pair plan is EXACT for
    max_hamming < blocks: identical pair set (ids + distances) as an
    all-pairs popcount scan."""
    from nyc_taxi_etl_spark.operators.multimodal import (
        image_phash,
        image_phash_pairs,
    )

    media = _phash_media(spark)
    blocked = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_phash_pairs(media, max_hamming=6, blocks=8).collect()
    }
    hashes = {
        r["media_id"]: r["phash"]
        for r in image_phash(media).collect()
    }
    brute = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1")
            if d <= 6:
                brute[(a, b)] = d
    assert blocked == brute
    # every planted triple is fully connected: 3 pairs per base
    assert len(brute) == 3 * (len(ids) // 3)


def test_phash_pairs_pigeonhole_invariant(spark):
    from nyc_taxi_etl_spark.operators.multimodal import image_phash_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        image_phash_pairs(_phash_media(spark), max_hamming=8, blocks=8)


def test_banded_signatures_rejects_uneven_bands(spark):
    # 10 hashes in 4 bands would silently drop mh_8 and mh_9
    from nyc_taxi_etl_spark.operators.dedup import banded_signatures

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="multiple of bands"):
        banded_signatures(docs, num_hashes=10, bands=4)


def test_phash_skips_non_image_rows(spark):
    """Mixed media: only image rows are hashed (no decode attempts on
    PCM/video blobs)."""
    from nyc_taxi_etl_spark.operators.multimodal import (
        image_phash,
        synthesize_media,
    )

    media = synthesize_media(spark, n=9, seed=42)
    got = image_phash(media).collect()
    kinds = {r["media_id"] % 3 for r in got}
    assert kinds == {0}  # synthesize_media cycles image/audio/video
    assert len(got) == 3


# ---------------------------------------------------------------------------
# Audio fingerprint + near-dup pairs
# ---------------------------------------------------------------------------


def test_audio_fingerprint_gain_invariant(spark):
    """Uniform gain rescale (×0.7) leaves the fingerprint untouched —
    energy-difference signs are scale-free."""
    from nyc_taxi_etl_spark.operators.multimodal import (
        audio_fingerprint,
        synthesize_audio_variants,
    )

    fps = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprint(
            synthesize_audio_variants(spark, n_base=6, seed=5)
        ).collect()
    }
    for base in range(0, len(fps), 3):
        assert fps[base] == fps[base + 1]


def test_audio_fingerprint_pairs_match_brute_force(spark):
    """Pigeonhole-blocked audio pairs are EXACT vs all-pairs popcount,
    and every planted triple is fully connected."""
    from nyc_taxi_etl_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprint_pairs,
        synthesize_audio_variants,
    )

    media = synthesize_audio_variants(spark, n_base=8, seed=5)
    blocked = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_fingerprint_pairs(
            media, max_hamming=7, blocks=8
        ).collect()
    }
    fps = {
        r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b): bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= 7
    }
    assert blocked == brute
    assert len(brute) == 3 * (len(ids) // 3)


def test_audio_fingerprint_too_short_raises(spark):
    from nyc_taxi_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
    )

    blob = bytearray(b"\x00\x01" * 100)  # 100 samples < one window
    df = spark.createDataFrame(
        [(1, "audio", blob, None, None, 8000, None)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="too short"):
        audio_fingerprint(df).collect()
