"""Multimodal plumbing tests: schemas, batch iteration, fan-out,
determinism of the stubbed codec (SURVEY §7.6)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.operators import multimodal as mm
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    return mm.synth_media_from_documents(docs).cache()


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "payload", "meta"]
    meta_names = [f.name for f in media.schema["meta"].dataType.fields]
    assert meta_names == ["width", "height", "sample_rate", "duration_ms", "codec"]
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_features_deterministic(media):
    a = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
    b = {r["media_id"]: r for r in mm.extract_image_features(media.repartition(7)).collect()}
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert a[k] == b[k]
        assert 0.0 <= a[k]["brightness"] <= 255.0


def test_resize_contract(media, spark):
    resized = mm.resize_images(media, 16, 16)
    rows = resized.collect()
    assert len(rows) == media.filter(F.col("kind") == "image").count()
    for r in rows[:5]:
        assert r["meta"]["width"] == 16 and r["meta"]["height"] == 16
        assert len(bytes(r["payload"])) == 16 * 16 * 3
    # resized output is itself valid MEDIA_SCHEMA input
    feats = mm.extract_image_features(resized)
    assert feats.count() == len(rows)


def test_video_frame_fanout(media):
    frames = mm.sample_video_frames(media, every_ms=500)
    per_media = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter(F.col("kind") == "video").select(
            "media_id", "meta.duration_ms"
        ).collect()
    }
    assert per_media.keys() == durations.keys()
    for mid, n in per_media.items():
        assert n == max(1, durations[mid] // 500)
    one = frames.filter(F.col("frame_idx") == 0).first()
    assert one["ts_ms"] == 0 and len(bytes(one["frame_payload"])) > 0


def test_audio_features_bounds(media):
    feats = mm.extract_audio_features(media).collect()
    assert len(feats) == media.filter(F.col("kind") == "audio").count()
    for r in feats:
        assert r["n_samples"] > 0
        assert 0.0 <= r["rms"] <= 1.0 and 0.0 <= r["peak"] <= 1.0
        # fake codec output is uniform-ish noise: rms near 1/sqrt(3)
        assert 0.4 <= r["rms"] <= 0.75


def test_fake_codec_keystream_deterministic():
    a = mm._keystream(b"seed", 64)
    b = mm._keystream(b"seed", 64)
    c = mm._keystream(b"other", 64)
    assert np.array_equal(a, b) and not np.array_equal(a, c)


# ---------------------------------------------------------------------------
# Real numpy codecs: BMP / WAV (tier-1 of the codec dispatch)
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_exact():
    rng = np.random.default_rng(23)
    for w, h in [(16, 16), (17, 9), (1, 1), (33, 7)]:  # incl. padded widths
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        back = mm.decode_bmp(mm.encode_bmp(arr))
        assert back.shape == (h, w, 3)
        assert np.array_equal(back, arr)


def test_bmp_topdown_and_32bit():
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    buf = bytearray(mm.encode_bmp(arr))
    # flip to top-down: negate height, pre-flip the pixel rows
    flipped = mm.encode_bmp(arr[::-1])
    buf = bytearray(flipped)
    buf[22:26] = (-2).to_bytes(4, "little", signed=True)
    assert np.array_equal(mm.decode_bmp(bytes(buf)), arr)
    # 32-bit BGRA variant decodes with alpha dropped
    bgra = np.zeros((2, 3, 4), dtype=np.uint8)
    bgra[:, :, 2::-1] = arr  # BGR
    bgra[:, :, 3] = 255
    hdr = (
        b"BM" + (54 + bgra.size).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (3).to_bytes(4, "little") + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (32).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + bgra.size.to_bytes(4, "little") + b"\x00" * 16
    )
    assert np.array_equal(mm.decode_bmp(hdr + bgra[::-1].tobytes()), arr)


def test_bmp_rejects_imposters():
    # text that merely starts with "BM" must NOT decode
    with pytest.raises(ValueError):
        mm.decode_bmp(b"BM" + b"x" * 60)
    with pytest.raises(ValueError):
        mm.decode_bmp(b"BM")  # truncated
    # and decode_image falls back to the fake codec instead of raising
    out = mm.decode_image(b"BM" + b"x" * 60, 8, 8)
    assert out.shape == (8, 8, 3)


def test_wav_roundtrip_and_stereo_mix():
    t = np.arange(800) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    got, rate = mm.decode_wav(mm.encode_wav(x, 8000))
    assert rate == 8000 and got.size == x.size
    assert np.abs(got - x).max() <= 1.0 / 32767 + 1e-7  # quantization only
    # stereo 16-bit: channels average to mono
    stereo = np.stack([x, -x], axis=1).ravel()
    data = np.round(np.clip(stereo, -1, 1) * 32767).astype("<i2").tobytes()
    hdr = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + (8000).to_bytes(4, "little")
        + (32000).to_bytes(4, "little") + (4).to_bytes(2, "little")
        + (16).to_bytes(2, "little") + b"data" + len(data).to_bytes(4, "little")
    )
    mono, _ = mm.decode_wav(hdr + data)
    assert np.abs(mono).max() <= 1.0 / 32767 + 1e-7  # L + R cancel


def test_wav_rejects_imposters():
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFF" + b"\x00" * 8 + b"WAVE" + b"\x00" * 40)  # no chunks
    out = mm.decode_audio(b"RIFF1234WAVEgarbage" + b"\x00" * 40, 8000, 10)
    assert out.size == 80  # fake-codec fallback, meta-sized


def test_real_media_pipeline_end_to_end(spark):
    """The full Spark path over GENUINE media bytes: synth_real_media
    encodes BMP/WAV in a mapInPandas stage, the feature extractors
    decode through the tier-1 numpy codecs, and the features match a
    local numpy reference computed from the same deterministic content."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    media = mm.synth_real_media(docs).cache()
    codecs = {r["kind"]: r["c"] for r in
              media.select("kind", F.col("meta.codec").alias("c")).distinct().collect()}
    assert codecs == {"image": "bmp", "audio": "wav16"}

    img_feats = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
    aud_feats = {r["media_id"]: r for r in mm.extract_audio_features(media).collect()}
    assert img_feats and aud_feats

    for r in media.collect():
        mid = r["media_id"]
        if r["kind"] == "image":
            arr = mm.decode_bmp(bytes(r["payload"]))
            got = img_feats[mid]
            assert got["width"] == arr.shape[1] and got["height"] == arr.shape[0]
            assert abs(got["mean_r"] - arr[:, :, 0].mean()) < 1e-9
            assert abs(got["mean_b"] - arr[:, :, 2].mean()) < 1e-9
        else:
            x, rate = mm.decode_wav(bytes(r["payload"]))
            got = aud_feats[mid]
            assert got["n_samples"] == x.size
            # exact vs the decoded samples; physically sane vs the sine
            assert abs(got["peak"] - np.abs(x).max()) < 1e-9
            assert abs(got["rms"] - np.sqrt((x.astype(np.float64) ** 2).mean())) < 1e-9
            assert abs(got["rms"] - 0.5 / np.sqrt(2)) < 0.01  # 0.5-amp sine


def test_real_media_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    a = {r["media_id"]: bytes(r["payload"])
         for r in mm.synth_real_media(docs).collect()}
    b = {r["media_id"]: bytes(r["payload"])
         for r in mm.synth_real_media(docs.repartition(7)).collect()}
    assert a == b


def test_video_schedule_path_matches_payload_path(media):
    """with_payloads=False must emit the identical fan-out schedule
    (media_id, frame_idx, ts_ms) with empty payload bytes, in
    FRAME_SCHEMA's types, from a plan with no Python stage; a NULL
    duration has no frames."""
    full = mm.sample_video_frames(media, every_ms=500)
    sched = mm.sample_video_frames(media, every_ms=500, with_payloads=False)
    key = lambda r: (r["media_id"], r["frame_idx"], r["ts_ms"])  # noqa: E731
    assert sorted(map(key, full.collect())) == sorted(map(key, sched.collect()))
    assert all(bytes(r["frame_payload"]) == b"" for r in sched.collect())
    assert sched.dtypes == [
        ("media_id", "bigint"), ("frame_idx", "int"), ("ts_ms", "int"),
        ("frame_payload", "binary"),
    ]
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    no_duration = media.withColumn(
        "meta", F.col("meta").withField("duration_ms", F.lit(None).cast("int"))
    )
    assert mm.sample_video_frames(no_duration, with_payloads=False).count() == 0


def test_synth_real_media_kind_filter_prunes_other_branch(spark):
    """r13: a kind filter over synth_real_media must constant-fold against
    the per-branch kind literal and statically prune the other branch —
    exactly one Python stage (and one union arm) survives in the plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    plan = (
        mm.synth_real_media(docs)
        .filter(F.col("kind") == "image")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan
