"""Query inventory — multimodal operators (ALL value-hash-checked, r8).

MM1/MM2 run over TIER-1 payloads — real BMP/WAV bytes through the
pure-numpy codecs — where every feature is a deterministic value, so
each carries a generated expected-feature VALUES oracle
(tools/gen_mm_oracle.py; nothing approximate on either side). MM3's
frame SCHEDULE is pure arithmetic over documents, so its oracle is plain
SQL; the frame-payload bytes themselves stay pytest-verified
(tests/test_multimodal.py), as do the decode tiers and batch contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from open_data_lakehouse_demo_spark.operators import multimodal as mm
from open_data_lakehouse_demo_spark.plans._mm_oracle import (
    MM1_ORACLE_SQL,
    MM2_ORACLE_SQL,
)
from open_data_lakehouse_demo_spark.plans.inventory import query, t


@query("image_feature_extract", ("MM1",), oracle=MM1_ORACLE_SQL, tags=("multimodal",))
def image_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → color stats + aHash over TIER-1 payloads: real BMP
    bytes (deterministic per-id gradients, synth_real_media) through the
    pure-numpy BMP codec and Arrow-batched mapInPandas
    (operators/multimodal.py). Oracle = the generated expected-feature
    VALUES table — exact integer-pixel means and aHash bits, so the
    whole encode→batch→decode→feature path is value-hash-checked
    end-to-end against an implementation that shares none of the
    plumbing (tools/gen_mm_oracle.py)."""
    media = mm.synth_real_media(t(spark, sf_dir, "documents"))
    return mm.extract_image_features(media)


@query("audio_feature_extract", ("MM2",), oracle=MM2_ORACLE_SQL, tags=("multimodal",))
def audio_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode → RMS/peak/zero-crossings over TIER-1 payloads: real
    PCM-WAV bytes (deterministic per-id sines, synth_real_media) through
    the pure-numpy WAV codec and mapInPandas. Oracle = the generated
    expected-feature VALUES table (tools/gen_mm_oracle.py) — the sine →
    int16 quantization → float32 decode chain is fully deterministic, so
    RMS/peak/zero-crossings hash-compare exactly."""
    media = mm.synth_real_media(t(spark, sf_dir, "documents"))
    return mm.extract_audio_features(media)


_MM3_ORACLE = """
SELECT d.doc_id AS media_id, CAST(i AS INT) AS frame_idx,
       CAST(i * 500 AS INT) AS ts_ms
FROM documents d,
     unnest(range(0, greatest((d.n_chars % 2000 + 200) // 500, 1))) t(i)
WHERE d.doc_id % 3 = 2
"""


@query("video_frame_sample", ("MM3",), oracle=_MM3_ORACLE, tags=("multimodal",))
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 frame / 500ms) over the synthesized media
    table (operators/multimodal.py). The sampling SCHEDULE — one row per
    (video doc, frame index) with its timestamp — is pure arithmetic
    over the media metadata (duration = n_chars % 2000 + 200 ms), so it
    oracle-checks as SQL; the per-frame payload bytes (fake codec by
    design — no tier-1 video container) remain pytest-verified.
    with_payloads=False: this query discards frame_payload, so it takes
    the schedule path, one JVM ``explode(sequence(...))`` projection with
    no Python stage and no frame bytes."""
    media = mm.synth_media_from_documents(t(spark, sf_dir, "documents"))
    return mm.sample_video_frames(media, every_ms=500, with_payloads=False).select(
        "media_id", "frame_idx", "ts_ms"
    )
