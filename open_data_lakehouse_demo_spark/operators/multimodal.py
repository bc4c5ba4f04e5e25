"""Multimodal (image/audio/video) column operators — binary payloads with
typed metadata, processed via Arrow-batched mapInPandas.

Beyond-reference training-data-pipeline operators (SURVEY.md §7.6). The
Spark-side plumbing is REAL and tested — schemas, partitioning, batch
shapes, generator-based mapInPandas that never materializes a partition.
The codec layer is tiered:
  1. REAL pure-numpy codecs for the uncompressed container formats —
     24/32-bit BI_RGB BMP (``decode_bmp``/``encode_bmp``) and PCM 8/16-bit
     RIFF WAV (``decode_wav``/``encode_wav``) — no external library
     needed, magic-byte sniffed with strict header validation and
     byte-exact round-trip tests;
  2. PIL / soundfile for compressed formats when those libraries exist
     (absent in this container — pragma: no cover);
  3. a clearly-marked deterministic fake decoder (md5-seeded keystream
     pixels/samples) for anything else, so fixture payloads that aren't
     media still flow through every operator deterministically.
Compressed-codec support (JPEG/MP3/video containers) remains honestly
stubbed at tier 2/3; every schema, signature and batch contract is
identical across tiers.

Data model: media rows are
    media_id BIGINT, kind STRING, payload BINARY,
    meta STRUCT<width INT, height INT, sample_rate INT,
                duration_ms INT, codec STRING>
— the payload is opaque to Spark (never parsed JVM-side), the typed meta
column is what filters/partition-prunes (e.g. ``meta.codec = 'fake'`` or
width ranges push down to the Parquet scan).

Scale notes:
  - mapInPandas consumes/produces an *iterator* of batches: constant
    memory per task regardless of partition size, and Arrow moves the
    binary columns zero-copy.
  - spark.sql.execution.arrow.maxRecordsPerBatch bounds decode working
    sets (payloads can be MBs each; set it low for video).
  - frame sampling with payloads fans out rows inside the Python stage —
    the explode happens in the worker, not as a JVM generator, so frame
    payload bytes are produced exactly once; the schedule-only path has
    no bytes to produce and explodes as a JVM generator instead.
  - repartition on media_id before heavy decode stages to balance skew
    from variable payload sizes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.sources.io import spread

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, payload BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, "
    "duration_ms: INT, codec: STRING>"
)


# ---------------------------------------------------------------------------
# Codec layer (the ONLY stubbed part)
# ---------------------------------------------------------------------------

def _keystream(seed_bytes: bytes, n: int) -> np.ndarray:
    """Deterministic byte stream for the fake codec: PCG64 seeded from
    md5(seed_bytes). One hash + a vectorized generator per payload —
    ~100× faster than chaining md5 blocks for MB-sized frames, and
    PCG64's output stream is specified, so results stay deterministic
    and platform-stable."""
    seed = int.from_bytes(hashlib.md5(seed_bytes).digest(), "big")
    return np.random.Generator(np.random.PCG64(seed)).integers(
        0, 256, n, dtype=np.uint8
    )


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 → 24-bit uncompressed BI_RGB BMP bytes (bottom-up
    rows, BGR channel order, 4-byte row padding) — the standard layout
    every BMP reader accepts. Pure numpy; the exact inverse of
    ``decode_bmp``."""
    h, w, _ = arr.shape
    row = w * 3
    pad = (-row) % 4
    body = np.zeros((h, row + pad), dtype=np.uint8)
    body[:, :row] = arr[::-1, :, ::-1].reshape(h, row)  # bottom-up, BGR
    data = body.tobytes()
    size = 14 + 40 + len(data)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")  # pixel offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16  # ppm resolutions + palette counts
    )
    return header + data


def decode_bmp(payload: bytes) -> np.ndarray:
    """Strictly-validated 24/32-bit uncompressed BI_RGB BMP → HxWx3 uint8.
    Handles bottom-up (positive height) and top-down (negative height)
    rows. Raises ValueError on anything that isn't a well-formed
    uncompressed BMP — the dispatch layer falls back to the fake codec,
    so a text payload that merely starts with \"BM\" can't misroute."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    planes = int.from_bytes(payload[26:28], "little")
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    top_down = h < 0
    h = abs(h)
    if (
        hdr_size < 40
        or planes != 1
        or bpp not in (24, 32)
        or compression != 0
        or w <= 0
        or h == 0
        or off < 54
    ):
        raise ValueError("unsupported BMP variant")
    ch = bpp // 8
    stride = (w * ch + 3) // 4 * 4 if bpp == 24 else w * 4
    if off + stride * h > len(payload):
        raise ValueError("truncated BMP")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = rows.reshape(h, stride)[:, : w * ch].reshape(h, w, ch)
    rgb = rows[:, :, 2::-1]  # BGR(A) → RGB, alpha dropped
    return np.ascontiguousarray(rgb if top_down else rgb[::-1])


def _nn_resize(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    ys = (np.arange(height) * arr.shape[0] // height).clip(0, arr.shape[0] - 1)
    xs = (np.arange(width) * arr.shape[1] // width).clip(0, arr.shape[1] - 1)
    return arr[ys][:, xs]


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """payload → HxWx3 uint8 array at the requested meta dims. Tiered:
    real numpy BMP decode on magic match (nearest-neighbor resampled to
    (width, height), matching the PIL path's resize contract), PIL for
    compressed formats when available, else the deterministic fake."""
    if payload[:2] == b"BM":
        try:
            return _nn_resize(decode_bmp(payload), width, height)
        except ValueError:
            pass  # not actually a BMP — fall through
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).convert("RGB").resize((width, height))
        return np.asarray(img, dtype=np.uint8)
    except ImportError:
        return _keystream(payload, width * height * 3).reshape(height, width, 3)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """float mono samples in [-1, 1] → PCM 16-bit mono RIFF WAV bytes.
    Pure numpy; quantization is the only loss (≤ 1/32767 per sample)."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    data = np.round(pcm * 32767.0).astype("<i2").tobytes()
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Strictly-validated PCM 8/16-bit RIFF WAV → (float32 mono in
    [-1, 1], sample_rate). Walks the chunk list (fmt may not be first),
    averages channels to mono. Raises ValueError on non-PCM or malformed
    containers — the dispatch layer falls back to the fake codec."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or channels < 1 or rate <= 0 or bits not in (8, 16):
        raise ValueError("unsupported WAV variant")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2", count=len(data) // 2).astype(np.float32)
        x = x / 32767.0
    else:  # 8-bit PCM is unsigned
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 127.0
    if channels > 1:
        x = x[: len(x) // channels * channels].reshape(-1, channels).mean(axis=1)
    return x, rate


def decode_audio(payload: bytes, sample_rate: int, duration_ms: int) -> np.ndarray:
    """payload → float32 mono samples in [-1, 1]. Tiered: real numpy WAV
    decode on RIFF magic, soundfile for compressed formats when
    available, else the deterministic fake."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            return decode_wav(payload)[0]
        except ValueError:
            pass  # malformed — fall through
    try:  # pragma: no cover - soundfile absent in this container
        import io

        import soundfile as sf

        data, _ = sf.read(io.BytesIO(payload), dtype="float32")
        return data if data.ndim == 1 else data.mean(axis=1)
    except ImportError:
        n = max(1, sample_rate * duration_ms // 1000)
        raw = _keystream(payload, n)
        return (raw.astype(np.float32) - 127.5) / 127.5


# ---------------------------------------------------------------------------
# Synthetic media table (test/bench fixture derived from `documents`)
# ---------------------------------------------------------------------------

def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents fixture:
    payload = utf-8 text bytes (opaque), meta from doc stats. kind cycles
    image/audio/video by doc_id."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("doc_id") % 16 * 8 + 32).cast("int").alias("width"),
            (F.col("doc_id") % 9 * 8 + 24).cast("int").alias("height"),
            F.lit(8000).cast("int").alias("sample_rate"),
            (F.col("n_chars") % 2000 + 200).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


_MEDIA_NOKIND_SCHEMA = (
    "media_id BIGINT, payload BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, "
    "duration_ms: INT, codec: STRING>"
)


def _encode_image_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            mid = int(r.media_id)
            w, h = 32 + mid % 16 * 8, 24 + mid % 9 * 8
            # mid enters the pixel math only mod 256; normalize
            # up front so huge ids (scale blow-ups offset ids by
            # 1e9 per copy) can't overflow the uint16 kernel
            # under NumPy 2's strict python-int casting
            m256 = mid % 256
            xx = np.arange(w, dtype=np.uint16)
            yy = np.arange(h, dtype=np.uint16)[:, None]
            arr = np.stack(
                [
                    ((xx + yy + m256) % 256).astype(np.uint8),
                    ((2 * xx + m256) % 256 + 0 * yy).astype(np.uint8),
                    ((3 * yy + m256) % 256 + 0 * xx).astype(np.uint8),
                ],
                axis=2,
            )
            meta = {
                "width": w, "height": h,
                "sample_rate": 0, "duration_ms": 0, "codec": "bmp",
            }
            rows.append({"media_id": mid, "payload": encode_bmp(arr), "meta": meta})
        yield pd.DataFrame(rows)


def _encode_audio_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            mid = int(r.media_id)
            rate, dur_ms = 8000, 200 + mid % 20 * 50
            n = rate * dur_ms // 1000
            t = np.arange(n, dtype=np.float64) / rate
            x = 0.5 * np.sin(2 * np.pi * (220 + mid % 40 * 20) * t)
            meta = {
                "width": 0, "height": 0,
                "sample_rate": rate, "duration_ms": dur_ms, "codec": "wav16",
            }
            rows.append({"media_id": mid, "payload": encode_wav(x, rate), "meta": meta})
        yield pd.DataFrame(rows)


def synth_real_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA rows whose payloads are GENUINE media bytes — BMP
    images (deterministic per-id gradient) and WAV audio (per-id sine) —
    so the decode→feature pipeline runs end-to-end through the real
    numpy codecs with analytically predictable features. Encoding runs
    as a mapInPandas stage (constant memory per batch); content is a
    pure function of media_id, so the table is partition-invariant.

    Plan shape (r13): one encode branch per kind, each selecting on the
    JVM-computed kind BEFORE its opaque Python stage, with ``kind``
    re-attached as a literal AFTER it. A downstream ``kind = 'image'``
    filter — which Spark cannot push through mapInPandas — then
    constant-folds against the literal and statically prunes the entire
    other branch (scan + Python stage), so feature extractors only ever
    encode the kind they consume. ``spread`` runs before the encode: the
    single-split local fixture would otherwise serialize the CPU-heavy
    encode loop on one core (guide §4 — the Python stage is opaque, so
    partition parallelism must be established upstream)."""
    src = spread(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        )
    )
    branches = [
        src.filter(F.col("kind") == kind)
        .select("media_id")
        .mapInPandas(fn, _MEDIA_NOKIND_SCHEMA)
        .select("media_id", F.lit(kind).alias("kind"), "payload", "meta")
        for kind, fn in (("image", _encode_image_rows), ("audio", _encode_audio_rows))
    ]
    return branches[0].unionByName(branches[1])


# ---------------------------------------------------------------------------
# mapInPandas operators (real plumbing)
# ---------------------------------------------------------------------------

IMAGE_FEATURE_SCHEMA = (
    "media_id BIGINT, width INT, height INT, mean_r DOUBLE, mean_g DOUBLE, "
    "mean_b DOUBLE, brightness DOUBLE, phash BIGINT"
)


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode each image batch and emit per-image color stats + a 64-bit
    average-hash (aHash) fingerprint."""
    img = spread(
        media.filter(F.col("kind") == "image").select(
            "media_id", "payload", "meta.width", "meta.height"
        )
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_image(bytes(r.payload), int(r.width), int(r.height))
                # exact-integer reductions (r8): per-channel sums are exact
                # in int64 and the aHash threshold compares cross-multiplied
                # integer block sums (equal-size blocks: block_mean >
                # global_mean ⟺ 64·block_sum > total_sum), so every output
                # is a pure function of pixel VALUES — no float-summation
                # ties that could flip with array layout/batching. This is
                # what lets MM1 carry an exact value-hash oracle.
                g3 = arr.sum(axis=2, dtype=np.int64)  # 3·gray per pixel
                hh, ww = arr.shape[0], arr.shape[1]
                h8, w8 = hh // 8 * 8, ww // 8 * 8
                bsum = g3[:h8, :w8].reshape(8, h8 // 8, 8, w8 // 8).sum(
                    axis=(1, 3), dtype=np.int64
                )
                bits = (bsum * 64 > bsum.sum()).flatten()
                phash = int(np.packbits(bits).view(">u8")[0]) - (1 << 63)  # signed
                rows.append(
                    {
                        "media_id": r.media_id,
                        "width": int(r.width),
                        "height": int(r.height),
                        "mean_r": float(arr[:, :, 0].mean()),
                        "mean_g": float(arr[:, :, 1].mean()),
                        "mean_b": float(arr[:, :, 2].mean()),
                        "brightness": float(int(g3.sum()) / (3.0 * hh * ww)),
                        "phash": phash,
                    }
                )
            yield pd.DataFrame(rows)

    return img.mapInPandas(fn, IMAGE_FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Decode → resize (nearest-neighbor on the decoded array) → re-emit
    payload bytes + updated meta. Keeps the MEDIA_SCHEMA contract so
    resized tables compose with every other operator here."""
    img = spread(media.filter(F.col("kind") == "image"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                meta = r.meta
                arr = decode_image(bytes(r.payload), int(meta["width"]), int(meta["height"]))
                ys = (np.arange(out_height) * arr.shape[0] // out_height).clip(0, arr.shape[0] - 1)
                xs = (np.arange(out_width) * arr.shape[1] // out_width).clip(0, arr.shape[1] - 1)
                resized = arr[ys][:, xs]
                out.append(
                    {
                        "media_id": r.media_id,
                        "kind": "image",
                        "payload": resized.tobytes(),
                        "meta": {
                            "width": out_width,
                            "height": out_height,
                            "sample_rate": meta["sample_rate"],
                            "duration_ms": meta["duration_ms"],
                            "codec": "raw-rgb",
                        },
                    }
                )
            yield pd.DataFrame(out)

    return img.mapInPandas(fn, MEDIA_SCHEMA)


FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, ts_ms INT, frame_payload BINARY"


def sample_video_frames(
    media: DataFrame, every_ms: int = 500, with_payloads: bool = True
) -> DataFrame:
    """Sample one frame every ``every_ms`` from each video payload:
    ``max(1, duration_ms // every_ms)`` frames per video, in
    ``FRAME_SCHEMA``. The payload fan-out happens inside the Python stage;
    output rows carry the frame bytes (fake codec: per-frame md5
    keystream keyed by (payload, idx)).

    ``with_payloads=False`` emits the same fan-out rows with empty
    ``frame_payload`` bytes, for consumers that only need the sampling
    SCHEDULE. The schedule is pure arithmetic over the media metadata, so
    it is one Catalyst projection, ``explode(sequence(...))``, with no
    Python stage: Spark cannot prune columns through an opaque
    mapInPandas (guide §4.1), and the worker round-trip would only ship
    (media_id, duration_ms) out and integers back. A NULL
    ``duration_ms`` emits no frames on this path (the payload path
    raises on it)."""
    vid = media.filter(F.col("kind") == "video")
    if not with_payloads:
        return vid.where("meta.duration_ms IS NOT NULL").selectExpr(
            "media_id",
            f"explode(sequence(0, greatest(meta.duration_ms div {every_ms}, 1) - 1)) AS i",
        ).selectExpr(
            "media_id",
            "CAST(i AS INT) AS frame_idx",
            f"CAST(i * {every_ms} AS INT) AS ts_ms",
            "X'' AS frame_payload",
        )
    vid = spread(vid.select(
        "media_id", "payload", "meta.duration_ms", "meta.width", "meta.height"
    ))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n_frames = max(1, int(r.duration_ms) // every_ms)
                for i in range(n_frames):
                    seed = bytes(r.payload) + i.to_bytes(4, "big")
                    frame = _keystream(seed, int(r.width) * int(r.height) * 3)
                    rows.append(
                        {
                            "media_id": r.media_id,
                            "frame_idx": i,
                            "ts_ms": i * every_ms,
                            "frame_payload": frame.tobytes(),
                        }
                    )
            yield pd.DataFrame(rows)

    return vid.mapInPandas(fn, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "media_id BIGINT, n_samples BIGINT, rms DOUBLE, peak DOUBLE, zero_crossings BIGINT"
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Decode audio batches → RMS / peak / zero-crossing-count features."""
    aud = spread(
        media.filter(F.col("kind") == "audio").select(
            "media_id", "payload", "meta.sample_rate", "meta.duration_ms"
        )
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                x = decode_audio(bytes(r.payload), int(r.sample_rate), int(r.duration_ms))
                rows.append(
                    {
                        "media_id": r.media_id,
                        "n_samples": int(x.size),
                        "rms": float(np.sqrt((x.astype(np.float64) ** 2).mean())),
                        "peak": float(np.abs(x).max()),
                        "zero_crossings": int((np.diff(np.signbit(x)) != 0).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return aud.mapInPandas(fn, AUDIO_FEATURE_SCHEMA)

