"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Graft addition for training-data pipelines. Images/audio/video travel as
`binary` columns with a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched functions over mapInArrow.

Decode is REAL for the two uncompressed formats the engine's own codecs
cover (kernels.codecs: 24-bit BMP -> RGB pixels, PCM-16 WAV -> samples) and
exercised end-to-end: the synthetic media table encodes genuine BMP/WAV
payloads from document text, media_features decodes them and extracts
pixel/sample statistics. Codecs that need external libraries (jpeg/mp4/...)
still raise NotImplementedError — this container ships none — and the
deterministic byte-histogram fallback keeps the pipeline total for unknown
codecs (video rows use it; parity-tested).

Scale notes: payloads dominate row width — `media_features` projects payload
away immediately after the UDF so downstream stages shuffle only features;
partition sizing must budget `spark.sql.execution.arrow.maxRecordsPerBatch`
x payload size per batch (see session.py defaults).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernels import codecs

MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

N_FEATURES = 16  # byte-histogram buckets in the deterministic fake decoder

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
        # False = the tagged codec failed to decode (corrupt/truncated payload)
        # and the row fell back to the byte histogram — production data always
        # has some of these, and one bad payload must never kill the stage
        T.StructField("decode_ok", T.BooleanType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def decode_media(payload: bytes, codec: str) -> np.ndarray:
    """Decode a payload: BMP -> (H, W, 3) uint8, WAV -> float64 samples.
    Codecs needing external libraries raise NotImplementedError (none are
    present in this container)."""
    if codec == "bmp":
        return codecs.decode_bmp(payload)
    if codec == "wav":
        return codecs.decode_wav(payload)
    raise NotImplementedError(
        f"codec {codec!r} requires media libraries not present in this "
        "environment; kernels.codecs covers bmp/wav"
    )


def _byte_histogram(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decode': normalized 16-bucket byte histogram."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(N_FEATURES, dtype=np.float64)
    hist = np.bincount(arr >> 4, minlength=N_FEATURES).astype(np.float64)
    return hist / arr.size


def media_pixels_from_text(text: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic (H, W, 3) uint8 image derived from text bytes (tiled)."""
    src = np.frombuffer(text, dtype=np.uint8) if text else np.zeros(1, dtype=np.uint8)
    n = width * height * 3
    reps = -(-n // src.size)
    return np.tile(src, reps)[:n].reshape(height, width, 3)


def media_samples_from_text(text: bytes, n_samples: int = 1024) -> np.ndarray:
    """Deterministic int16 mono samples derived from text bytes (tiled)."""
    src = np.frombuffer(text, dtype=np.uint8) if text else np.zeros(1, dtype=np.uint8)
    reps = -(-n_samples // src.size)
    b = np.tile(src, reps)[:n_samples].astype(np.int16)
    return (b - 128) * 256


def synth_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table from the documents corpus: REAL encoded
    payloads — BMP for image rows, WAV for audio rows (kernels.codecs),
    opaque bytes for video rows (no video codec in this container) — with
    the typed metadata struct."""

    schema = to_arrow_schema(MEDIA_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows = []
            for mid, text in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                tb = (text or "").encode("utf-8")
                w = (mid % 7 + 1) * 8
                h = (mid % 5 + 1) * 8
                if mid % 3 == 0:
                    payload = codecs.encode_bmp(media_pixels_from_text(tb, w, h))
                    kind, codec = "image", "bmp"
                elif mid % 3 == 1:
                    payload = codecs.encode_wav(media_samples_from_text(tb))
                    kind, codec = "audio", "wav"
                else:
                    payload, kind, codec = tb, "video", "fake/v1"
                rows.append(
                    {
                        "media_id": mid,
                        "payload": payload,
                        "meta": {
                            "kind": kind, "width": w, "height": h,
                            "codec": codec, "n_bytes": len(payload),
                        },
                    }
                )
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return docs.select(id_col, text_col).mapInArrow(gen, schema=MEDIA_SCHEMA)


def _features_one(payload: bytes, codec: str) -> tuple[list[float], bool]:
    """Decode + extract for one payload -> (features, decode_ok). Unknown
    codecs AND corrupt/truncated payloads of known codecs fall back to the
    deterministic byte histogram — the pipeline stays total on production
    data; decode_ok=False marks the fallback rows for accounting."""
    import struct

    payload = payload if payload is not None else b""
    try:
        if codec == "bmp":
            return codecs.image_features(decode_media(payload, codec)).tolist(), True
        if codec == "wav":
            return codecs.audio_features(decode_media(payload, codec)).tolist(), True
    except (ValueError, struct.error):  # corrupt/truncated payload
        pass
    return _byte_histogram(payload).tolist(), False


def media_features(media: DataFrame) -> DataFrame:
    """mapInArrow decode + feature extraction; payload dropped at the UDF
    boundary so only 16 doubles/row (+ a decode_ok flag) shuffle downstream."""
    schema = to_arrow_schema(FEATURES_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # a NULL meta struct (dirty external media table) must not kill
            # the stage (review r5): unknown codec -> byte-histogram
            # fallback with decode_ok=False, null kind/n_bytes — the same
            # totality contract as corrupt payloads
            metas = [m or {} for m in rb.column(2).to_pylist()]
            decoded = [
                _features_one(p, m.get("codec"))
                for p, m in zip(rb.column(1).to_pylist(), metas)
            ]
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": rb.column(0),
                    "kind": [m.get("kind") for m in metas],
                    "n_bytes": [m.get("n_bytes") for m in metas],
                    "features": [f for f, _ in decoded],
                    "decode_ok": [ok for _, ok in decoded],
                },
                schema=schema,
            )

    return media.select("media_id", "payload", "meta").mapInArrow(gen, schema=FEATURES_SCHEMA)


def frame_sample(media: DataFrame, frame_bytes: int = 64, every: int = 2) -> DataFrame:
    """Deterministic frame sampler: split payload into `frame_bytes` chunks,
    keep every `every`-th chunk — the video-sampling plumbing shape."""

    schema = to_arrow_schema(FRAMES_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                payload = payload or b""
                n = (len(payload) + frame_bytes - 1) // frame_bytes
                for i in range(0, n, every):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(payload[i * frame_bytes : (i + 1) * frame_bytes])
            yield pa.RecordBatch.from_pydict(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}, schema=schema
            )

    return media.select("media_id", "payload").mapInArrow(gen, schema=FRAMES_SCHEMA)
