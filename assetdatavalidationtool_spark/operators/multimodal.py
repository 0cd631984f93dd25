"""Multimodal column operators: images/audio/video as opaque binary
columns with typed metadata.

The Spark-side plumbing is real and tested: schemas, Arrow-batched
``mapInPandas`` signatures, partitioning/projection discipline (bytes
never cross a shuffle — derive features in the scan stage, project the
binary column away immediately after).

Every per-row media pass — the operators here and the audio, video and
pixel invariant rules — runs through one harness, :func:`row_batches`:
it owns the batch loop, the null checks and the error policy, and the
call site supplies only a per-row function and its fault row.

Codec reality in this container: pure-stdlib codecs throughout — PNG
(real), deterministic stub lossy (JPEG/WebP shape), WAV/PCM16 (real),
Y4M raw video (real). Formats that require native libraries (true
JPEG/WebP, mp3/flac, h264/vp9) degrade per row to ``decode_ok=false``
behind the same batch interface, so swapping in Pillow/libjpeg/ffmpeg
changes one codec function in ``codecs.py``, not the dataflow.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .. import codecs


def _error_name(e: Exception) -> str:
    t = type(e)
    return t.__name__ if t.__module__ == "builtins" else f"{t.__module__}.{t.__name__}"


def row_batches(fn: Callable, fault: tuple | Callable, schema: T.StructType):
    """The ``mapInPandas`` function running ``fn`` once per row.

    Input batches hold ``(key, payload, *extra)`` columns; each is pulled
    out of the batch once, and ``fn(key, payload, *extra)`` returns the
    output values after the key — a tuple, or a list of tuples for a
    one-to-many map. A row whose key or payload is null, whose ``fn``
    raises one of ``codecs.DATA_ERRORS`` (a corrupt payload), or whose
    ``fn`` returns None (its key names no reference to compare against)
    gets ``fault`` instead: a tuple, or a function of the input row for
    the values that need no payload. Any other exception is an engine
    fault and fails the Spark task. When ``schema`` ends in an ``error``
    column it records why a row faulted (``null bytes``, ``ValueError``,
    ``zlib.error``, ``no reference``, ...) and is null otherwise.

    Callable on plain pandas frames — no Spark session needed.
    """
    names = schema.names
    with_error = names[-1] == "error"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            key_col, payload_col = pdf.columns[:2]
            out = []
            for row in zip(*(pdf[c].tolist() for c in pdf.columns)):
                err = None
                if row[0] is None or row[1] is None:
                    err = f"null {key_col if row[0] is None else payload_col}"
                else:
                    try:
                        vals = fn(*row)
                        if vals is None:
                            err = "no reference"
                    except codecs.DATA_ERRORS as e:
                        err = _error_name(e)
                if err is not None:
                    vals = fault(*row) if callable(fault) else fault
                for v in vals if isinstance(vals, list) else [vals]:
                    out.append((row[0], *v, err) if with_error else (row[0], *v))
            yield pd.DataFrame.from_records(out, columns=names)

    return batches


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), True),
        T.StructField("decoded_w", T.IntegerType(), True),
        T.StructField("decoded_h", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("contrast", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def _image_features_row(image_id, data, fmt):
    img = codecs.decode_image(data, fmt).astype(np.float64)
    h, w = img.shape[:2]
    r, g, b = img.mean(axis=(0, 1))
    return w, h, float(r), float(g), float(b), float(img.std()), True


def image_features(images: DataFrame) -> DataFrame:
    """Decode + feature-extract per image, Arrow-batched; bytes consumed
    in the scan stage and never shuffled."""
    fault = (None,) * 6 + (False,)
    return images.select("image_id", "bytes", "fmt").mapInPandas(
        row_batches(_image_features_row, fault, IMAGE_FEATURES_SCHEMA), IMAGE_FEATURES_SCHEMA
    )


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (real, numpy strided sampling) →
    (image_id, bytes) re-encoded in the original format. Demonstrates a
    bytes-in/bytes-out map stage; a production kernel (bilinear/lanczos)
    plugs into the same per-row function."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), True),
            T.StructField("bytes", T.BinaryType(), True),
            T.StructField("fmt", T.StringType(), True),
        ]
    )

    def resize(image_id, data, fmt):
        img = codecs.decode_image(data, fmt)
        h, w = img.shape[:2]
        yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
        xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
        return codecs.encode_image(img[yi][:, xi], fmt), fmt

    def fault(image_id, data, fmt):
        return None, fmt

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        row_batches(resize, fault, schema), schema
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("clip_frac", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def _audio_features_row(clip_id, data):
    samples, sr = codecs.decode_wav(data)
    mono = samples.mean(axis=1) if samples.shape[1] > 1 else samples[:, 0].astype(np.float64)
    n = len(mono)
    rms = float(np.sqrt(np.mean(mono.astype(np.float64) ** 2))) if n else 0.0
    zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    # abs on widened int32: np.abs(int16 -32768) wraps back to
    # -32768, hiding negative-rail clipping and corrupting peak.
    abs_samples = np.abs(samples.astype(np.int32))
    clip_frac = float(np.mean(abs_samples >= 32767)) if n else 0.0
    duration = round(n / sr, 6) if sr else None
    peak = int(abs_samples.max()) if n else 0
    return sr, n, duration, round(rms, 4), peak, round(zc, 6), round(clip_frac, 6), True


def audio_features(clips: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes") -> DataFrame:
    """REAL audio decode + features for WAV (RIFF PCM16 — pure-stdlib
    codec, ``codecs.decode_wav``): sample counts, duration, RMS, peak,
    zero-crossing rate, clipping fraction. Arrow-batched; bytes consumed
    in the scan stage, never shuffled (same discipline as
    ``image_features``). Non-WAV payloads (mp3/flac/ogg need codec
    libraries absent from this container) come back ``decode_ok=False``
    per row — wire soundfile/ffmpeg in as a ``codecs`` decoder that
    raises ``ValueError`` on payloads it cannot read to extend coverage
    without touching the dataflow."""
    fault = (None,) * 7 + (False,)
    return clips.select(
        F.col(id_col).alias("clip_id"), F.col(bytes_col).alias("bytes")
    ).mapInPandas(row_batches(_audio_features_row, fault, AUDIO_FEATURES_SCHEMA),
                  AUDIO_FEATURES_SCHEMA)


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), True),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.BinaryType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("fps", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def sample_video_frames(videos: DataFrame, every_n: int = 30) -> DataFrame:
    """REAL frame sampling for Y4M (YUV4MPEG2 — pure-stdlib codec,
    ``codecs.decode_y4m``, C444/C420): every ``every_n``-th frame
    re-encoded as PNG → (video_id, frame_idx, frame_bytes, n_frames,
    fps, decode_ok). Arrow-batched ``mapInPandas``; video bytes are
    consumed in the scan stage and never shuffled — only the (much
    smaller) sampled frames flow downstream, where ``image_features``
    / pixel rules consume them. Compressed containers degrade to one
    ``decode_ok=false`` sentinel row (``frame_idx=-1``) per video; wire
    ffmpeg in as a ``codecs`` decoder that raises ``ValueError`` on
    payloads it cannot read to extend coverage without touching the
    dataflow."""

    def sample(video_id, data):
        frames, fps = codecs.decode_y4m(data)
        return [(idx, codecs.encode_png(frames[idx]), len(frames), fps, True)
                for idx in range(0, len(frames), every_n)]

    fault = (-1, None, None, None, False)
    return videos.select("video_id", "bytes").mapInPandas(
        row_batches(sample, fault, VIDEO_FRAMES_SCHEMA), VIDEO_FRAMES_SCHEMA
    )
