"""Deterministic synthetic image+caption table generator (FIXTURES.md §1-2).

Every value derives from the row index alone (seed constant folded in),
so any executor can regenerate the reference rendering for a given
``image_id`` without shuffling pixel data — the key scale property: the
pixel invariant never moves image bytes through a shuffle, it re-renders
from the id (SURVEY.md §7.3).

Distributed generation: ``spark.range(n)`` → ``mapInPandas`` (Arrow
batches, no per-row Python round trips).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .codecs import encode_image

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

CAPTIONS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("caption", T.StringType(), True),
    ]
)

SIZES = np.array([64, 128, 256, 512], dtype=np.int64)
SIZE_W = np.array([4, 3, 2, 1], dtype=np.float64)
FMTS = np.array(["png", "jpeg", "webp"])
FMT_W = np.array([5, 4, 1], dtype=np.float64)  # skewed on purpose
NOUNS = [
    "a red bicycle", "two dogs on a beach", "an old lighthouse", "a bowl of ramen",
    "a snowy mountain pass", "the city skyline at dusk", "a stack of books",
    "a vintage typewriter", "a field of sunflowers", "an origami crane",
    "a rusty pickup truck", "a coral reef", "a chess board mid-game",
    "a steaming coffee cup", "a hot air balloon", "a wooden rowboat",
]
SEED = 42


def _u64(name: str, i: int) -> int:
    """Stable 64-bit value derived from (seed, name, index)."""
    d = hashlib.md5(f"{SEED}:{name}:{i}".encode()).digest()
    return int.from_bytes(d[:8], "little")


def row_params(i: int) -> dict:
    """Deterministic logical row i → all column values except bytes."""
    wi = _u64("w", i) % int(SIZE_W.sum())
    hi = _u64("h", i) % int(SIZE_W.sum())
    w = int(SIZES[np.searchsorted(SIZE_W.cumsum(), wi, side="right")])
    h = int(SIZES[np.searchsorted(SIZE_W.cumsum(), hi, side="right")])
    fi = _u64("fmt", i) % int(FMT_W.sum())
    fmt = str(FMTS[np.searchsorted(FMT_W.cumsum(), fi, side="right")])
    caption = f"a photo of {NOUNS[i % len(NOUNS)]} number {i}"
    # phash: prefix-clustered (top byte = fmt/size bucket) to exercise
    # skew handling; low bits from the content hash.
    prefix = (FMTS.tolist().index(fmt) * 4 + int(np.log2(w)) - 6) & 0xFF
    ph = (prefix << 56) | (_u64("phash", i) & 0x00FFFFFFFFFFFFFF)
    ph = ph - (1 << 64) if ph >= (1 << 63) else ph
    return {
        "image_id": f"img_{i:012d}",
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
    }


def _gradient_base(w: int, h: int) -> np.ndarray:
    """id-independent gradient layer; memoized per (w, h) — only a
    handful of sizes exist, and this is the render hot path."""
    cached = _gradient_base._cache.get((w, h))
    if cached is not None:
        return cached
    yy, xx = np.mgrid[0:h, 0:w]
    # int16: values are 0..255 and the render arithmetic stays in
    # int16 (half the memory traffic of int32 — this is the UDF hot path)
    base = np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // max(w + h - 2, 1)),
        ],
        axis=-1,
    ).astype(np.int16)
    base.setflags(write=False)
    _gradient_base._cache[(w, h)] = base
    return base


_gradient_base._cache = {}


def id_index(key: str) -> int | None:
    """The row index the ``render_*`` functions read from an
    ``<prefix>_<n>`` id, or None when the id carries none (no reference
    rendering exists for it)."""
    try:
        return int(key.split("_")[-1])
    except ValueError:
        return None


def render_image(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic reference rendering for an image_id: a seeded
    gradient + block-noise pattern. Pure function of (id, w, h)."""
    i = int(image_id.split("_")[-1])
    rng = np.random.RandomState((_u64("pix", i)) % (2**31 - 1))
    base = _gradient_base(w, h)
    # 8x8 block noise so lossy quantization has structure to chew on
    # (repeat == kron-with-ones, bit-identical, ~3.5x faster). The rng
    # call keeps the default int dtype so the random SEQUENCE is frozen;
    # the cheap block-resolution astype(int16) halves the bandwidth of
    # the full-resolution repeat/add/clip that dominates render cost.
    noise = rng.randint(-32, 33, size=(max(h // 8, 1), max(w // 8, 1), 3))
    noise = noise.astype(np.int16).repeat(8, axis=0).repeat(8, axis=1)[:h, :w, :]
    # accumulate into the already-allocated noise buffer (r6): same
    # int16 add/clip, one fewer full-resolution temporary on the UDF
    # hot path; output is bit-identical
    np.add(base, noise, out=noise)
    np.clip(noise, 0, 255, out=noise)
    return noise.astype(np.uint8)


def make_row(i: int, corrupt_pixels: bool = False) -> dict:
    p = row_params(i)
    img = render_image(p["image_id"], p["w"], p["h"])
    if corrupt_pixels:
        # deterministic coarse quantization (~28 dB PSNR) — fails the
        # 40 dB gate in ANY format, including lossless png
        img = (((img.astype(np.int32) // 32) * 32) + 16).clip(0, 255).astype(np.uint8)
    p["bytes"] = encode_image(img, p["fmt"])
    return p


def generate_images(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    dup_ids: int = 0,
    bad_pixel_ids: int = 0,
    null_dim_ids: int = 0,
    near_phash_ids: int = 0,
) -> DataFrame:
    """Distributed deterministic images table with optional injected
    faults (FIXTURES.md §3), all derived from row index:

    * rows [0, dup_ids)            → re-emitted once more (duplicate image_id)
    * rows [0, bad_pixel_ids)      → bytes re-encoded at coarse
      quantization (PSNR < 40 dB) — pixel-invariant violations
    * rows [0, null_dim_ids)       → w/h set to null — schema violations
    * rows [0, near_phash_ids)     → re-emitted as ``near_<i>`` with
      phash XOR 0b1011 (Hamming 3) — near-duplicate violations; all
      other fields copied, so the row stays pixel/schema-clean
    """
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                i = int(i)
                near = i >= n + dup_ids  # trailing range: near-dup re-emits
                logical = (i - n - dup_ids) if near else (i % n)
                # near-dup re-emits stay pixel-clean even when their
                # logical index overlaps the bad-pixel range — the
                # docstring's "pixel/schema-clean" guarantee must hold
                # for any fault combination
                r = make_row(
                    logical,
                    corrupt_pixels=(not near) and logical < bad_pixel_ids,
                )
                if near:
                    r["image_id"] = f"near_{logical:012d}"
                    u = (r["phash"] ^ 0b1011) & ((1 << 64) - 1)
                    r["phash"] = u - (1 << 64) if u >= (1 << 63) else u
                elif logical < null_dim_ids:
                    r["w"] = None
                    r["h"] = None
                rows.append(r)
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    total = n + dup_ids + near_phash_ids
    return spark.range(0, total, numPartitions=parts).mapInPandas(gen, IMAGES_SCHEMA)


def generate_captions(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    drop_ids: int = 0,
    alien_ids: int = 0,
    mutate_ids: int = 0,
) -> DataFrame:
    """Companion captions table (FIXTURES.md §2): same id space with
    controlled perturbations, counted exactly so tests are closed-form.

    * rows [n-drop_ids, n)    → omitted            (images missing captions)
    * alien_ids extra rows    → ids not in images  (captions missing images)
    * rows [0, mutate_ids)    → caption text mutated (conflict violations)
    """
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"].tolist():
                i = int(i)
                if i >= n:  # alien rows
                    out.append(
                        {"image_id": f"alien_{i - n:08d}", "caption": f"alien caption {i - n}"}
                    )
                    continue
                if i >= n - drop_ids:
                    continue
                p = row_params(i)
                cap = p["caption"] + " [mutated]" if i < mutate_ids else p["caption"]
                out.append({"image_id": p["image_id"], "caption": cap})
            yield pd.DataFrame(out, columns=["image_id", "caption"])

    return spark.range(0, n + alien_ids, numPartitions=parts).mapInPandas(
        gen, CAPTIONS_SCHEMA
    )


def render_audio(clip_id: str, n_samples: int = 16000, sample_rate: int = 16000) -> np.ndarray:
    """Deterministic synthetic mono clip for a clip_id: a seeded sine
    mixture + noise floor, int16. Pure function of (id, n, sr) — the
    audio analog of render_image."""
    i = int(clip_id.split("_")[-1])
    rng = np.random.RandomState(_u64("aud", i) % (2**31 - 1))
    t = np.arange(n_samples, dtype=np.float64) / sample_rate
    f0 = 110.0 * (1 + (i % 16))
    wave = (
        0.6 * np.sin(2 * np.pi * f0 * t)
        + 0.25 * np.sin(2 * np.pi * 2.5 * f0 * t)
        + 0.05 * rng.randn(n_samples)
    )
    return np.clip(wave * 12000.0, -32768, 32767).astype(np.int16)


def make_audio_row(i: int, n_samples: int = 16000, sample_rate: int = 16000,
                   corrupt: bool = False) -> dict:
    from .codecs import encode_wav

    clip_id = f"clip_{i:09d}"
    samples = render_audio(clip_id, n_samples, sample_rate)
    if corrupt:
        samples = (samples.astype(np.int32) * 4).clip(-32768, 32767).astype(np.int16)
    return {
        "clip_id": clip_id,
        "bytes": encode_wav(samples, sample_rate),
        "sample_rate": sample_rate,
        "n_samples": n_samples,
    }


def render_video(video_id: str, n_frames: int = 8, w: int = 32, h: int = 24) -> np.ndarray:
    """Deterministic synthetic RGB frames for a video_id: a seeded
    gradient with a per-frame moving bright square (so every frame is
    distinct and motion is checkable). Pure function of (id, n, w, h) —
    the video analog of render_image."""
    i = int(video_id.split("_")[-1])
    rng = np.random.RandomState(_u64("vid", i) % (2**31 - 1))
    # smooth per-video gradient base (chroma-subsample-friendly, like
    # real footage) with a random per-video color offset
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    off = rng.randint(0, 64, 3)
    base = np.stack(
        [
            (xx * 191 // max(1, w - 1)) + off[0],
            (yy * 191 // max(1, h - 1)) + off[1],
            ((xx + yy) * 191 // max(2, w + h - 2)) + off[2],
        ],
        axis=-1,
    ).astype(np.uint8)
    frames = np.empty((n_frames, h, w, 3), dtype=np.uint8)
    for f in range(n_frames):
        fr = base.copy()
        x = (i + 3 * f) % max(1, w - 8)
        y = (i + 2 * f) % max(1, h - 8)
        fr[y : y + 8, x : x + 8] = (230, 40 + (f * 13) % 200, 90)
        frames[f] = fr
    return frames


def make_video_row(i: int, n_frames: int = 8, w: int = 32, h: int = 24,
                   fps: int = 30, subsampling: str = "444") -> dict:
    from .codecs import encode_y4m

    video_id = f"video_{i:09d}"
    frames = render_video(video_id, n_frames, w, h)
    return {
        "video_id": video_id,
        "bytes": encode_y4m(frames, fps, subsampling),
        "n_frames": n_frames,
        "fps": fps,
    }


def _make_clip_row(i: int, n_samples: int, sample_rate: int,
                   corrupt: bool, clipped: bool, wrong_meta: bool) -> dict:
    from .codecs import encode_wav

    clip_id = f"clip_{i:09d}"
    if corrupt:
        return {"clip_id": clip_id, "bytes": b"\x00not audio\x00",
                "sample_rate": sample_rate, "n_samples": n_samples}
    samples = render_audio(clip_id, n_samples, sample_rate)
    if clipped:
        samples = (samples.astype(np.int32) * 4).clip(-32768, 32767).astype(np.int16)
    return {
        "clip_id": clip_id,
        "bytes": encode_wav(samples, sample_rate),
        "sample_rate": sample_rate,
        "n_samples": n_samples + (1 if wrong_meta else 0),
    }


def generate_clips(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    n_samples: int = 4000,
    sample_rate: int = 16000,
    corrupt_ids: int = 0,
    clipped_ids: int = 0,
    wrong_meta_ids: int = 0,
) -> DataFrame:
    """Distributed deterministic audio-clips table (WAV/PCM16) with
    injected faults, all derived from row index — the audio analog of
    generate_images. Fault layout (disjoint, exactly countable):

    * rows [0, corrupt_ids)                          → undecodable bytes
    * rows [corrupt_ids, corrupt_ids+clipped_ids)    → 4x-amplified
      (rails clipped: reference mismatch AND clipping violations)
    * next wrong_meta_ids rows                       → declared
      n_samples off by one (metadata mismatch)
    """
    import pyspark.sql.types as T

    parts = partitions or spark.sparkContext.defaultParallelism
    schema = T.StructType([
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                i = int(i)
                rows.append(_make_clip_row(
                    i, n_samples, sample_rate,
                    corrupt=i < corrupt_ids,
                    clipped=corrupt_ids <= i < corrupt_ids + clipped_ids,
                    wrong_meta=(corrupt_ids + clipped_ids) <= i
                    < (corrupt_ids + clipped_ids + wrong_meta_ids),
                ))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema)


def generate_videos(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    n_frames: int = 8,
    w: int = 32,
    h: int = 24,
    fps: int = 30,
    corrupt_ids: int = 0,
    wrong_content_ids: int = 0,
    wrong_meta_ids: int = 0,
) -> DataFrame:
    """Distributed deterministic Y4M videos table with injected faults,
    all derived from row index (disjoint, exactly countable):

    * rows [0, corrupt)                      → undecodable bytes
    * next wrong_content rows                → frames rendered from a
      DIFFERENT video_id (frame-invariant violations)
    * next wrong_meta rows                   → declared n_frames off by
      one (metadata mismatch)
    """
    import pyspark.sql.types as T

    from .codecs import encode_y4m

    parts = partitions or spark.sparkContext.defaultParallelism
    schema = T.StructType([
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("fps", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                i = int(i)
                vid = f"video_{i:09d}"
                if i < corrupt_ids:
                    rows.append({"video_id": vid, "bytes": b"\x00not video\x00",
                                 "n_frames": n_frames, "fps": fps})
                    continue
                render_id = vid
                if corrupt_ids <= i < corrupt_ids + wrong_content_ids:
                    render_id = f"video_{i + 1000000:09d}"  # wrong content
                frames = render_video(render_id, n_frames, w, h)
                declared = n_frames
                lo = corrupt_ids + wrong_content_ids
                if lo <= i < lo + wrong_meta_ids:
                    declared = n_frames + 1
                rows.append({"video_id": vid,
                             "bytes": encode_y4m(frames, fps, "444"),
                             "n_frames": declared, "fps": fps})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema)
