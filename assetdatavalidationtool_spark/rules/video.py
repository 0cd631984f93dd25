"""VideoInvariantRule — per-row video invariant (the Y4M analog of
RowInvariantRule's pixel check, completing the multimodal rule triad:
pixels / audio samples / video frames).

Validates a videos table ``(video_id, bytes, n_frames, fps)``: decode
the Y4M container per row in an Arrow batch, check declared metadata
against the parsed header, and compare SAMPLED frames against the
deterministic reference rendering (``datagen.render_video`` is a pure
function of video_id, regenerated on the executor). Frame comparison
gates at PSNR >= 25 dB (``PSNR_GATE_DB``), NOT the 40 dB gate the
input_hint prescribes for lossy *images* (that gate lives in
RowInvariantRule): the C444 round trip is ±1/channel (>50 dB), but
C420 chroma subsampling is legitimate encoding loss that lands
~30-40 dB on smooth content and can dip below 40 on sharp edges,
while a corrupted or wrong-content frame falls far below 25. Sampling every
``check_every_n``-th frame keeps per-row cost bounded — at 10^12 rows
nobody re-verifies every frame of every clip; the invariant is a
statistical gate, and the stride is deterministic so violations are
reproducible.

Execution shape: ``mapInPandas`` in the scan stage through the shared
media harness (``operators.multimodal.row_batches``) — video bytes are
decoded where they are read and never enter a shuffle; the UDF output
is a few flags per row. A payload that fails to decode is a per-row
violation naming the codec error class (``video decode failed:
ValueError``); any other exception fails the task. Run with
``RuleContext(images=videos_df, key_col="video_id")``.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import codecs
from ..datagen import id_index, render_video
from ..operators.multimodal import row_batches
from .base import Rule, RuleContext, check_violations

VIDEO_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("meta_ok", T.BooleanType(), True),
        T.StructField("frames_ok", T.BooleanType(), True),
        T.StructField("min_psnr_db", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Sampled-frame gate. Deliberately below the 40 dB image gate
# (row_invariant.py): C420 chroma averaging is legitimate encoding
# loss on video frames; 25 dB separates encoding loss from corruption.
PSNR_GATE_DB = 25.0


def _check_video(check_every_n, video_id, data, n_frames, fps):
    frames, got_fps = codecs.decode_y4m(data)
    meta_ok = bool(len(frames) == n_frames and got_fps == fps)
    # no frames, or an id naming no reference: a per-row frame mismatch
    if not frames or id_index(video_id) is None:
        return True, meta_ok, False, np.nan
    h, w = frames[0].shape[:2]
    ref = render_video(video_id, len(frames), w, h).astype(np.float64)
    worst = float("inf")
    for idx in range(0, len(frames), check_every_n):
        got = frames[idx].astype(np.float64)
        if got.shape != ref[idx].shape:
            worst = -1.0
            break
        mse = ((got - ref[idx]) ** 2).mean()
        p = 999.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
        worst = min(worst, p)
    min_psnr = -1.0 if worst == float("inf") else round(worst, 2)
    return True, meta_ok, bool(worst >= PSNR_GATE_DB), min_psnr


def _video_check_batches(check_every_n: int):
    return row_batches(partial(_check_video, check_every_n),
                       (False, None, None, np.nan), VIDEO_CHECK_SCHEMA)


@dataclass
class VideoInvariantRule(Rule):
    check_every_n: int = 4
    name: str = "video_invariant"

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return ctx.key_col == "video_id"

    def checks(self, ctx: RuleContext) -> DataFrame:
        cols = ["video_id", "bytes", "n_frames", "fps"]
        return ctx.images.select(*cols).mapInPandas(
            _video_check_batches(self.check_every_n), VIDEO_CHECK_SCHEMA
        )

    def violations(self, ctx: RuleContext) -> DataFrame:
        # min_psnr_db is null when no reference exists for the row
        return check_violations(ctx, self.checks(ctx), "video_id", [
            (self.name, "NOT decode_ok", "bytes", "concat('video decode failed: ', error)"),
            (self.name, "decode_ok AND NOT meta_ok", "n_frames,fps",
             "'declared metadata != decoded'"),
            (self.name, "decode_ok AND NOT frames_ok", "bytes",
             "concat('frame mismatch min_psnr=', coalesce(CAST(min_psnr_db AS STRING), 'n/a'))"),
        ])
