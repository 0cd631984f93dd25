"""AudioInvariantRule — per-row audio invariant (the WAV analog of
RowInvariantRule's pixel check).

Validates an audio-clips table ``(clip_id, bytes, sample_rate,
n_samples)`` the way the engine validates images: decode the ``bytes``
column per row in an Arrow batch, compare against the deterministic
reference rendering (``datagen.render_audio`` is a pure function of
clip_id, regenerated on the executor — never broadcast or shuffled),
and check declared metadata + signal health. WAV/PCM16 is lossless, so
the reference comparison is EXACT sample equality (the counterpart of
the PSNR >= 40 dB gate for lossy images).

Checks per row, each emitting its own violation (``check_violations``,
ONE UDF pass):

* decode     — bytes parse as RIFF/WAVE PCM16; a failure names the
  codec error class (``audio decode failed: struct.error``)
* meta       — declared (sample_rate, n_samples) == decoded
* reference  — decoded samples exactly equal render_audio(clip_id)
* clipping   — fraction of samples at the rails <= max_clip_frac
  (abs computed on widened int32: int16 abs wraps -32768 and hides
  negative-rail clipping)

Execution shape: ``mapInPandas`` in the scan stage through the shared
media harness (``operators.multimodal.row_batches``) — audio bytes are
decoded where they are read and never enter a shuffle; the UDF output
is a few flags per row. Only codec data errors become row faults; any
other exception fails the task. Run it with
``RuleContext(images=clips_df, key_col="clip_id")`` — the rule engine
is table-generic.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import codecs
from ..datagen import id_index, render_audio
from ..operators.multimodal import row_batches
from .base import Rule, RuleContext, check_violations, sql_lit

AUDIO_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("meta_ok", T.BooleanType(), True),
        T.StructField("ref_ok", T.BooleanType(), True),
        T.StructField("clip_frac", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

DEFAULT_MAX_CLIP_FRAC = 0.001


def _check_clip(clip_id, data, sample_rate, n_samples):
    samples, sr = codecs.decode_wav(data)
    mono = samples[:, 0]
    meta_ok = bool(sr == sample_rate and len(mono) == n_samples)
    # a decodable row whose id names no reference is a per-row
    # reference mismatch, not a decode fault
    ref_ok = id_index(clip_id) is not None and bool(
        np.array_equal(render_audio(clip_id, len(mono), sr), mono))
    a = np.abs(samples.astype(np.int32))
    clip_frac = float(np.mean(a >= 32767)) if len(mono) else 0.0
    return True, meta_ok, ref_ok, clip_frac


_audio_check_batches = row_batches(
    _check_clip, (False, None, None, np.nan), AUDIO_CHECK_SCHEMA
)


@dataclass
class AudioInvariantRule(Rule):
    max_clip_frac: float = DEFAULT_MAX_CLIP_FRAC
    name: str = "audio_invariant"

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return ctx.key_col == "clip_id"

    def checks(self, ctx: RuleContext) -> DataFrame:
        cols = ["clip_id", "bytes", "sample_rate", "n_samples"]
        return ctx.images.select(*cols).mapInPandas(
            _audio_check_batches, AUDIO_CHECK_SCHEMA
        )

    def violations(self, ctx: RuleContext) -> DataFrame:
        return check_violations(ctx, self.checks(ctx), "clip_id", [
            (self.name, "NOT decode_ok", "bytes", "concat('audio decode failed: ', error)"),
            (self.name, "decode_ok AND NOT meta_ok", "sample_rate,n_samples",
             "'declared metadata != decoded'"),
            (self.name, "decode_ok AND NOT ref_ok", "bytes", "'sample mismatch vs reference'"),
            (self.name, f"decode_ok AND clip_frac > {sql_lit(self.max_clip_frac)}", "bytes",
             "concat('clipping frac=', CAST(round(clip_frac, 4) AS STRING))"),
        ])
