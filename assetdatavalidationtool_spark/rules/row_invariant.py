"""RowInvariantRule — per-row pixel + caption invariant (the one UDF).

BASELINE.json input_hint: decode ``bytes`` per row, compare against the
deterministic reference rendering, require PSNR >= 40 dB for lossy
formats (exact match for lossless) and caption equality. This is the
engine's analog of the reference's cell-level Conflicts/Deltas compare
(Validator.cs:93-142, ReportGenerator.cs:283-317) applied to pixels.

Execution shape (the scale-critical part):

* ``mapInPandas`` over Arrow record batches — vectorized transfer, no
  per-row Python serialization (input_hint requirement). Batch size is
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so image
  buffers fit executor memory. The batch loop, null checks and error
  policy are the shared media harness
  (``operators.multimodal.row_batches``): a payload that fails to
  decode is a per-row ``bytes`` violation naming the codec error class
  (``pixel decode failed: zlib.error``), and any other exception fails
  the task instead of posing as a data violation.
* Runs in the *scan stage* (narrow transformation): image bytes are
  decoded where they are read and never enter a shuffle. The UDF output
  is only ``(image_id, psnr_db, pixel_ok, caption_ok, error)`` — a few
  dozen bytes/row.
* The caption is checked whenever the id names a reference row, also
  when the bytes fail to decode. An id that names none (null, or no
  ``<prefix>_<n>`` index) has nothing to compare the pixels or the
  caption against: its ``caption_ok`` is NULL and it yields only its
  ``bytes`` violation, whose detail names the missing reference.
* The reference rendering is *regenerated from image_id on the
  executor* (datagen.render_image is a pure function), never broadcast
  or shuffled — SURVEY.md §7.3.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import codecs
from ..datagen import id_index, render_image, row_params
from ..operators.multimodal import row_batches
from .base import Rule, RuleContext, check_violations

CHECK_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), True),
        T.StructField("psnr_db", T.DoubleType(), True),
        T.StructField("pixel_ok", T.BooleanType(), True),
        T.StructField("caption_ok", T.BooleanType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

PSNR_GATE_DB = 40.0


def _expected(image_id: str | None) -> dict | None:
    i = None if image_id is None else id_index(image_id)
    return None if i is None else row_params(i)


def _check_row(image_id, data, fmt, caption):
    expected = _expected(image_id)
    if expected is None:  # no reference: the harness's fault row
        return None
    ref = render_image(image_id, expected["w"], expected["h"])
    p = codecs.psnr(ref, codecs.decode_image(data, fmt))
    # +inf (exact match) → 999.0 display sentinel; -inf (shape mismatch)
    # → -1.0 — np.isfinite alone would conflate the two and record a
    # failure as a perfect score
    if p == float("inf"):
        psnr_db = 999.0
    elif p == float("-inf") or not np.isfinite(p):
        psnr_db = -1.0
    else:
        psnr_db = p
    pixel_ok = (p == float("inf")) if fmt == "png" else (p >= PSNR_GATE_DB)
    return psnr_db, pixel_ok, caption == expected["caption"]


def _fault_row(image_id, data, fmt, caption):
    # the caption check needs only the id, not the bytes
    expected = _expected(image_id)
    return np.nan, False, None if expected is None else caption == expected["caption"]


_check_batches = row_batches(_check_row, _fault_row, CHECK_SCHEMA)


@dataclass
class RowInvariantRule(Rule):
    name: str = "row_invariant"

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return True

    def checks(self, ctx: RuleContext) -> DataFrame:
        cols = ["image_id", "bytes", "fmt", "caption"]
        return ctx.images.select(*cols).mapInPandas(_check_batches, CHECK_SCHEMA)

    def violations(self, ctx: RuleContext) -> DataFrame:
        # one violation row PER failed check (a row failing both pixel
        # and caption emits two rows); ONE UDF pass
        pixel_detail = ("CASE WHEN error = 'no reference' THEN 'no reference image for image_id' "
                        "WHEN error IS NOT NULL THEN concat('pixel decode failed: ', error) "
                        "ELSE concat('pixel mismatch psnr=', CAST(round(psnr_db, 2) AS STRING)) END")
        return check_violations(ctx, self.checks(ctx), "image_id", [
            (self.name, "NOT pixel_ok", "bytes", pixel_detail),
            (self.name, "NOT caption_ok", "caption", "'caption mismatch'"),
        ])
