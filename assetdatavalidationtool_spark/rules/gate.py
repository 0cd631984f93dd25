"""MetadataGateRule — the image-corpus quality gate as a first-class
validation rule.

The reference validates asset rows field-by-field and reports each
failing field with a reason (`src/Services/Validator.cs:20-42`,
`src/Models/ValidationResult.cs`); for an image+caption corpus the
per-row screen is a metadata gate: resolution bounds, aspect-ratio
sanity, format allow-list, optional payload-size floor. This rule runs
the `operators/images.py::image_gate` projection over the images table
and emits one violation per gated row, mapped to the offending column
(w/h for geometry gates, fmt for the format gate, bytes for payload).

Scale: a pure Column CASE over the metadata columns — the binary
``bytes`` column never enters the plan (the payload gate reads a
pre-recorded ``n_bytes`` column and silently disables itself when the
table lacks one). Per-row and keyed by the run's key column, so the
rule is bucket-aligned (``bucket_aligned`` is True): a bucket-grain
resume re-scans only missing buckets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.images import DEFAULT_FORMATS, image_gate
from .base import Rule, RuleContext

# reject_reason -> the column the violation is reported against
_REASON_COLUMN = {
    "null_dims": "w,h",
    "too_small": "w,h",
    "too_large": "w,h",
    "extreme_aspect": "w,h",
    "bad_format": "fmt",
    "tiny_payload": "bytes",
    "starved_payload": "bytes",
    "bloated_payload": "bytes",
}


@dataclass
class MetadataGateRule(Rule):
    min_side: int = 64
    max_side: int = 8192
    max_aspect: int = 4
    formats: tuple = DEFAULT_FORMATS
    # None: payload gate off unless the table carries n_bytes anyway
    min_bytes: int | None = None
    # (low, high) milli-bytes-per-pixel compression sanity screen
    # (truncation / decoder-bomb detection); None = off
    milli_bpp_bounds: tuple | None = None
    name: str = field(default="gate", init=False)

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return True

    def violations(self, ctx: RuleContext) -> DataFrame:
        cols = [ctx.key_col, "w", "h", "fmt"]
        needs_nb = self.min_bytes is not None or self.milli_bpp_bounds is not None
        if needs_nb and "n_bytes" in ctx.images.columns:
            cols.append("n_bytes")
        gated = image_gate(
            ctx.images.select(*cols),
            min_side=self.min_side,
            max_side=self.max_side,
            max_aspect=self.max_aspect,
            formats=self.formats,
            min_bytes=self.min_bytes,
            milli_bpp_bounds=self.milli_bpp_bounds,
            id_col=ctx.key_col,
        ).where(~F.col("passed"))
        col_map = F.lit(None).cast("string")
        for reason, column in _REASON_COLUMN.items():
            col_map = F.when(F.col("reject_reason") == reason, column).otherwise(
                col_map
            )
        return gated.select(
            F.lit(self.name).alias("rule"),
            F.col(ctx.key_col).cast("string").alias("key"),
            col_map.alias("column"),
            F.concat(F.lit("gated: "), F.col("reject_reason")).alias("detail"),
            ctx.bucket_of(F.col(ctx.key_col)).alias("bucket"),
        )
