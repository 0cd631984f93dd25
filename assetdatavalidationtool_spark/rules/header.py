"""HeaderConsistencyRule — decode-free payload↔metadata conflict
detection as a first-class validation rule.

The reference's core conflict pass compares the same field across two
sources and reports each disagreeing cell (`src/Services/
Validator.cs:93-142`); here the two "sources" are the metadata columns
(w, h, fmt) and the payload's own embedded header, parsed with pure
Column expressions (`operators/images.py::header_consistency`). A row
whose container magic, embedded dimensions, or mandatory PNG trailer
disagree with its metadata is reported against the offending column —
catching mislabeled formats, stale dimensions, and truncated transfers
WITHOUT decompressing a single pixel.

Scale: substring/hex/conv inside whole-stage codegen, scan-stage only —
the payload column is read but only its first 24 and last 12 bytes are
transformed; no zlib, no Python, no shuffle. Per-row and keyed by the
run's key column, so the rule is bucket-aligned
(``bucket_aligned`` is True): a bucket-grain resume re-scans only
missing buckets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.images import header_consistency
from .base import Rule, RuleContext

# reason -> the column the violation is reported against
_REASON_COLUMN = {
    "unreadable_header": "bytes",
    "format_mismatch": "fmt",
    "dims_mismatch": "w,h",
    "truncated_payload": "bytes",
}


@dataclass
class HeaderConsistencyRule(Rule):
    bytes_col: str = "bytes"
    check_truncation: bool = True
    name: str = field(default="header_consistency", init=False)

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return True

    def violations(self, ctx: RuleContext) -> DataFrame:
        checked = header_consistency(
            ctx.images.select(ctx.key_col, "w", "h", "fmt", self.bytes_col),
            bytes_col=self.bytes_col,
            id_col=ctx.key_col,
            check_truncation=self.check_truncation,
        ).where(~F.col("consistent"))
        col_map = F.lit(None).cast("string")
        for reason, column in _REASON_COLUMN.items():
            col_map = F.when(F.col("reason") == reason, column).otherwise(col_map)
        return checked.select(
            F.lit(self.name).alias("rule"),
            F.col(ctx.key_col).cast("string").alias("key"),
            col_map.alias("column"),
            F.concat(F.lit("header: "), F.col("reason")).alias("detail"),
            ctx.bucket_of(F.col(ctx.key_col)).alias("bucket"),
        )
