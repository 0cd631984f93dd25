"""ReferentialRule — key containment between the image and caption sides.

Direct scale analog of the reference's MissingByFile set-difference
(Validator.cs:86-91: ``allKeys − keys(source)``) and presence matrix
(Validator.cs:67-79): one violation row per key that one side holds
and the other lacks.

Scale notes: both directions come from ONE full-outer join of the
images side's per-key row count with the distinct non-null caption
keys (``base.key_violations``; set semantics, matching the reference's
HashSets). Each side is projected to the key column before its
aggregate, so image bytes never leave the scan, and map-side partial
aggregation shrinks each side to distinct keys before its exchange. In
a ``RuleSet`` a ``UniquenessRule`` on the same key reads the same
images-side count, so the pair costs two key exchanges, not three. On
inputs bucketed by the key both aggregates and the join are
exchange-free; with AQE on, a small side goes broadcast automatically.
"""

from __future__ import annotations

from dataclasses import dataclass

from .base import KeyRule, RuleContext, sql_name

DIRECTIONS = ("images->captions", "captions->images", "both")


@dataclass
class ReferentialRule(KeyRule):
    key: str = "image_id"
    direction: str = "both"  # one of DIRECTIONS
    name: str = "referential"

    reads_captions = True

    def __post_init__(self):
        if self.direction not in DIRECTIONS:
            raise ValueError(
                f"ReferentialRule direction must be one of {DIRECTIONS}, got {self.direction!r}")

    @property
    def key_columns(self) -> list[str]:
        return [self.key]

    def bucket_key(self, ctx: RuleContext) -> str:
        return sql_name(self.key)

    def key_checks(self, ctx: RuleContext) -> list[tuple[str, str, str, str]]:
        if ctx.captions is None:
            return []
        checks = []
        if self.direction in ("images->captions", "both"):
            checks.append((self.name, "__cap IS NULL", self.key, "'missing caption row'"))
        if self.direction in ("captions->images", "both"):
            checks.append((self.name, "__n IS NULL", self.key, "'missing image row'"))
        return checks
