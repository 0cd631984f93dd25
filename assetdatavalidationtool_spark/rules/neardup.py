"""NearDuplicateRule — perceptual-hash near-duplicate detection as a
first-class validation rule.

The reference detects duplicates only by exact primary-key equality
(`src/Services/Validator.cs:39-42`); the north star extends uniqueness
to the `phash` column, where the duplicates that matter are NEAR misses
(re-encoded / resized copies a few bits apart). This rule runs the
bit-band LSH operator (`operators/phash.py` — pigeonhole-exact within
``max_hamming`` for ``max_hamming < bands``) over the images table and
emits one violation row per pair MEMBER, so each image involved in a
near-duplicate relationship is flagged under its own bucket and the
violation report reads per-image like every other rule.

Resume semantics: a near-dup pair can straddle logical buckets, so this
rule is intentionally NOT bucket-aligned (`Rule.bucket_aligned`
keeps its default False) — a bucket-grain resume re-runs the
whole rule rather than missing cross-bucket pairs. At 10^12 rows the
re-run is one (image_id, phash) scan — bytes never enter the plan.

Exact duplicates (hamming 0) are also reported here; pair the rule with
``UniquenessRule(["phash"], salted=True)`` when only exact phash
collisions are wanted with O(n) cost.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.phash import phash_neardup_pairs
from .base import Rule, RuleContext


@dataclass
class NearDuplicateRule(Rule):
    phash_col: str = "phash"
    max_hamming: int = 3
    bands: int = 4
    # mega-cluster cap: buckets larger than this are near-certain exact
    # duplicate piles; route them through UniquenessRule instead of the
    # O(b^2) pair join (operators/phash.py module docstring).
    max_bucket_size: int | None = 1000
    name: str = "neardup"

    def __post_init__(self):
        self.name = f"neardup({self.phash_col})"

    def violations(self, ctx: RuleContext) -> DataFrame:
        imgs = ctx.images.select(ctx.key_col, self.phash_col).na.drop()
        pairs = phash_neardup_pairs(
            imgs,
            id_col=ctx.key_col,
            phash_col=self.phash_col,
            max_hamming=self.max_hamming,
            bands=self.bands,
            max_bucket_size=self.max_bucket_size,
        )
        # one violation per member: (a, b) -> row for a naming b, row
        # for b naming a; each bucketed by its own id
        member = pairs.select(
            F.col("image_a").alias("key"),
            F.col("image_b").alias("other"),
            F.col("hamming"),
        ).unionByName(
            pairs.select(
                F.col("image_b").alias("key"),
                F.col("image_a").alias("other"),
                F.col("hamming"),
            )
        )
        return member.select(
            F.lit(self.name).alias("rule"),
            # explicit cast like every other rule (VIOLATIONS_SCHEMA says
            # string): a bigint id must not rely on implicit promotion
            F.col("key").cast("string").alias("key"),
            F.lit(self.phash_col).alias("column"),
            F.concat(
                F.lit("near-dup of "),
                F.col("other"),
                F.lit(" hamming="),
                F.col("hamming").cast("string"),
            ).alias("detail"),
            ctx.bucket_of(F.col("key")).alias("bucket"),
        )
