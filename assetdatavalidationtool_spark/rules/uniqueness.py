"""UniquenessRule — duplicate-key detection, optionally salted.

Reference parity: the first-row-wins key index silently *drops*
duplicates (ReportGenerator.cs:150-156); our engine *reports* every
duplicated key value as a violation.

Execution shape: the rule reads ``count > 1`` off the images side's
per-key row count (``base.key_violations``). In a ``RuleSet`` a
``ReferentialRule`` on the same key reads the same aggregate, so the
key is aggregated and shuffled once for both rules (the reference
likewise builds one key set per source, Validator.cs:42,62-79).

Skew handling (north_rule): for keys with heavy clusters (phash
prefixes, or low-cardinality keys like fmt) a single ``groupBy(key)``
puts a whole hot key in one reducer. ``salted=True`` switches that
count to two-phase aggregation: partial count per (key, salt) → final
sum per key. Both phases are hash aggregates with map-side partials;
the salt bounds the max rows any single reducer sees for one key to
~1/S of the cluster.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .base import KeyRule, RuleContext, sql_name


@dataclass
class UniquenessRule(KeyRule):
    key_columns: list[str] = field(default_factory=lambda: ["image_id"])
    salted: bool = False
    salt_buckets: int = 32
    name: str = "uniqueness"

    def __post_init__(self):
        if not self.key_columns:
            raise ValueError("UniquenessRule needs at least one key column")
        self.name = f"uniqueness({','.join(self.key_columns)})"

    def bucket_key(self, ctx: RuleContext) -> str:
        # bucket alignment with resume/verdicts: when the rule key IS the
        # context key, bucket the raw column like every other rule —
        # hashing the string-cast concat instead only coincides for
        # string keys, and a divergent bucket makes bucket-grain resume
        # skip/recompute the wrong buckets. Multi-/other-column keys
        # can't align to image buckets (a dup group spans arbitrary
        # image_ids), so they hash their own composite key string.
        if self.key_columns == [ctx.key_col]:
            return sql_name(ctx.key_col)
        return "concat_ws('|', " + ", ".join(
            f"CAST({sql_name(c)} AS STRING)" for c in self.key_columns) + ")"

    def key_salt(self) -> int | None:
        return self.salt_buckets if self.salted else None

    def key_checks(self, ctx: RuleContext) -> list[tuple[str, str, str, str]]:
        return [(self.name, "__n > 1", ",".join(self.key_columns),
                 "concat('duplicate count=', CAST(__n AS STRING))")]
