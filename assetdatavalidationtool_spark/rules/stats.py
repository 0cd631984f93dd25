"""StatsRule — per-column statistics via sketch aggregates.

Scale analog of the reference's distinct-value-set overlap stats
(ColumnOverlapMapper.cs:31-43): exact HashSet cardinalities become
``approx_count_distinct`` (HLL sketch) and ``percentile_approx``
(KLL-ish) — single-pass, partial+final aggregated, no exact distinct
shuffle at 10^12 rows. Optional bounds turn stats into violations.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import Rule, RuleContext, check_violations


@dataclass
class StatsRule(Rule):
    columns: list[str] = field(default_factory=list)
    numeric_percentiles: tuple[float, ...] = (0.5, 0.95)
    # optional per-column (min_allowed, max_allowed) bounds → violations
    bounds: dict[str, tuple[float | None, float | None]] = field(default_factory=dict)
    name: str = "stats"

    def _numeric(self, ctx: RuleContext, col: str) -> bool:
        return dict(ctx.images.dtypes)[col] in ("int", "bigint", "double", "float", "smallint")

    def metrics(self, ctx: RuleContext) -> DataFrame:
        df = ctx.images
        aggs, labels = [], []
        total = F.count("*")
        for c in self.columns:
            aggs += [
                F.count(F.col(c)).alias(f"{c}__count"),
                (F.lit(1.0) - F.count(F.col(c)) / total).alias(f"{c}__null_frac"),
                F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
            ]
            labels += [(c, "count"), (c, "null_frac"), (c, "approx_distinct")]
            if self._numeric(ctx, c):
                aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
                labels += [(c, "min"), (c, "max")]
                for p in self.numeric_percentiles:
                    aggs.append(F.percentile_approx(c, p).alias(f"{c}__p{int(p*100)}"))
                    labels.append((c, f"p{int(p*100)}"))
        row = df.agg(*aggs)
        # unpivot the single wide row into (metric, column, value)
        pairs = []
        for (c, m) in labels:
            pairs += [F.lit(m), F.lit(c), F.col(f"{c}__{m}").cast("double")]
        return row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            pairs[i].alias("metric"),
                            pairs[i + 1].alias("column"),
                            pairs[i + 2].alias("value"),
                        )
                        for i in range(0, len(pairs), 3)
                    ]
                )
            ).alias("s")
        ).select("s.metric", "s.column", "s.value")

    def violations(self, ctx: RuleContext) -> DataFrame:
        if not self.bounds:
            return ctx.empty_violations()
        # fused single-scan bound checks (check_violations, as in SchemaRule)
        checks = []
        for c, (lo, hi) in self.bounds.items():
            cond = F.lit(False)
            if lo is not None:
                cond = cond | (F.col(c) < F.lit(lo))
            if hi is not None:
                cond = cond | (F.col(c) > F.lit(hi))
            checks.append((F.col(c).isNotNull() & cond, c,
                           F.concat(F.lit("out of bounds: "), F.col(c).cast("string"))))
        return check_violations(ctx, self.name, ctx.images, ctx.key_col, checks)
