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
from pyspark.sql.types import NumericType

from .base import Rule, RuleContext, check_violations, sql_lit, sql_name


@dataclass
class StatsRule(Rule):
    columns: list[str] = field(default_factory=list)
    numeric_percentiles: tuple[float, ...] = (0.5, 0.95)
    # optional per-column (min_allowed, max_allowed) bounds → violations
    bounds: dict[str, tuple[float | None, float | None]] = field(default_factory=dict)
    name: str = "stats"

    def _numeric(self, ctx: RuleContext, col: str) -> bool:
        return isinstance(ctx.images.schema[col].dataType, NumericType)

    def metrics(self, ctx: RuleContext) -> DataFrame:
        # ONE aggregate row, then a stack(...) unpivot into (metric,
        # column, value); both are SQL text, a few Py4J calls in all
        aggs, rows = [], []
        for c in self.columns:
            n = sql_name(c)
            stats = [
                ("count", f"count({n})"),
                # CAST: a bare 1.0 is DECIMAL in SQL; try_divide: NULL,
                # not DIVIDE_BY_ZERO under ANSI, on an empty table
                ("null_frac", f"CAST(1.0 AS DOUBLE) - try_divide(count({n}), count(1))"),
                ("approx_distinct", f"approx_count_distinct({n})"),
            ]
            if self._numeric(ctx, c):
                stats += [("min", f"min({n})"), ("max", f"max({n})")]
                stats += [(f"p{int(p*100)}", f"percentile_approx({n}, {sql_lit(float(p))})")
                          for p in self.numeric_percentiles]
            for metric, agg in stats:
                alias = f"`__a{len(aggs)}`"
                aggs.append(f"{agg} AS {alias}")
                rows.append(f"{sql_lit(metric)}, {sql_lit(c)}, CAST({alias} AS DOUBLE)")
        return ctx.images.selectExpr(*aggs).selectExpr(
            f"stack({len(rows)}, {', '.join(rows)}) AS (metric, `column`, value)")

    def violations(self, ctx: RuleContext) -> DataFrame:
        if not self.bounds:
            return ctx.empty_violations()
        # fused single-scan bound checks (check_violations, as in SchemaRule)
        checks = []
        for c, (lo, hi) in self.bounds.items():
            n = sql_name(c)
            conds = [f"{n} {op} {sql_lit(v)}" for op, v in (("<", lo), (">", hi)) if v is not None]
            checks.append((self.name, f"{n} IS NOT NULL AND ({' OR '.join(conds) or 'false'})", c,
                           f"concat('out of bounds: ', CAST({n} AS STRING))"))
        return check_violations(ctx, ctx.images, sql_name(ctx.key_col), checks)
