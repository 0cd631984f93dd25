"""SchemaRule — schema conformance + nullability + domain checks.

The reference only *tolerates* schema problems (pads ragged rows,
back-fills missing headers — ExcelReader.cs:110-114,164-166); this rule
instead *reports* them: missing/extra/mistyped columns become rule-level
violations, null-or-out-of-domain cells become row-level violations.
All row checks are pure SQL predicates → whole-stage codegen, no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame

from .base import (Rule, RuleContext, check_violations, sql_name, union_violations,
                   violation_rows)


@dataclass
class ColumnSpec:
    name: str
    dtype: str  # Spark simpleString, e.g. "int", "string", "binary", "bigint"
    nullable: bool = True
    domain: Column | None = None  # extra predicate; row passes if True


@dataclass
class SchemaRule(Rule):
    columns: list[ColumnSpec] = field(default_factory=list)
    name: str = "schema"

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return True

    def violations(self, ctx: RuleContext) -> DataFrame:
        df = ctx.images
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}

        # table-level: missing / mistyped columns (schema is metadata —
        # checked driver-side, emitted as bucket-less violations)
        table_level = []
        for spec in self.columns:
            if spec.name not in actual:
                table_level.append((self.name, None, spec.name, "missing column", None))
            elif actual[spec.name] != spec.dtype:
                table_level.append(
                    (
                        self.name,
                        None,
                        spec.name,
                        f"type mismatch: expected {spec.dtype}, got {actual[spec.name]}",
                        None,
                    )
                )
        for col in actual:
            if col not in {s.name for s in self.columns} and col != "bucket":
                table_level.append((self.name, None, col, "unexpected column", None))
        parts = [violation_rows(ctx.spark, table_level)] if table_level else []

        # row-level: nullability + domain predicates — FUSED into a single
        # scan (check_violations). A domain is a user Column: it is
        # projected as ``__domain<i>`` and referenced from the SQL text.
        #
        # EXCEPTION — wide binary columns with ONLY a nullability check:
        # folding `bytes IS NULL` into the fused scan forces the scan to
        # READ the multi-GB binary column (no pushdown: it's a projected
        # expression, not a filter). Split those into their own
        # `WHERE col IS NULL` branch instead: the IsNull filter pushes to
        # parquet, row-group null_count stats skip every clean group, and
        # the fused scan prunes the binary column away — in the common
        # all-clean case the rule never touches the image bytes at all.
        key = sql_name(ctx.key_col)
        checks, domains = [], []
        for spec in self.columns:
            if spec.name not in actual:
                continue
            col = sql_name(spec.name)
            if (
                actual[spec.name] == "binary"
                and not spec.nullable
                and spec.domain is None
            ):
                parts.append(check_violations(ctx, df.where(f"{col} IS NULL"), key, [
                    (self.name, "true", spec.name, "'null value'")]))
                continue
            if not spec.nullable:
                checks.append((self.name, f"{col} IS NULL", spec.name, "'null value'"))
            if spec.domain is not None:
                checks.append((self.name, f"{col} IS NOT NULL AND NOT __domain{len(domains)}",
                               spec.name, "'domain violation'"))
                domains.append(spec.domain.alias(f"__domain{len(domains)}"))
        if checks:
            fused = df.select("*", *domains) if domains else df
            parts.append(check_violations(ctx, fused, key, checks))
        return union_violations(ctx, parts)
