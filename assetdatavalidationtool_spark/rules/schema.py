"""SchemaRule — schema conformance + nullability + domain checks.

The reference only *tolerates* schema problems (pads ragged rows,
back-fills missing headers — ExcelReader.cs:110-114,164-166); this rule
instead *reports* them: missing/extra/mistyped columns become rule-level
violations, null-or-out-of-domain cells become row-level violations.
All row checks are pure Column predicates → whole-stage codegen, no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import Rule, RuleContext, check_violations, violation_rows


@dataclass
class ColumnSpec:
    name: str
    dtype: str  # Spark simpleString, e.g. "int", "string", "binary", "bigint"
    nullable: bool = True
    domain: F.Column | None = None  # extra predicate; row passes if True


@dataclass
class SchemaRule(Rule):
    columns: list[ColumnSpec] = field(default_factory=list)
    name: str = "schema"

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
        out = violation_rows(ctx.spark, table_level)

        # row-level: nullability + domain predicates — FUSED into a single
        # scan (check_violations).
        #
        # EXCEPTION — wide binary columns with ONLY a nullability check:
        # folding `bytes IS NULL` into the fused scan forces the scan to
        # READ the multi-GB binary column (no pushdown: it's a projected
        # expression, not a filter). Split those into their own
        # `WHERE col IS NULL` branch instead: the IsNull filter pushes to
        # parquet, row-group null_count stats skip every clean group, and
        # the fused scan prunes the binary column away — in the common
        # all-clean case the rule never touches the image bytes at all.
        checks = []
        wide_null_specs = []
        for spec in self.columns:
            if spec.name not in actual:
                continue
            if (
                actual[spec.name] == "binary"
                and not spec.nullable
                and spec.domain is None
            ):
                wide_null_specs.append(spec)
                continue
            if not spec.nullable:
                checks.append((F.col(spec.name).isNull(), spec.name, "null value"))
            if spec.domain is not None:
                checks.append((F.col(spec.name).isNotNull() & ~spec.domain,
                               spec.name, "domain violation"))
        if checks:
            out = out.unionByName(check_violations(ctx, self.name, df, ctx.key_col, checks))
        for spec in wide_null_specs:
            out = out.unionByName(
                df.where(F.col(spec.name).isNull()).select(
                    F.lit(self.name).alias("rule"),
                    F.col(ctx.key_col).cast("string").alias("key"),
                    F.lit(spec.name).alias("column"),
                    F.lit("null value").alias("detail"),
                    ctx.bucket_of(F.col(ctx.key_col)).alias("bucket"),
                )
            )
        return out
