"""Rule protocol + the engine that runs a rule set to verdicts.

A rule compiles to a *lazy* DataFrame of violation rows in a unified
schema; the engine unions them, aggregates per logical partition, and
emits the per-partition pass/fail verdict table the north_rule requires.

Logical partitions are `bucket = pmod(xxhash64(image_id), num_buckets)`
— stable across runs and cluster layouts (unlike
``spark_partition_id()``), which is what makes checkpoint/resume and
verdict comparison meaningful. This replaces the reference's single
run-level Summary counts (ReportGenerator.cs:43-45) with a
partition-grain verdict.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType(), False),
        T.StructField("key", T.StringType(), True),      # usually image_id
        T.StructField("column", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("bucket", T.LongType(), True),     # logical partition
    ]
)


def violation_rows(spark: SparkSession, rows: list[tuple] | tuple = ()) -> DataFrame:
    """Driver-side violation rows (VIOLATIONS_SCHEMA order) as an inline
    ``VALUES`` table — a local relation Catalyst folds at plan time, not
    an RDD-backed ``createDataFrame`` that runs a ``Scan ExistingRDD``
    stage in every action, even when empty."""
    cols = ", ".join(f"CAST(col{j + 1} AS {f.dataType.simpleString()}) AS `{f.name}`"
                     for j, f in enumerate(VIOLATIONS_SCHEMA))
    if not rows:  # typed dummy row, pruned at plan time
        return spark.sql(f"SELECT {cols} FROM VALUES ('', NULL, NULL, NULL, NULL) WHERE false")
    values = ", ".join("(" + ", ".join(f":v{i}_{j}" for j in range(len(r))) + ")"
                       for i, r in enumerate(rows))
    args = {f"v{i}_{j}": v for i, r in enumerate(rows) for j, v in enumerate(r)}
    return spark.sql(f"SELECT {cols} FROM VALUES {values}", args=args)


def path_missing(e: Exception) -> bool:
    """True when a read failed only because its path does not exist —
    the one read failure that means "nothing written yet". Any other
    failure (corrupt files, permissions) must surface."""
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


@dataclass
class RuleContext:
    spark: SparkSession
    images: DataFrame
    captions: DataFrame | None = None
    num_buckets: int = 64
    run_id: str = "run_0"
    key_col: str = "image_id"
    extras: dict = field(default_factory=dict)
    # Optional override mapping a key Column -> bucket Column. Default
    # (None) is pmod(xxhash64(key), num_buckets). Injectable so a
    # deployment can bucket by e.g. an Iceberg partition transform, and
    # so the contract oracle can use a portable modulo that DuckDB can
    # mirror (xxhash64 is Spark-only). Every rule must route its bucket
    # through ``bucket_of`` — never call xxhash64 directly.
    bucket_expr: object | None = None

    def bucket_of(self, col: F.Column) -> F.Column:
        if self.bucket_expr is not None:
            return self.bucket_expr(col).cast("long")
        return F.pmod(F.xxhash64(col), F.lit(self.num_buckets)).cast("long")

    def with_bucket(self, df: DataFrame, key: str | None = None) -> DataFrame:
        return df.withColumn("bucket", self.bucket_of(F.col(key or self.key_col)))

    def empty_violations(self) -> DataFrame:
        """Zero rows as a local relation that unions prune (violation_rows)."""
        return violation_rows(self.spark)


def check_violations(
    ctx: RuleContext, rule: str, df: DataFrame, key: str,
    checks: list[tuple[F.Column, str, F.Column | str]],
) -> DataFrame:
    """One violation row per failed check per row of ``df``, all checks
    fused into a single scan.

    Each ``(failed, column, detail)`` becomes a conditional
    ``struct(column, detail)`` in one array (``detail`` a literal or a
    Column); passing checks compact away, rows passing every check are
    filtered out, and the explode emits the rest keyed and bucketed by
    ``key``. One branch in the violations union regardless of the check
    count (vs one scan per check, which at ~10 checks multiplies AQE
    stage-scheduling overhead ~10x).
    """
    fails = F.array_compact(F.array(*[
        F.when(failed, F.struct(
            F.lit(column).alias("column"),
            (F.lit(detail) if isinstance(detail, str) else detail).alias("detail"),
        ))
        for failed, column, detail in checks
    ]))
    return (
        df.select(F.col(key).cast("string").alias("key"),
                  ctx.bucket_of(F.col(key)).alias("bucket"), fails.alias("_viol"))
        .where(F.size("_viol") > 0)
        .select(F.lit(rule).alias("rule"), "key", F.explode("_viol").alias("v"), "bucket")
        .select("rule", "key", F.col("v.column").alias("column"),
                F.col("v.detail").alias("detail"), "bucket")
    )


class Rule:
    """A validation rule. Subclasses define ``name`` and ``violations``.

    ``violations(ctx)`` must return a lazy DataFrame conforming to
    VIOLATIONS_SCHEMA. ``metrics(ctx)`` optionally returns a small
    DataFrame of rule-specific measurements (stats sketches, drift
    scores) recorded in the run manifest.
    """

    name: str = "rule"

    def violations(self, ctx: RuleContext) -> DataFrame:
        raise NotImplementedError

    def metrics(self, ctx: RuleContext) -> DataFrame | None:
        return None


class RuleSet:
    """Compile + run rules; produce violations, verdicts, metrics.

    Scale notes: the violations union is lazy — one plan per rule, the
    images scan shared where rules read the same columns, empty seeds
    pruned (:func:`violation_rows`). Verdicts are ONE ``groupBy(rule,
    bucket)`` over the persisted violations (a mark each) and the
    per-bucket row counts exploded over the rule names — no join. Its
    rules x buckets groups are few, so partial/final hash aggregation
    handles it map-side. Only buckets holding image rows, and the
    table-level bucket -1, get a verdict.
    """

    def __init__(self, rules: list[Rule]):
        dups = sorted({r.name for r in rules if sum(q.name == r.name for q in rules) > 1})
        if dups:
            raise ValueError(f"duplicate rule names in RuleSet: {dups}")
        self.rules = rules

    def run(self, ctx: RuleContext, persist: bool = True) -> dict[str, DataFrame]:
        vio = ctx.empty_violations()
        for r in self.rules:
            vio = vio.unionByName(r.violations(ctx))
        if persist:
            # violations feed BOTH the violations sink and the verdict
            # aggregate; without persistence every downstream action
            # re-executes all rule plans — including the Arrow decode
            # UDF over every image. Violation rows are tiny relative to
            # the input, so this is cheap at any scale.
            vio = vio.persist()

        # the verdict denominator (rows per bucket) once per rule, plus one
        # mark per violation; table-level violations (no key → no bucket)
        # get reserved bucket -1 so verdict totals reconcile with them
        names = F.array(*[F.lit(r.name) for r in self.rules])
        row_counts = ctx.with_bucket(ctx.images.select(ctx.key_col)).groupBy("bucket").count()
        verdicts = (
            row_counts.select(F.explode(names).alias("rule"), "bucket",
                              F.col("count").alias("rows"), F.lit(0).alias("vio"),
                              F.lit(True).alias("has_rows"))
            .unionByName(vio.select("rule", F.coalesce("bucket", F.lit(-1)).alias("bucket"),
                                    F.lit(0).cast("long").alias("rows"), F.lit(1).alias("vio"),
                                    F.lit(False).alias("has_rows")))
            .groupBy("rule", "bucket")
            .agg(F.sum("rows").alias("rows_scanned"), F.sum("vio").alias("violation_count"),
                 F.max("has_rows").alias("has_rows"))
            .where((F.col("bucket") < 0) | F.col("has_rows"))
            .select(F.lit(ctx.run_id).alias("run_id"), "rule", "bucket", "rows_scanned",
                    "violation_count", (F.col("violation_count") == 0).alias("pass"))
        )

        metrics = None
        for r in self.rules:
            m = r.metrics(ctx)
            if m is not None:
                m = m.select(
                    F.lit(ctx.run_id).alias("run_id"),
                    F.lit(r.name).alias("rule"),
                    F.col("metric"),
                    F.col("column"),
                    F.col("value").cast("double"),
                )
                metrics = m if metrics is None else metrics.unionByName(m)

        return {"violations": vio, "verdicts": verdicts, "metrics": metrics}


def split_violations(
    ctx: RuleContext, violations: DataFrame, status_col: str = "status"
) -> dict[str, DataFrame]:
    """Split the input into clean / quarantine rows from a violations table.

    The downstream half of the reference's diff-report workflow: the
    reference only *reports* mismatches (ReportGenerator.cs sheets); a
    training pipeline also needs the complement — the rows safe to feed
    forward. ``bad`` aggregates the (usually tiny) violations table to
    one row per offending key; the input is then LEFT-OUTER joined
    against it once and tagged. At 10^12 rows the violations side is
    orders of magnitude smaller than the input, so AQE plans the join
    as a broadcast and the input is never shuffled.

    Semantics:

    * Only violations whose ``key`` equals the context key quarantine
      rows. Table-level violations (key NULL) and composite-key rules
      (key "a|b") describe no single input row — they gate the verdict,
      not the split.
    * Duplicate input rows (uniqueness violations) quarantine EVERY
      copy — the dedup decision (which copy survives) is a separate,
      explicit step (see operators.dedup / image_phash_canonical).
    * clean ∪ quarantine partitions the input: every input row lands in
      exactly one side, with multiplicity preserved.

    Returns ``tagged`` (input + status/n_violations/rules_hit — feed
    this to :func:`write_split` for the one-scan two-sink write),
    ``clean`` (input columns only) and ``quarantine`` (input +
    n_violations + rules_hit).
    """
    key = ctx.key_col
    bad = (
        violations.where(F.col("key").isNotNull())
        .groupBy(F.col("key").alias("__vio_key"))
        .agg(
            F.count("*").alias("n_violations"),
            F.concat_ws(",", F.array_sort(F.collect_set("rule"))).alias("rules_hit"),
        )
    )
    tagged = (
        ctx.images.join(
            bad, F.col(key).cast("string") == F.col("__vio_key"), "left_outer"
        )
        .drop("__vio_key")
        .withColumn(
            status_col,
            F.when(F.col("n_violations").isNull(), "clean").otherwise("quarantine"),
        )
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .withColumn("rules_hit", F.coalesce("rules_hit", F.lit("")))
    )
    clean = tagged.where(F.col(status_col) == "clean").drop(
        status_col, "n_violations", "rules_hit"
    )
    quarantine = tagged.where(F.col(status_col) == "quarantine").drop(status_col)
    return {"tagged": tagged, "clean": clean, "quarantine": quarantine}


def write_split(tagged: DataFrame, path: str, status_col: str = "status") -> None:
    """ONE-scan two-sink write of a :func:`split_violations` ``tagged``
    DataFrame: ``path/status=clean/`` and ``path/status=quarantine/``.

    Materializing ``clean`` and ``quarantine`` separately would scan
    the (100 TB) input twice; partitioning the tagged frame by status
    writes both sinks in a single job with a single pass over the
    input. The status column has exactly two values, so this adds no
    small-file pressure beyond the 2× directory fan-out.
    """
    tagged.write.mode("overwrite").partitionBy(status_col).parquet(path)
