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

import os
import uuid
from dataclasses import dataclass, field
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType(), False),
        T.StructField("key", T.StringType(), True),      # usually image_id
        T.StructField("column", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("bucket", T.LongType(), True),     # logical partition
    ]
)


def arrow_table(rows, schema: str | T.StructType) -> pa.Table:
    """Driver-side ``rows`` (tuples or collected ``Row``s in ``schema``'s
    column order) as a pyarrow table of ``schema`` (DDL string or
    StructType). A NULL in a non-nullable column raises, as
    ``createDataFrame`` of a row list does."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema]
    for f, c in zip(schema, cols):
        if not f.nullable and None in c:
            raise ValueError(f"NULL in non-nullable column {f.name!r}")
    return pa.table(cols, schema=to_arrow_schema(schema))


def local_rows(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame of ``schema`` (DDL string or
    StructType) — the one way the package turns driver rows into a
    table. The rows go through a pyarrow table, so the frame plans as a
    ``LocalTableScan`` that starts no job (an empty one is pruned from
    unions), where ``createDataFrame`` of a Python row list is an
    RDD-backed ``Scan ExistingRDD`` that runs a Python task in every
    action."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def violation_rows(spark: SparkSession, rows: list[tuple] | tuple = ()) -> DataFrame:
    """Driver-side violation rows (VIOLATIONS_SCHEMA order) as a
    :func:`local_rows` table; with no rows, the empty seed that unions
    prune."""
    return local_rows(spark, rows, VIOLATIONS_SCHEMA)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the session's Hadoop
    ``FileSystem`` for the path's scheme (local, HDFS, object stores)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath)


def read_table(spark: SparkSession, path: str, schema: str | T.StructType,
               **options) -> DataFrame:
    """The parquet table at ``path`` read with a pinned ``schema`` — the
    one reader of every table the package writes and reads back.

    A path the session's Hadoop ``FileSystem`` does not find means
    "nothing written yet" and reads as zero rows of ``schema`` (a
    :func:`local_rows` table). An existing path is read lazily: nothing
    is inferred, so no job starts before an action, and any failure
    (corrupt files, permissions) surfaces there."""
    if path_exists(spark, path):
        return spark.read.options(**options).schema(schema).parquet(path)
    return local_rows(spark, [], schema)


def publish_rows(spark: SparkSession, path: str, rows, schema: str | T.StructType,
                 append: bool = False) -> None:
    """Publish driver-side ``rows`` as one parquet file of the table at
    ``path``: the one writer of the small tables the package records
    (manifest batches, fingerprints, drift snapshots).

    A local path (plain or ``file://``) is written by pyarrow on the
    driver, with no Spark job, to a dot-prefixed temp file in the dir,
    which ``os.rename`` moves into place: atomic on POSIX, and Spark's
    listing skips dot-files, so readers see the whole file or none of
    it. A write or rename that raises unlinks the temp file. ``append``
    adds a fresh ``batch-<uuid>.parquet``; otherwise the file replaces
    the table (``part-0.parquet``, the dir's other data files removed).
    Any other scheme is a Spark write of :func:`local_rows`."""
    if "://" in path and not path.startswith("file://"):
        local_rows(spark, rows, schema).coalesce(1).write.mode(
            "append" if append else "overwrite").parquet(path)
        return
    d = path.removeprefix("file://")
    name = f"batch-{uuid.uuid4().hex}.parquet" if append else "part-0.parquet"
    tmp = f"{d}/.{name}.{uuid.uuid4().hex}"
    os.makedirs(d, exist_ok=True)
    try:
        pq.write_table(arrow_table(rows, schema), tmp)
        os.rename(tmp, f"{d}/{name}")
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    if not append:
        for f in os.listdir(d):
            if f != name and not f.startswith(".") and os.path.isfile(f"{d}/{f}"):
                os.remove(f"{d}/{f}")


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


def sql_name(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(value: str | float | int) -> str:
    """``value`` as a SQL literal of the type ``F.lit`` would give it.
    A float goes through a string cast: a bare ``1.5`` is DECIMAL in SQL."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, float):
        return f"CAST({sql_lit(repr(value))} AS DOUBLE)"
    return str(value)


def bucket_sql(ctx: RuleContext, df: DataFrame, key: str) -> tuple[DataFrame, str]:
    """``(df, SQL text)`` of the bucket of the SQL expression ``key``.

    The default bucket is SQL text. A custom ``ctx.bucket_expr`` stays a
    Column: it is projected onto ``df`` as ``__bucket`` and referenced.
    """
    if ctx.bucket_expr is None:
        return df, f"CAST(pmod(xxhash64({key}), {ctx.num_buckets}) AS BIGINT)"
    return df.select("*", ctx.bucket_of(F.expr(key)).alias("__bucket")), "`__bucket`"


def union_violations(ctx: RuleContext, parts: list[DataFrame]) -> DataFrame:
    """The union of violation frames; an empty list gives the empty seed."""
    return reduce(DataFrame.unionByName, parts) if parts else ctx.empty_violations()


def check_violations(
    ctx: RuleContext, df: DataFrame, key: str,
    checks: list[tuple[str, str, str, str]], bucket_key: str | None = None,
) -> DataFrame:
    """One violation row per failed check per row of ``df``, all checks
    fused into a single scan.

    ``key`` is a SQL expression over ``df`` (a column name quoted with
    :func:`sql_name`); rows are bucketed by ``bucket_key``, default
    ``key``. Each check is ``(rule, failed, column, detail)`` with
    ``failed`` and ``detail`` SQL text over ``df``. Each becomes a
    ``CASE WHEN failed THEN named_struct(rule, column, detail) END`` in
    one array; passing checks compact away and the ``inline`` emits the
    rest. One branch in the violations union regardless of the check
    count (vs one scan per check, which at ~10 checks multiplies AQE
    stage-scheduling overhead ~10x). The plan is built from SQL text:
    a few Py4J calls, where a Column tree costs one call per node.
    """
    df, bucket = bucket_sql(ctx, df, bucket_key or key)
    structs = ", ".join(
        f"CASE WHEN {failed} THEN named_struct('rule', {sql_lit(rule)}, "
        f"'column', {sql_lit(column)}, 'detail', {detail}) END"
        for rule, failed, column, detail in checks
    )
    return (
        df.selectExpr(f"CAST({key} AS STRING) AS key", f"{bucket} AS bucket",
                      f"inline(array_compact(array({structs})))")
        .selectExpr("rule", "key", "`column`", "detail", "bucket")
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
        """Measurements of the rows ``ctx`` holds. ``ValidationRun``
        runs global rules on the whole table, so the metrics of the rules
        that define them today (stats, drift) are whole-table; an aligned
        rule's would cover only the buckets its run computed."""
        return None

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        """True when the violations in bucket b depend only on the rows
        whose ``ctx.key_col`` hashes to b, and carry that bucket. Then a
        bucket-filtered run computes exactly those buckets, and
        ``ValidationRun`` resumes, canaries and inherits the rule per
        bucket. False (the default) makes the rule one global unit."""
        return False


class KeyRule(Rule):
    """A rule answered from the images side's row count per key value.

    Key rules with the same ``key_columns`` and ``bucket_key`` share
    one aggregate (:func:`key_violations`). ``key_checks`` are
    :func:`check_violations` checks over its columns: ``__n``, the
    images rows holding the key (NULL for a key only captions hold),
    and, when ``reads_captions`` and captions exist, ``__cap`` (TRUE
    when captions hold the key).
    """

    key_columns: list[str]
    reads_captions = False

    def bucket_key(self, ctx: RuleContext) -> str:
        raise NotImplementedError

    def key_salt(self) -> int | None:
        """Salt buckets for a two-phase count, or None for one phase."""
        return None

    def key_checks(self, ctx: RuleContext) -> list[tuple[str, str, str, str]]:
        raise NotImplementedError

    def violations(self, ctx: RuleContext) -> DataFrame:
        return key_violations(ctx, [self])

    def bucket_aligned(self, ctx: RuleContext) -> bool:
        return self.bucket_key(ctx) == sql_name(ctx.key_col)


def key_violations(ctx: RuleContext, rules: list[KeyRule]) -> DataFrame:
    """Violations of key rules on the same key columns and bucket key,
    from ONE images-side ``count`` per key over the rows where every key
    column is non-null. Only the key columns are read; map-side partial
    aggregation shrinks each side to distinct keys before the exchange.

    A salted rule makes the count two-phase: a partial count per (key,
    salt) then a sum per key, so one hot key's rows spread over ~salt
    reducers. A rule reading captions joins the distinct non-null
    caption keys to the counts full-outer (set semantics, matching the
    reference's HashSets): the one join serves every rule in the group.
    """
    cols = rules[0].key_columns
    names = [sql_name(c) for c in cols]
    counts = ctx.images.selectExpr(*names).where(" AND ".join(f"{n} IS NOT NULL" for n in names))
    salt = next((r.key_salt() for r in rules if r.key_salt()), None)
    if salt is None:
        counts = counts.groupBy(*names).agg(F.expr("count(1) AS __n"))
    else:
        counts = (
            counts.selectExpr("*", f"pmod(monotonically_increasing_id(), {salt}) AS __salt")
            .groupBy(*names, "__salt").agg(F.expr("count(1) AS __c"))
            .groupBy(*names).agg(F.expr("sum(__c) AS __n"))
        )
    if ctx.captions is not None and any(r.reads_captions for r in rules):
        caps = (ctx.captions.selectExpr(names[0]).where(f"{names[0]} IS NOT NULL")
                .groupBy(names[0]).agg(F.expr("true AS __cap")))
        counts = counts.join(caps, cols[0], "full_outer")
    checks = [c for r in rules for c in r.key_checks(ctx)]
    if not checks:
        return ctx.empty_violations()
    key = names[0] if len(names) == 1 else (
        "concat_ws('|', " + ", ".join(f"CAST({n} AS STRING)" for n in names) + ")")
    return check_violations(ctx, counts, key, checks, rules[0].bucket_key(ctx))


class RuleSet:
    """Compile + run rules; produce violations, verdicts, metrics.

    Scale notes: the violations union is lazy — one plan per rule, the
    images scan shared where rules read the same columns, and uniqueness
    and referential rules on one key reading ONE per-key count
    (:func:`key_violations`); empty seeds are pruned
    (:func:`violation_rows`). Verdicts are ONE ``groupBy(rule, bucket)``
    over the persisted violations (a mark each) and the per-bucket row
    counts exploded over the rule names — no join. Its rules x buckets
    groups are few, so partial/final hash aggregation handles it
    map-side. Only buckets holding image rows, and the table-level
    bucket -1, get a verdict. Every engine-built expression is SQL text,
    so building the plans costs a few Py4J calls per rule.
    """

    def __init__(self, rules: list[Rule]):
        dups = sorted({r.name for r in rules if sum(q.name == r.name for q in rules) > 1})
        if dups:
            raise ValueError(f"duplicate rule names in RuleSet: {dups}")
        self.rules = rules

    def run(self, ctx: RuleContext, persist: bool = True) -> dict[str, DataFrame]:
        # key rules on the same key share one aggregate (key_violations)
        parts, groups = [], {}
        for r in self.rules:
            if isinstance(r, KeyRule):
                groups.setdefault((tuple(r.key_columns), r.bucket_key(ctx)), []).append(r)
            else:
                parts.append(r.violations(ctx))
        vio = union_violations(ctx, parts + [key_violations(ctx, g) for g in groups.values()])
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
        names = ", ".join(sql_lit(r.name) for r in self.rules)
        images, bucket = bucket_sql(ctx, ctx.images, sql_name(ctx.key_col))
        row_counts = images.selectExpr(f"{bucket} AS bucket").groupBy("bucket").count()
        verdicts = (
            row_counts.selectExpr(f"explode(array({names})) AS rule", "bucket",
                                  "count AS `rows`", "0 AS vio", "true AS has_rows")
            .unionByName(vio.selectExpr("rule", "coalesce(bucket, -1) AS bucket",
                                        "CAST(0 AS BIGINT) AS `rows`", "1 AS vio",
                                        "false AS has_rows"))
            .groupBy("rule", "bucket")
            .agg(F.expr("sum(`rows`) AS rows_scanned"), F.expr("sum(vio) AS violation_count"),
                 F.expr("max(has_rows) AS has_rows"))
            .where("bucket < 0 OR has_rows")
            .selectExpr(f"{sql_lit(ctx.run_id)} AS run_id", "rule", "bucket", "rows_scanned",
                        "violation_count", "violation_count = 0 AS `pass`")
        )

        metrics = None
        for r in self.rules:
            m = r.metrics(ctx)
            if m is not None:
                m = m.selectExpr(f"{sql_lit(ctx.run_id)} AS run_id", f"{sql_lit(r.name)} AS rule",
                                 "metric", "`column`", "CAST(value AS DOUBLE) AS value")
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
