"""Result-table sink — the engine's analog of the Excel report
(ReportGenerator.cs:15-479: Summary / KeyPresence / Conflicts /
MatchesAll / MissingByFile / FieldMapping / Deltas / DeltasSummary /
previews, one sheet each).

The workbook rendering is a presentation concern; the engine persists
each result table as parquet (or Iceberg — change the format string)
under one report directory, plus a summary table of run-level counts
(ReportGenerator.cs:43-45). Sorting is applied only inside bounded
extracts (``preview_limit``), never to full tables — a global sort of
violation rows at 10^12 scale is the reference's O(n log n) mistake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..rules.base import local_rows, sql_name


def write_report_tables(
    spark: SparkSession,
    out_dir: str,
    tables: dict[str, DataFrame],
    preview_limit: int = 100,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Write each result table + a Summary of row counts. Returns the
    counts (the reference's Summary sheet numbers)."""
    out = out_dir.rstrip("/")
    counts: dict[str, int] = {}
    for name, df in tables.items():
        df.write.mode("overwrite").format(fmt).save(f"{out}/{name}")
        # the count and the preview read the written table back, so the
        # table's plan runs once
        written = spark.read.format(fmt).schema(df.schema).load(f"{out}/{name}")
        counts[name] = written.count()
        # bounded preview — the reference's Take(100) per source
        # (ReportGenerator.cs:467); ordered by every column, so ties on
        # the first column cannot let task order pick the rows
        (
            written.orderBy(*map(sql_name, df.columns))
            .limit(preview_limit)
            .write.mode("overwrite")
            .format(fmt)
            .save(f"{out}/_preview/{name}")
        )
    summary = local_rows(spark, list(counts.items()), "table string, row_count long")
    summary.write.mode("overwrite").format(fmt).save(f"{out}/Summary")
    return counts
