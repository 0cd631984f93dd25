"""End-to-end asset-validation pipeline over arbitrary labeled sources
— the engine's analog of the reference's MainForm workflow (pick
sources, assign labels + PK columns, run Validator.Validate, write the
report: src/Forms/MainForm.cs feeding src/Services/Validator.cs:20-30).

``validate_sources`` takes the same ``Sources`` mapping the individual
validators use ({label: (DataFrame, key_col)}) — the frames can come
from CSV/XLSX readers, parquet scans, or the REST/LDAP connectors'
``rows_to_df`` output — runs KeyPresence / MatchesAll / MissingByFile /
Conflicts, and persists the result tables through the report sink.

Scale shape: KeyPresence, MatchesAll and MissingByFile are each one
projection of ONE presence aggregate (``present_in`` per key), planned
per view: caching it would pin its shuffle partitions, which AQE
otherwise coalesces, and cost more tasks than the rescan it saves.
Conflicts is one melt->aggregate. The report sink counts and previews
each table from its written copy, so each table's plan runs once. No
driver-side row loops — connector frames are dimension-sized by
nature, file/table sources stream through the executors.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.report import write_report_tables
from .conflicts import Sources, common_columns, conflicts
from .presence import presence_views


def validate_sources(
    spark: SparkSession,
    sources: Sources,
    out_dir: str,
    order_col: str = "_row",
    preview_limit: int = 100,
) -> dict[str, int]:
    """Run the full cross-source validation suite and write the report
    tables. Returns the Summary counts (the reference's Summary sheet).

    ``order_col`` is the first-occurrence-wins order for conflict
    dedup; connector frames carry ``_row`` (fetch order) by default.
    Engine-internal columns (``_``-prefixed) never participate in the
    conflict column intersection.
    """
    tables = presence_views(sources)
    cols = [c for c in common_columns(sources) if not c.startswith("_")]
    if cols:
        tables["Conflicts"] = conflicts(sources, order_col, columns=cols)
    return write_report_tables(spark, out_dir, tables, preview_limit=preview_limit)
