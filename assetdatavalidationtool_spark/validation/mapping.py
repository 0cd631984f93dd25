"""Field-mapping inference + column-overlap suggestions.

Two heuristics from the reference:

* **match-score mapping** (ReportGenerator.cs:170-205): for each
  (baseline column, other column) pair, over keys common to both
  (first-row-wins deduped) sides, ``score = same / total`` counting only
  pairs where at least one side is non-blank; keep argmax per baseline
  column when score >= 0.6. The FieldMapping sheet adds a greedy
  one-to-one constraint (``usedOtherCols``, ReportGenerator.cs:168,177,201);
  the Deltas/Summary variants don't (ReportGenerator.cs:239-277).
  Ties break to the first ``other`` column in header order
  (strict ``score > bestScore``, ReportGenerator.cs:192-196).

* **column overlap** (ColumnOverlapMapper.cs:10-55): for each source
  pair and column pair, overlap of normalized distinct value sets;
  keep ``overlap >= 5 and overlap / max(|A|,|B|) >= 0.05``.

Scale shape: both melt wide tables to (key/column, value) long form and
reduce with ONE join + ONE aggregate, instead of the reference's
O(cols²) nested loops re-scanning rows per pair. The score/overlap
tables are O(cols²) rows — driver-small — so argmax + greedy tie-break
run on the collected result.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..normalize import norm_value, normalize_for_header
from .conflicts import first_row_per_key, melt


def field_mapping_scores(
    baseline: DataFrame,
    baseline_key: str,
    other: DataFrame,
    other_key: str,
    order_col: str,
    min_score: float = 0.6,
) -> DataFrame:
    """Score table (b_col, o_col, same, total, score) over common keys.

    One equi-join on the normalized key; each joined key row fans out to
    |b_cols| × |o_cols| column pairs via two explodes (schema-bounded).
    """
    b_cols = [c for c in baseline.columns if c != order_col]
    o_cols = [c for c in other.columns if c != order_col]
    b_long = melt(first_row_per_key(baseline, baseline_key, order_col), baseline_key, b_cols, "b").withColumnRenamed("column", "b_col").withColumnRenamed("value", "b_val").drop("source")
    o_long = melt(first_row_per_key(other, other_key, order_col), other_key, o_cols, "o").withColumnRenamed("column", "o_col").withColumnRenamed("value", "o_val").drop("source")
    joined = b_long.join(o_long, "key")  # inner join == commonKeys (ReportGenerator.cs:165)
    bv = norm_value(F.col("b_val"))
    ov = norm_value(F.col("o_val"))
    not_both_blank = ~((bv == "") & (ov == ""))
    return (
        joined.groupBy("b_col", "o_col")
        .agg(
            F.sum(F.when(not_both_blank & (bv == ov), 1).otherwise(0)).alias("same"),
            F.sum(F.when(not_both_blank, 1).otherwise(0)).alias("total"),
        )
        .where(F.col("total") > 0)
        .withColumn("score", F.col("same") / F.col("total"))
        .where(F.col("score") >= min_score)
    )


def pick_mappings_from_rows(
    rows: dict[tuple[str, str], float],
    b_col_order: list[str],
    o_col_order: list[str],
    greedy: bool = False,
) -> dict[str, str]:
    """Greedy/argmax core of `pick_mappings` over an already-collected
    {(b_col, o_col): score} table — strict `>` with ties to the first
    other column in header order (ReportGenerator.cs:192-196); with
    ``greedy`` each other column is claimed at most once
    (`usedOtherCols`, ReportGenerator.cs:168,177,201)."""
    mapping: dict[str, str] = {}
    used: set[str] = set()
    for b in b_col_order:
        best, best_score = None, 0.0
        for o in o_col_order:
            if greedy and o in used:
                continue
            s = rows.get((b, o))
            if s is not None and s > best_score:
                best, best_score = o, s
        if best is not None:
            mapping[b] = best
            used.add(best)
    return mapping


def pick_mappings(
    scores: DataFrame,
    b_col_order: list[str],
    o_col_order: list[str],
    greedy: bool = False,
) -> dict[str, str]:
    """Argmax per baseline column with reference tie-breaking; optional
    greedy one-to-one (the FieldMapping-sheet variant). Runs on the
    collected O(cols²) score table."""
    rows = {(r["b_col"], r["o_col"]): r["score"] for r in scores.collect()}
    return pick_mappings_from_rows(rows, b_col_order, o_col_order, greedy)


def column_overlap(
    tables: dict[str, DataFrame],
    min_overlap: int = 5,
    min_ratio: float = 0.05,
    use_header_normalizer: bool = True,
) -> DataFrame:
    """Column-pair similarity suggestions (ColumnOverlapMapper.cs:10-55)
    → (source_a, column_a, source_b, column_b, overlap, ratio).

    Melt every table to distinct (source, column, norm value), then ONE
    self-equi-join on value + ONE aggregate — a value-equality join, not
    the reference's O(S²·C²) set intersections.
    """
    # one melt per table: inline of per-column (column, value) structs
    melted = []
    for name, df in tables.items():
        cells = [
            F.struct(
                F.lit(c).alias("column"),
                (
                    normalize_for_header(c, F.col(c).cast("string"))
                    if use_header_normalizer
                    else norm_value(F.col(c))
                ).alias("value"),
            )
            for c in df.columns
        ]
        melted.append(df.select(F.lit(name).alias("source"), F.inline(F.array(*cells))))
    long_df = (
        reduce(DataFrame.unionByName, melted)
        .where(F.col("value").isNotNull() & (F.trim(F.col("value")) != ""))
        .distinct()
    )
    sizes = long_df.groupBy("source", "column").agg(F.count("*").alias("n_distinct"))

    a = long_df.alias("a")
    b = long_df.alias("b")
    pair_counts = (
        a.join(b, F.col("a.value") == F.col("b.value"))
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("a.column").alias("column_a"),
            F.col("b.source").alias("source_b"),
            F.col("b.column").alias("column_b"),
        )
        .agg(F.count("*").alias("overlap"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"),
        F.col("column").alias("column_a"),
        F.col("n_distinct").alias("n_a"),
    )
    sb = sizes.select(
        F.col("source").alias("source_b"),
        F.col("column").alias("column_b"),
        F.col("n_distinct").alias("n_b"),
    )
    return (
        pair_counts.join(F.broadcast(sa), ["source_a", "column_a"])
        .join(F.broadcast(sb), ["source_b", "column_b"])
        .withColumn("_raw_ratio", F.col("overlap") / F.greatest("n_a", "n_b"))
        .where((F.col("overlap") >= min_overlap) & (F.col("_raw_ratio") >= min_ratio))
        .withColumn("ratio", F.round(F.col("_raw_ratio"), 4))
        .select("source_a", "column_a", "source_b", "column_b", "overlap", "ratio")
        .orderBy(F.desc("overlap"), F.desc("ratio"))
    )
