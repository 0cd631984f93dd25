"""Deltas — baseline-vs-others cell mismatches (ReportGenerator.cs:208-317).

Contract pinned from the reference:

* both sides first-row-wins deduped by normalized key
  (ReportGenerator.cs:224-237);
* the column pairing comes from the match-score mapping (non-greedy
  variant, ReportGenerator.cs:239-277);
* iterate the UNION of keys (ReportGenerator.cs:280-281): a key missing
  on either side yields "" for that side's value;
* mismatch iff trimmed values differ case-insensitively AND at least
  one side is non-blank (ReportGenerator.cs:305-308).

Output long form: (key, b_col, source, base_val, other_val) — one row
per mismatched cell, the distributed analog of the Deltas sheet rows.

Scale shape: the baseline is deduped and keyed once (one window
shuffle on the normalized key, which the joins reuse); one full-outer
join per other source on that key, then ONE narrow projection of each
joined row that emits its mismatched cells.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..normalize import norm_key, norm_value
from .mapping import field_mapping_scores, pick_mappings


def select_baseline(source_names: list[str]) -> str:
    """Baseline auto-selection (reference README.md:37): the source named
    'Baseline' (case-insensitive), else the first source in input order."""
    for name in source_names:
        if name.strip().lower() == "baseline":
            return name
    return source_names[0]


def deltas_auto(
    sources: dict[str, tuple[DataFrame, str]],
    order_col: str,
    mappings: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """`deltas` with the reference's baseline auto-selection: pick the
    baseline from ``sources`` by name ('Baseline' case-insensitive, else
    first) and diff every other source against it."""
    base_name = select_baseline(list(sources))
    baseline, baseline_key = sources[base_name]
    others = {k: v for k, v in sources.items() if k != base_name}
    return deltas(baseline, baseline_key, others, order_col, mappings)


def _keyed(df: DataFrame, key_col: str, order_col: str, prefix: str) -> DataFrame:
    """One side first-row-wins deduped (as ``first_row_per_key``) →
    (key, <prefix>_<col> string, ...) over every column but ``order_col``.
    The window partitions by the ``key`` column itself, so the join on
    ``key`` reuses the window's shuffle instead of adding its own."""
    keyed = df.select(
        norm_key(F.col(key_col)).alias("key"),
        F.col(order_col).alias("_ord"),
        *[F.col(c).cast("string").alias(f"{prefix}_{c}") for c in df.columns if c != order_col],
    ).where(F.col("key") != "")
    w = Window.partitionBy("key").orderBy("_ord")
    return keyed.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn", "_ord")


def deltas(
    baseline: DataFrame,
    baseline_key: str,
    others: dict[str, tuple[DataFrame, str]],
    order_col: str,
    mappings: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """Mismatch rows across baseline and each other source.

    ``mappings``: per other-source {baseline_col -> other_col}; inferred
    via the 0.6 match-score heuristic when not given.
    """
    if not others:
        raise ValueError("deltas: no other source to compare the baseline against")
    b_cols = [c for c in baseline.columns if c != order_col]
    b_keyed = _keyed(baseline, baseline_key, order_col, "b")

    per_source = []
    for name, (other, other_key) in others.items():
        if mappings is not None:
            mapping = mappings[name]
        else:
            scores = field_mapping_scores(
                baseline, baseline_key, other, other_key, order_col
            )
            o_cols = [c for c in other.columns if c != order_col]
            mapping = pick_mappings(scores, b_cols, o_cols, greedy=False)

        joined = b_keyed.join(_keyed(other, other_key, order_col, "o"), "key", "full_outer")
        cells = []  # one CASE per baseline column → NULL unless mismatched
        for b_col in b_cols:
            base_val = F.coalesce(F.col(f"b_{b_col}"), F.lit(""))
            o_col = mapping.get(b_col)
            other_val = (
                F.coalesce(F.col(f"o_{o_col}"), F.lit("")) if o_col else F.lit("")
            )
            # differing normalized values are never both blank, so the
            # "one side non-blank" test (ReportGenerator.cs:305-308) holds
            cells.append(
                F.when(
                    norm_value(base_val) != norm_value(other_val),
                    F.struct(
                        F.lit(b_col).alias("b_col"),
                        F.lit(name).alias("source"),
                        base_val.alias("base_val"),
                        other_val.alias("other_val"),
                    ),
                )
            )
        per_source.append(
            joined.select("key", F.inline(F.array_compact(F.array(*cells))))
        )
    return reduce(DataFrame.unionByName, per_source)


def deltas_summary(delta_rows: DataFrame) -> DataFrame:
    """Mismatch-cell counts per source + grand total
    (ReportGenerator.cs:374-410) — one tiny aggregate."""
    per_source = delta_rows.groupBy("source").agg(F.count("*").alias("mismatch_cells"))
    total = delta_rows.agg(
        F.lit("__total__").alias("source"), F.count("*").alias("mismatch_cells")
    )
    return per_source.unionByName(total)
