"""Distribution statistics over bounded-cardinality numeric columns.

Exact quantiles via a value-histogram CDF: group by value, cumulative
count over the sorted distinct values, pick the smallest value whose
cumulative count covers the target rank. Integer arithmetic end to end
(the threshold test is ``cum*100 >= total*q``), so results match any
engine bit-for-bit — no float interpolation, no sketch error bound.

This is the per-column-stats shape the reference's report summarizes
per field (ReportGenerator.cs builds per-column previews/counts); here
it is a distribution profile suitable for gating dimension drift.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def value_quantiles(
    df: DataFrame,
    cols: Iterable[str],
    percents: Sequence[int] = (50, 90, 99),
) -> DataFrame:
    """Exact per-column percentiles over bounded-cardinality values →
    (col_name, n_values, n_distinct, p50, p90, p99, ...).

    Why not ``percentile()`` or ``approx_percentile()``: exact
    percentile sorts every ROW into one reducer per group (dead at
    10^12 rows), and the sketch answer differs per engine/run. This
    CDF walk shuffles one row per DISTINCT value after the map-side
    partial aggregate — image dims are bounded (w,h ≤ 8192 here), so
    the expensive corpus-wide stage is a single hash aggregate whose
    output is a few thousand rows per column; the per-column window
    then runs over those distinct values only (partitioned by col_name,
    so N profiled columns parallelize across the cluster). Two
    exchanges total: the (col, val) aggregate, then the tiny
    distinct-value re-key by col — the second moves kilobytes.

    NULLs are excluded (they are the schema rule's business, not the
    distribution's). Values are cast to long; percents are integer
    percentages (p50 = median).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("value_quantiles needs at least one column")
    # one melt: inline of per-column (col_name, val) structs
    melted = df.select(
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col_name"), F.col(c).cast("long").alias("val"))
                    for c in cols
                ]
            )
        )
    ).where(F.col("val").isNotNull())
    hist = melted.groupBy("col_name", "val").agg(F.count("*").alias("n"))
    w_cum = (
        Window.partitionBy("col_name")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("col_name")
    cum = hist.select(
        "col_name",
        "val",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("nd"),
    )
    aggs = [
        F.max("total").alias("n_values"),
        F.max("nd").alias("n_distinct"),
    ]
    for q in percents:
        aggs.append(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("total") * q, F.col("val"))
            ).alias(f"p{q}")
        )
    return cum.groupBy("col_name").agg(*aggs)
