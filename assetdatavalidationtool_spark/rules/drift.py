"""DriftRule — KS / PSI distribution-drift checks on column histograms.

Scale analog of the reference's field-mapping match-score distributions
(ReportGenerator.cs:170-205): instead of comparing value overlap between
two in-memory tables, we compare the *distribution* of a column against
a stored reference snapshot.

Execution shape: the histogram is one ``groupBy(bin).count()`` — a
partial+final hash aggregate whose output is `num_bins` rows, so the
KS/PSI scalar math runs driver-side on a tiny collected table (no UDAF).
For skewed categorical columns (``fmt`` has ~3 values) the aggregate is
already minimal; for `phash` we bin by the top byte (the cluster
prefix), which both bounds bins at 256 and measures exactly the skew
dimension.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import Rule, RuleContext, local_rows, publish_rows, sql_lit, violation_rows


def histogram(df: DataFrame, col: str, kind: str, lo: float = 0.0, hi: float = 1024.0,
              bins: int = 32) -> DataFrame:
    """(bin, cnt) histogram. kind: numeric | categorical | phash_prefix."""
    if kind == "categorical":
        b = F.col(col).cast("string")
    elif kind == "phash_prefix":
        b = F.conv(F.shiftright(F.col(col), 56).cast("string"), 10, 10)
    else:  # numeric fixed-width
        width = (hi - lo) / bins
        b = F.least(
            F.greatest(F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(bins - 1),
        ).cast("string")
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def ks_psi(cur: dict[str, int], ref: dict[str, float]) -> tuple[float, float]:
    """KS statistic + PSI between a current histogram (counts) and a
    reference distribution (fractions). Driver-side on tiny dicts."""
    bins = sorted(set(cur) | set(ref))
    n = sum(cur.values()) or 1
    eps = 1e-6
    ks = 0.0
    psi = 0.0
    c_cdf = r_cdf = 0.0
    for b in bins:
        p = cur.get(b, 0) / n
        q = ref.get(b, 0.0)
        c_cdf += p
        r_cdf += q
        ks = max(ks, abs(c_cdf - r_cdf))
        psi += (p - q) * math.log((p + eps) / (q + eps))
    return ks, psi


@dataclass
class DriftRule(Rule):
    column: str = "w"
    kind: str = "numeric"  # numeric | categorical | phash_prefix
    reference: dict[str, float] = field(default_factory=dict)  # bin -> fraction
    lo: float = 0.0
    hi: float = 1024.0
    bins: int = 32
    ks_threshold: float = 0.1
    psi_threshold: float = 0.2
    name: str = "drift"

    def __post_init__(self):
        self.name = f"drift({self.column})"

    def _scores(self, ctx: RuleContext) -> tuple[float, float]:
        # Memoized ON the RuleContext (not keyed by id(ctx): CPython
        # reuses object ids after GC, and a rule-held dict would both
        # leak across runs and risk stale hits). metrics() AND
        # violations() need the scores; without the memo each triggered
        # a full input scan (two histogram jobs per rule per run). The
        # memo dies with the context, so there is nothing to evict.
        memo = ctx.extras.setdefault("_drift_scores", {})
        # key by the full rule CONFIG (not just name): two drift rules on
        # the same column with different references must not share, and a
        # value-identical config computing identical scores safely may.
        key = (self.column, self.kind, tuple(sorted(self.reference.items())),
               self.lo, self.hi, self.bins)
        if key not in memo:
            hist = histogram(ctx.images, self.column, self.kind, self.lo, self.hi, self.bins)
            cur = {r["bin"]: r["cnt"] for r in hist.collect()}
            memo[key] = ks_psi(cur, self.reference)
        return memo[key]

    def metrics(self, ctx: RuleContext) -> DataFrame:
        ks, psi = self._scores(ctx)
        return local_rows(ctx.spark,
                          [("ks", self.column, float(ks)), ("psi", self.column, float(psi))],
                          "metric string, column string, value double")

    def violations(self, ctx: RuleContext) -> DataFrame:
        ks, psi = self._scores(ctx)
        rows = []
        if ks > self.ks_threshold:
            rows.append(
                (self.name, None, self.column, f"ks drift {ks:.4f} > {self.ks_threshold}", None)
            )
        if psi > self.psi_threshold:
            rows.append(
                (self.name, None, self.column, f"psi drift {psi:.4f} > {self.psi_threshold}", None)
            )
        return violation_rows(ctx.spark, rows)


def snapshot_reference(df: DataFrame, column: str, kind: str, lo: float = 0.0,
                       hi: float = 1024.0, bins: int = 32) -> dict[str, float]:
    """Build a reference distribution snapshot (bin -> fraction) from a
    known-good table; store it in the run config / manifest."""
    hist = histogram(df, column, kind, lo, hi, bins).collect()
    total = sum(r["cnt"] for r in hist) or 1
    return {r["bin"]: r["cnt"] / total for r in hist}


def persist_snapshot(
    spark,
    snapshot: dict[str, float],
    output_dir: str,
    run_id: str,
    column: str,
    kind: str = "categorical",
    lo: float = 0.0,
    hi: float = 1024.0,
    bins: int = 32,
) -> str:
    """Persist a reference distribution into a run's metrics layout
    (``metrics/run_id=<run>/rule=snapshot(<column>)``, rows
    ``(metric='frac', column=<bin>, value=<fraction>)``) so the NEXT
    run can drift-check against this run's recorded distribution — the
    validate-against-last-known-good workflow a 100 TB pipeline runs
    nightly. Binning metadata (kind/lo/hi/bins) is stored alongside as
    ``meta_*`` rows so the consuming run bins IDENTICALLY without the
    operator re-specifying the spec. Tiny data (num_bins rows): written
    as one file from the driver (:func:`publish_rows`); a re-record
    replaces it."""
    path = f"{output_dir.rstrip('/')}/metrics/run_id={run_id}/rule=snapshot({column})"
    rows = [("frac", b, float(f)) for b, f in sorted(snapshot.items())]
    rows += [
        ("meta_kind", kind, 0.0),
        ("meta_lo", "", float(lo)),
        ("meta_hi", "", float(hi)),
        ("meta_bins", "", float(bins)),
    ]
    publish_rows(spark, path, rows, "metric string, column string, value double")
    return path


def _read_snapshot(spark, output_dir: str, run_id: str, column: str):
    """Read snapshot rows with a usable error: a column without a
    snapshot reports which snapshot columns the run DID record (or that
    it recorded none) instead of a raw parquet path-not-found."""
    from ..manifest import read_results

    snaps = read_results(spark, output_dir.rstrip("/"), "metrics", run_id).where(
        "rule LIKE 'snapshot(%'")
    rows = snaps.where(f"rule = {sql_lit(f'snapshot({column})')}").collect()
    if rows:
        return rows
    recorded = sorted(r["rule"][len("snapshot("):-1]
                      for r in snaps.select("rule").distinct().collect())
    hint = (
        f"it recorded snapshots for columns {recorded}"
        if recorded
        else "it recorded no snapshots (run it with --snapshot COL:KIND)"
    )
    raise FileNotFoundError(
        f"run {run_id!r} has no snapshot for column {column!r}: {hint}"
    )


def load_snapshot_spec(
    spark, output_dir: str, run_id: str, column: str,
    legacy_kind: str | None = None,
) -> tuple[dict[str, float], str, float, float, int]:
    """Snapshot + its recorded binning spec: ``(reference, kind, lo,
    hi, bins)`` — enough to construct a DriftRule that bins the current
    run exactly like the snapshot was binned.

    Snapshots persisted before the ``meta_*`` rows existed carry no
    kind — and the old CLI could write ANY kind (numeric/categorical/
    phash_prefix), so guessing would bin the current run differently
    from the reference and report guaranteed false drift. The caller
    must state the kind via ``legacy_kind`` (lo/hi/bins take the
    defaults the old writer used: 0/1024/32)."""
    rows = _read_snapshot(spark, output_dir, run_id, column)
    ref = {r["column"]: r["value"] for r in rows if r["metric"] == "frac"}
    meta = {r["metric"]: r for r in rows if r["metric"].startswith("meta_")}
    if "meta_kind" in meta:
        kind = meta["meta_kind"]["column"]
    elif legacy_kind is not None:
        kind = legacy_kind
    else:
        raise ValueError(
            f"snapshot of {column!r} in run {run_id!r} predates binning "
            f"metadata — its kind (numeric|categorical|phash_prefix) is "
            f"not recorded and cannot be guessed; pass it explicitly "
            f"(CLI: --drift-from RUN:COL:KIND)"
        )
    lo = meta["meta_lo"]["value"] if "meta_lo" in meta else 0.0
    hi = meta["meta_hi"]["value"] if "meta_hi" in meta else 1024.0
    bins = int(meta["meta_bins"]["value"]) if "meta_bins" in meta else 32
    return ref, kind, lo, hi, bins
