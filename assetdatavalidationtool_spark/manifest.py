"""Checkpoint/manifest-driven resumable validation runs.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's analog is the run-level audit log
(src/Services/AuditLogger.cs:10-28 — timestamp/user/sources manifest);
ours is partition-grained and drives *resume*, not just audit.

Layout under ``output_dir`` (plain parquet here; an Iceberg catalog
swaps in by changing the writer format — the layout and semantics are
format-agnostic):

    violations/run_id=<run>/rule=<rule>/bucket=<b>/*.parquet
    verdicts/run_id=<run>/rule=<rule>/bucket=<b>/*.parquet
    metrics/run_id=<run>/rule=<rule>/*.parquet   (rule-level stats /
                          drift sketches: metric, column, value)
    manifest/batch-<uuid>.parquet   (append-only, one file per batch:
                          run_id, rule, bucket, status, rows_scanned,
                          violation_count, wall_sec, seq)
    fingerprints/run_id=<run>/part-0.parquet   (see bucket_fingerprints)

Semantics:

* Logical partition = ``bucket = pmod(xxhash64(key), num_buckets)`` —
  stable across runs/cluster layouts (rules/base.py).
* A rule is **bucket-aligned** when ``rule.bucket_aligned(ctx)``: its
  violations for bucket b depend only on rows whose key hashes to b
  (schema, row-invariant, gate, header, key rules bucketed by the run
  key, audio/video on their id column). Aligned rules resume at bucket
  grain: completed buckets are skipped, incomplete ones recomputed on a
  bucket-filtered input.
* Global rules (drift, stats sketches, uniqueness on other keys) are a
  single unit (bucket -1): rerun whole if not complete.
* One executor: each group of rules sharing a bucket filter is ONE
  ``RuleSet.run`` — the pass ``RuleSet`` users and streaming run —
  written once per output kind. A fresh run is one group.
* Idempotence: results are written with dynamic partition overwrite
  keyed by (run_id, rule, bucket) — re-running a completed partition
  replaces rather than double-counts. The manifest is append-only;
  the LATEST status row per (run_id, rule, bucket) wins.
* Atomic publish: manifest batches (``expire_runs``' tombstones too)
  and the fingerprint table are written on the driver by
  ``rules.base.publish_rows``, with no Spark job: pyarrow writes a
  dot-prefixed temp file, ``os.rename`` moves it into place. A crash
  in between leaves a dot-file every read skips; ``expire_runs``
  removes the hour-old ones. A remote layout appends with Spark.
* One reader: every read-back goes through ``rules.base.read_table``
  with a pinned schema — results through :func:`read_results` (the
  kind's ``RESULT_COLUMNS``), the manifest and fingerprints with their
  own. A run that wrote nothing of a kind — no dir, or a dir without
  data files, as a clean run's violations are — reads as an empty
  frame; any other read failure surfaces at the first action.
* Incremental runs inherit the base run's results for unchanged
  buckets as one batch: one verdict read, one grouped count of the
  base violation rows, one write per output kind and one manifest
  batch, whatever the number of rules.
"""

from __future__ import annotations

import dataclasses
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .rules import (AudioInvariantRule, HeaderConsistencyRule, RowInvariantRule,
                    VideoInvariantRule)
from .rules.base import (Rule, RuleContext, RuleSet, local_rows, path_exists, publish_rows,
                         read_table, sql_lit)

# Each result kind's columns as read back: the file columns, then the
# partition columns in path order (<kind>/run_id=<id>/rule=<r>[/bucket=<b>]).
# Writes project onto the same columns minus run_id.
RESULT_COLUMNS = {
    "violations": (("key", "string"), ("column", "string"), ("detail", "string"),
                   ("run_id", "string"), ("rule", "string"), ("bucket", "int")),
    "verdicts": (("rows_scanned", "bigint"), ("violation_count", "bigint"),
                 ("run_id", "string"), ("rule", "string"), ("bucket", "int")),
    "metrics": (("metric", "string"), ("column", "string"), ("value", "double"),
                ("run_id", "string"), ("rule", "string")),
}


def read_results(spark: SparkSession, root: str, kind: str, run_id: str) -> DataFrame:
    """One run's ``kind`` results (violations, verdicts or metrics) from
    the layout under ``root``, with ``run_id``, ``rule`` (and ``bucket``)
    as columns, through :func:`read_table` with the kind's fixed schema:
    a missing path or a run dir without data files reads as an empty
    frame; any other failure (corrupt files, permissions) raises."""
    return read_table(spark, f"{root}/{kind}/run_id={run_id}",
                      ", ".join(f"`{n}` {t}" for n, t in RESULT_COLUMNS[kind]),
                      basePath=f"{root}/{kind}")


def _units_sql(units: dict[str, list[int] | None]) -> str:
    """SQL predicate over a result kind's partition columns selecting
    each rule's listed buckets, or all of its rows when the list is
    None; reads filtered by it prune to the selected dirs."""
    return " OR ".join(
        f"(rule = {sql_lit(r)}"
        + ("" if bs is None else f" AND bucket IN ({', '.join(map(str, bs))})") + ")"
        for r, bs in units.items()) or "false"


MANIFEST_SCHEMA = (
    "run_id string, rule string, bucket long, status string, "
    "rows_scanned long, violation_count long, wall_sec double, seq long"
)

# Per-bucket input fingerprints: one row per (side, bucket) plus one
# "_meta" compatibility row. fp is the exact decimal(38,0) sum of
# per-row xxhash64 over the side's columns, serialized as a string —
# order-independent (sum is commutative), duplicate-sensitive (unlike
# XOR, two identical rows do NOT cancel), and overflow-free under ANSI
# (10^12 rows x 2^63 < 10^38).
FINGERPRINT_SCHEMA = "bucket long, side string, n_rows long, fp string"

# Rules whose verdicts depend on the payload bytes: metadata-only
# fingerprints (fingerprint_bytes=False) cannot see their input change.
PAYLOAD_RULES = (RowInvariantRule, HeaderConsistencyRule, AudioInvariantRule,
                 VideoInvariantRule)


def bucket_fingerprints(
    ctx: RuleContext, include_bytes: bool = True, extra_meta: str = ""
) -> DataFrame:
    """Per-bucket content fingerprints of the run's input — the change
    detector behind incremental re-validation (``incremental_from``).

    One metadata-speed aggregate per side: every row hashes its columns
    (sorted by name, so column order is irrelevant) with ``xxhash64``
    and the per-bucket fingerprint is the exact decimal sum. Buckets
    whose (n_rows, fp) both match the base run's — on EVERY side — are
    provably byte-identical input partitions (up to 64-bit hash
    collisions) and can inherit the base run's results.

    ``include_bytes=False`` drops the payload column from the hash: the
    scan then reads only the narrow metadata columns (parquet column
    pruning — at 10^12 rows that is ~40 B/row instead of ~50 KB/row),
    at the cost of trusting that payload edits always surface in
    metadata (w/h/fmt/phash). Default True: one IO-speed read of the
    payload replaces the full decode+compare pass — on a real Iceberg
    deployment even that read disappears, because snapshot/file-level
    diffs identify unchanged partitions from pure metadata; this
    content fingerprint is the format-agnostic equivalent.

    The "_meta" row pins everything that makes fingerprints comparable:
    num_buckets, key_col, custom bucketing, and whether bytes were
    hashed. A mismatch on any of these makes the comparison refuse to
    inherit (full recompute) rather than guess.
    """
    parts = []
    schema_sigs = []
    for side, df in (("images", ctx.images), ("captions", ctx.captions)):
        if df is None:
            continue
        cols = sorted(c for c in df.columns if include_bytes or c != "bytes")
        # r6 (ADVICE): pin the hashed columns' NAMES AND TYPES in the
        # meta row. Value hashes alone cannot see a rename that keeps
        # sorted position or a type migration with equal hashes
        # (xxhash64(true) == xxhash64(1 as int)), so SchemaRule's day-1
        # verdicts could be inherited across exactly the schema drift
        # SchemaRule exists to catch. Any schema difference now
        # disables inheritance (full recompute — the safe direction).
        dtypes = dict(df.dtypes)
        schema_sigs.append(
            f"{side}=" + ",".join(f"{c}:{dtypes[c]}" for c in cols)
        )
        # xxhash64 SKIPS null inputs, so (w=512, h=NULL) and
        # (w=NULL, h=512) would hash identically — exactly the
        # column-swap corruption validation exists to catch. Appending
        # the null-pattern flags (never null themselves) breaks the
        # symmetry: the values still skip, the flags differ.
        null_flags = [F.col(c).isNull().cast("int") for c in cols]
        h = F.xxhash64(*[F.col(c) for c in cols], *null_flags)
        parts.append(
            ctx.with_bucket(df)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(h.cast("decimal(38,0)")).cast("string").alias("fp"),
            )
            .select(
                "bucket", F.lit(side).alias("side"), "n_rows", "fp"
            )
        )
    meta = local_rows(
        ctx.spark,
        [(
            -1,
            "_meta",
            ctx.num_buckets,
            f"key={ctx.key_col}|bytes={int(include_bytes)}"
            f"|custom_bucket={int(ctx.bucket_expr is not None)}"
            f"|schema:{';'.join(schema_sigs)}"
            f"{extra_meta}",
        )],
        FINGERPRINT_SCHEMA,
    )
    return reduce(DataFrame.unionAll, parts + [meta])

class ValidationRun:
    """Resumable rule-set execution over an images(+captions) table."""

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        rules: list[Rule],
        num_buckets: int = 64,
        run_id: str = "run_0",
        key_col: str = "image_id",
        bucket_expr=None,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self.out = output_dir.rstrip("/")
        self.rules = rules
        self.num_buckets = num_buckets
        self.run_id = run_id
        self.key_col = key_col
        # Custom bucketing (e.g. mirroring an Iceberg partition
        # transform) flows into the RuleContext so every rule, the
        # resume filter, and the written partition values all agree.
        self.bucket_expr = bucket_expr
        # Name of a PHYSICAL partition column the input layout carries
        # whose value equals bucket_of(key) — what sources/bucketed.py
        # materializes at write time, or an Iceberg bucket partition
        # transform. When set, bucket-grain filters (resume, canary,
        # incremental) apply to THIS column instead of recomputing the
        # hash, so Spark prunes unchanged partitions at the source: a
        # resume or incremental pass never reads the skipped buckets'
        # files at all — the difference between "scan 100 TB and throw
        # 63/64 away" and "read 1/64". The layout is trusted to match
        # bucket_of(key), exactly like an engine trusts an Iceberg
        # partition transform; rules still compute bucket_of(key) for
        # their output rows, so a lying layout surfaces as verdicts
        # written under buckets the filter never selected.
        self.partition_col = partition_col
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return f"{self.out}/manifest"

    def _fingerprints_path(self, run_id: str | None = None) -> str:
        return f"{self.out}/fingerprints/run_id={run_id or self.run_id}"

    def read_manifest(self) -> DataFrame | None:
        """The manifest, or None before the layout's first batch. The
        read is lazy: an unreadable manifest raises at the first action
        (``completed``), never as "no manifest yet"."""
        path = self._manifest_path()
        if not path_exists(self.spark, path):
            return None
        return read_table(self.spark, path, MANIFEST_SCHEMA)

    def completed(self, run_id: str | None = None) -> dict[str, set[int]]:
        """{rule: {buckets done}} for a run_id (latest status wins).
        ``inherited`` buckets count as done: their results were copied
        from a base run and are as complete as a computed bucket —
        both for resume and for serving as a base themselves."""
        m = self.read_manifest()
        if m is None:
            return {}
        done: dict[str, set[int]] = {}
        for r in _live_units(m.where(F.col("run_id") == (run_id or self.run_id))).collect():
            done.setdefault(r["rule"], set()).add(r["bucket"])
        return done

    def _append_manifest(self, rows: list[tuple]) -> None:
        """Atomically publish a manifest batch as ONE new file,
        ``manifest/batch-<uuid>.parquet``. A Spark ``mode("append")``
        commit moves task files one by one, so a crash mid-commit could
        leave a resume reading a torn batch; :func:`rules.base.publish_rows`
        writes a dot-prefixed temp file and renames it, so readers see
        the whole batch or none of it. A remote manifest is a plain Spark
        append (where an Iceberg snapshot commit would swap in)."""
        publish_rows(self.spark, self._manifest_path(), rows, MANIFEST_SCHEMA, append=True)

    # -- execution ---------------------------------------------------------
    def run(
        self,
        images: DataFrame,
        captions: DataFrame | None = None,
        sample_buckets: int | None = None,
        incremental_from: str | None = None,
        record_fingerprints: bool = False,
        fingerprint_bytes: bool = True,
    ) -> dict:
        """Execute the rule set (resumable). The rules with work left
        are grouped by the buckets they must compute: an aligned rule by
        its todo-bucket set, a global rule (and an aligned rule with every
        bucket to do) in the unfiltered group. Each group is ONE
        ``RuleSet.run`` on its bucket-filtered input, written once per
        output kind and published as one manifest batch (the verdict
        unit: an aligned rule per bucket, a global rule as bucket -1).
        Trade-offs of the shared pass: a crash mid-group redoes the
        whole group, not one rule; manifest rows stay per (rule, bucket)
        but ``wall_sec`` is the group's wall time. Metrics come from the
        group's input; only global rules define them today, and those
        always run unfiltered, so metrics are whole-table.

        With ``sample_buckets=k`` this is a CANARY run: bucket-aligned
        rules run only on buckets ``[0, k)`` and global rules are
        deferred entirely — a 1/(N/k) cost pre-flight that catches
        systematic problems (schema break, bad encoder deploy, caption
        pipeline desync) before committing to a full 10^12-row pass. Canary manifest rows are ordinary
        ``done`` rows, so the follow-up FULL run under the same run_id
        resumes past the canary's buckets instead of redoing them
        (bucket-aligned rules depend only on their own bucket's rows,
        which is what makes this exact rather than approximate).

        ``incremental_from=<base_run_id>`` makes this an INCREMENTAL
        re-validation — the scale path the reference lacks: it re-runs
        the full in-memory compare on every invocation
        (`src/Forms/MainForm.cs` -> `src/Services/Validator.cs:20-30`), which
        is fine at 10^4 rows and impossible at 10^12. Per-bucket input
        fingerprints (see
        :func:`bucket_fingerprints`) are compared against the base
        run's recorded ones, and every bucket whose input is unchanged
        on EVERY side inherits the base run's materialized violations
        and verdicts (manifest status ``inherited`` — the lineage says
        so) instead of recomputing. Only changed buckets pay the full
        rule pass; at 10^12 rows with a 0.1% daily churn that is a
        ~1000x cut in decode work. Correctness guards: inheritance is
        per bucket-aligned rule and only from buckets the base manifest
        marks done; global rules inherit only when NO bucket changed;
        a num_buckets/key_col/bucket_expr/fingerprint-mode mismatch, or
        a missing base fingerprint table, disables inheritance entirely
        (full recompute — never a guess). The run records its own
        fingerprints afterwards, so incremental runs chain day over
        day. ``record_fingerprints=True`` records them on an ordinary
        full run (the bootstrap). ``fingerprint_bytes=False`` hashes
        only the metadata columns — a 1000x narrower scan that trusts
        payload edits to surface in metadata; both runs must use the
        same mode (it is pinned in the fingerprint ``_meta`` row)."""
        ctx = RuleContext(
            spark=self.spark,
            images=images,
            captions=captions,
            num_buckets=self.num_buckets,
            run_id=self.run_id,
            key_col=self.key_col,
            bucket_expr=self.bucket_expr,
        )
        if sample_buckets is not None and not (
            0 < sample_buckets <= self.num_buckets
        ):
            raise ValueError(
                f"sample_buckets must be in [1, {self.num_buckets}], "
                f"got {sample_buckets}"
            )
        if sample_buckets is not None and (
            incremental_from is not None or record_fingerprints
        ):
            # fingerprinting scans the WHOLE input — running it inside
            # a 1/(N/k)-cost canary defeats the canary's purpose, and a
            # canary only validates k buckets so it cannot vouch for an
            # inherited full result either.
            raise ValueError(
                "sample_buckets (canary) cannot be combined with "
                "incremental_from/record_fingerprints"
            )
        done = self.completed()
        seq = int(time.time() * 1000)
        summary = {
            "rules_run": 0,
            "rules_skipped": 0,
            "buckets_skipped": 0,
            "rules_deferred": 0,
            "buckets_inherited": 0,
        }
        fp_rows = None
        if incremental_from is not None or record_fingerprints:
            # rule-set signature pins WHAT was validated, not just what
            # was read: rule names alone ("header_consistency", "gate")
            # carry no parameters, so a day-2 config change (tightened
            # threshold, disabled truncation check) would otherwise
            # silently inherit day-1 results computed under the OLD
            # config. Every rule is a dataclass — reprs are stable for
            # the same code + config; any repr drift merely disables
            # inheritance, the safe direction.
            import hashlib

            rules_sig = hashlib.md5(
                "|".join(sorted(repr(r) for r in self.rules)).encode()
            ).hexdigest()[:16]
            fp_rows = bucket_fingerprints(
                ctx, fingerprint_bytes, extra_meta=f"|rules={rules_sig}"
            ).collect()
            if not fingerprint_bytes:
                byte_rules = [
                    r.name for r in self.rules if isinstance(r, PAYLOAD_RULES)
                ]
                if byte_rules:
                    # r6 (ADVICE): metadata-only fingerprints cannot see
                    # payload-only edits (truncation never surfaces in
                    # stored w/h/fmt/phash), so byte-reading rules'
                    # verdicts may be inherited over silently corrupted
                    # payloads. Warn, don't refuse — the caller may have
                    # an upstream payload-immutability guarantee (e.g.
                    # content-addressed storage).
                    import warnings

                    warnings.warn(
                        "fingerprint_bytes=False with byte-reading rules "
                        f"{byte_rules}: payload-only edits (e.g. "
                        "truncation) do not surface in metadata "
                        "fingerprints, so these rules' day-1 verdicts "
                        "can be inherited over corrupted payloads",
                        stacklevel=2,
                    )
        inherited_now: dict[str, set[int]] = {}
        if incremental_from is not None:
            unchanged = self._unchanged_buckets(fp_rows, incremental_from)
            if unchanged:
                inherited_now = self._inherit(ctx, incremental_from, unchanged, done, seq)
            for rule, buckets in inherited_now.items():
                done.setdefault(rule, set()).update(buckets)
                summary["buckets_inherited"] += len(buckets)

        # one RuleSet.run per bucket filter: aligned rules group by their
        # todo-bucket set; global rules and aligned rules with every
        # bucket to do share the unfiltered group (a fresh run is one)
        all_buckets = set(range(self.num_buckets))
        target = (set(range(sample_buckets)) if sample_buckets is not None
                  else all_buckets)
        groups: dict[frozenset, list[Rule]] = {}
        for rule in self.rules:
            done_buckets = done.get(rule.name, set())
            if rule.bucket_aligned(ctx):
                todo = target - done_buckets
                # r6 (ADVICE): buckets inherited THIS invocation are
                # reported under buckets_inherited only — counting them
                # into buckets_skipped as well double-reported every
                # inherited bucket and inflated the resume-skip stat
                summary["buckets_skipped"] += len(
                    (done_buckets & target)
                    - inherited_now.get(rule.name, set())
                )
                if not todo:
                    summary["rules_skipped"] += 1
                    continue
            elif sample_buckets is not None:
                # global rules (drift, cross-bucket stats) see a biased
                # sample under a bucket filter — defer them to the full
                # run rather than record a misleading whole-table verdict
                # from 1/(N/k) of the data
                summary["rules_deferred"] += 1
                continue
            elif done_buckets:
                summary["rules_skipped"] += 1
                continue
            else:
                todo = all_buckets
            groups.setdefault(frozenset(todo), []).append(rule)
        for todo, group in groups.items():
            self._run_group(ctx, group, set(todo), seq)
            summary["rules_run"] += len(group)
        if fp_rows is not None:
            # recorded LAST: a crash mid-run leaves no fingerprint
            # table, so a later incremental_from this run finds nothing
            # to inherit from rather than trusting a half-finished run
            publish_rows(self.spark, self._fingerprints_path(), fp_rows, FINGERPRINT_SCHEMA)
        return summary

    def _unchanged_buckets(
        self, fp_rows: list, base_run_id: str
    ) -> set[int]:
        """Buckets whose input is byte-identical to the base run's on
        EVERY side (n_rows and fp both match). Empty set — full
        recompute — when the base recorded no fingerprints, when the
        "_meta" compatibility row differs (num_buckets / key_col /
        bucket_expr / fingerprint mode), or when the side sets differ
        (e.g. the base run had no captions table)."""
        base_rows = read_table(self.spark, self._fingerprints_path(base_run_id),
                               FINGERPRINT_SCHEMA).collect()
        if not base_rows:
            return set()
        cur = {(r["side"], r["bucket"]): (r["n_rows"], r["fp"])
               for r in fp_rows}
        bas = {(r["side"], r["bucket"]): (r["n_rows"], r["fp"])
               for r in base_rows}
        if cur.get(("_meta", -1)) != bas.get(("_meta", -1)):
            return set()
        cur_sides = {s for s, _ in cur if s != "_meta"}
        bas_sides = {s for s, _ in bas if s != "_meta"}
        if cur_sides != bas_sides:
            return set()
        # r6 (ADVICE): a custom bucket_expr may emit NULL or
        # out-of-range bucket values; rows in such buckets would escape
        # the per-bucket comparison below entirely, so their churn
        # could never mark anything changed. Any observed bucket key
        # outside range(num_buckets) on either run disables inheritance
        # wholesale (full recompute — the safe direction).
        observed = {b for s, b in (set(cur) | set(bas)) if s != "_meta"}
        if any(b is None or not (0 <= b < self.num_buckets)
               for b in observed):
            return set()
        # a bucket absent on both sides (zero rows in both runs) is
        # unchanged; absent in exactly one is changed
        return {
            b for b in range(self.num_buckets)
            if all(cur.get((s, b)) == bas.get((s, b)) for s in cur_sides)
        }

    def _inherit(
        self,
        ctx: RuleContext,
        base_run_id: str,
        unchanged: set[int],
        done: dict[str, set[int]],
        seq: int,
    ) -> dict[str, set[int]]:
        """Copy the base run's materialized results for unchanged
        buckets into this run, mark them ``inherited`` in the manifest
        and return them ({rule: buckets}) for the main rule loop to skip.

        The (rule, bucket) units are decided on the driver; then,
        whatever the number of rules, one verdict read, one grouped
        count of the base violation rows, one write per output kind and
        one manifest batch. Copies move only RESULT rows, never input
        data. A unit is inherited only when the base holds its verdict
        and exactly ``violation_count`` violation rows for it (a global
        rule: all its rows); results expired or partly deleted since
        recompute instead of vouching for rows that are gone."""
        base_done = self.completed(base_run_id)
        all_buckets = set(range(self.num_buckets))
        aligned = {r.name: r.bucket_aligned(ctx) for r in self.rules}
        units: dict[str, list[int]] = {}
        for name, is_aligned in aligned.items():
            bdone = base_done.get(name, set())
            if is_aligned:
                inh = (unchanged & bdone) - done.get(name, set())
            else:
                # a global rule's verdict depends on every row: inherit
                # only when the ENTIRE input is unchanged
                inh = ({-1} if unchanged == all_buckets and -1 in bdone
                       and not done.get(name) else set())
            if inh:
                units[name] = sorted(inh)
        if not units:
            return {}

        def base(kind: str) -> DataFrame:
            return read_results(self.spark, self.out, kind, base_run_id)

        verdicts = base("verdicts").where(_units_sql(units)).collect()
        # a global rule's violations carry real bucket values (e.g.
        # salted uniqueness buckets by its own key) though its unit is -1
        counts: dict[tuple, int] = {}
        for r in base("violations").where(_units_sql(
                {n: bs if aligned[n] else None for n, bs in units.items()})
        ).groupBy("rule", "bucket").count().collect():
            unit = (r["rule"], r["bucket"] if aligned[r["rule"]] else -1)
            counts[unit] = counts.get(unit, 0) + r["count"]
        kept: dict[str, list[int]] = {}
        manifest_rows = []
        for v in verdicts:
            if counts.get((v["rule"], v["bucket"]), 0) != v["violation_count"]:
                continue
            kept.setdefault(v["rule"], []).append(v["bucket"])
            manifest_rows.append((self.run_id, v["rule"], v["bucket"], "inherited",
                                  v["rows_scanned"], v["violation_count"], 0.0, seq))
        if not kept:
            return {}
        # An aligned rule's table-level rows (bucket -1, e.g. SchemaRule's
        # 'unexpected column') have no per-bucket verdict: they travel
        # only when inheritance covers the rule entirely. A partial
        # inherit leaves -1 to the recompute leg, which re-derives it from
        # the (unchanged) schema; a copy could go stale if day 2 fixed it.
        vio_units = {
            n: (bs + [-1] if set(bs) | done.get(n, set()) >= all_buckets else bs)
            if aligned[n] else None
            for n, bs in kept.items()}
        self._write(base("violations").where(_units_sql(vio_units)), "violations")
        self._write(base("verdicts").where(_units_sql(kept)), "verdicts")
        # metrics describe the whole table: valid whenever the rule is
        # inheritable at all; a rule still run on changed buckets
        # overwrites them
        self._write(base("metrics").where(_units_sql(dict.fromkeys(kept))), "metrics")
        self._append_manifest(manifest_rows)
        return {n: set(bs) for n, bs in kept.items()}

    def _filtered_ctx(self, ctx: RuleContext, todo: set[int] | None) -> RuleContext:
        if todo is None:
            return ctx
        blist = sorted(todo)

        def _bucket_filter(df: DataFrame) -> DataFrame:
            # physical partition column beats recomputing the hash:
            # the .isin over a partition column is a PartitionFilter —
            # skipped buckets' files are never opened
            if (self.partition_col is not None
                    and self.partition_col in df.columns):
                return df.where(F.col(self.partition_col).isin(blist))
            return df.where(ctx.bucket_of(F.col(ctx.key_col)).isin(blist))

        f_img = _bucket_filter(ctx.images)
        f_cap = (
            _bucket_filter(ctx.captions)
            if ctx.captions is not None
            else None
        )
        # dataclasses.replace keeps bucket_expr/extras (and any future
        # field): the resumed rules MUST bucket with the same expression
        # the filter above selected by, or dynamic-partition overwrite
        # writes the recomputed rows under different buckets than the
        # manifest marked incomplete.
        return dataclasses.replace(ctx, images=f_img, captions=f_cap)

    def _run_group(
        self, ctx: RuleContext, rules: list[Rule], todo: set[int], seq: int
    ) -> None:
        """ONE ``RuleSet.run`` of ``rules`` on the buckets ``todo``; its
        violations, verdicts and metrics are written once each and one
        manifest batch publishes the computed (rule, bucket) units.

        A crash before the publish redoes the whole group on resume
        (dynamic partition overwrite replaces what it had written), and
        every row of the batch records the group's wall time."""
        t0 = time.time()
        whole = todo == set(range(self.num_buckets))
        out = RuleSet(rules).run(self._filtered_ctx(ctx, None if whole else todo))
        try:
            self._write(out["violations"].withColumn(
                "bucket", F.expr("coalesce(bucket, -1)")), "violations")
            self._write(self._group_verdicts(ctx, rules, out), "verdicts")
            if out["metrics"] is not None:
                self._write(out["metrics"], "metrics")
        finally:
            out["violations"].unpersist()
        # r6: the manifest rows come from the verdicts parquet JUST
        # written, not from the verdict plan, which is not persisted: a
        # plan-side collect would re-execute the images scan and the
        # violation aggregate. The dir also holds other rules and the
        # buckets _inherit wrote (dynamic partition overwrite merges):
        # the manifest 'done' rows must cover exactly the units COMPUTED here
        verd_rows = read_results(self.spark, self.out, "verdicts", self.run_id).where(
            _units_sql({r.name: sorted(todo) if r.bucket_aligned(ctx) else None
                        for r in rules})).collect()
        wall = float(time.time() - t0)
        rows = [(self.run_id, r["rule"], r["bucket"], "done", r["rows_scanned"],
                 r["violation_count"], wall, seq) for r in verd_rows]
        if rows:
            self._append_manifest(rows)

    def _group_verdicts(
        self, ctx: RuleContext, rules: list[Rule], out: dict[str, DataFrame]
    ) -> DataFrame:
        """The verdicts a group writes, reshaped from ``RuleSet.run``'s
        per-(rule, bucket) rows. An aligned rule keeps its buckets >= 0.
        A global rule is one bucket -1 unit: ``rows_scanned`` is the
        table's row count (every image row is in exactly one of its
        verdict rows) and ``violation_count`` counts all its violations,
        also those in buckets without image rows; a seed row keeps the
        unit when there are neither."""
        cols = ["rule", "bucket", "rows_scanned", "violation_count"]
        aligned = ", ".join(sql_lit(r.name) for r in rules if r.bucket_aligned(ctx))
        whole = ", ".join(sql_lit(r.name) for r in rules if not r.bucket_aligned(ctx))
        parts = []
        if aligned:
            parts.append(out["verdicts"].where(f"rule IN ({aligned}) AND bucket >= 0").select(*cols))
        if whole:
            parts.append(
                out["verdicts"].where(f"rule IN ({whole})").selectExpr("rule", "rows_scanned", "0L AS n")
                .unionByName(out["violations"].where(f"rule IN ({whole})")
                             .selectExpr("rule", "0L AS rows_scanned", "1L AS n"))
                .unionByName(self.spark.sql(
                    f"SELECT explode(array({whole})) AS rule, 0L AS rows_scanned, 0L AS n"))
                .groupBy("rule")
                .agg(F.expr("sum(rows_scanned) AS rows_scanned"), F.expr("sum(n) AS violation_count"))
                .selectExpr("rule", "-1L AS bucket", "rows_scanned", "violation_count")
            )
        return reduce(DataFrame.unionByName, parts)

    def _write(self, df: DataFrame, kind: str) -> None:
        """Dynamic-overwrite ``df``, projected onto the ``kind``'s
        columns, into ``<kind>/run_id=<id>/`` by its partition columns:
        only the partitions ``df`` holds are replaced, whatever the
        session's overwrite mode (a static overwrite would wipe the
        run's other rules). A frame missing a column raises here, before
        anything is written."""
        names = [n for n, _ in RESULT_COLUMNS[kind]]
        by = names[names.index("run_id") + 1:]
        df.select(*[n for n in names if n != "run_id"]).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy(*by).parquet(
            f"{self.out}/{kind}/run_id={self.run_id}")

    def split(self, images: DataFrame) -> str:
        """Write the clean/quarantine split for this run's violations.

        Reads the violations ALREADY materialized by :meth:`run` (zero
        rule re-execution — at 10^12 rows re-running the rules to
        classify rows would double the cost of the run) and performs the
        one-scan tagged write of :func:`rules.base.write_split` under
        ``<out>/split/run_id=<id>/status={clean,quarantine}``. Returns
        the split root path.
        """
        from .rules.base import split_violations, write_split

        ctx = RuleContext(
            spark=self.spark,
            images=images,
            num_buckets=self.num_buckets,
            run_id=self.run_id,
            key_col=self.key_col,
            bucket_expr=self.bucket_expr,
        )
        # a clean run reads as no violations; an unreadable violations
        # dir raises rather than tag every known-bad row status=clean
        parts = split_violations(ctx, self.violations())
        path = f"{self.out}/split/run_id={self.run_id}"
        write_split(parts["tagged"], path)
        return path

    # -- readers (see read_results) ----------------------------------------
    def violations(self) -> DataFrame:
        return read_results(self.spark, self.out, "violations", self.run_id)

    def verdicts(self) -> DataFrame:
        return read_results(self.spark, self.out, "verdicts", self.run_id)

    def metrics(self) -> DataFrame:
        """(metric, column, value, run_id, rule) for rules that emit
        metrics (stats sketches, drift scores); an empty frame when no
        rule in the run produced metrics."""
        return read_results(self.spark, self.out, "metrics", self.run_id)


def _live_units(m: DataFrame) -> DataFrame:
    """(run_id, rule, bucket, seq) of each unit of the manifest ``m``
    whose latest row (highest ``seq``) is ``done`` or ``inherited``."""
    w = Window.partitionBy("run_id", "rule", "bucket").orderBy(F.desc("seq"))
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & F.col("status").isin("done", "inherited"))
        .select("run_id", "rule", "bucket", "seq")
    )


def expire_runs(
    spark: SparkSession,
    output_dir: str,
    keep_last: int | None = None,
    keep_run_ids: tuple[str, ...] | list[str] = (),
) -> dict:
    """Retire old validation runs — the Iceberg expire-snapshots analog
    for the checkpoint layout. Returns {"kept", "expired", "swept",
    "tombstones"}; a layout with no manifest yet has nothing to expire.

    Runs are ordered by their newest manifest ``seq``; the keep set is
    ``keep_run_ids`` plus the ``keep_last`` most recent. At least one
    of the two must be given (``keep_last=0`` states "expire all"
    explicitly). For every
    expired run this (1) FIRST appends tombstone rows (status
    ``expired``, seq above every existing one) for each (rule, bucket)
    currently ``done`` — latest-seq-wins makes ``completed()`` empty,
    so a later resume under that run_id recomputes instead of trusting
    deleted data — then (2) deletes the run's violations/verdicts/
    metrics/split partitions. A crash between the two leaves only
    orphan data dirs (harmless: re-running expire removes them); the
    reverse order could leave a manifest that vouches for vanished
    parquet. The manifest itself stays append-only — the audit trail
    of expired runs survives their data. Dot-prefixed files in
    ``manifest/`` older than an hour — temp files of a publish that
    crashed before its rename — are removed; a younger one may belong
    to a publisher still writing.
    """
    import contextlib
    import os
    import shutil

    if keep_last is None and not keep_run_ids:
        # all-defaults would compute an EMPTY keep set and expire every
        # run in the layout — total data loss from a no-argument call.
        # Deleting everything must be spelled out (keep_last=0).
        raise ValueError(
            "expire_runs with neither keep_last nor keep_run_ids would "
            "expire EVERY run; pass keep_last=0 if that is intended"
        )
    if "://" in output_dir and not output_dir.startswith("file://"):
        raise NotImplementedError(
            "expire_runs deletes via the local filesystem; wire an "
            "object-store lister/deleter for remote layouts"
        )
    root = output_dir.removeprefix("file://")
    mdir = f"{root}/manifest"
    cutoff = time.time() - 3600
    for f in os.listdir(mdir) if os.path.isdir(mdir) else ():
        # a young temp file may be renamed away under us: skip it
        with contextlib.suppress(FileNotFoundError):
            if f.startswith(".") and os.path.getmtime(f"{mdir}/{f}") < cutoff:
                os.remove(f"{mdir}/{f}")
    m = read_table(spark, mdir, MANIFEST_SCHEMA)
    # only LIVE partitions define a run's existence and recency —
    # tombstones carry high seqs by design and must not make an expired
    # run look newest, and a fully-tombstoned ghost must drop out entirely
    live = _live_units(m).persist()
    ordered = [
        r["run_id"]
        for r in live.groupBy("run_id")
        .agg(F.max("seq").alias("last_seq"))
        .orderBy(F.desc("last_seq"), "run_id")
        .collect()
    ]
    keep = set(keep_run_ids)
    if keep_last is not None:
        keep |= set(ordered[:keep_last])
    expired = [rid for rid in ordered if rid not in keep]
    # ghosts: recorded in the manifest but zero LIVE rows — fully
    # tombstoned runs whose data deletion crashed mid-way last time.
    # Swept on EVERY call (including when nothing new expires) or the
    # crash leftovers would leak forever.
    all_recorded = {
        r["run_id"] for r in m.select("run_id").distinct().collect()
    }
    ghosts = all_recorded - set(ordered) - keep
    if not expired:
        live.unpersist()
        swept = _sweep_ghost_run_dirs(root, ghosts)
        return {"kept": ordered, "expired": [], "swept": swept,
                "tombstones": 0}

    max_seq = m.agg(F.max("seq")).collect()[0][0]
    latest_done = (
        live.where(F.col("run_id").isin(expired))
        .select("run_id", "rule", "bucket")
        .collect()
    )
    live.unpersist()
    rows = [
        (r["run_id"], r["rule"], int(r["bucket"]), "expired", 0, 0, 0.0,
         int(max_seq) + 1)
        for r in latest_done
    ]
    if rows:
        publish_rows(spark, mdir, rows, MANIFEST_SCHEMA, append=True)
    for rid in expired:
        for kind in ("violations", "verdicts", "metrics", "split", "fingerprints"):
            shutil.rmtree(f"{root}/{kind}/run_id={rid}", ignore_errors=True)
    swept = _sweep_ghost_run_dirs(root, ghosts)
    return {
        "kept": [rid for rid in ordered if rid in keep],
        "expired": expired,
        "swept": swept,
        "tombstones": len(rows),
    }


def verdict_regression(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-(rule, bucket) regression diff between two verdict tables.

    The cross-run complement of the within-run verdicts: run A is the
    last known-good validation, run B the current one, and the diff
    answers "which partitions got WORSE" without touching a single
    data row — verdicts are ``rules × num_buckets`` rows however large
    the table is, so at 10^12 images this is a join of two ~10^4-row
    sides. Reference analog: eyeballing two Summary sheets side by
    side (ReportGenerator.cs run counts), upgraded to partition grain
    and made mechanical.

    Statuses: ``regressed`` (more violations in B), ``improved``,
    ``unchanged``, ``only_a`` / ``only_b`` (a (rule, bucket) present in
    one run only — rule-set or bucketing changed between runs; these
    rows are flagged rather than silently dropped, since a vanished
    bucket usually means a changed ``bucket_expr``, which makes the
    per-bucket comparison meaningless for that rule).
    """
    ka = a.select(
        "rule",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rows_scanned").cast("long").alias("rows_a"),
        F.col("violation_count").cast("long").alias("violations_a"),
    )
    kb = b.select(
        "rule",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rows_scanned").cast("long").alias("rows_b"),
        F.col("violation_count").cast("long").alias("violations_b"),
    )
    j = ka.join(kb, ["rule", "bucket"], "full_outer")
    status = (
        F.when(F.col("violations_a").isNull(), F.lit("only_b"))
        .when(F.col("violations_b").isNull(), F.lit("only_a"))
        .when(F.col("violations_b") > F.col("violations_a"), F.lit("regressed"))
        .when(F.col("violations_b") < F.col("violations_a"), F.lit("improved"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "rule",
        "bucket",
        "rows_a",
        "rows_b",
        "violations_a",
        "violations_b",
        (F.coalesce("violations_b", F.lit(0)) - F.coalesce("violations_a", F.lit(0)))
        .cast("long")
        .alias("delta"),
        status.alias("status"),
    )


def compare_runs(
    spark: SparkSession, output_dir: str, run_a: str, run_b: str
) -> DataFrame:
    """Read two runs' verdicts from a validation layout and diff them
    (see :func:`verdict_regression`). ``run_a`` is the baseline (last
    known-good), ``run_b`` the run under test."""
    root = output_dir.rstrip("/")
    return verdict_regression(read_results(spark, root, "verdicts", run_a),
                              read_results(spark, root, "verdicts", run_b))


def _sweep_ghost_run_dirs(root: str, ghosts: set[str]) -> list[str]:
    """Remove data dirs of runs that appear in the manifest but have NO
    live rows (fully tombstoned) — the leftovers of a crash between
    expire_runs' tombstone publish and its deletion pass. Without this
    sweep such a run never reappears in the expired list (it has no
    'done' rows) and its partitions would leak forever. Runs with data
    dirs but no manifest rows at all are NOT touched — that is a
    mid-flight run that has not committed its first batch yet."""
    import os
    import shutil

    swept: set[str] = set()
    for kind in ("violations", "verdicts", "metrics", "split", "fingerprints"):
        kdir = f"{root}/{kind}"
        if not os.path.isdir(kdir):
            continue
        for entry in os.listdir(kdir):
            if not entry.startswith("run_id="):
                continue
            rid = entry[len("run_id="):]
            if rid in ghosts:
                shutil.rmtree(f"{kdir}/{entry}", ignore_errors=True)
                swept.add(rid)
    return sorted(swept)
