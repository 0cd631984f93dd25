"""Resume-equals-fresh-run and idempotence tests for the manifest
(SURVEY.md §5.2.4: resume-equals-fresh-run on the manifest)."""

from __future__ import annotations

import glob
import shutil
from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.datagen import generate_captions, generate_images
from assetdatavalidationtool_spark.manifest import ValidationRun
from assetdatavalidationtool_spark.rules import (
    DriftRule,
    ReferentialRule,
    RowInvariantRule,
    UniquenessRule,
)
from assetdatavalidationtool_spark.rules.base import Rule

N, DUPS, BAD, DROPPED = 120, 2, 3, 4


def make_rules():
    return [
        UniquenessRule(["image_id"]),
        ReferentialRule(),
        RowInvariantRule(),
        DriftRule(column="fmt", kind="categorical",
                  reference={"png": 0.5, "jpeg": 0.4, "webp": 0.1},
                  ks_threshold=0.5, psi_threshold=1.0),
    ]


@pytest.fixture(scope="module")
def data(spark):
    images = generate_images(spark, N, partitions=4, dup_ids=DUPS, bad_pixel_ids=BAD).cache()
    captions = generate_captions(spark, N, partitions=4, drop_ids=DROPPED).cache()
    images.count(), captions.count()
    return images, captions


def _vio_set(run):
    return {
        (r["rule"], r["key"], r["detail"])
        for r in run.violations().select("rule", "key", "detail").collect()
    }


def test_full_run_then_noop_resume(spark, data, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_full"))
    images, captions = data
    run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="r1")
    s1 = run.run(images, captions)
    assert s1["rules_run"] == 4
    # the four rules ran as ONE RuleSet pass: one manifest batch
    assert len(glob.glob(f"{out}/manifest/batch-*.parquet")) == 1
    full = _vio_set(run)
    # distinct (rule,key,detail): DUPS uniqueness + BAD pixel keys
    # (duplicate re-emits collapse in the set) + DROPPED referential
    assert len(full) == DUPS + BAD + DROPPED

    # second invocation: everything complete → all rules skipped
    s2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="r1").run(
        images, captions
    )
    assert s2["rules_run"] == 0 and s2["rules_skipped"] == 4
    assert _vio_set(run) == full  # no double-writes


def test_partial_resume_equals_fresh(spark, data, tmp_path_factory):
    out_full = str(tmp_path_factory.mktemp("run_a"))
    out_resume = str(tmp_path_factory.mktemp("run_b"))
    images, captions = data

    full_run = ValidationRun(spark, out_full, make_rules(), num_buckets=8, run_id="rX")
    full_run.run(images, captions)
    expected = _vio_set(full_run)

    # simulate a crash: run only the first two rules, then "restart"
    part = ValidationRun(spark, out_resume, make_rules()[:2], num_buckets=8, run_id="rX")
    part.run(images, captions)
    resumed = ValidationRun(spark, out_resume, make_rules(), num_buckets=8, run_id="rX")
    s = resumed.run(images, captions)
    assert s["rules_skipped"] == 2  # first two already done
    assert _vio_set(resumed) == expected

    # verdict totals reconcile with violations
    v = resumed.verdicts()
    total = v.agg(F.sum("violation_count")).collect()[0][0]
    assert total == resumed.violations().count()


def test_bucket_grain_resume(spark, data, tmp_path_factory):
    """Erase some completed buckets from the manifest → only those are
    recomputed, and results still equal the fresh run."""
    out = str(tmp_path_factory.mktemp("run_c"))
    images, captions = data
    r1 = ValidationRun(spark, out, make_rules()[:1], num_buckets=8, run_id="rY")
    r1.run(images, captions)
    before = _vio_set(r1)

    # drop manifest rows for buckets 0-3 of the uniqueness rule (simulates
    # a run that died before checkpointing those partitions)
    m = spark.read.parquet(f"{out}/manifest")
    kept = m.where(~((F.col("rule").startswith("uniqueness")) & (F.col("bucket") < 4)))
    kept_rows = kept.collect()
    shutil.rmtree(f"{out}/manifest")
    spark.createDataFrame(kept_rows, m.schema).write.parquet(f"{out}/manifest")

    r2 = ValidationRun(spark, out, make_rules()[:1], num_buckets=8, run_id="rY")
    s = r2.run(images, captions)
    assert s["rules_run"] == 1 and s["buckets_skipped"] == 4
    assert _vio_set(r2) == before


def test_crash_before_manifest_append_resumes_without_double_count(
    spark, data, tmp_path_factory
):
    """Interrupt a run AFTER a rule's violations are written but BEFORE
    its manifest batch is published (the torn window VERDICT r03 #6
    names). The resume must recompute that rule and, because results are
    keyed by (run_id, rule, bucket) with dynamic partition overwrite,
    end with exactly the fresh-run violations — no double-count."""
    import os

    out = str(tmp_path_factory.mktemp("run_crash"))
    images, captions = data

    class Crashes(ValidationRun):
        def _append_manifest(self, rows):
            raise RuntimeError("simulated crash before manifest publish")

    crashed = Crashes(spark, out, make_rules()[:2], num_buckets=8, run_id="rZ")
    with pytest.raises(RuntimeError):
        crashed.run(images, captions)
    # violations for rule 1 are on disk, but no manifest batch exists
    assert crashed.read_manifest() is None

    resumed = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="rZ")
    s = resumed.run(images, captions)
    assert s["rules_skipped"] == 0  # nothing was checkpointed -> all rerun

    fresh = ValidationRun(
        spark, str(tmp_path_factory.mktemp("run_fresh")), make_rules(),
        num_buckets=8, run_id="rZ",
    )
    fresh.run(images, captions)
    assert _vio_set(resumed) == _vio_set(fresh)
    assert resumed.violations().count() == fresh.violations().count()  # no dupes

    # atomic publish: manifest dir holds only whole batch files — no
    # dot-prefixed temp file and no _temporary residue
    files = os.listdir(f"{out}/manifest")
    assert files and all(f.startswith("batch-") and f.endswith(".parquet") for f in files)
    assert not [f for f in files if f.startswith(".")]
    assert not glob.glob(f"{out}/manifest/_temporary*")


def test_verdict_readback_schema_error_raises(spark, data, tmp_path_factory):
    """ADVICE r6: a verdict frame missing a column (here a renamed
    rows_scanned) must raise, not append zero manifest rows that leave
    every bucket undone and silently rerun the rule on each resume."""
    from pyspark.errors import AnalysisException

    images, captions = data

    class Renamed(ValidationRun):
        def _group_verdicts(self, ctx, rules, out):
            return super()._group_verdicts(ctx, rules, out).withColumnRenamed(
                "rows_scanned", "rows"
            )

    run = Renamed(spark, str(tmp_path_factory.mktemp("run_renamed")),
                  [UniquenessRule(["image_id"])], num_buckets=8, run_id="rR")
    with pytest.raises(AnalysisException, match="rows_scanned"):
        run.run(images, captions)
    assert run.read_manifest() is None


def test_unreadable_manifest_or_fingerprints_raise(spark, tmp_path_factory):
    """Only a MISSING manifest or fingerprints dir means "none yet". A
    dir that exists but holds a non-parquet file must raise — not pass
    as a fresh run (every bucket rerun) or a base without fingerprints
    (silent full recompute)."""
    import os

    out = str(tmp_path_factory.mktemp("run_unreadable"))
    run = ValidationRun(spark, out, [UniquenessRule(["image_id"])],
                        num_buckets=8, run_id="rU")
    assert run.read_manifest() is None
    assert run._unchanged_buckets([], "b0") == set()
    for d in (f"{out}/manifest", f"{out}/fingerprints/run_id=b0"):
        os.makedirs(d)
        with open(f"{d}/part-0.parquet", "wb") as f:
            f.write(b"not parquet at all")
    # the manifest read is lazy: completed(), its consumer, must raise
    with pytest.raises(Exception, match="not a Parquet file"):
        run.completed()
    with pytest.raises(Exception, match="not a Parquet file"):
        run._unchanged_buckets([], "b0")


def test_read_table_pins_schema_and_starts_no_job(spark, tmp_path_factory):
    """``read_table``: a missing path is an empty frame of exactly the
    pinned schema and starts no job; an existing table starts none until
    an action (an inferred read starts one to read a footer); a dir
    holding a non-parquet file raises at the first action."""
    import os

    from assetdatavalidationtool_spark.manifest import MANIFEST_SCHEMA
    from assetdatavalidationtool_spark.rules.base import read_table

    sc = spark.sparkContext
    out = str(tmp_path_factory.mktemp("read_table"))

    def jobs(group, fn):
        """``fn()`` and the number of jobs it started."""
        sc.setJobGroup(group, group)
        try:
            res = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    empty = read_table(spark, f"{out}/nothing", MANIFEST_SCHEMA)
    assert empty.schema.simpleString() == (
        "struct<run_id:string,rule:string,bucket:bigint,status:string,"
        "rows_scanned:bigint,violation_count:bigint,wall_sec:double,seq:bigint>")
    assert jobs("rt_missing", empty.collect) == ([], 0)

    spark.createDataFrame([("r", "x", 0, "done", 1, 0, 0.0, 1)], MANIFEST_SCHEMA) \
        .write.parquet(f"{out}/m")
    df, n = jobs("rt_pinned", lambda: read_table(spark, f"{out}/m", MANIFEST_SCHEMA))
    assert n == 0
    assert [r["rule"] for r in df.collect()] == ["x"]
    _, n = jobs("rt_inferred", lambda: spark.read.parquet(f"{out}/m"))
    assert n == 1

    os.makedirs(f"{out}/bad")
    with open(f"{out}/bad/part-0.parquet", "wb") as f:
        f.write(b"not parquet at all")
    bad = read_table(spark, f"{out}/bad", MANIFEST_SCHEMA)
    with pytest.raises(Exception, match="not a Parquet file"):
        bad.collect()


def test_audio_video_rules_are_bucket_aligned():
    """ADVICE r03: audio/video invariant rules bucket by their fixed id
    column, so they resume at bucket grain iff the run's key_col is that
    column (otherwise the bucket filter would not align)."""
    from assetdatavalidationtool_spark.rules import (
        AudioInvariantRule,
        RuleContext,
        VideoInvariantRule,
    )

    def ctx(key):
        return RuleContext(spark=None, images=None, key_col=key)

    assert AudioInvariantRule().bucket_aligned(ctx("clip_id"))
    assert VideoInvariantRule().bucket_aligned(ctx("video_id"))
    assert not AudioInvariantRule().bucket_aligned(ctx("image_id"))
    assert not VideoInvariantRule().bucket_aligned(ctx("clip_id"))


def test_key_rule_alignment_follows_its_bucket_key():
    """A key rule is aligned iff it buckets by the run key — whatever it
    is named; referential on another key is global."""
    from assetdatavalidationtool_spark.rules import RuleContext

    ctx = RuleContext(spark=None, images=None, key_col="image_id")
    assert UniquenessRule(["image_id"]).bucket_aligned(ctx)
    assert not UniquenessRule(["phash"]).bucket_aligned(ctx)
    assert not UniquenessRule(["image_id", "w"]).bucket_aligned(ctx)
    assert ReferentialRule().bucket_aligned(ctx)
    assert not ReferentialRule(key="caption_ref").bucket_aligned(ctx)
    ref_ctx = RuleContext(spark=None, images=None, key_col="caption_ref")
    assert ReferentialRule(key="caption_ref").bucket_aligned(ref_ctx)


def test_renamed_aligned_rule_resumes_per_bucket(spark, data, tmp_path_factory):
    """Alignment is a rule property, not a name prefix: a pixel rule
    named "pixels" runs on the canary's buckets (not deferred), the full
    run resumes past them, and the result equals a fresh run."""
    images, captions = data

    def rules():
        return [RowInvariantRule(name="pixels")]

    run = ValidationRun(spark, str(tmp_path_factory.mktemp("renamed")), rules(),
                        num_buckets=8, run_id="px")
    s1 = run.run(images, captions, sample_buckets=2)
    assert s1["rules_run"] == 1 and s1["rules_deferred"] == 0
    assert run.completed() == {"pixels": {0, 1}}
    s2 = run.run(images, captions)
    assert s2["rules_run"] == 1 and s2["buckets_skipped"] == 2

    fresh = ValidationRun(spark, str(tmp_path_factory.mktemp("renamed_fresh")),
                          rules(), num_buckets=8, run_id="px")
    fresh.run(images, captions)
    assert _vio_set(run) == _vio_set(fresh)
    assert _verd_set(run) == _verd_set(fresh)


@dataclass
class MinRowsRule(Rule):
    """A user global rule whose name starts like an aligned one: one
    table-level violation when the table has fewer than ``min_rows``."""
    min_rows: int = 1000
    name: str = "schema_min_rows"

    def violations(self, ctx):
        return ctx.images.selectExpr("count(1) AS n").where(f"n < {self.min_rows}").selectExpr(
            f"'{self.name}' AS rule", "CAST(NULL AS STRING) AS key",
            "CAST(NULL AS STRING) AS `column`", "concat('rows=', n) AS detail",
            "CAST(NULL AS BIGINT) AS bucket")


def test_global_rules_deferred_whatever_their_name(spark, data, tmp_path_factory):
    """A global rule named "schema_min_rows" and referential on a key
    other than the run key are deferred by a canary, then run whole as
    one bucket -1 unit, equal to a fresh run."""
    images, captions = data
    images = images.withColumn("caption_ref", F.col("image_id"))
    captions = captions.withColumn("caption_ref", F.col("image_id"))

    def rules():
        return [MinRowsRule(), ReferentialRule(key="caption_ref")]

    run = ValidationRun(spark, str(tmp_path_factory.mktemp("global_named")), rules(),
                        num_buckets=8, run_id="gn")
    s1 = run.run(images, captions, sample_buckets=2)
    assert s1["rules_run"] == 0 and s1["rules_deferred"] == 2
    assert run.completed() == {}
    s2 = run.run(images, captions)
    assert s2["rules_run"] == 2 and s2["rules_deferred"] == 0
    assert run.completed() == {"schema_min_rows": {-1}, "referential": {-1}}
    n = images.count()
    assert _verd_set(run) == {("schema_min_rows", -1, n, 1), ("referential", -1, n, DROPPED)}

    fresh = ValidationRun(spark, str(tmp_path_factory.mktemp("global_named_fresh")),
                          rules(), num_buckets=8, run_id="gn")
    fresh.run(images, captions)
    assert _vio_set(run) == _vio_set(fresh)
    assert _verd_set(run) == _verd_set(fresh)


@pytest.mark.parametrize("kind", ["pixels", "audio", "video"])
def test_metadata_fingerprints_warn_for_payload_rules(spark, data, tmp_path_factory, kind):
    """fingerprint_bytes=False warns for every rule that reads the
    payload, chosen by class: a renamed pixel rule, audio and video."""
    from assetdatavalidationtool_spark.datagen import generate_clips, generate_videos
    from assetdatavalidationtool_spark.rules import AudioInvariantRule, VideoInvariantRule

    if kind == "pixels":
        rule, table, key = RowInvariantRule(name="pixels"), data[0], "image_id"
    elif kind == "audio":
        rule, key = AudioInvariantRule(), "clip_id"
        table = generate_clips(spark, 4, partitions=1, n_samples=500)
    else:
        rule, key = VideoInvariantRule(), "video_id"
        table = generate_videos(spark, 3, partitions=1, n_frames=4, w=16, h=12)
    run = ValidationRun(spark, str(tmp_path_factory.mktemp(f"warn_{kind}")), [rule],
                        num_buckets=4, run_id="w", key_col=key)
    with pytest.warns(UserWarning, match=rf"byte-reading rules \['{rule.name}'\]"):
        run.run(table, record_fingerprints=True, fingerprint_bytes=False)


def test_metrics_persisted_in_run_layout(spark, data, tmp_path_factory):
    """north_rule: the checkpoint layout carries stats metrics. Rules
    with metrics (stats sketches, drift scores) land under
    metrics/run_id=<run>/rule=<rule> and are re-readable; a completed
    resume leaves them intact."""
    from assetdatavalidationtool_spark.rules import StatsRule

    out = str(tmp_path_factory.mktemp("run_metrics"))
    images, captions = data
    rules = make_rules() + [StatsRule(columns=["w", "fmt"])]
    run = ValidationRun(spark, out, rules, num_buckets=8, run_id="rM")
    run.run(images, captions)

    m = run.metrics().toPandas()
    assert set(m.columns) == {"metric", "column", "value", "rule", "run_id"}
    stats = m[m["rule"] == "stats"]
    assert set(stats["metric"]) >= {"count", "null_frac", "approx_distinct", "min", "max"}
    got_count = stats[(stats["metric"] == "count") & (stats["column"] == "w")]["value"].iloc[0]
    assert got_count == images.count()
    drift = m[m["rule"].str.startswith("drift")]
    assert len(drift) > 0  # KS/PSI scores recorded

    # noop resume: all rules skipped, metrics still readable/unchanged
    again = ValidationRun(spark, out, rules, num_buckets=8, run_id="rM")
    s = again.run(images, captions)
    assert s["rules_run"] == 0
    assert len(again.metrics().toPandas()) == len(m)


def test_cross_run_drift_from_persisted_snapshot(spark, data, tmp_path_factory):
    """Validate-against-last-known-good: run 1 persists its fmt
    distribution snapshot into the metrics layout; run 2 on a drifted
    table loads it as the DriftRule reference and fires."""
    from assetdatavalidationtool_spark.rules import DriftRule, RuleContext, RuleSet
    from assetdatavalidationtool_spark.rules.drift import (
        load_snapshot_spec,
        persist_snapshot,
        snapshot_reference,
    )

    out = str(tmp_path_factory.mktemp("run_snap"))
    images, _ = data
    snap = snapshot_reference(images, "fmt", "categorical")
    persist_snapshot(spark, snap, out, "day1", "fmt")

    ref = load_snapshot_spec(spark, out, "day1", "fmt")[0]
    assert ref == pytest.approx(snap)

    drifted = images.withColumn("fmt", F.lit("webp"))  # all-webp: massive drift
    rule = DriftRule(column="fmt", kind="categorical", reference=ref,
                     ks_threshold=0.1, psi_threshold=0.2)
    ctx = RuleContext(spark=spark, images=drifted, num_buckets=8)
    vio = RuleSet([rule]).run(ctx, persist=False)["violations"].collect()
    assert {r["detail"].split()[0] for r in vio} == {"ks", "psi"}

    # same-distribution run does NOT fire
    ctx2 = RuleContext(spark=spark, images=images, num_buckets=8)
    assert RuleSet([DriftRule(column="fmt", kind="categorical", reference=ref,
                              ks_threshold=0.1, psi_threshold=0.2)]).run(
        ctx2, persist=False)["violations"].count() == 0


def test_bucket_grain_resume_with_custom_bucket_expr(spark, data, tmp_path_factory):
    """A run with a custom bucket_expr (the Iceberg-partition-transform
    injection point) must resume with THAT expression end-to-end: the
    bucket filter, the rules' written bucket values, and the manifest
    rows all agree. Regression: _filtered_ctx used to rebuild
    RuleContext without bucket_expr, so a resume filtered by the custom
    buckets but wrote under xxhash64 buckets — dynamic overwrite then
    missed them and counts went silently wrong."""
    out = str(tmp_path_factory.mktemp("run_bexpr"))
    images, captions = data

    def bexpr(c):
        return F.pmod(F.abs(F.hash(c, F.lit(42))), F.lit(8))

    r1 = ValidationRun(spark, out, make_rules()[:1], num_buckets=8,
                       run_id="rB", bucket_expr=bexpr)
    r1.run(images, captions)
    before = _vio_set(r1)
    total_before = r1.violations().count()

    # erase completed buckets 0-3 of the uniqueness rule from the manifest
    m = spark.read.parquet(f"{out}/manifest")
    kept = m.where(~((F.col("rule").startswith("uniqueness")) & (F.col("bucket") < 4)))
    kept_rows = kept.collect()
    shutil.rmtree(f"{out}/manifest")
    spark.createDataFrame(kept_rows, m.schema).write.parquet(f"{out}/manifest")

    r2 = ValidationRun(spark, out, make_rules()[:1], num_buckets=8,
                       run_id="rB", bucket_expr=bexpr)
    s = r2.run(images, captions)
    assert s["rules_run"] == 1 and s["buckets_skipped"] == 4
    assert _vio_set(r2) == before
    assert r2.violations().count() == total_before  # no double-count

    # every violation row sits under the CUSTOM bucket of its key
    vio = r2.violations().select("key", "bucket").where(F.col("key").isNotNull())
    mismatched = vio.withColumn(
        "expected", bexpr(F.col("key")).cast("long")
    ).where(F.col("bucket") != F.col("expected")).count()
    assert mismatched == 0


def test_snapshot_spec_roundtrip_and_missing_error(spark, data, tmp_path_factory):
    """persist_snapshot records the binning spec; load_snapshot_spec
    round-trips it so the consuming run bins identically. A missing
    snapshot reports what the run DID record instead of a raw parquet
    path error."""
    from assetdatavalidationtool_spark.rules.drift import (
        load_snapshot_spec,
        persist_snapshot,
        snapshot_reference,
    )

    out = str(tmp_path_factory.mktemp("run_spec"))
    images, _ = data
    snap = snapshot_reference(images, "w", "numeric", lo=0.0, hi=2048.0, bins=16)
    persist_snapshot(spark, snap, out, "day1", "w",
                     kind="numeric", lo=0.0, hi=2048.0, bins=16)

    ref, kind, lo, hi, bins = load_snapshot_spec(spark, out, "day1", "w")
    assert ref == pytest.approx(snap)
    assert (kind, lo, hi, bins) == ("numeric", 0.0, 2048.0, 16)

    with pytest.raises(FileNotFoundError, match=r"no snapshot for column 'fmt'.*\['w'\]"):
        load_snapshot_spec(spark, out, "day1", "fmt")
    with pytest.raises(FileNotFoundError, match="recorded no snapshots"):
        load_snapshot_spec(spark, out, "day_missing", "fmt")


def test_split_from_persisted_violations(spark, data, tmp_path_factory):
    """ValidationRun.split classifies rows from the violations ALREADY
    written by run() (no rule re-execution) and writes the one-scan
    clean/quarantine sinks under the run layout."""
    images, captions = data
    out = str(tmp_path_factory.mktemp("split_run"))
    run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="rS")
    run.run(images, captions)
    path = run.split(images)
    assert path == f"{out}/split/run_id=rS"
    clean = spark.read.parquet(f"{path}/status=clean")
    quar = spark.read.parquet(f"{path}/status=quarantine")
    assert clean.count() + quar.count() == images.count()
    # every key the violations table names (that exists in images) is
    # quarantined — the split must agree with the written violations
    vio_keys = {
        r["key"]
        for r in run.violations().select("key").where("key is not null").collect()
    }
    img_keys = {r["image_id"] for r in images.select("image_id").collect()}
    q_keys = {r["image_id"] for r in quar.select("image_id").collect()}
    assert q_keys == (vio_keys & img_keys)


def test_split_aborts_on_unreadable_violations(spark, data, tmp_path_factory):
    """Only a MISSING violations path means 'clean run' — a corrupt
    violations file must abort split(), never silently tag every
    known-bad row status=clean."""
    import pytest

    images, captions = data
    out = str(tmp_path_factory.mktemp("split_bad"))
    run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="rB")
    run.run(images, captions)
    # corrupt every violations part file for this run
    import glob as _glob
    parts = _glob.glob(f"{out}/violations/run_id=rB/**/*.parquet", recursive=True)
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not parquet at all")
    with pytest.raises(Exception):
        run.split(images)
    # a genuinely clean run (no violations dir at all) still splits
    run2 = ValidationRun(spark, out, [], num_buckets=8, run_id="rC")
    path = run2.split(images)
    quar = spark.read.parquet(path).where("status = 'quarantine'")
    assert quar.count() == 0


def test_clean_run_reads_empty_and_splits_clean(spark, tmp_path_factory):
    """A run with no violations leaves a violations dir without data
    files: violations() reads it as an empty frame of the fixed schema
    and split() tags every row clean."""
    import os

    images = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "image_id string, w int")
    out = str(tmp_path_factory.mktemp("clean_run"))
    run = ValidationRun(spark, out, [UniquenessRule(["image_id"])], num_buckets=8,
                        run_id="ok")
    run.run(images)
    assert os.path.isdir(f"{out}/violations/run_id=ok")
    vio = run.violations()
    assert vio.dtypes == [("key", "string"), ("column", "string"), ("detail", "string"),
                          ("run_id", "string"), ("rule", "string"), ("bucket", "int")]
    assert vio.count() == 0
    split = spark.read.parquet(run.split(images))
    assert {r["status"] for r in split.collect()} == {"clean"}
    assert split.count() == images.count()


def test_expire_runs_keep_last(spark, data, tmp_path_factory):
    """expire_runs removes old runs' data, tombstones their manifest
    entries (so a resume recomputes instead of trusting deleted
    parquet), and leaves the kept run byte-identical."""
    import os
    import time as _time

    from assetdatavalidationtool_spark.manifest import expire_runs

    images, captions = data
    out = str(tmp_path_factory.mktemp("expire_run"))
    for rid in ("old1", "old2", "new1"):
        ValidationRun(
            spark, out, make_rules(), num_buckets=8, run_id=rid
        ).run(images, captions)
        _time.sleep(1.1)  # seq is ms-grained per run start; keep order strict

    new_run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="new1")
    kept_vio_before = _vio_set(new_run)

    res = expire_runs(spark, out, keep_last=1)
    assert res["expired"] == ["old2", "old1"] or set(res["expired"]) == {"old1", "old2"}
    assert res["kept"] == ["new1"]
    assert res["tombstones"] > 0

    for rid in ("old1", "old2"):
        for kind in ("violations", "verdicts", "metrics"):
            assert not os.path.isdir(f"{out}/{kind}/run_id={rid}")
    assert os.path.isdir(f"{out}/violations/run_id=new1")
    assert _vio_set(new_run) == kept_vio_before

    # resume semantics: the expired run recomputes everything...
    old = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="old1")
    assert old.completed() == {}
    s = old.run(images, captions)
    assert s["rules_run"] == len(make_rules()) and s["rules_skipped"] == 0
    # ...while the kept run still no-op resumes
    s2 = new_run.run(images, captions)
    assert s2["rules_run"] == 0

    # idempotent: nothing left to expire except the recomputed old1
    res2 = expire_runs(spark, out, keep_last=2)
    assert res2["expired"] == []


def test_expire_runs_keep_run_ids_override(spark, data, tmp_path_factory):
    """An explicitly-kept run survives even when keep_last would drop it."""
    import os
    import time as _time

    from assetdatavalidationtool_spark.manifest import expire_runs

    images, _ = data
    out = str(tmp_path_factory.mktemp("expire_keep"))
    for rid in ("a", "b"):
        ValidationRun(
            spark, out, make_rules()[:1], num_buckets=8, run_id=rid
        ).run(images)
        _time.sleep(1.1)

    res = expire_runs(spark, out, keep_last=1, keep_run_ids=["a"])
    assert res["expired"] == [] and set(res["kept"]) == {"a", "b"}
    assert os.path.isdir(f"{out}/violations/run_id=a")


def test_expire_runs_sweeps_crash_orphans(spark, data, tmp_path_factory):
    """Crash recovery: a run tombstoned but not deleted (killed between
    expire_runs' two steps) has zero live manifest rows, so it never
    re-enters the expired list — the ghost sweep must reclaim its data
    dirs on the NEXT call, even when nothing new expires."""
    import os
    import time as _time

    from assetdatavalidationtool_spark.manifest import MANIFEST_SCHEMA, expire_runs
    from assetdatavalidationtool_spark.rules.base import publish_rows

    images, _ = data
    out = str(tmp_path_factory.mktemp("expire_crash"))
    for rid in ("g1", "live1"):
        ValidationRun(
            spark, out, make_rules()[:1], num_buckets=8, run_id=rid
        ).run(images)
        _time.sleep(1.1)

    # simulate the crash: tombstone g1's done rows by hand, skip deletion
    m = spark.read.parquet(f"{out}/manifest")
    max_seq = m.agg(F.max("seq")).collect()[0][0]
    done = m.where("run_id = 'g1' and status = 'done'").collect()
    publish_rows(
        spark, f"{out}/manifest",
        [("g1", r["rule"], int(r["bucket"]), "expired", 0, 0, 0.0,
          int(max_seq) + 1) for r in done],
        MANIFEST_SCHEMA, append=True,
    )
    assert os.path.isdir(f"{out}/violations/run_id=g1")  # orphaned data

    res = expire_runs(spark, out, keep_last=5)  # nothing newly expires
    assert res["expired"] == []
    assert res["swept"] == ["g1"]
    assert not os.path.isdir(f"{out}/violations/run_id=g1")
    assert os.path.isdir(f"{out}/violations/run_id=live1")


def test_leftover_publish_temp_files_are_invisible_and_expired(
    spark, data, tmp_path_factory
):
    """A publish that crashed between its write and its rename leaves a
    dot-prefixed temp file in manifest/. Readers skip it: completed(),
    the manifest row count and expire_runs' result are those of the same
    layout without it. expire_runs removes such a file once it is an
    hour old and leaves a younger one, which may be a publish in flight."""
    import os
    import time as _time

    from assetdatavalidationtool_spark.manifest import expire_runs

    images, _ = data
    clean = str(tmp_path_factory.mktemp("torn_clean"))
    for rid in ("t1", "t2"):
        ValidationRun(spark, clean, make_rules()[:1], num_buckets=8, run_id=rid).run(images)
        _time.sleep(1.1)
    torn = str(tmp_path_factory.mktemp("torn")) + "/layout"
    shutil.copytree(clean, torn)
    old, young = (f"{torn}/manifest/.batch-{n}.parquet.0123abcd" for n in ("old", "young"))
    for path in (old, young):
        with open(path, "wb") as f:
            f.write(b"PAR1 torn publish")
    hour_ago = _time.time() - 3700
    os.utime(old, (hour_ago, hour_ago))

    def state(out):
        run = ValidationRun(spark, out, make_rules()[:1], num_buckets=8, run_id="t1")
        return run.completed(), run.read_manifest().count()

    assert state(torn) == state(clean)
    assert expire_runs(spark, torn, keep_last=1) == expire_runs(spark, clean, keep_last=1)
    left = [f for f in os.listdir(f"{torn}/manifest") if f.startswith(".")]
    assert left == [os.path.basename(young)]
    assert state(torn) == state(clean)


def test_publish_rows_replaces_and_cleans_up(spark, tmp_path_factory, monkeypatch):
    """publish_rows: a replace leaves exactly one data file, an append
    adds one batch file, and a write or rename that raises leaves no
    temp file behind."""
    import os

    from assetdatavalidationtool_spark.rules import base
    from assetdatavalidationtool_spark.rules.base import publish_rows, read_table

    out = str(tmp_path_factory.mktemp("publish"))
    schema = "k string, v bigint"
    spark.createDataFrame([("old", 0)], schema).write.parquet(f"{out}/t")  # a Spark-written table
    publish_rows(spark, f"{out}/t", [("a", 1), ("b", None)], schema)
    publish_rows(spark, f"file://{out}/t", [("c", 3)], schema)
    assert [f for f in os.listdir(f"{out}/t") if not f.startswith(".")] == ["part-0.parquet"]
    assert [tuple(r) for r in read_table(spark, f"{out}/t", schema).collect()] == [("c", 3)]

    for rows in ([("a", 1)], [("b", 2)]):
        publish_rows(spark, f"{out}/m", rows, schema, append=True)
    assert len(os.listdir(f"{out}/m")) == 2
    assert sorted(tuple(r) for r in read_table(spark, f"{out}/m", schema).collect()) == [
        ("a", 1), ("b", 2)]

    def torn_write(table, where):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError("simulated crash mid-write")

    def failing_rename(src, dst):
        raise OSError("simulated crash at rename")

    for target, name, fake in ((base.pq, "write_table", torn_write),
                               (base.os, "rename", failing_rename)):
        with monkeypatch.context() as m:
            m.setattr(target, name, fake)
            with pytest.raises(OSError, match="simulated"):
                publish_rows(spark, f"{out}/m", [("c", 3)], schema, append=True)
        assert len(os.listdir(f"{out}/m")) == 2


def test_driver_tables_start_no_job(spark, data, tmp_path_factory, monkeypatch):
    """Driver-sized tables skip Spark: publishing a manifest batch,
    writing the fingerprint table at the end of
    ``run(record_fingerprints=True)`` and ``persist_snapshot`` each
    start 0 jobs, and the plans of the fingerprint ``_meta`` union,
    ``DriftRule.metrics`` and a missing path's ``read_table`` hold no
    RDD scan."""
    import io
    from contextlib import redirect_stdout

    from assetdatavalidationtool_spark import manifest
    from assetdatavalidationtool_spark.rules import RuleContext
    from assetdatavalidationtool_spark.rules.base import publish_rows, read_table
    from assetdatavalidationtool_spark.rules.drift import persist_snapshot, snapshot_reference

    sc = spark.sparkContext
    images, captions = data
    out = str(tmp_path_factory.mktemp("driver_tables"))

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    published = []
    monkeypatch.setattr(manifest, "publish_rows", lambda *a, **kw: published.append(
        (a[1].rsplit("/", 1)[-1], jobs(f"publish{len(published)}",
                                       lambda: publish_rows(*a, **kw)))))
    ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="rJ").run(
        images, captions, record_fingerprints=True)
    assert published == [("manifest", 0), ("run_id=rJ", 0)]

    snap = snapshot_reference(images, "fmt", "categorical")
    assert jobs("snapshot", lambda: persist_snapshot(spark, snap, out, "rJ", "fmt")) == 0

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    ctx = RuleContext(spark=spark, images=images, captions=captions, num_buckets=8)
    for df in (manifest.bucket_fingerprints(ctx), make_rules()[3].metrics(ctx),
               read_table(spark, f"{out}/nothing", manifest.MANIFEST_SCHEMA)):
        p = plan(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p


def test_expire_runs_requires_explicit_keep(spark, tmp_path_factory):
    """All-default expire_runs would compute an empty keep set and wipe
    every run — the destructive path must be spelled out."""
    from assetdatavalidationtool_spark.manifest import expire_runs

    out = str(tmp_path_factory.mktemp("expire_guard"))
    with pytest.raises(ValueError, match="EVERY run"):
        expire_runs(spark, out)


def test_expire_runs_without_manifest_is_empty(spark, tmp_path_factory):
    """A layout that has recorded no manifest batch yet has no runs:
    expiring it returns the empty summary instead of raising."""
    from assetdatavalidationtool_spark.manifest import expire_runs

    out = str(tmp_path_factory.mktemp("expire_empty"))
    assert expire_runs(spark, out, keep_last=1) == {
        "kept": [], "expired": [], "swept": [], "tombstones": 0}


def test_load_snapshot_spec_legacy_kind_required(spark, tmp_path_factory):
    """Pre-metadata snapshots carry no binning kind; guessing
    'categorical' for a numeric snapshot would bin the current run
    differently from the reference and report guaranteed false drift —
    the caller must state the kind."""
    import pytest as _pytest

    from assetdatavalidationtool_spark.rules.drift import load_snapshot_spec

    out = str(tmp_path_factory.mktemp("legacy_snap"))
    path = f"{out}/metrics/run_id=old/rule=snapshot(w)"
    spark.createDataFrame(
        [("frac", "3", 0.5), ("frac", "7", 0.5)],
        "metric string, column string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    with _pytest.raises(ValueError, match="predates binning metadata"):
        load_snapshot_spec(spark, out, "old", "w")
    ref, kind, lo, hi, bins = load_snapshot_spec(
        spark, out, "old", "w", legacy_kind="numeric"
    )
    assert kind == "numeric" and (lo, hi, bins) == (0.0, 1024.0, 32)
    assert ref == {"3": 0.5, "7": 0.5}


def test_verdict_regression_statuses(spark):
    """All five diff classifications from hand-built verdict tables."""
    from assetdatavalidationtool_spark.manifest import verdict_regression

    schema = (
        "rule string, bucket long, rows_scanned long, violation_count long"
    )
    a = spark.createDataFrame(
        [("u", 0, 100, 5), ("u", 1, 100, 5), ("u", 2, 100, 5), ("r", 0, 100, 0)],
        schema,
    )
    b = spark.createDataFrame(
        [("u", 0, 100, 9), ("u", 1, 100, 2), ("u", 2, 100, 5), ("r", 1, 50, 1)],
        schema,
    )
    got = {
        (r["rule"], r["bucket"]): (r["status"], r["delta"])
        for r in verdict_regression(a, b).collect()
    }
    assert got[("u", 0)] == ("regressed", 4)
    assert got[("u", 1)] == ("improved", -3)
    assert got[("u", 2)] == ("unchanged", 0)
    assert got[("r", 0)] == ("only_a", 0)
    assert got[("r", 1)] == ("only_b", 1)


def test_compare_runs_from_layout(spark, data, tmp_path_factory):
    """End-to-end: two ValidationRuns into one layout, run B with extra
    caption rows dropped; compare_runs must localize EXACTLY the new
    missing-caption violations as regressed referential buckets, with
    the summed delta equal to the number of dropped rows."""
    from assetdatavalidationtool_spark.manifest import ValidationRun, compare_runs

    images, captions = data
    out = str(tmp_path_factory.mktemp("compare_runs"))
    rules = lambda: [UniquenessRule(["image_id"]), ReferentialRule()]  # noqa: E731

    ValidationRun(spark, out, rules(), num_buckets=8, run_id="good").run(
        images, captions
    )
    cap_b = captions.where(~F.col("image_id").rlike("[02468]$"))
    n_dropped = captions.count() - cap_b.count()
    assert n_dropped > 0
    ValidationRun(spark, out, rules(), num_buckets=8, run_id="bad").run(
        images, cap_b
    )

    diff = compare_runs(spark, out, "good", "bad")
    by_status = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status.get("regressed", 0) > 0
    assert "only_a" not in by_status and "only_b" not in by_status
    # every dropped caption belongs to an existing image (the fixture's
    # aliens are 0, its drop_ids already absent from BOTH runs), so each
    # adds exactly one missing-caption violation — no more, no less
    ref_delta = (
        diff.where(F.col("rule") == "referential")
        .agg(F.sum("delta"))
        .collect()[0][0]
    )
    assert ref_delta == n_dropped
    # uniqueness is untouched by the caption perturbation
    uniq = diff.where(F.col("rule").startswith("uniqueness"))
    assert uniq.where(F.col("status") != "unchanged").count() == 0


def test_canary_then_full_resume(spark, data, tmp_path_factory):
    """Canary pre-flight (sample_buckets=2 of 8) runs aligned rules on
    buckets 0-1 only and defers the global drift rule; the follow-up
    full run resumes past the canary's buckets, and the combined result
    is row-identical to a fresh full run."""
    images, captions = data
    out = str(tmp_path_factory.mktemp("canary"))
    run = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="c")
    s1 = run.run(images, captions, sample_buckets=2)
    assert s1["rules_deferred"] == 1  # drift(fmt) is global
    assert s1["rules_run"] == 3      # uniqueness / referential / pixel

    done = run.completed()
    assert done["referential"] == {0, 1}
    assert done["uniqueness(image_id)"] == {0, 1}
    assert "drift(fmt)" not in done
    vio_buckets = {
        r["bucket"] for r in run.violations().select("bucket").distinct().collect()
    }
    assert vio_buckets <= {0, 1}

    s2 = run.run(images, captions)  # full pass, same run_id
    assert s2["buckets_skipped"] == 6  # 2 canary buckets x 3 aligned rules
    assert s2["rules_deferred"] == 0

    fresh_out = str(tmp_path_factory.mktemp("canary_fresh"))
    fresh = ValidationRun(spark, fresh_out, make_rules(), num_buckets=8,
                          run_id="c")
    fresh.run(images, captions)
    assert _vio_set(run) == _vio_set(fresh)

    with pytest.raises(ValueError, match="sample_buckets"):
        run.run(images, captions, sample_buckets=0)
    with pytest.raises(ValueError, match="sample_buckets"):
        run.run(images, captions, sample_buckets=9)


# ---------------------------------------------------------------------------
# Incremental cross-run validation (fingerprints + inheritance)
# ---------------------------------------------------------------------------

def _verd_set(run):
    return {
        (r["rule"], int(r["bucket"]), int(r["rows_scanned"]),
         int(r["violation_count"]))
        for r in run.verdicts()
        .select("rule", "bucket", "rows_scanned", "violation_count")
        .collect()
    }


def test_incremental_equals_fresh_on_changed_input(spark, data, tmp_path_factory):
    """The headline property: an incremental run over a changed input
    produces EXACTLY the violations and verdicts a from-scratch run
    produces — inheritance is invisible in the results, only in the
    manifest lineage and the work done."""
    out = str(tmp_path_factory.mktemp("run_incr"))
    images, captions = data

    base = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day1")
    s0 = base.run(images, captions, record_fingerprints=True)
    assert s0["rules_run"] == 4 and s0["buckets_inherited"] == 0
    import os
    assert os.path.isdir(f"{out}/fingerprints/run_id=day1")

    # day-2 input: ONE caption row dropped — exactly one bucket changes
    # on the captions side, the images side is untouched
    victim = captions.select("image_id").orderBy("image_id").limit(1).collect()[0][0]
    cap2 = captions.where(F.col("image_id") != victim)
    vbucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(victim)), F.lit(8)).cast("long").alias("b")
    ).collect()[0]["b"]

    incr = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="day2")
    s2 = incr.run(images, cap2, incremental_from="day1")
    # 3 aligned rules x 7 unchanged buckets inherited; drift (global)
    # must recompute because a bucket changed
    assert s2["buckets_inherited"] == 3 * 7
    assert s2["rules_run"] == 4  # every rule still ran on the changed bucket

    fresh = ValidationRun(spark, str(tmp_path_factory.mktemp("run_incr_fresh")),
                          make_rules(), num_buckets=8, run_id="day2")
    fresh.run(images, cap2)
    assert _vio_set(incr) == _vio_set(fresh)
    assert _verd_set(incr) == _verd_set(fresh)

    # lineage: unchanged buckets say 'inherited', the changed bucket 'done'
    m = spark.read.parquet(f"{out}/manifest")
    day2 = {(r["rule"], r["bucket"]): r["status"]
            for r in m.where(F.col("run_id") == "day2").collect()}
    assert day2[("referential", int(vbucket))] == "done"
    inherited = {k for k, v in day2.items() if v == "inherited"}
    assert len(inherited) == 3 * 7
    assert all(b != vbucket for _, b in inherited)


def test_incremental_identical_input_inherits_everything(spark, data, tmp_path_factory):
    """Nothing changed → zero rules execute: every aligned bucket and
    every global rule is inherited, and a further incremental run can
    chain off the inherited run."""
    out = str(tmp_path_factory.mktemp("run_incr_id"))
    images, captions = data
    base = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="g1")
    base.run(images, captions, record_fingerprints=True)
    want_vio, want_verd = _vio_set(base), _verd_set(base)

    r2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="g2")
    s2 = r2.run(images, captions, incremental_from="g1")
    assert s2["rules_run"] == 0
    assert s2["buckets_inherited"] == 3 * 8 + 1  # aligned x buckets + drift
    assert _vio_set(r2) == want_vio and _verd_set(r2) == want_verd
    # inherited metrics came along (drift emits metrics)
    assert {r["rule"] for r in r2.metrics().select("rule").distinct().collect()} \
        >= {"drift(fmt)"}

    # chain: g3 inherits from g2's inherited results
    r3 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="g3")
    s3 = r3.run(images, captions, incremental_from="g2")
    assert s3["rules_run"] == 0 and s3["buckets_inherited"] == 3 * 8 + 1
    assert _vio_set(r3) == want_vio and _verd_set(r3) == want_verd


def test_incremental_guards_disable_inheritance(spark, data, tmp_path_factory):
    """No base fingerprints, or incompatible fingerprint meta
    (num_buckets / bytes-mode) → full recompute, never a guess."""
    out = str(tmp_path_factory.mktemp("run_incr_guard"))
    images, captions = data
    rules = make_rules()[:2]  # uniqueness + referential, keep it fast

    # base WITHOUT fingerprints
    ValidationRun(spark, out, rules, num_buckets=8, run_id="b1").run(images, captions)
    r = ValidationRun(spark, out, rules, num_buckets=8, run_id="b2")
    s = r.run(images, captions, incremental_from="b1")
    assert s["buckets_inherited"] == 0 and s["rules_run"] == 2

    # base with METADATA-ONLY fingerprints, incremental with bytes mode
    ValidationRun(spark, out, rules, num_buckets=8, run_id="b3").run(
        images, captions, record_fingerprints=True, fingerprint_bytes=False)
    r4 = ValidationRun(spark, out, rules, num_buckets=8, run_id="b4")
    s4 = r4.run(images, captions, incremental_from="b3")
    assert s4["buckets_inherited"] == 0 and s4["rules_run"] == 2

    # num_buckets mismatch
    r5 = ValidationRun(spark, out, rules, num_buckets=16, run_id="b5")
    s5 = r5.run(images, captions, incremental_from="b3",
                fingerprint_bytes=False)
    assert s5["buckets_inherited"] == 0 and s5["rules_run"] == 2

    # matched metadata-only mode DOES inherit
    r6 = ValidationRun(spark, out, rules, num_buckets=8, run_id="b6")
    s6 = r6.run(images, captions, incremental_from="b3",
                fingerprint_bytes=False)
    assert s6["rules_run"] == 0 and s6["buckets_inherited"] == 2 * 8

    # canary + fingerprints is an explicit error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="canary"):
        ValidationRun(spark, out, rules, num_buckets=8, run_id="b7").run(
            images, captions, sample_buckets=2, incremental_from="b3")


def test_incremental_inherits_table_level_and_guards(spark, data, tmp_path_factory):
    """Review fixes, all four in one layout: (a) bucket=-1 table-level
    violations (SchemaRule 'unexpected column') survive a full inherit;
    (b) a global rule's real-bucket violation rows survive its -1-unit
    inherit; (c) a changed rule CONFIG disables inheritance even on
    identical input; (d) verdicts whose violation rows were deleted
    refuse to inherit (recompute instead of vouching for missing data)."""
    import shutil as _sh

    from assetdatavalidationtool_spark.rules import SchemaRule, UniquenessRule
    from assetdatavalidationtool_spark.rules.schema import ColumnSpec

    out = str(tmp_path_factory.mktemp("run_incr_tbl"))
    images, captions = data

    def rules(max_w=10_000):
        return [
            # declares only image_id => every other column is an
            # 'unexpected column' table-level (-1) violation
            SchemaRule([ColumnSpec("image_id", "string", nullable=False,
                                   domain=F.length("image_id") < max_w)]),
            UniquenessRule(["image_id"]),          # aligned
            UniquenessRule(["phash"], salted=True),  # GLOBAL, real buckets
        ]

    base = ValidationRun(spark, out, rules(), num_buckets=8, run_id="t1")
    base.run(images, captions, record_fingerprints=True)
    want = _vio_set(base)
    assert any(b == "schema" and "unexpected column" in d for b, _, d in want)
    assert any(b == "uniqueness(phash)" for b, _, d in want)

    # (a)+(b): identical input, full inherit — violations identical
    r2 = ValidationRun(spark, out, rules(), num_buckets=8, run_id="t2")
    s2 = r2.run(images, captions, incremental_from="t1")
    assert s2["rules_run"] == 0
    assert _vio_set(r2) == want

    # (c): same input, different rule config -> no inheritance at all
    r3 = ValidationRun(spark, out, rules(max_w=5), num_buckets=8, run_id="t3")
    s3 = r3.run(images, captions, incremental_from="t2")
    assert s3["buckets_inherited"] == 0 and s3["rules_run"] == 3

    # (d): base verdicts vouch for violations whose rows were deleted
    _sh.rmtree(f"{out}/violations/run_id=t1/rule=uniqueness(phash)")
    r4 = ValidationRun(spark, out, rules(), num_buckets=8, run_id="t4")
    s4 = r4.run(images, captions, incremental_from="t1")
    # the damaged global rule recomputed; everything else inherited
    assert s4["rules_run"] == 1
    assert _vio_set(r4) == want


def test_incremental_partial_cleanup_recomputes_the_gap(spark, data, tmp_path_factory):
    """One aligned bucket's violation rows deleted from the base run:
    that bucket's verdict vouches for rows that are gone, so only that
    unit recomputes and day 2 still holds every base violation."""
    import os

    out = str(tmp_path_factory.mktemp("run_incr_gap"))
    images, captions = data
    base = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="c1")
    base.run(images, captions, record_fingerprints=True)
    want = _vio_set(base)
    rdir = f"{out}/violations/run_id=c1/rule=referential"
    victim = sorted(d for d in os.listdir(rdir) if d.startswith("bucket=") and d != "bucket=-1")[0]
    shutil.rmtree(f"{rdir}/{victim}")

    r2 = ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="c2")
    s2 = r2.run(images, captions, incremental_from="c1")
    assert s2["rules_run"] == 1
    assert s2["buckets_inherited"] == 3 * 8 - 1 + 1  # aligned x buckets - gap + drift
    assert _vio_set(r2) == want


def test_inherit_jobs_do_not_grow_with_rules(spark, data, tmp_path_factory):
    """Inheritance is one batch: inheriting 2 or 4 rules starts the
    same number of Spark jobs."""
    from assetdatavalidationtool_spark.rules import RuleContext

    out = str(tmp_path_factory.mktemp("run_incr_jobs"))
    images, captions = data
    ValidationRun(spark, out, make_rules(), num_buckets=8, run_id="j0").run(images, captions)
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 4):
        run = ValidationRun(spark, out, make_rules()[:n], num_buckets=8, run_id=f"j{n}")
        ctx = RuleContext(spark=spark, images=images, captions=captions, num_buckets=8,
                          run_id=run.run_id)
        sc.setJobGroup(f"inherit{n}", f"inherit {n} rules")
        try:
            got = run._inherit(ctx, "j0", set(range(8)), {}, seq=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert set(got) == {r.name for r in run.rules}
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"inherit{n}"))
    assert 0 < jobs[2] == jobs[4], jobs


def test_fingerprint_null_swap_detected(spark):
    """(w=512, h=NULL) -> (w=NULL, h=512) must change the bucket
    fingerprint: xxhash64 skips nulls, so without the null-pattern
    flags the swap hashes identically and the corrupted bucket would
    be inherited."""
    from assetdatavalidationtool_spark.manifest import bucket_fingerprints
    from assetdatavalidationtool_spark.rules import RuleContext

    a = spark.createDataFrame([("k1", 512, None)], "image_id string, w int, h int")
    b = spark.createDataFrame([("k1", None, 512)], "image_id string, w int, h int")
    fa = {(r["side"], r["bucket"]): r["fp"] for r in bucket_fingerprints(
        RuleContext(spark=spark, images=a, captions=None, num_buckets=4)).collect()}
    fb = {(r["side"], r["bucket"]): r["fp"] for r in bucket_fingerprints(
        RuleContext(spark=spark, images=b, captions=None, num_buckets=4)).collect()}
    assert fa != fb
