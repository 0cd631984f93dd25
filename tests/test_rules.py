"""End-to-end rule engine tests with exactly-counted injected faults
(FIXTURES.md §3)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.datagen import generate_captions, generate_images
from assetdatavalidationtool_spark.rules import (
    DriftRule,
    ReferentialRule,
    RowInvariantRule,
    RuleContext,
    RuleSet,
    SchemaRule,
    StatsRule,
    UniquenessRule,
)
from assetdatavalidationtool_spark.rules.drift import snapshot_reference
from assetdatavalidationtool_spark.rules.schema import ColumnSpec

N = 200
DUPS = 3
BAD_PIXELS = 4
NULL_DIMS = 2
DROPPED = 5
ALIENS = 4
MUTATED = 6


@pytest.fixture(scope="module")
def ctx(spark):
    images = generate_images(
        spark, N, partitions=4, dup_ids=DUPS, bad_pixel_ids=BAD_PIXELS,
        null_dim_ids=NULL_DIMS,
    ).cache()
    captions = generate_captions(
        spark, N, partitions=4, drop_ids=DROPPED, alien_ids=ALIENS,
        mutate_ids=MUTATED,
    ).cache()
    images.count(), captions.count()
    return RuleContext(spark=spark, images=images, captions=captions, num_buckets=16)


def schema_specs():
    return [
        ColumnSpec("image_id", "string", nullable=False),
        ColumnSpec("bytes", "binary", nullable=False),
        ColumnSpec("w", "int", nullable=False, domain=(F.col("w") > 0) & (F.col("w") <= 4096)),
        ColumnSpec("h", "int", nullable=False),
        ColumnSpec("fmt", "string", nullable=False,
                   domain=F.col("fmt").isin("png", "jpeg", "webp")),
        ColumnSpec("caption", "string", nullable=False),
        ColumnSpec("phash", "bigint", nullable=False),
    ]


def test_uniqueness_counts_duplicates(ctx):
    vio = UniquenessRule(["image_id"]).violations(ctx)
    rows = vio.collect()
    assert len(rows) == DUPS
    assert all(r["detail"] == "duplicate count=2" for r in rows)


def test_uniqueness_salted_matches_unsalted(ctx):
    a = UniquenessRule(["image_id"]).violations(ctx).select("key").collect()
    b = UniquenessRule(["image_id"], salted=True).violations(ctx).select("key").collect()
    assert sorted(r["key"] for r in a) == sorted(r["key"] for r in b)


def test_schema_null_dims(ctx):
    vio = SchemaRule(schema_specs()).violations(ctx)
    nulls = vio.where(F.col("detail") == "null value").collect()
    # null w + null h per faulted row; duplicated faulted rows count double
    expected = 2 * (NULL_DIMS + min(NULL_DIMS, DUPS))
    assert len(nulls) == expected
    assert vio.where(F.col("detail") == "missing column").count() == 0


def test_referential_both_directions(ctx):
    vio = ReferentialRule().violations(ctx)
    missing_caption = vio.where(F.col("detail") == "missing caption row")
    missing_image = vio.where(F.col("detail") == "missing image row")
    # dropped caption rows: ids [N-DROPPED, N); duplicated image ids are
    # low indices so they don't overlap — each dropped id appears once
    # per image row occurrence
    assert missing_caption.count() == DROPPED
    assert missing_image.count() == ALIENS
    assert missing_image.select("key").distinct().count() == ALIENS


def test_row_invariant_pixels_and_captions(ctx):
    rule = RowInvariantRule()
    vio = rule.violations(ctx).cache()
    pix = vio.where(F.col("column") == "bytes")
    # bad-pixel rows [0, BAD_PIXELS) + their duplicate re-emits [0, DUPS)
    assert pix.count() == BAD_PIXELS + min(BAD_PIXELS, DUPS)
    # caption column in images is generated correct, so no caption violations
    assert vio.where(F.col("column") == "caption").count() == 0
    checks = rule.checks(ctx)
    ok = checks.where(F.col("pixel_ok") & F.col("caption_ok"))
    assert ok.count() == (N + DUPS) - (BAD_PIXELS + min(BAD_PIXELS, DUPS))


def test_stats_metrics_and_bounds(ctx):
    rule = StatsRule(columns=["w", "h", "fmt", "phash"], bounds={"w": (1, 512)})
    m = {(r["column"], r["metric"]): r["value"] for r in rule.metrics(ctx).collect()}
    assert m[("fmt", "approx_distinct")] == pytest.approx(3, abs=1)
    assert m[("w", "min")] >= 64 and m[("w", "max")] <= 512
    assert 0 < m[("w", "null_frac")] < 0.1
    assert rule.violations(ctx).count() == 0


def test_stats_numeric_metrics_cover_tinyint_and_decimal(spark):
    """Every NumericType gets min/max/percentiles, not only the
    int/bigint/double/float/smallint dtype strings."""
    df = spark.createDataFrame(
        [("a", 1, Decimal("1.5")), ("b", 3, Decimal("2.5")), ("c", None, None),
         ("d", 2, Decimal("4"))],
        "image_id string, t tinyint, d decimal(10,2)",
    )
    ctx = RuleContext(spark=spark, images=df, num_buckets=4)
    rule = StatsRule(columns=["t", "d"], bounds={"t": (None, 2), "d": (2.0, None)})
    m = {(r["column"], r["metric"]): r["value"] for r in rule.metrics(ctx).collect()}
    assert m[("t", "min")] == 1 and m[("t", "max")] == 3 and m[("t", "p50")] == 2
    assert m[("d", "min")] == 1.5 and m[("d", "max")] == 4.0 and m[("d", "p50")] == 2.5
    assert m[("t", "null_frac")] == pytest.approx(0.25) and m[("d", "count")] == 3
    assert {k for k in m if k[0] == "t"} == {
        ("t", x) for x in ("count", "null_frac", "approx_distinct", "min", "max", "p50", "p95")}
    assert sorted((r["key"], r["detail"]) for r in rule.violations(ctx).collect()) == [
        ("a", "out of bounds: 1.50"), ("b", "out of bounds: 3")]


def test_drift_fires_on_shifted_distribution(ctx, spark):
    ref = snapshot_reference(ctx.images, "fmt", "categorical")
    same = DriftRule(column="fmt", kind="categorical", reference=ref)
    assert same.violations(ctx).count() == 0
    shifted = {"png": 0.05, "jpeg": 0.05, "webp": 0.9}
    drifted = DriftRule(column="fmt", kind="categorical", reference=shifted)
    assert drifted.violations(ctx).count() > 0


def test_ruleset_verdicts(ctx):
    rs = RuleSet(
        [
            SchemaRule(schema_specs()),
            UniquenessRule(["image_id"]),
            ReferentialRule(),
            RowInvariantRule(),
        ]
    )
    out = rs.run(ctx)
    verdicts = out["verdicts"].cache()
    # every (rule, bucket) pair present
    n_buckets = verdicts.select("bucket").distinct().count()
    assert verdicts.count() == 4 * n_buckets
    total_vio = verdicts.agg(F.sum("violation_count")).collect()[0][0]
    assert total_vio == out["violations"].count()
    # pass flag consistent
    bad = verdicts.where((F.col("violation_count") == 0) != F.col("pass")).count()
    assert bad == 0
    # rows_scanned sums to table size
    per_rule_rows = (
        verdicts.groupBy("rule").agg(F.sum("rows_scanned").alias("s")).collect()
    )
    assert all(r["s"] == N + DUPS for r in per_rule_rows)


@pytest.fixture(scope="module")
def tiny(spark):
    """Three images (buckets 0 and 1) and a caption-only key x9 that
    hashes to bucket 7, which holds no image rows."""
    images = spark.createDataFrame([("i1", 10), ("i2", 20), ("i3", 30)], "image_id string, w int")
    captions = spark.createDataFrame([("i1",), ("i2",), ("x9",)], "image_id string")
    return RuleContext(
        spark=spark, images=images, captions=captions, num_buckets=8,
        bucket_expr=lambda c: F.when(c.startswith("x"), 7).otherwise(
            F.substring(c, 2, 1).cast("long") % 2
        ),
    )


def _verdict_rows(ctx, rules, persist=True):
    out = RuleSet(rules).run(ctx, persist=persist)
    cols = ["rule", "bucket", "rows_scanned", "violation_count", "pass"]
    rows = sorted(tuple(r) for r in out["verdicts"].select(*cols).collect())
    out["violations"].unpersist()
    return rows


def _tiny_schema():
    return SchemaRule([ColumnSpec("image_id", "string"), ColumnSpec("h", "int")])


def test_ruleset_verdict_skips_imageless_bucket(tiny):
    rule = ReferentialRule()
    assert {r["bucket"] for r in rule.violations(tiny).collect()} == {1, 7}
    assert _verdict_rows(tiny, [rule]) == [
        ("referential", 0, 1, 0, True),
        ("referential", 1, 2, 1, False),
    ]


def test_ruleset_verdict_table_level_bucket(tiny):
    """Missing h + unexpected w: bucket -1, no rows scanned, failing."""
    assert _verdict_rows(tiny, [_tiny_schema()]) == [
        ("schema", -1, 0, 2, False),
        ("schema", 0, 1, 0, True),
        ("schema", 1, 2, 0, True),
    ]


def test_ruleset_clean_rule_passes_every_bucket(tiny):
    assert _verdict_rows(tiny, [UniquenessRule(["image_id"])]) == [
        ("uniqueness(image_id)", 0, 1, 0, True),
        ("uniqueness(image_id)", 1, 2, 0, True),
    ]


def test_ruleset_empty_images_no_bucket_verdicts(spark, tiny):
    empty = RuleContext(
        spark=spark, images=tiny.images.limit(0), captions=None, num_buckets=8,
        bucket_expr=tiny.bucket_expr,
    )
    rows = _verdict_rows(empty, [_tiny_schema(), UniquenessRule(["image_id"])])
    assert rows == [("schema", -1, 0, 2, False)]


def test_stats_on_empty_table(spark, tiny):
    """An empty table has no null fraction: NULL, not DIVIDE_BY_ZERO."""
    empty = RuleContext(spark=spark, images=tiny.images.limit(0), num_buckets=8,
                        bucket_expr=tiny.bucket_expr)
    out = RuleSet([StatsRule(columns=["image_id", "w"])]).run(empty)
    m = {(r["column"], r["metric"]): r["value"] for r in out["metrics"].collect()}
    out["violations"].unpersist()
    assert m[("w", "count")] == 0 and m[("image_id", "count")] == 0
    assert m[("w", "null_frac")] is None and m[("image_id", "null_frac")] is None


def test_ruleset_persist_false_same_verdicts(tiny):
    rules = [_tiny_schema(), UniquenessRule(["image_id"]), ReferentialRule()]
    assert _verdict_rows(tiny, rules, persist=False) == _verdict_rows(tiny, rules)


def test_ruleset_rejects_duplicate_rule_names():
    with pytest.raises(ValueError, match=r"uniqueness\(image_id\)"):
        RuleSet([UniquenessRule(["image_id"]), ReferentialRule(), UniquenessRule(["image_id"])])


def test_referential_rejects_unknown_direction():
    with pytest.raises(ValueError, match="image->captions"):
        ReferentialRule(direction="image->captions")


def test_uniqueness_rejects_empty_key_columns():
    with pytest.raises(ValueError, match="key column"):
        UniquenessRule([])


QK = "q'`k"  # a key column whose name needs quoting in SQL


def _key_oracle(rules, images, captions, bucket):
    """Pure-Python violations of uniqueness/referential rules over
    collected rows: ``bucket(value)`` maps a raw key or a key string to
    its bucket."""
    out = []
    for r in rules:
        if isinstance(r, UniquenessRule):
            counts = {}
            for row in images:
                vals = tuple(row[c] for c in r.key_columns)
                if None not in vals:
                    counts[vals] = counts.get(vals, 0) + 1
            for vals, n in counts.items():
                if n > 1:
                    key = "|".join(map(str, vals))
                    b = bucket(vals[0] if len(vals) == 1 and r.key_columns[0] == "image_id"
                               else key)
                    out.append((r.name, key, ",".join(r.key_columns), f"duplicate count={n}", b))
        elif captions is not None:
            img = {row[r.key] for row in images} - {None}
            cap = {row[r.key] for row in captions} - {None}
            if r.direction != "captions->images":
                out += [(r.name, str(k), r.key, "missing caption row", bucket(k)) for k in img - cap]
            if r.direction != "images->captions":
                out += [(r.name, str(k), r.key, "missing image row", bucket(k)) for k in cap - img]
    return sorted(out, key=repr)


def _key_rules(salt_image_id):
    return [
        UniquenessRule(["image_id"], salted=salt_image_id),
        UniquenessRule(["image_id", "part"]),
        UniquenessRule([QK], salted=not salt_image_id),
        ReferentialRule(),
        ReferentialRule(name="ref img->cap", direction="images->captions"),
        ReferentialRule(name="ref'`cap->img", direction="captions->images"),
        ReferentialRule(key=QK, name="ref'`qk"),
    ]


@pytest.mark.parametrize("bucketing, salt_image_id", [
    ("default", False), ("default", True), ("override", False), ("no_captions", True)])
def test_key_rules_match_python_oracle(spark, salt_image_id, bucketing):
    """Uniqueness and referential rules, run together in one RuleSet
    (sharing one per-key aggregate) and each on its own, equal a
    pure-Python oracle: null keys, a two-column key with a null part,
    duplicate and caption-only caption keys, every direction, salted
    and unsalted counts, quoted rule and column names."""
    import zlib

    images = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 10), ("a", 2, 10), ("b", None, 20), ("b", None, 21),
         (None, 3, None), ("c", 4, 30), ("d", 5, 40), ("e", 6, 20)],
        f"image_id string, part int, `{QK.replace('`', '``')}` bigint",
    )
    captions = spark.createDataFrame(
        [("a", 10), ("a", 10), ("c", None), ("x", 50), (None, 60), ("y", 30), ("e", 20)],
        f"image_id string, `{QK.replace('`', '``')}` bigint",
    )
    override = bucketing == "override"
    ctx = RuleContext(
        spark=spark, images=images, captions=None if bucketing == "no_captions" else captions,
        num_buckets=8,
        bucket_expr=(lambda c: F.pmod(F.crc32(c.cast("string")), F.lit(7))) if override else None,
    )
    if override:
        def bucket(v):
            return zlib.crc32(str(v).encode()) % 7
    else:  # the default xxhash64 bucket of every raw key and key string
        table = {}
        for frame in (images, captions):
            for c in ["image_id", QK]:
                col = F.col(f"`{c.replace('`', '``')}`")
                table.update(dict(frame.select(col, ctx.bucket_of(col)).collect()))
        strings = spark.createDataFrame([(s,) for s in ("a|1", "10", "20")], "s string")
        table.update(dict(strings.select("s", ctx.bucket_of(F.col("s"))).collect()))
        bucket = table.__getitem__
    rules = _key_rules(salt_image_id)
    caps = None if ctx.captions is None else ctx.captions.collect()
    want = _key_oracle(rules, images.collect(), caps, bucket)
    out = RuleSet(rules).run(ctx)
    together = sorted(map(tuple, out["violations"].collect()), key=repr)
    out["violations"].unpersist()
    alone = sorted((tuple(row) for r in rules for row in r.violations(ctx).collect()), key=repr)
    assert together == want
    assert alone == want
    # the fixture exercises every kind of violation
    kinds = {(rule, detail.split("=")[0]) for rule, _, _, detail, _ in want}
    assert len(kinds) == (3 if bucketing == "no_captions" else 9)


def test_row_invariant_one_violation_per_failed_check(spark):
    """A row failing BOTH pixel and caption checks emits TWO violation
    rows (bytes + caption), and a decoded-shape mismatch records the
    -1.0 psnr sentinel (NOT the 999.0 exact-match sentinel)."""
    import numpy as np

    from assetdatavalidationtool_spark.codecs import encode_image
    from assetdatavalidationtool_spark.datagen import IMAGES_SCHEMA, make_row, row_params

    good = make_row(1)
    both_bad = make_row(2, corrupt_pixels=True)
    both_bad["caption"] = "WRONG caption"
    shape_bad = row_params(3)
    shape_bad["bytes"] = encode_image(
        np.zeros((8, 8, 3), dtype=np.uint8), shape_bad["fmt"]
    )
    images = spark.createDataFrame([good, both_bad, shape_bad], IMAGES_SCHEMA)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)

    rule = RowInvariantRule()
    vio = rule.violations(ctx).collect()
    by_key = {}
    for r in vio:
        by_key.setdefault(r["key"], set()).add(r["column"])
    assert by_key[both_bad["image_id"]] == {"bytes", "caption"}
    assert by_key[shape_bad["image_id"]] == {"bytes"}
    assert good["image_id"] not in by_key

    checks = {r["image_id"]: r for r in rule.checks(ctx).collect()}
    assert checks[shape_bad["image_id"]]["psnr_db"] == -1.0
    assert checks[good["image_id"]]["psnr_db"] in (999.0,) or checks[good["image_id"]]["psnr_db"] >= 40.0


def test_row_invariant_undecodable_bytes_keep_caption_check(spark):
    """Bytes that do not decode are ONE bytes violation naming the codec
    error class; the caption is still compared (the id alone names the
    expected caption), so a correct caption adds no violation and a
    wrong one still does."""
    from assetdatavalidationtool_spark.datagen import IMAGES_SCHEMA, make_row

    right = make_row(7)
    right["bytes"] = bytes(range(40))
    wrong = make_row(8)
    wrong["bytes"] = bytes(range(40))
    wrong["caption"] = "WRONG caption"
    images = spark.createDataFrame([right, wrong], IMAGES_SCHEMA)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    vio = sorted((r["key"], r["column"], r["detail"])
                 for r in RowInvariantRule().violations(ctx).collect())
    assert vio == [
        (right["image_id"], "bytes", "pixel decode failed: ValueError"),
        (wrong["image_id"], "bytes", "pixel decode failed: ValueError"),
        (wrong["image_id"], "caption", "caption mismatch"),
    ]


def test_row_invariant_null_key_yields_fault_row(spark):
    """A null image_id is the harness's fault row (error 'null
    image_id') and a bytes violation; the action completes."""
    from pyspark.sql import types as T

    from assetdatavalidationtool_spark.datagen import IMAGES_SCHEMA, make_row

    rows = [make_row(1), make_row(2)]
    rows[1]["image_id"] = None
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in IMAGES_SCHEMA])
    ctx = RuleContext(spark=spark, images=spark.createDataFrame(rows, schema),
                      captions=None, num_buckets=8)
    rule = RowInvariantRule()
    assert [(r["image_id"], r["error"]) for r in rule.checks(ctx).collect()
            if r["error"]] == [(None, "null image_id")]
    assert (None, "bytes", "pixel decode failed: null image_id") in {
        (r["key"], r["column"], r["detail"]) for r in rule.violations(ctx).collect()}


def test_row_invariant_unreferenced_id_skips_caption_check(spark):
    """An id naming no reference (null, or no trailing index) has no
    caption to compare: ``caption_ok`` is NULL and the row yields only
    its bytes violation, never a ``caption mismatch``."""
    from pyspark.sql import types as T

    from assetdatavalidationtool_spark.datagen import IMAGES_SCHEMA, make_row

    rows = [make_row(1), make_row(2), make_row(3)]
    rows[1]["image_id"] = None
    rows[2]["image_id"] = "img_x"
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in IMAGES_SCHEMA])
    ctx = RuleContext(spark=spark, images=spark.createDataFrame(rows, schema),
                      captions=None, num_buckets=8)
    rule = RowInvariantRule()
    caption_ok = {r["image_id"]: r["caption_ok"] for r in rule.checks(ctx).collect()}
    assert caption_ok == {rows[0]["image_id"]: True, None: None, "img_x": None}
    vio = rule.violations(ctx).collect()
    assert sorted(((r["key"] or ""), r["column"]) for r in vio) == [
        ("", "bytes"), ("img_x", "bytes")]
    assert [r["detail"] for r in vio if r["key"] == "img_x"] == [
        "no reference image for image_id"]


def test_row_invariant_unreferenced_id_is_fault_row():
    """In-process, no Spark: an id with no reference is the harness's
    fault row and its error names the missing reference (it was a
    pixel mismatch with psnr NaN)."""
    import pandas as pd

    from assetdatavalidationtool_spark.datagen import make_row
    from assetdatavalidationtool_spark.rules import row_invariant

    row = make_row(1)
    row["image_id"] = "img_x"
    pdf = pd.DataFrame([row])[["image_id", "bytes", "fmt", "caption"]]
    out = next(row_invariant._check_batches(iter([pdf])))
    assert out["image_id"].tolist() == ["img_x"]
    assert out["pixel_ok"].tolist() == [False]
    assert out["caption_ok"].isna().all()
    assert out["error"].tolist() == ["no reference"]


def _media_batch(kind):
    """(batch function, codec it calls, fault flag column, one clean
    input row as a pandas frame) for each per-row media rule."""
    import pandas as pd

    from assetdatavalidationtool_spark.datagen import (
        make_audio_row,
        make_row,
        make_video_row,
    )
    from assetdatavalidationtool_spark.rules import audio, row_invariant, video

    if kind == "image":
        cols = ["image_id", "bytes", "fmt", "caption"]
        return row_invariant._check_batches, "decode_image", "pixel_ok", \
            pd.DataFrame([make_row(1)])[cols]
    if kind == "audio":
        cols = ["clip_id", "bytes", "sample_rate", "n_samples"]
        return audio._audio_check_batches, "decode_wav", "decode_ok", \
            pd.DataFrame([make_audio_row(1, n_samples=200)])[cols]
    cols = ["video_id", "bytes", "n_frames", "fps"]
    return video._video_check_batches(2), "decode_y4m", "decode_ok", \
        pd.DataFrame([make_video_row(1, n_frames=2, w=16, h=8)])[cols]


MEDIA = ["image", "audio", "video"]


@pytest.mark.parametrize("kind", MEDIA)
def test_media_rule_engine_error_fails_loud(kind, monkeypatch):
    """In-process, no Spark: an exception outside the codec data-error
    set is an engine fault and must propagate, never pose as a row
    violation."""
    from assetdatavalidationtool_spark import codecs

    batches, codec, flag, pdf = _media_batch(kind)
    assert next(batches(iter([pdf])))[flag].tolist() == [True]

    def engine_bug(*args):
        raise TypeError("engine bug")

    monkeypatch.setattr(codecs, codec, engine_bug)
    with pytest.raises(TypeError, match="engine bug"):
        list(batches(iter([pdf])))


@pytest.mark.parametrize("kind", MEDIA)
@pytest.mark.parametrize("fault, error", [
    ("ValueError", "ValueError"),
    ("zlib.error", "zlib.error"),
    ("struct.error", "struct.error"),
    (None, "null bytes"),
])
def test_media_rule_data_error_is_row_fault(kind, fault, error, monkeypatch):
    """In-process, no Spark: a codec data error or a null payload is a
    per-row fault that records its error class."""
    import struct
    import zlib

    from assetdatavalidationtool_spark import codecs

    batches, codec, flag, pdf = _media_batch(kind)
    if fault is None:
        pdf["bytes"] = None
    else:
        exc = {"ValueError": ValueError, "zlib.error": zlib.error,
               "struct.error": struct.error}[fault]

        def corrupt(*args):
            raise exc("bad payload")

        monkeypatch.setattr(codecs, codec, corrupt)
    out = next(batches(iter([pdf])))
    assert out[flag].tolist() == [False]
    assert out["error"].tolist() == [error]


def test_video_check_passes_c444_and_c420_clips():
    """In-process, no Spark: sampled frames of a C444 clip match the
    rendered reference near-losslessly, and a C420 clip's averaged
    chroma still clears the 25 dB frame gate."""
    import pandas as pd

    from assetdatavalidationtool_spark.datagen import make_video_row
    from assetdatavalidationtool_spark.rules import video

    rows = [make_video_row(0, n_frames=9), make_video_row(1, n_frames=9, subsampling="420")]
    pdf = pd.DataFrame(rows)[["video_id", "bytes", "n_frames", "fps"]]
    out = next(video._video_check_batches(4)(iter([pdf])))
    assert out["decode_ok"].all() and out["meta_ok"].all() and out["frames_ok"].all()
    assert out["error"].isna().all()
    c444, c420 = out["min_psnr_db"].tolist()
    assert c444 > 40.0 and c420 > video.PSNR_GATE_DB


def test_audio_check_counts_negative_rail_clipping():
    """In-process, no Spark: a 4x-amplified clip saturates both rails;
    its clipping fraction counts the -32768 samples too (an int16 abs
    wraps them back to -32768), and its samples mismatch the reference."""
    import numpy as np
    import pandas as pd

    from assetdatavalidationtool_spark.datagen import make_audio_row, render_audio
    from assetdatavalidationtool_spark.rules import audio

    pdf = pd.DataFrame([make_audio_row(99, n_samples=4000, corrupt=True)])[
        ["clip_id", "bytes", "sample_rate", "n_samples"]]
    out = next(audio._audio_check_batches(iter([pdf])))
    s99 = (render_audio("clip_000000099", 4000).astype(np.int32) * 4).clip(-32768, 32767)
    assert (s99 == -32768).any(), "fixture must actually hit the negative rail"
    expect = float(np.mean(np.abs(s99) >= 32767))
    assert expect > float(np.mean(s99 >= 32767))
    assert out["decode_ok"].tolist() == [True] and out["meta_ok"].tolist() == [True]
    assert out["ref_ok"].tolist() == [False]
    assert out["clip_frac"].tolist() == [expect]


def test_audio_invariant_rule_counts(spark):
    """AudioInvariantRule over a faulted clips table: closed-form
    violation counts. n=40 with 3 corrupt (decode), 4 clipped (ref
    mismatch AND clipping -> 2 each), 5 wrong-meta (metadata) ->
    3 + 8 + 5 = 16 violations; verdict sums match."""
    from assetdatavalidationtool_spark.datagen import generate_clips
    from assetdatavalidationtool_spark.rules import (
        AudioInvariantRule,
        RuleContext,
        RuleSet,
    )

    clips = generate_clips(
        spark, 40, partitions=2, n_samples=2000,
        corrupt_ids=3, clipped_ids=4, wrong_meta_ids=5,
    ).cache()
    ctx = RuleContext(spark=spark, images=clips, num_buckets=8, key_col="clip_id")
    res = RuleSet([AudioInvariantRule()]).run(ctx)
    vio = res["violations"].collect()
    def count(prefix):
        return sum(1 for r in vio if r["detail"].startswith(prefix))

    assert count("audio decode failed") == 3
    assert count("sample mismatch vs reference") == 4
    assert count("clipping frac=") == 4
    assert count("declared metadata != decoded") == 5
    assert len(vio) == 16
    total = sum(r["violation_count"] for r in res["verdicts"].collect())
    assert total == 16
    res["violations"].unpersist()


def test_video_invariant_rule_counts(spark):
    """VideoInvariantRule over a faulted videos table: closed-form
    counts. n=24 with 2 corrupt (decode), 3 wrong-content (frame
    mismatch), 4 wrong-meta (metadata) -> 9 violations; clean rows
    pass the C444 round-trip PSNR gate."""
    from assetdatavalidationtool_spark.datagen import generate_videos
    from assetdatavalidationtool_spark.rules import (
        RuleContext,
        RuleSet,
        VideoInvariantRule,
    )

    vids = generate_videos(
        spark, 24, partitions=2,
        corrupt_ids=2, wrong_content_ids=3, wrong_meta_ids=4,
    ).cache()
    ctx = RuleContext(spark=spark, images=vids, num_buckets=8, key_col="video_id")
    res = RuleSet([VideoInvariantRule(check_every_n=3)]).run(ctx)
    vio = res["violations"].collect()

    def count(prefix):
        return sum(1 for r in vio if r["detail"].startswith(prefix))

    assert count("video decode failed") == 2
    assert count("frame mismatch min_psnr=") == 3
    assert count("declared metadata != decoded") == 4
    assert len(vio) == 9
    total = sum(r["violation_count"] for r in res["verdicts"].collect())
    assert total == 9
    res["violations"].unpersist()


def test_audio_video_bad_id_degrades_per_row(spark):
    """A decodable row whose id lacks the numeric suffix the reference
    renderer expects must emit a per-row reference violation, not fail
    the Spark task (ADVICE r03: id parse was outside the per-row try)."""
    from pyspark.sql import functions as F

    from assetdatavalidationtool_spark.datagen import generate_clips, generate_videos
    from assetdatavalidationtool_spark.rules import (
        AudioInvariantRule,
        RuleContext,
        RuleSet,
        VideoInvariantRule,
    )

    clips = generate_clips(spark, 6, partitions=1, n_samples=500).withColumn(
        "clip_id",
        F.when(F.col("clip_id") == "clip_000000002", "clip_renamed").otherwise(
            F.col("clip_id")
        ),
    )
    ctx = RuleContext(spark=spark, images=clips, num_buckets=4, key_col="clip_id")
    vio = RuleSet([AudioInvariantRule()]).run(ctx, persist=False)["violations"].collect()
    assert [(r["key"], r["detail"]) for r in vio] == [
        ("clip_renamed", "sample mismatch vs reference")
    ]

    vids = generate_videos(spark, 4, partitions=1, n_frames=4, w=16, h=12).withColumn(
        "video_id",
        F.when(F.col("video_id") == "video_000000001", "video_renamed").otherwise(
            F.col("video_id")
        ),
    )
    vctx = RuleContext(spark=spark, images=vids, num_buckets=4, key_col="video_id")
    vvio = RuleSet([VideoInvariantRule()]).run(vctx, persist=False)["violations"].collect()
    assert [(r["key"], r["detail"][:20]) for r in vvio] == [
        ("video_renamed", "frame mismatch min_p")
    ]


def test_neardup_rule_counts(spark):
    """near_phash_ids planted pairs: each planted near row pairs with
    its base (Hamming 3), two violation rows per pair (one per member);
    the clean remainder stays silent."""
    from assetdatavalidationtool_spark.rules import NearDuplicateRule, RuleContext

    images = generate_images(spark, 300, near_phash_ids=4)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    vio = NearDuplicateRule().violations(ctx).collect()
    assert len(vio) == 8  # 4 pairs x 2 members
    keys = sorted(r["key"] for r in vio)
    assert keys == sorted(
        [f"img_{i:012d}" for i in range(4)] + [f"near_{i:012d}" for i in range(4)]
    )
    assert all("hamming=3" in r["detail"] for r in vio)
    assert all(r["rule"] == "neardup(phash)" for r in vio)
    # verdicts integrate through the standard spine
    from assetdatavalidationtool_spark.rules import RuleSet

    res = RuleSet([NearDuplicateRule()]).run(ctx)
    total = res["verdicts"].agg(F.sum("violation_count")).first()[0]
    res["violations"].unpersist()
    assert total == 8


def test_neardup_reemits_stay_pixel_clean_with_overlapping_faults(spark):
    """near_phash_ids and bad_pixel_ids ranges overlap at the low
    indices — the near re-emits must still be pixel-clean (the
    documented guarantee), so RowInvariantRule flags ONLY the base
    rows' corrupted bytes, never the near twins."""
    from assetdatavalidationtool_spark.rules import RowInvariantRule, RuleContext

    images = generate_images(spark, 60, bad_pixel_ids=3, near_phash_ids=3)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=4)
    vio = RowInvariantRule().violations(ctx).collect()
    keys = sorted(r["key"] for r in vio)
    assert keys == [f"img_{i:012d}" for i in range(3)], keys


def test_neardup_rule_ignores_exact_dup_reemits(spark):
    """dup_ids re-emits share the SAME image_id — uniqueness territory,
    not near-dup pairs (the strict id ordering excludes self-pairs)."""
    from assetdatavalidationtool_spark.rules import NearDuplicateRule, RuleContext

    images = generate_images(spark, 200, dup_ids=5)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    assert NearDuplicateRule().violations(ctx).count() == 0


def test_neardup_rule_not_bucket_aligned(spark):
    """Cross-bucket pairs mean a bucket-grain resume must re-run the
    whole rule — the manifest must classify it global."""
    from assetdatavalidationtool_spark.rules import NearDuplicateRule, RuleContext

    ctx = RuleContext(spark=spark, images=None, captions=None)
    assert not NearDuplicateRule().bucket_aligned(ctx)


def test_metadata_gate_rule_flags_and_maps_columns(spark):
    from assetdatavalidationtool_spark.rules import MetadataGateRule, RuleContext

    images = spark.createDataFrame(
        [
            ("ok", 512, 512, "png", 5000),
            ("nul", None, 512, "png", 5000),
            ("sm", 16, 512, "png", 5000),
            ("fmtx", 512, 512, "tiff", 5000),
            ("tiny", 512, 512, "png", 8),
        ],
        "image_id string, w int, h int, fmt string, n_bytes long",
    )
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    got = {r["key"]: r for r in MetadataGateRule(min_bytes=128).violations(ctx).collect()}
    assert set(got) == {"nul", "sm", "fmtx", "tiny"}
    assert got["nul"]["column"] == "w,h" and "null_dims" in got["nul"]["detail"]
    assert got["sm"]["detail"] == "gated: too_small"
    assert got["fmtx"]["column"] == "fmt"
    assert got["tiny"]["column"] == "bytes"
    assert all(r["rule"] == "gate" and r["bucket"] is not None for r in got.values())


def test_metadata_gate_rule_payload_gate_needs_column(spark):
    """min_bytes set but no n_bytes column → the payload gate silently
    disables itself instead of scanning the binary bytes column."""
    from assetdatavalidationtool_spark.rules import MetadataGateRule, RuleContext

    images = spark.createDataFrame(
        [("a", 512, 512, "png")], "image_id string, w int, h int, fmt string"
    )
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    assert MetadataGateRule(min_bytes=128).violations(ctx).count() == 0


def test_metadata_gate_rule_is_bucket_aligned(spark):
    from assetdatavalidationtool_spark.rules import MetadataGateRule, RuleContext

    ctx = RuleContext(spark=spark, images=None, captions=None)
    assert MetadataGateRule().bucket_aligned(ctx)


def test_metadata_gate_rule_compression_bounds(spark):
    """Optional milli-bpp bounds flag starved (truncated) and bloated
    payloads against the bytes column; the defaults leave them off."""
    from assetdatavalidationtool_spark.rules import MetadataGateRule, RuleContext

    images = spark.createDataFrame(
        [
            ("ok", 100, 100, "png", 1000),       # 100 milli-bpp
            ("starved", 100, 100, "png", 200),   # 20 — below low=50
            ("bloated", 100, 100, "png", 60000), # 6000 — above high=2000
        ],
        "image_id string, w int, h int, fmt string, n_bytes long",
    )
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    got = {
        r["key"]: r
        for r in MetadataGateRule(milli_bpp_bounds=(50, 2000))
        .violations(ctx)
        .collect()
    }
    assert set(got) == {"starved", "bloated"}
    assert got["starved"]["detail"] == "gated: starved_payload"
    assert got["bloated"]["detail"] == "gated: bloated_payload"
    assert all(r["column"] == "bytes" for r in got.values())
    # defaults: bounds off → no violations from these rows
    assert MetadataGateRule().violations(ctx).count() == 0


def test_split_clean_quarantine_partitions_input(ctx):
    """clean ∪ quarantine must partition the input with multiplicity:
    every copy of a duplicated key quarantines (the KEEP decision is a
    separate dedup step), missing-caption keys quarantine via
    referential, and alien captions (no image row) must NOT leak in."""
    from assetdatavalidationtool_spark.rules import split_violations

    rs = RuleSet([UniquenessRule(["image_id"]), ReferentialRule()])
    res = rs.run(ctx)
    parts = split_violations(ctx, res["violations"])
    n_in = ctx.images.count()
    q = parts["quarantine"].cache()
    n_q = q.count()
    assert parts["clean"].count() + n_q == n_in
    # 3 dup keys x 2 copies + 5 dropped-caption keys
    assert n_q == 2 * DUPS + DROPPED
    dup_rows = q.where(F.col("rules_hit").contains("uniqueness")).count()
    ref_rows = q.where(F.col("rules_hit") == "referential").count()
    assert dup_rows == 2 * DUPS
    assert ref_rows == DROPPED
    assert q.where(F.col("n_violations") < 1).count() == 0
    # alien caption keys have no image row — absent from both sides
    assert q.where(F.col("image_id").startswith("alien_")).count() == 0
    assert parts["clean"].where(F.col("image_id").startswith("alien_")).count() == 0
    # clean side exposes EXACTLY the input columns (no tag residue)
    assert parts["clean"].columns == ctx.images.columns
    q.unpersist()
    res["violations"].unpersist()


def test_write_split_one_scan_two_sinks(ctx, tmp_path):
    """write_split materializes both sinks from one job: partitioned
    status=clean/ and status=quarantine/ dirs whose row counts
    reconcile with the input."""
    from assetdatavalidationtool_spark.rules import split_violations, write_split

    rs = RuleSet([UniquenessRule(["image_id"]), ReferentialRule()])
    res = rs.run(ctx)
    parts = split_violations(ctx, res["violations"])
    out = str(tmp_path / "split")
    write_split(parts["tagged"], out)
    res["violations"].unpersist()
    spark = ctx.spark
    clean = spark.read.parquet(f"{out}/status=clean")
    quar = spark.read.parquet(f"{out}/status=quarantine")
    assert clean.count() + quar.count() == ctx.images.count()
    assert quar.count() == 2 * DUPS + DROPPED
    assert "rules_hit" in quar.columns and "n_violations" in quar.columns


def test_neardup_rule_casts_key_to_string(spark):
    """VIOLATIONS_SCHEMA says key is string: a bigint id column must be
    cast explicitly by the rule, not rely on union-time promotion."""
    from assetdatavalidationtool_spark.rules import NearDuplicateRule, RuleContext

    imgs = generate_images(spark, 120, near_phash_ids=2).withColumn(
        "image_id",
        F.coalesce(
            F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
            # near_* rows re-use base ids; offset keeps them distinct
            + F.when(F.col("image_id").startswith("near_"), 1000000).otherwise(0),
            F.lit(0),
        ),
    )
    ctx = RuleContext(spark=spark, images=imgs, captions=None, num_buckets=8)
    vio = NearDuplicateRule().violations(ctx)
    assert dict(vio.dtypes)["key"] == "string"
    assert vio.count() == 4  # 2 planted pairs x 2 members


def test_header_consistency_rule_flags_and_maps_columns(spark):
    """HeaderConsistencyRule over real datagen payloads: tampered
    metadata columns surface as violations mapped to the offending
    column; clean rows stay silent; the rule is bucket-aligned so a
    resume re-scans only missing buckets."""
    from assetdatavalidationtool_spark.datagen import generate_images
    from assetdatavalidationtool_spark.rules import RuleContext
    from assetdatavalidationtool_spark.rules.header import HeaderConsistencyRule

    images = generate_images(spark, 40)
    # tamper the METADATA (payload headers stay true): every 7th id
    # gets a wrong width, every 11th a wrong format label
    k = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
    tampered = images.withColumn(
        "w", F.when(k % 7 == 3, F.col("w") + 5).otherwise(F.col("w"))
    ).withColumn(
        "fmt",
        F.when(k % 11 == 4, F.lit("tiff")).otherwise(F.col("fmt")),
    )
    ctx = RuleContext(spark=spark, images=tampered, captions=None, num_buckets=8)
    rule = HeaderConsistencyRule()
    assert rule.bucket_aligned(ctx)
    got = {r["key"]: r for r in rule.violations(ctx).collect()}
    expected_dims = {f"img_{i:012d}" for i in range(40) if i % 7 == 3 and i % 11 != 4}
    expected_fmt = {f"img_{i:012d}" for i in range(40) if i % 11 == 4}
    assert set(got) == expected_dims | expected_fmt
    for key in expected_fmt:
        assert got[key]["column"] == "fmt"
        assert got[key]["detail"] == "header: format_mismatch"
    for key in expected_dims:
        assert got[key]["column"] == "w,h"
        assert got[key]["detail"] == "header: dims_mismatch"
    assert all(r["rule"] == "header_consistency" and r["bucket"] is not None
               for r in got.values())
