"""Streaming validation: incremental file-source micro-batches with
exactly-once resume from the streaming checkpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.datagen import generate_images
from assetdatavalidationtool_spark.rules import RowInvariantRule, UniquenessRule
from assetdatavalidationtool_spark.streaming import (
    stream_validate,
    windowed_event_counts,
)

N1, N2, BAD = 60, 40, 5


def test_stream_validate_incremental(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    # chunk 1 lands: 60 images, 5 with corrupt pixels
    generate_images(spark, N1, partitions=2, bad_pixel_ids=BAD).write.mode(
        "append"
    ).parquet(inp)
    stream_validate(spark, inp, out, [RowInvariantRule()], ckpt, num_buckets=8)
    vio1 = spark.read.parquet(f"{out}/violations")
    assert vio1.count() == BAD

    # re-run with NO new data: checkpoint prevents re-processing
    stream_validate(spark, inp, out, [RowInvariantRule()], ckpt, num_buckets=8)
    assert spark.read.parquet(f"{out}/violations").count() == BAD

    # chunk 2 lands: 40 clean images (ids shifted → no new violations)
    generate_images(spark, N2, partitions=2).withColumn(
        "image_id", F.concat(F.lit("b_"), F.col("image_id"))
    ).write.mode("append").parquet(inp)
    stream_validate(spark, inp, out, [RowInvariantRule()], ckpt, num_buckets=8)
    vio2 = spark.read.parquet(f"{out}/violations")
    # the b_ prefix breaks id→render regeneration? No: row_invariant
    # parses the trailing int; prefix keeps the index digits intact.
    assert vio2.count() == BAD  # no duplicates, no new violations

    verd = spark.read.parquet(f"{out}/verdicts")
    rows = verd.agg(F.sum("rows_scanned")).collect()[0][0]
    assert rows == N1 + N2


def test_stream_validate_verdicts_per_rule(spark, tmp_path_factory):
    """Streaming runs its rules through RuleSet.run: one verdict row per
    (rule, bucket), so each rule's rows_scanned sums to the input rows."""
    base = tmp_path_factory.mktemp("stream_rules")
    inp, out = str(base / "in"), str(base / "out")
    generate_images(spark, N2, partitions=2, dup_ids=3, bad_pixel_ids=BAD).write.mode(
        "append"
    ).parquet(inp)
    n = spark.read.parquet(inp).count()
    stream_validate(spark, inp, out, [RowInvariantRule(), UniquenessRule(["image_id"])],
                    str(base / "ckpt"), num_buckets=8)
    verd = spark.read.parquet(f"{out}/verdicts")
    assert "rule" in verd.columns
    got = {r["rule"]: (r["rows"], r["vio"]) for r in verd.groupBy("rule").agg(
        F.sum("rows_scanned").alias("rows"), F.sum("violation_count").alias("vio")).collect()}
    vio = spark.read.parquet(f"{out}/violations").groupBy("rule").count().collect()
    assert got == {r["rule"]: (n, r["count"]) for r in vio}
    assert set(got) == {"row_invariant", "uniqueness(image_id)"}


def test_windowed_event_counts_batch_parity(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = windowed_event_counts(ev, window="1 hour")
    exp = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_windowed_streaming_mode(spark, tmp_path_factory):
    """Drive the same aggregation through an actual streaming query
    (memory sink, availableNow)."""
    src = str(tmp_path_factory.mktemp("evstream"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) FROM winagg").collect()[0][0]
    exp = windowed_event_counts(ev, window="1 hour").count()
    assert got == exp


def test_stream_replay_is_idempotent(spark, tmp_path_factory):
    """foreachBatch is at-least-once: a crash between the sink write and
    the checkpoint commit re-runs the same batch_id on restart. The sink
    write is a dynamic overwrite of that batch's partition, so a replay
    rewrites rather than duplicates — simulated here by re-processing
    identical input under a fresh checkpoint (same batch_id 0)."""
    base = tmp_path_factory.mktemp("replay")
    inp, out = str(base / "in"), str(base / "out")
    generate_images(spark, 30, partitions=2, bad_pixel_ids=4).write.mode(
        "append"
    ).parquet(inp)

    stream_validate(spark, inp, out, [RowInvariantRule()], str(base / "ck1"), num_buckets=8)
    first_vio = spark.read.parquet(f"{out}/violations").count()
    first_scanned = (
        spark.read.parquet(f"{out}/verdicts").agg(F.sum("rows_scanned")).collect()[0][0]
    )
    assert first_vio == 4

    # replay of batch 0 (lost checkpoint): partitions overwritten in place
    stream_validate(spark, inp, out, [RowInvariantRule()], str(base / "ck2"), num_buckets=8)
    assert spark.read.parquet(f"{out}/violations").count() == first_vio
    assert (
        spark.read.parquet(f"{out}/verdicts").agg(F.sum("rows_scanned")).collect()[0][0]
        == first_scanned
    )


def test_stream_sessionize_matches_batch_oracle(spark, tmp_path_factory):
    """The stateful streaming sessionizer (applyInPandasWithState) must
    produce EXACTLY the batch sessionize() result on identical events:
    sessions split within one batch, continue across batches through
    state, and close via event-time timeout once the watermark (driven
    by a far-future sentinel user) passes session_end + gap."""
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize
    from assetdatavalidationtool_spark.streaming.validate import stream_sessionize

    base = tmp_path_factory.mktemp("sess")
    src, out, ck = str(base / "in"), str(base / "out"), str(base / "ck")
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def rows(user, offsets_min, start_id):
        return [
            (start_id + i, t0 + dt.timedelta(minutes=m), user, "c", 1.0, "")
            for i, m in enumerate(offsets_min)
        ]

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    # file 1: user 1 has two sessions (65-min gap splits in-batch);
    # user 2 has one open session
    f1 = rows(1, [0, 10, 20, 85, 95], 100) + rows(2, [0, 5], 200)
    # file 2: user 2 continues within the gap (state carries across
    # batches); sentinel user 999 ten days later drives the watermark
    # past every real session_end + gap so all sessions time out closed
    f2 = rows(2, [25, 40], 300) + [
        (900, t0 + dt.timedelta(days=10), 999, "c", 1.0, "")
    ]
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_sessionize(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = (
        spark.read.parquet(out)
        .where(F.col("user_id") != 999)
        .select("user_id", "session_start", "session_end", "n_events")
    )
    all_events = spark.createDataFrame(f1 + f2, schema).where(
        F.col("user_id") != 999
    )
    exp = sessionize(all_events, "user_id", "ts", "event_id", gap_minutes=30).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    assert got.count() == 3  # u1 x2 (in-batch split) + u2 x1 (cross-batch)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stream_dedup_ledger_across_batches(spark, tmp_path_factory):
    """Digest-ledger streaming dedup: within-batch dups collapse to the
    min-id row, cross-batch dups are dropped by the ledger anti-join,
    and a full replay (fresh checkpoint, same input) reproduces the
    same kept set because each batch ignores its own ledger partition."""
    from assetdatavalidationtool_spark.streaming.validate import stream_dedup_exact

    base = tmp_path_factory.mktemp("sdedup")
    src = str(base / "in")
    schema = "image_id string, bytes binary"
    f1 = [("img_2", b"A"), ("img_1", b"A"), ("img_3", b"B")]
    f2 = [("img_4", b"B"), ("img_5", b"C")]  # B is a cross-batch dup
    f3 = [("img_6", b"A"), ("img_7", b"D")]
    for rows in (f1, f2, f3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out1 = str(base / "out1")
    stream_dedup_exact(
        spark, src, out1, str(base / "ck1"), max_files_per_trigger=1
    )
    kept = spark.read.parquet(f"{out1}/kept")
    ids = {r["image_id"] for r in kept.collect()}
    assert ids == {"img_1", "img_3", "img_5", "img_7"}
    # ledger holds each digest exactly once
    ledger = spark.read.parquet(f"{out1}/digest_ledger")
    assert ledger.count() == ledger.select("digest").distinct().count() == 4

    # replay from scratch: same input, fresh checkpoint/output
    out2 = str(base / "out2")
    stream_dedup_exact(
        spark, src, out2, str(base / "ck2"), max_files_per_trigger=1
    )
    kept2 = spark.read.parquet(f"{out2}/kept")
    assert kept2.count() == 4
    assert kept2.select("digest").distinct().count() == 4


def test_stream_sessionize_late_event_extends_open_session(spark, tmp_path_factory):
    """A late cross-batch event that lands before the open session's
    start but within the gap must extend session_start backward —
    matching the batch oracle (regression: the old fold absorbed it
    without moving the start). Also exercises a STRING user column."""
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize
    from assetdatavalidationtool_spark.streaming.validate import stream_sessionize

    base = tmp_path_factory.mktemp("sess_late")
    src, out, ck = str(base / "in"), str(base / "out"), str(base / "ck")
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)
    m = lambda mins: t0 + dt.timedelta(minutes=mins)
    schema = "event_id long, ts timestamp, user_id string"
    # batch 1: u1 at 8:40/8:50; u2 at 9:00 advances the watermark to 8:00
    f1 = [(1, m(40), "u1"), (2, m(50), "u1"), (3, m(60), "u2")]
    # batch 2: LATE u1 event at 8:25 — above the watermark, before the
    # open session's start, within the 30-min gap. Sentinel closes all.
    f2 = [(4, m(25), "u1"), (9, t0 + dt.timedelta(days=10), "zz")]
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_sessionize(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = (
        spark.read.parquet(out)
        .where(F.col("user_id") != "zz")
        .select("user_id", "session_start", "session_end", "n_events")
    )
    all_events = spark.createDataFrame(f1 + f2, schema).where(
        F.col("user_id") != "zz"
    )
    exp = sessionize(all_events, "user_id", "ts", "event_id", gap_minutes=30).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    rows = {(r["user_id"], r["session_start"], r["n_events"]) for r in got.collect()}
    assert ("u1", m(25), 3) in rows, rows  # start extended backward
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stream_dedup_null_bytes_pass_through(spark, tmp_path_factory):
    """Failed-download rows (bytes NULL) are NOT silently dropped: they
    pass through to kept/ with digest NULL (so the downstream schema
    rule can flag them) and never enter the digest ledger."""
    from assetdatavalidationtool_spark.streaming.validate import stream_dedup_exact

    base = tmp_path_factory.mktemp("sdedup_null")
    src = str(base / "in")
    schema = "image_id string, bytes binary"
    f1 = [("img_1", b"A"), ("img_2", None)]
    f2 = [("img_3", None), ("img_4", b"A")]  # img_4: cross-batch dup of A
    for rows in (f1, f2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out = str(base / "out")
    stream_dedup_exact(spark, src, out, str(base / "ck"), max_files_per_trigger=1)
    kept = spark.read.parquet(f"{out}/kept")
    got = {r["image_id"]: r["digest"] for r in kept.collect()}
    assert set(got) == {"img_1", "img_2", "img_3"}
    assert got["img_2"] is None and got["img_3"] is None
    ledger = spark.read.parquet(f"{out}/digest_ledger")
    assert ledger.where(F.col("digest").isNull()).count() == 0
    assert ledger.count() == 1


def test_stream_drift_monitor(spark, tmp_path_factory):
    """Per-batch KS/PSI against a fixed reference: the clean chunk
    passes, the fmt-shifted chunk fires, and a checkpointed re-run adds
    nothing (idempotent replay)."""
    from assetdatavalidationtool_spark.rules.drift import snapshot_reference
    from assetdatavalidationtool_spark.streaming import stream_drift_monitor

    base = tmp_path_factory.mktemp("driftstream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    clean = generate_images(spark, 60, partitions=1)
    ref = snapshot_reference(clean, "fmt", "categorical")
    clean.write.mode("append").parquet(inp)
    # upstream deploy goes bad: every new image lands as webp
    generate_images(spark, 40, partitions=1).withColumn(
        "fmt", F.lit("webp")
    ).write.mode("append").parquet(inp)

    stream_drift_monitor(
        spark, inp, out, ckpt, reference=ref,
        column="fmt", kind="categorical", max_files_per_trigger=1,
    )
    mon = spark.read.parquet(f"{out}/drift_monitor")
    rows = {r["n_rows"]: r for r in mon.collect()}
    assert set(rows) == {60, 40}
    assert rows[60]["status"] == "pass"
    assert rows[40]["status"] == "drift"
    # the clean batch IS the reference sample: scores ~0; the shifted
    # batch concentrates all mass on one bin: PSI far above threshold
    assert rows[60]["psi"] < 0.01 and rows[60]["ks"] < 0.01
    assert rows[40]["psi"] > 0.2

    # no new files: checkpoint prevents re-scoring; monitor unchanged
    stream_drift_monitor(
        spark, inp, out, ckpt, reference=ref,
        column="fmt", kind="categorical", max_files_per_trigger=1,
    )
    assert spark.read.parquet(f"{out}/drift_monitor").count() == 2
