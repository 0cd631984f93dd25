"""Incremental validation over a file stream of image rows.

Shape: ``readStream`` (file source, schema pinned — no inference race)
→ ``foreachBatch`` running the rules through the batch engine's
``RuleSet.run`` on each micro-batch → violations/verdicts parquet
partitioned by batch_id. A verdict row is ``RuleSet``'s unit, one per
(rule, bucket) of the batch: ``(rule, bucket, rows_scanned,
violation_count, pass, batch_id)``, so each rule's ``rows_scanned``
sums to the batch's row count and a table-level violation counts in
bucket -1. foreachBatch itself is at-least-once (a crash between the
sink write and the checkpoint commit replays the batch on restart);
end-to-end effectively-once comes from making the batch write
IDEMPOTENT: each batch dynamically overwrites ONLY its own
``batch_id=N`` partition, so a replay rewrites the same rows instead
of appending duplicates.

Only bucket-aligned row-local rules belong here (schema, row-invariant,
per-batch uniqueness): global rules (drift, cross-table referential)
need either the batch engine or stateful streaming aggregation —
``windowed_event_counts`` shows the watermark + tumbling-window shape
used for streaming violation-rate monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import IMAGES_SCHEMA
from ..rules.base import Rule, RuleContext, RuleSet, local_rows, read_table


def _run_stream(spark: SparkSession, schema, input_dir: str, checkpoint_dir: str,
                process_batch, max_files_per_trigger: int | None, available_now: bool):
    """Run ``process_batch(batch_df, batch_id)`` on each micro-batch of
    the parquet files landing in ``input_dir`` (read with ``schema``).
    With ``available_now`` the stream drains what is there and returns
    the finished query; otherwise the running query is returned."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(input_dir).writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent replay: dynamic-overwrite exactly this batch's
    ``batch_id=N`` partition of ``path``, so a replayed batch rewrites
    its rows instead of appending duplicates."""
    (
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def stream_validate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    rules: list[Rule],
    checkpoint_dir: str,
    num_buckets: int = 64,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start (and by default drain) a validation stream over parquet
    files landing in ``input_dir``. Returns the StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not rules:
            return
        ctx = RuleContext(
            spark=spark,
            images=batch_df,
            captions=None,
            num_buckets=num_buckets,
            run_id=f"stream_batch_{batch_id}",
        )
        out = RuleSet(rules).run(ctx)
        try:
            _write_batch(out["violations"], batch_id, f"{output_dir}/violations")
            _write_batch(out["verdicts"].drop("run_id"), batch_id, f"{output_dir}/verdicts")
        finally:
            out["violations"].unpersist()

    return _run_stream(spark, IMAGES_SCHEMA, input_dir, checkpoint_dir, process_batch,
                       max_files_per_trigger, available_now)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str | None = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the standard late-data
    shape (readStream → withWatermark → window groupBy). Works on both
    a streaming and a batch DataFrame (used by tests and the batch
    oracle: ``event_hourly_windows``)."""
    df = events
    if df.isStreaming:
        # watermarks need TIMESTAMP (with tz); parquet often carries NTZ
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    keys = [F.window(F.col(ts_col), window).alias("win")]
    if group_col:
        keys.append(F.col(group_col))
    return (
        df.groupBy(*keys)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            *([group_col] if group_col else []),
            "n_events",
            "total_value",
        )
    )


def stream_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization → closed sessions, one row each:
    (user_id, session_start, session_end, n_events).

    The custom stateful operator Spark's built-ins can't express when
    downstream needs ONE row per closed session as soon as it closes
    (``F.session_window`` re-emits updated windows; this emits exactly
    once, in append mode). Implemented with ``applyInPandasWithState``:
    state per user is the open session triple (start_us, last_us, n) in
    integer microseconds — the same gap arithmetic as the batch twin
    ``operators.events.sessionize``, which the streaming test uses as
    its oracle on identical input.

    A session closes two ways: a later event of the same user arrives
    more than ``gap_minutes`` after it (emitted within the batch), or
    the event-time watermark passes session_end + gap (state timeout —
    emitted in the timeout batch, including Spark's no-data micro-batch
    after the input drains). Scale: state is 24 bytes per ACTIVE user,
    keyed shuffle on user only, Arrow-batched per group — no per-row
    Python, no unbounded state (the timeout is the eviction).

    Late data: each call interval-merges the batch's events (any
    intra-batch disorder) WITH the open session, so a cross-batch late
    event that lands inside or within ``gap`` of the open session
    extends it — including extending ``session_start`` backward.
    Exactness vs the batch oracle holds for everything except an event
    arriving AFTER the session it belongs to was already emitted
    (closed by a later event or by timeout) — the irreducible
    streaming case the watermark exists to bound.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1_000
    user_type = events.schema[user_col].dataType.simpleString()

    def _close(user, start_us, last_us, n):
        return pd.DataFrame(
            {
                "user_id": [user],
                "session_start": pd.to_datetime([start_us], unit="us"),
                "session_end": pd.to_datetime([last_us], unit="us"),
                "n_events": pd.array([n], dtype="int64"),
            }
        )

    def fn(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _close(user, start_us, last_us, n)
            return
        ts_us: list[int] = []
        for pdf in pdf_iter:
            s = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]")
            ts_us.extend((s.astype("int64") // 1000).tolist())
        ts_us.sort()
        # chain this batch's (sorted) events into candidate intervals,
        # then interval-merge with the open session: a late event that
        # belongs to the open session extends it (backward too) instead
        # of being mis-absorbed without moving session_start.
        ivals: list[tuple[int, int, int]] = []
        for t in ts_us:
            if ivals and t - ivals[-1][1] <= gap_us:
                s0, l0, n0 = ivals[-1]
                ivals[-1] = (s0, max(l0, t), n0 + 1)
            else:
                ivals.append((t, t, 1))
        if state.exists:
            ivals.append(state.get)
            ivals.sort(key=lambda iv: iv[0])
            merged: list[tuple[int, int, int]] = []
            for iv in ivals:
                if merged and iv[0] - merged[-1][1] <= gap_us:
                    s0, l0, n0 = merged[-1]
                    merged[-1] = (s0, max(l0, iv[1]), n0 + iv[2])
                else:
                    merged.append(iv)
            ivals = merged
        for iv in ivals[:-1]:  # everything but the newest is closed
            yield _close(user, *iv)
        if ivals:
            cur = ivals[-1]
            state.update(cur)
            # event-time timeout must sit above the current watermark
            state.setTimeoutTimestamp(
                max(cur[1] // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
            )

    df = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    df = df.withWatermark(ts_col, watermark)
    return df.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"user_id {user_type}, session_start timestamp, "
            "session_end timestamp, n_events long"
        ),
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_drift_monitor(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    reference: dict[str, float],
    column: str = "fmt",
    kind: str = "categorical",
    lo: float = 0.0,
    hi: float = 1024.0,
    bins: int = 32,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Per-micro-batch KS/PSI drift monitoring of a column against a
    known-good reference distribution — the streaming twin of
    ``DriftRule`` (rules/drift.py), for catching a bad upstream deploy
    WHILE data lands rather than at the next batch validation.

    Shape: each micro-batch runs ONE ``groupBy(bin).count()`` (the same
    ``histogram`` as the batch rule — output is ≤``bins`` rows however
    large the batch), the KS/PSI scalars are computed driver-side on
    that tiny table, and one verdict row
    ``(batch_id, column, n_rows, ks, psi, status)`` is written
    idempotently (dynamic overwrite of exactly this batch's
    ``batch_id=N`` partition, same replay-safety argument as
    ``stream_validate``). Empty micro-batches record ``empty`` — a
    stalled upstream is itself a signal, and skipping the write would
    leave a hole a replay could mis-fill.

    State: NONE beyond the histogram aggregate — no watermark needed,
    because each batch is scored independently against the static
    reference; drift across batches is read off the monitor table.
    """
    from ..rules.drift import histogram, ks_psi

    monitor_dir = f"{output_dir}/drift_monitor"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        hist = histogram(batch_df, column, kind, lo, hi, bins).collect()
        cur = {r["bin"]: r["cnt"] for r in hist}
        n = sum(cur.values())
        if n == 0:
            row = (column, 0, None, None, "empty")
        else:
            ks, psi = ks_psi(cur, reference)
            status = (
                "drift"
                if ks > ks_threshold or psi > psi_threshold
                else "pass"
            )
            row = (column, n, float(ks), float(psi), status)
        _write_batch(local_rows(
            spark, [row], "column string, n_rows long, ks double, psi double, status string"),
            batch_id, monitor_dir)

    return _run_stream(spark, spark.read.parquet(input_dir).schema, input_dir,
                       checkpoint_dir, process_batch, max_files_per_trigger, available_now)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Streaming exact dedup against a persisted digest LEDGER: each
    micro-batch keeps only payloads whose content digest was never seen
    in any PRIOR batch, then appends its new digests to the ledger.

    Why not ``dropDuplicatesWithinWatermark``: the state store must
    hold every digest inside the watermark horizon per executor — at
    10^12 images the horizon for "ever seen" is unbounded, so the state
    belongs in a TABLE, not executor memory. The ledger is parquet
    keyed by digest (at scale: bucketed/Iceberg so the anti-join
    co-locates); the batch side anti-joins it once per trigger.

    Effectively-once on at-least-once foreachBatch: both sinks
    dynamically overwrite exactly their own ``batch_id=N`` partition,
    and the anti-join reads only ledger partitions ``batch_id < N`` —
    a replayed batch therefore ignores its OWN crashed half-write and
    reproduces it instead of dropping everything as a duplicate.

    Within a batch, the kept copy is the min-id row per digest — the
    same canonical policy as the batch ``exact_duplicates`` operator.
    """
    ledger_dir = f"{output_dir}/digest_ledger"
    kept_dir = f"{output_dir}/kept"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("digest").orderBy(id_col)
        digested = batch_df.withColumn("digest", F.md5(F.col(bytes_col)))
        # NULL-payload rows have no content to dedup on: they PASS
        # THROUGH to kept/ (digest NULL, never enter the ledger) so the
        # downstream schema rule can flag them — silently dropping them
        # here would lose rows from the corpus with no count anywhere
        null_rows = digested.where(F.col("digest").isNull())
        batch = (
            digested.where(F.col("digest").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # a missing ledger (first batch) anti-joins against no rows; any
        # other read failure (corrupt file, transient IO) aborts the batch
        # rather than let previously seen digests back in
        seen = read_table(spark, ledger_dir, "digest string, batch_id int").where(
            f"batch_id < {batch_id}").select("digest")
        kept = batch.join(seen, "digest", "left_anti").unionByName(null_rows).persist()
        _write_batch(kept.drop(bytes_col), batch_id, kept_dir)
        _write_batch(kept.where("digest IS NOT NULL").select("digest"), batch_id, ledger_dir)
        kept.unpersist()

    return _run_stream(spark, spark.read.parquet(input_dir).schema, input_dir,
                       checkpoint_dir, process_batch, max_files_per_trigger, available_now)
