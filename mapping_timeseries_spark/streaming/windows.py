"""Structured Streaming surface (SURVEY §2.10 north-star).

Streaming twins of the batch event operators: the transformations are the
SAME builder functions from operators/sessionize.py applied to a streaming
DataFrame — batch/stream parity by construction — plus the streaming-only
pieces: watermarks (late-data drop), watermarked dedup, and append-mode
session windows.

Local test harness: read the events parquet with ``readStream`` (schema
from the batch read), process with ``trigger(availableNow=True)`` into a
memory sink — exercised in tests/test_streaming.py.

Scale notes
-----------
All operators are incremental with bounded state: windowed aggs keep one
buffer per open (window, key) and the watermark evicts closed windows;
dedup state is bounded by the watermark horizon. At 100 TB/day the state
store partitions by the grouping key across executors (RocksDB state store
recommended in session conf for large key spaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sessionize import session_agg_native, sliding_agg, tumbling_agg

__all__ = [
    "read_events_stream",
    "stream_tumbling_agg",
    "stream_sliding_agg",
    "stream_session_agg",
    "stream_dedup",
    "stream_interval_join",
    "stream_monitoring_summary",
    "stream_to_parquet",
    "stream_to_versioned",
    "run_to_memory",
]

DEFAULT_WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession, path: str, schema=None, ts_col: str = "ts"
) -> DataFrame:
    """File-source stream over an events parquet directory/file.

    Applies the same physical-type ts normalization as the batch
    ``read_table`` (pandas-written parquet carries TIMESTAMP(NANOS),
    which arrives as bigint under nanosAsLong or as timestamp_ntz
    otherwise): without it, ``withWatermark('ts', ...)`` rejects the
    raw column outright — every caller was hand-applying the fix."""
    from ..sources.readers import normalize_ts

    if schema is None:
        schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    return normalize_ts(stream, ts_col) if ts_col in stream.columns else stream


def stream_tumbling_agg(
    events: DataFrame, duration: str = "1 hour", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Watermarked tumbling aggregation: late events beyond the watermark
    are dropped; closed windows emit finalized rows in append mode."""
    return tumbling_agg(events.withWatermark("ts", watermark), duration)


def stream_sliding_agg(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    return sliding_agg(events.withWatermark("ts", watermark), duration, slide)


def stream_session_agg(
    events: DataFrame, gap: str = "10 minutes", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Streaming session windows: sessions close after ``gap`` inactivity
    once the watermark passes."""
    return session_agg_native(events.withWatermark("ts", watermark), gap)


def stream_dedup(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming dedup on (user_id, event_type, ts) within the watermark
    horizon (state evicted past it)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type", "ts"]
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "left_ts",
    right_ts: str = "right_ts",
    upper: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: each left event matched to right
    events for the same key within ``(left_ts, left_ts + upper]`` — the
    attribution shape (click -> purchase within 30 min) of the batch
    ``operators.asof.interval_join``, as a genuine two-stream join.

    Both sides carry watermarks and the join condition bounds the
    time skew, which is what lets Spark evict join state: a buffered left
    row can stop waiting once the right watermark passes
    ``left_ts + upper``. Without the time-range predicate the state grows
    unboundedly and Spark (correctly) refuses to plan append mode.

    State is partitioned by the join key across executors; per-key state
    is the watermark horizon's worth of rows — bounded, independent of
    total stream length. Callers must pre-rename the two ts columns
    (``left_ts``/``right_ts``) so the output carries both unambiguously.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def stream_monitoring_summary(mapped: DataFrame) -> DataFrame:
    """Streaming monitoring dashboard: the SAME monitoring_summary builder
    (operators/monitoring.py, 05_prod_dev.py:1252-1266) over a streaming
    mapping frame — batch/stream parity by construction.

    The grouping key (process_date, method) is a small, slowly-growing
    space, so run in complete/update output mode: the dashboard reads the
    latest snapshot and state is one aggregate buffer per (day, method) —
    bounded, no watermark needed (a day's bucket simply stops changing
    once its mappings stop arriving). The one streaming divergence:
    unique_customers is approx_count_distinct — exact distinct needs
    unbounded per-key state on a stream (Spark rejects it)."""
    from ..operators.monitoring import monitoring_summary

    return monitoring_summary(mapped, exact_distinct=False)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a stream into a memory sink with availableNow trigger; returns
    the materialized result table. Test/debug helper — production sinks are
    files/Kafka via the same writeStream."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_col: str | None = None,
) -> None:
    """Production file sink: drain the available input to parquet with an
    exactly-once checkpoint (availableNow trigger — the incremental-batch
    pattern: each scheduled run processes only files the checkpoint hasn't
    seen, then exits).

    Restart semantics are the point: re-running with the SAME checkpoint
    after new source files arrive appends exactly the new data — no
    reprocessing, no duplicates (pytest-pinned in test_streaming.py). At
    scale this sink fragments files per micro-batch; pair with
    writers.compact_parquet on a maintenance schedule."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_col:
        writer = writer.partitionBy(partition_col)
    query = writer.start()
    query.awaitTermination()


def stream_to_versioned(
    stream_df: DataFrame,
    root: str,
    checkpoint: str,
    qa_check=None,
    output_mode: str = "complete",
    note_prefix: str = "stream",
    vacuum_keep: int | None = None,
    processing_time: str | None = None,
    run_seconds: float | None = None,
) -> None:
    """Continuously refresh a versioned table (sources/versioned.py) from
    a streaming aggregation: each micro-batch is staged as a new immutable
    snapshot and the pointer flips ATOMICALLY only after the optional QA
    gate passes — the streaming twin of run_pipeline's two-phase publish.
    Readers of the versioned table only ever see complete, QA-passed
    snapshots; a failing batch stays staged on disk for forensics and the
    published version simply doesn't advance.

    Designed for COMPLETE output mode (each trigger emits the full
    updated result — e.g. ``stream_monitoring_summary``), where a
    micro-batch IS a whole-table snapshot, matching the versioned
    table's snapshot-per-version layout. Append-mode micro-batches are
    per-batch slices, not table states — use ``stream_to_parquet`` for
    those.

    ``qa_check``: callable(df) -> bool, evaluated on the staged
    snapshot read back from disk before the pointer flip (e.g. a
    check_sla wrapper).

    Honest delivery contract: foreachBatch is at-least-once — a retry
    after a crash between the snapshot write and the checkpoint commit
    re-stages the same content under a fresh version number (never a
    corrupt or partial published table; write_versioned allocates past
    orphans). Empty first triggers are skipped rather than published as
    an empty table version.

    ``vacuum_keep``: a continuous refresh allocates one snapshot per
    drain forever; pass N to run ``vacuum_versions(keep_last=N)`` once
    after the drain completes, bounding retained snapshots. Leave None
    (default) when older versions must stay time-travelable — vacuum
    then belongs on a separate maintenance schedule. The pointed-at
    version is never vacuumed, so a drain whose last batch failed QA
    keeps its published (older) version intact.

    ``processing_time``: None (default) drains available data once
    (availableNow trigger — the batch-refresh shape); a duration string
    (e.g. ``"2 seconds"``) runs a CONTINUOUS refresh on that trigger
    interval. ``run_seconds`` bounds a continuous run: stop the query
    (and run the optional vacuum) after that many seconds; a qa_check
    that RAISES fails the query, and the StreamingQueryException
    propagates — restarting from the same checkpoint redelivers the
    failed batch (the at-least-once contract above; soak-gated with
    injected failures in tools/versioned_refresh_soak_gate.py)."""
    from ..sources.versioned import (
        publish_version,
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    def _stage_and_publish(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        version = write_versioned(
            batch_df,
            root,
            note=f"{note_prefix} batch={batch_id}",
            publish=False,
        )
        # the check reads the staged files, not a third execution of
        # the micro-batch
        if qa_check is None or qa_check(
            read_versioned(batch_df.sparkSession, root, version)
        ):
            publish_version(root, version)

    writer = (
        stream_df.writeStream.foreachBatch(_stage_and_publish)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if processing_time is None:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    else:
        query = writer.trigger(processingTime=processing_time).start()
        if run_seconds is None:
            query.awaitTermination()
        else:
            # awaitTermination(timeout) RAISES if the query failed (a
            # qa_check exception inside foreachBatch) — propagate that;
            # on a clean timeout, stop(). NOTE stop() may INTERRUPT the
            # in-flight batch (it does not drain it): a foreachBatch cut
            # between staging and checkpoint commit is safely REDELIVERED
            # on restart — safety comes from checkpoint redelivery plus
            # the two-phase stage-then-publish, not from graceful
            # drain — but orphaned staged-unpublished version dirs are
            # expected debris and are vacuumable (vacuum_versions).
            query.awaitTermination(run_seconds)
            query.stop()
            query.awaitTermination()
    if vacuum_keep is not None:
        vacuum_versions(root, keep_last=vacuum_keep)
