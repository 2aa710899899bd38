"""Structured Streaming over the events table.

The reference is strictly batch; its "incrementality" is a month-file
loop with skip-if-exists (``scripts/batch_etl_simple.py:45-56``,
``scripts/download_tlc_range_s3.py:104-111`` — SURVEY.md §2.10). The
Spark-native engine replaces that with the idiomatic pattern: a file
streaming source discovers new files per trigger (the month loop),
checkpointing replaces the manifest ledger, and watermarked windowed
aggregations replace the hour/day/month groupBys.

Every aggregation here is the streaming twin of a batch catalog query
(plans/queries.py), and the tests assert stream==batch parity by
running the stream with ``Trigger.AvailableNow`` over the same files.

Scale posture: file-source listing is incremental (only new files per
trigger, ``maxFilesPerTrigger`` bounds batch size); watermarks bound
state so hour-window state is O(windows_in_flight × key cardinality),
not O(rows); the stateful per-user operator keys state by user_id —
state store shards across executors with the shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sources.catalog import _ensure_confs

__all__ = [
    "read_events_stream",
    "tumbling_event_counts",
    "sliding_value_avg",
    "user_session_windows",
    "user_running_totals",
    "dedup_events_stream",
    "purchase_error_stream_join",
    "run_available_now",
    "stream_upsert_to_table",
    "stream_ingest_documents",
]

def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File streaming source over events parquet files.

    ``events_dir`` is a directory new monthly files land in — the
    streaming replacement for the reference's month-discovery loop
    (S6). ``maxFilesPerTrigger`` bounds per-batch input like the
    reference's one-month-per-run scope (§3.1).
    """
    _ensure_confs(spark)
    # Streaming sources need a user-supplied schema; take the physical
    # one from a footer-only static read so both layouts work: raw
    # TIMESTAMP(NANOS) files surface ts as epoch-nanos bigint (under
    # nanosAsLong), restaged curated files carry real timestamps.
    physical = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(physical)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(events_dir)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in physical)["ts"]
    if ts_type == "bigint":
        # epoch-nanos → microsecond TIMESTAMP (integer DIV keeps
        # exactness; watermarks require TIMESTAMP, not NTZ — session tz
        # is pinned UTC so wall times match the batch catalog).
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Hourly event dashboard as a watermarked tumbling-window agg —
    the streaming twin of ``events_time_profile``'s hourly grain (A1/A11).

    ``watermark=None`` runs unwatermarked (complete-mode analytics /
    stream-batch parity checks); production append-mode runs keep the
    watermark so state stays bounded."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "event_count",
            "sum_value",
        )
    )


def sliding_value_avg(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = "4 hours",
) -> DataFrame:
    """Sliding-window moving average of event value (each event lands
    in window/slide overlapping windows)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(
            F.count("*").alias("event_count"),
            # sum r4 is oracle-safe; a rounded AVG is not (clean-decimal
            # sums / count land exactly on .xxxx5 midpoints, where
            # engine summation-order ulp flips the rounding)
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_count",
            "sum_value",
            "avg_value",
        )
    )


def user_session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Per-user sessionization: events within ``gap`` of each other
    merge into one session (dynamic-length session_window)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("events_in_session"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "events_in_session",
            "session_value",
        )
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("events_seen", LongType()),
        StructField("value_total", DoubleType()),
    ]
)


def user_running_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count + value total, emitted once per micro-batch a
    user appears in. This is the engine's extension surface for
    stateful logic Spark's built-ins don't express (SURVEY.md §2.11).

    State per key is two scalars — bounded regardless of stream length.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "events_seen": [n],
                "value_total": [round(total, 4)],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop at-least-once redeliveries of the
    same key(s) — the streaming twin of the batch exact-dedup pass
    (operators/dedup.py::exact_dedup; for content-level dedup pass
    ``keys=("fingerprint",)`` after projecting
    ``text.fingerprint``).

    Uses ``dropDuplicatesWithinWatermark``: state for a key is kept
    only until the event-time watermark passes it, so state size is
    bounded by the duplicate-arrival horizon — plain
    ``dropDuplicates`` on a stream retains EVERY key forever, which is
    the classic unbounded-state failure at 100 TB. The contract (dupes
    arrive within the watermark of each other, exactly the
    at-least-once redelivery pattern) matches Kafka-style sources.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_upsert_to_table(
    sdf: DataFrame,
    table,
    keys: tuple[str, ...],
    checkpoint_dir: str,
    version_col: str | None = None,
    timeout_s: float = 300,
) -> None:
    """Streaming CDC sink: merge each micro-batch into a
    ``sources/versioned.py::VersionedTable`` keep-latest — the
    foreachBatch lakehouse-upsert pattern (the streaming twin of the
    reference's manifest skip-if-exists incrementality, upgraded to
    row-level merges).

    Delivery contract: the stream checkpoint gives at-least-once batch
    delivery; the keep-latest merge on ``keys`` makes redelivered rows
    idempotent, and the table's atomic commit protocol means a crash
    mid-merge leaves only an invisible orphan — the retried batch
    simply merges again. Empty micro-batches publish no commit.
    Raises ``TimeoutError`` (query stopped) if the drain outlasts
    ``timeout_s``.
    """
    _foreach_batch(
        sdf,
        lambda batch: table.upsert(batch, keys=list(keys), version_col=version_col),
        checkpoint_dir,
        timeout_s,
    )


def purchase_error_stream_join(
    events: DataFrame,
    tolerance: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval self-join: each purchase pairs with the
    same user's errors within ±``tolerance`` — the continuous twin of
    the batch ``interval_join`` (operators/temporal.py). Both sides
    are watermarked and the join predicate carries an explicit event-
    time range, which is what lets Spark BOUND the join state: a
    buffered error can be evicted once the watermark passes
    ``e_ts + tolerance`` (without the range predicate the state store
    would grow forever).

    Scale: one shuffle of each side on user_id; state per key is the
    2·tolerance window of events, independent of stream length. With
    ``how="inner"`` results are emitted as soon as both sides arrive.
    ``how="left_outer"`` adds the null-extension semantics: a purchase
    with no in-window error is emitted with null error columns only
    once the GLOBAL watermark (min across both sides' watermarks)
    passes ``p_ts + tolerance`` — the engine can then prove no future
    error will match, the state row is evicted, and the null row rides
    the eviction. Purchases younger than that cutoff are withheld
    (still in state) when a finite run ends — the batch oracle
    replicates the cutoff explicitly.
    """
    purch = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    err = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    joined = purch.withWatermark("p_ts", watermark).join(
        err.withWatermark("e_ts", watermark),
        F.expr(
            f"p_user = e_user AND "
            f"e_ts >= p_ts - interval {tolerance} AND "
            f"e_ts <= p_ts + interval {tolerance}"
        ),
        how,
    )
    return joined.select(
        "purchase_id",
        "error_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("e_ts")).alias("lag_us"),
        F.round("p_value", 4).alias("purchase_value"),
    )


def _start_and_wait(writer, checkpoint_dir: str, timeout_s: float):
    """Start ``writer`` as a checkpointed ``Trigger.AvailableNow`` query
    and wait until it has drained its input. A query still running after
    ``timeout_s`` is stopped and ``TimeoutError`` raised: returning
    instead would hand the caller a sink that holds part of the input
    while the query keeps writing to it."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.id} did not drain within {timeout_s} s"
        )
    return q


def _foreach_batch(sdf: DataFrame, fn, checkpoint_dir: str, timeout_s: float) -> None:
    """Drain ``sdf`` calling ``fn(batch)`` on each non-empty micro-batch
    (an empty batch would publish an empty commit)."""

    def body(batch: DataFrame, _batch_id: int) -> None:
        if not batch.isEmpty():
            fn(batch)

    _start_and_wait(sdf.writeStream.foreachBatch(body), checkpoint_dir, timeout_s)


def _state_partitions(spark: SparkSession) -> int:
    """State-store width of a drain: ``min(8, defaultParallelism)``
    (the rule and its measurements: :func:`run_available_now`)."""
    return min(8, spark.sparkContext.defaultParallelism)


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    timeout_s: float = 300,
    progress_out: list | None = None,
) -> DataFrame:
    """Drain all currently-available input through the streaming plan
    (Trigger.AvailableNow) into an in-memory sink; returns the result
    as a DataFrame. Used for tests and for the reference-style
    "process the backlog then stop" batch-catchup runs. Raises
    ``TimeoutError`` (query stopped) if the drain outlasts
    ``timeout_s``.

    The drain runs ``min(8, defaultParallelism)`` shuffle partitions,
    which sizes the STATE STORE for this stream: a stateful operator
    keeps one state store per shuffle partition, and each store pays
    per-batch open/commit/snapshot overhead — on a bounded key domain
    (users, hourly windows) 200 stores is almost all fixed cost
    (measured 5× on the stream-stream join: 16 s → 3 s from 32 → 8 on
    a 32-core host). The partition count is baked into the checkpoint
    at first run. The session value is restored after the drain — the
    rule only pins this query's plan.

    Why ``min(8, defaultParallelism)``: never more state stores than
    cores, capped at the 8 measured above. Each state partition is a
    Python worker task and a state store whose init and commit fork
    ``chmod`` processes when no native Hadoop library is loaded (about
    47 forks per partition per drain). Per drain of
    ``streaming_ewma_anomalies`` on perfbench's 10k-event input (warm
    ``local[4]`` session on a 4-vCPU VM, median of 12 drains): JVM
    2.7 s, the JVM's ``chmod`` forks 0.39 s, Python workers 1.03 s. On
    that input the workers' time is mostly per-task set-up, not the
    fold: the worker daemon (``pydaemon``), which only stops each task
    re-reading pyspark.zip, halved it (2.0 -> 1.03 s). At sf0.1 (100k
    events) the fold dominates: 9.6 -> 8.7 s. ``perfbench``
    stateful_streams on the same VM with that daemon, median of 3
    interleaved runs each:

    ====================  =======  ========
    state partitions      cpu_s    wall_s
    ====================  =======  ========
    8 (the old constant)  4.57 s   1.92 s
    4 (= cores)           3.70 s   1.69 s
    2                     3.34 s   1.87 s
    1                     2.94 s   2.15 s
    ====================  =======  ========

    Fewer partitions keep cutting CPU (about 0.23 s per partition per
    drain, 0.5 s before the daemon), but below the core count the fold
    runs on fewer cores and wall time rises again: the core count gives
    the best wall time."""
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_state_partitions(spark)))
    try:
        q = _start_and_wait(
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode),
            checkpoint_dir,
            timeout_s,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if progress_out is not None:
        # per-micro-batch progress (incl. stateOperators metrics:
        # operator name, numRowsTotal, rows dropped by watermark) —
        # the observability hook the state-bound tests pin against
        progress_out.extend(q.recentProgress)
    return spark.table(query_name)


def stream_ingest_documents(
    sdf: DataFrame,
    table,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: float = 300,
) -> None:
    """Streaming corpus ingestion with EXACT DEDUP AGAINST THE
    CORPUS-AT-REST: each micro-batch of documents is fingerprinted,
    collapsed within the batch, anti-joined against the versioned
    table's stored fingerprints, and only genuinely-new documents are
    appended (``operators/incremental.py``) — continuous crawl
    deliveries land deduplicated with no coordinator state.

    Delivery contract: checkpointed at-least-once batches + the
    content-fingerprint anti-join make redelivery idempotent (a
    replayed batch finds all its fingerprints at rest and appends
    nothing); the commit log makes each append atomic and
    time-travelable. Batches that add nothing publish no commit.
    Raises ``TimeoutError`` (query stopped) if the drain outlasts
    ``timeout_s``.
    """
    from ..operators.incremental import incremental_ingest

    _foreach_batch(
        sdf,
        lambda batch: incremental_ingest(
            table, batch, id_col=id_col, text_col=text_col
        ),
        checkpoint_dir,
        timeout_s,
    )
