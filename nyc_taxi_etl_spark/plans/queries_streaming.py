"""Catalog queries that execute through Structured Streaming.

Each entry stages the sf events table as a streaming file source,
drains it with ``Trigger.AvailableNow`` through a windowed/stateful
streaming plan, and returns the materialized result — so the driver's
DuckDB comparison checks REAL streaming execution (micro-batching,
state store, group-state) against plain ANSI SQL. This is the
extension surface SURVEY.md §2.10 calls for: the reference's batch
month-loop incrementality re-expressed as checkpointed streams.

Oracle notes:
  * tumbling window ≡ ``time_bucket(INTERVAL '1 hour', ts)``;
  * session windows ≡ the classic gaps-and-islands rewrite (lag →
    new-session flag → cumulative sum → per-island agg), with Spark's
    boundary semantics: a gap of EXACTLY ``gap`` starts a new session
    (window end is exclusive);
  * the stateful running-totals operator converges to the plain
    per-user aggregate, selected via ``max_by`` on the final emission.

Window bounds are emitted as 'yyyy-MM-dd HH:mm:ss' strings so the
cross-engine hash is timezone-representation-proof.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    read_events_stream,
    run_available_now,
    tumbling_event_counts,
    user_running_totals,
    user_session_windows,
)
from .queries import query

_FMT = "yyyy-MM-dd HH:mm:ss"


def _stage_events(sf_dir: str, d: str) -> None:
    # the file source requires a directory of data files: stage
    # events.parquet into ``d`` via symlinks (no data copy).
    # Two layouts exist — the driver testdata is a single parquet
    # FILE; Spark-written datasets (tools/gen_scale_data.py) are a
    # DIRECTORY of part files, whose nested dir would be invisible to
    # the source's non-recursive listing — so link part files
    # individually in that case.
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        for i, part in enumerate(sorted(os.listdir(src))):
            if part.endswith(".parquet"):
                os.symlink(f"{src}/{part}", f"{d}/part_{i}.parquet")
    else:
        os.symlink(src, f"{d}/events.parquet")


def _drain(
    spark: SparkSession,
    sf_dir: str,
    plan: Callable[[DataFrame], DataFrame],
    mode: str,
) -> DataFrame:
    """Drain ``plan(events stream)`` with ``Trigger.AvailableNow`` into a
    memory sink and return the sink's table. The staged source and the
    checkpoint are removed once the drain ends: the sink holds the whole
    result, and nothing reads either directory again."""
    from ..sources.scratch import scratch_dirs

    with scratch_dirs("events_src_", "ckpt_") as (src, ckpt):
        _stage_events(sf_dir, src)
        stream = read_events_stream(spark, src, max_files_per_trigger=None)
        return run_available_now(
            plan(stream), "q_" + uuid.uuid4().hex[:12], ckpt, output_mode=mode
        )


@query(
    "streaming_tumbling_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS event_count,
           ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly dashboard computed BY THE STREAMING ENGINE (tumbling
    window, complete mode) — must equal the batch GROUP BY the oracle
    runs. Scale: per-micro-batch partial aggregation into the state
    store; state is O(open windows × event types)."""
    out = _drain(
        spark, sf_dir, lambda s: tumbling_event_counts(s, watermark=None), "complete"
    )
    return out.select(
        F.date_format("window_start", _FMT).alias("window_start"),
        "event_type",
        "event_count",
        "sum_value",
    )


@query(
    "streaming_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    islands AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(count(*) AS BIGINT) AS events_in_session,
           ROUND(sum(value), 4) AS session_value
    FROM islands GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization via the streaming engine's
    session_window (30-minute gap), oracle-checked against the
    gaps-and-islands SQL rewrite. Scale: session state is bounded by
    the watermark in production (complete mode here only to compare the
    full result)."""
    out = _drain(
        spark,
        sf_dir,
        lambda s: user_session_windows(s, gap="30 minutes", watermark=None),
        "complete",
    )
    return out.select(
        "user_id",
        F.date_format("session_start", _FMT).alias("session_start"),
        F.date_format("session_end", _FMT).alias("session_end"),
        "events_in_session",
        "session_value",
    )


@query(
    "streaming_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS events_seen,
           ROUND(sum(coalesce(value, 0)), 4) AS value_total
    FROM events GROUP BY 1
    """,
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    per-user totals) drained over the whole table; its final emission
    per user must equal the batch aggregate. ``max_by`` picks the last
    (highest events_seen) emission per user."""
    out = _drain(spark, sf_dir, user_running_totals, "update")
    return out.groupBy("user_id").agg(
        F.max("events_seen").alias("events_seen"),
        F.round(F.max_by("value_total", "events_seen"), 4).alias("value_total"),
    )


@query(
    "streaming_sliding_avg",
    """
    WITH w AS (
      SELECT value,
             unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'])
               AS window_start
      FROM events)
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(window_start + INTERVAL '2 hours', '%Y-%m-%d %H:%M:%S')
             AS window_end,
           CAST(count(*) AS BIGINT) AS event_count,
           ROUND(sum(value), 4) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def streaming_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour moving average sliding every hour, computed BY THE
    STREAMING ENGINE — each event lands in exactly window/slide = 2
    epoch-aligned windows, which the oracle replays by exploding the
    two candidate starts per event; the hash compares the r4 SUM (a
    rounded AVG sits on exact .xxxx5 midpoints where summation-order
    ulp flips engines). Scale: state is O(open windows), each
    micro-batch does map-side partial aggregation."""
    from ..streaming import sliding_value_avg

    out = _drain(
        spark, sf_dir, lambda s: sliding_value_avg(s, watermark=None), "complete"
    )
    return out.select(
        F.date_format("window_start", _FMT).alias("window_start"),
        F.date_format("window_end", _FMT).alias("window_end"),
        "event_count",
        "sum_value",
    )


@query(
    "streaming_purchase_error_pairs",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    e AS (SELECT event_id AS error_id, user_id, ts AS e_ts
          FROM events WHERE event_type = 'error')
    SELECT p.purchase_id, e.error_id, p.user_id,
           epoch_us(p.p_ts) - epoch_us(e.e_ts) AS lag_us,
           ROUND(p.value, 4) AS purchase_value
    FROM p JOIN e ON e.user_id = p.user_id
      AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
      AND e.e_ts <= p.p_ts + INTERVAL 30 MINUTE
    """,
)
def streaming_purchase_error_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval self-join executed by the streaming
    engine (§2.10 extension): purchases pair with same-user errors
    within ±30 minutes, oracle-checked against the equivalent batch
    range join. The event-time range predicate + both-side watermarks
    are what bound the join state store (an error is evicted once the
    watermark passes e_ts + 30 min) — without them stream-stream join
    state grows without limit.

    Scale: both sides hash-shuffle on user_id once; per-key state is
    the 2×30-minute window regardless of stream length. Inner join
    emits eagerly (no watermark-close latency)."""
    from ..streaming import purchase_error_stream_join

    return _drain(spark, sf_dir, purchase_error_stream_join, "append")


@query(
    "streaming_ewma_anomalies",
    """
    WITH per_user AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY 1
    ),
    folded AS (
      SELECT user_id, len(vals) AS n_scored,
             list_reduce(
               list_prepend(
                 struct_pack(x := 0.0::DOUBLE, n_anom := 0::BIGINT,
                             max_dev := 0.0::DOUBLE, var := 0.0::DOUBLE,
                             mean := 0.0::DOUBLE, n := 0::BIGINT),
                 list_transform(vals, v -> struct_pack(
                     x := v, n_anom := 0::BIGINT, max_dev := 0.0::DOUBLE,
                     var := 0.0::DOUBLE, mean := 0.0::DOUBLE,
                     n := 0::BIGINT))),
               (acc, e) -> struct_pack(
                 x := e.x,
                 n_anom := acc.n_anom + CASE WHEN acc.n >= 5 AND
                     (CASE WHEN acc.n > 0 AND acc.var > 0
                           THEN abs(e.x - acc.mean) / sqrt(acc.var)
                           ELSE 0.0::DOUBLE END) > 3.0::DOUBLE
                     THEN 1 ELSE 0 END,
                 max_dev := greatest(acc.max_dev,
                     CASE WHEN acc.n > 0 AND acc.var > 0
                          THEN abs(e.x - acc.mean) / sqrt(acc.var)
                          ELSE 0.0::DOUBLE END),
                 var := CASE WHEN acc.n = 0 THEN 0.0::DOUBLE
                        ELSE (1.0::DOUBLE - 0.2::DOUBLE)
                             * (acc.var + 0.2::DOUBLE * (e.x - acc.mean)
                                          * (e.x - acc.mean)) END,
                 mean := CASE WHEN acc.n = 0 THEN e.x
                         ELSE acc.mean
                              + 0.2::DOUBLE * (e.x - acc.mean) END,
                 n := acc.n + 1)
             ) AS s
      FROM per_user
    )
    SELECT user_id, n_scored::BIGINT AS n_scored,
           (s.n_anom)::BIGINT AS n_anomalies,
           s.max_dev AS max_deviation
    FROM folded
    """,
)
def streaming_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (§2.10/§2.11 north star):
    per-user EWMA anomaly scoring through the arbitrary-state API
    (streaming/stateful.py, applyInPandasWithState), rolled up per
    user. Exact stream-vs-batch-replay parity incl.
    cross-micro-batch state carry is pinned in
    tests/test_stateful_streaming.py.

    FULL oracle since r7 (was rows-only "not SQL-expressible"): the
    sequential per-key recurrence IS expressible as a DuckDB
    list_reduce fold over the per-user (ts, event_id)-ordered value
    list, with every float op in the identical IEEE order the Python
    state machine runs — so counts AND the (unrounded) max deviation
    are bit-identical cross-engine. Struct fields in the fold are
    ordered so each assignment reads only pre-update state under both
    simultaneous and sequential struct-evaluation semantics.

    Scale: O(1) state per user (three doubles); one shuffle on
    user_id; Arrow-batched processing per key group (chunks of one
    key concatenated before the in-order fold — see stateful.py)."""
    from ..streaming.stateful import ewma_anomaly_stream

    out = _drain(spark, sf_dir, ewma_anomaly_stream, "append")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("is_anomaly").cast("long").alias("n_anomalies"),
            F.max("deviation_sigma").alias("max_deviation"),
        )
    )


@query(
    "streaming_static_enrichment",
    """
    WITH heavy AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS total_events
      FROM events GROUP BY 1),
    tiers AS (
      SELECT user_id,
             CASE WHEN total_events >= 70 THEN 'heavy' ELSE 'light' END
               AS tier
      FROM heavy)
    SELECT t.tier, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(e.value), 4) AS total_value
    FROM events e JOIN tiers t USING (user_id)
    GROUP BY 1, 2
    """,
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream enriched per micro-batch
    against a STATIC dimension (a batch-derived user-tier table), then
    aggregated by tier × type — the reference-data enrichment shape
    every production stream needs (user profiles, zone lookups), which
    is planned per micro-batch with NO state store (the static side is
    just re-planned — broadcast here since tiers ≪ stream).

    Scale: static side is |users| rows — AQE/broadcast sizes it; the
    stream side never waits on watermarks because a static join emits
    immediately. Oracle = the identical batch join + agg."""
    from ..sources.catalog import load_table

    batch_events = load_table(spark, sf_dir, "events")
    tiers = (
        batch_events.groupBy("user_id")
        .agg(F.count("*").alias("total_events"))
        .select(
            "user_id",
            F.when(F.col("total_events") >= 70, "heavy")
            .otherwise("light")
            .alias("tier"),
        )
    )
    def enriched(stream: DataFrame) -> DataFrame:
        return stream.join(tiers, "user_id").groupBy("tier", "event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )

    return _drain(spark, sf_dir, enriched, "complete")


@query(
    "streaming_dedup_counts",
    """
    WITH d AS (
      SELECT DISTINCT event_type, user_id,
             time_bucket(INTERVAL '1 minute', ts) AS minute
      FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS unique_user_minutes
    FROM d GROUP BY event_type
    """,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingestion dedup BY THE STREAMING ENGINE:
    ``dropDuplicatesWithinWatermark`` on (event_type, user_id, minute)
    — dedup state evicted as the event-time watermark passes, the
    bounded-state posture plain ``dropDuplicates`` lacks — feeding an
    in-engine per-type aggregation. Oracle is the batch
    SELECT DISTINCT. The dedup key fully determines the rollup, so
    which physical duplicate row survives cannot affect the result
    (the oracle-safety requirement for streaming dedup)."""
    from ..streaming import dedup_events_stream

    def counts(stream: DataFrame) -> DataFrame:
        s = stream.select(
            "ts",
            "event_type",
            "user_id",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        dd = dedup_events_stream(
            s, keys=("event_type", "user_id", "minute"), watermark="1 hour"
        )
        return dd.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("unique_user_minutes")
        )

    return _drain(spark, sf_dir, counts, "complete")


from .queries_sketches import cms_sketch_sql as _cms_sketch_sql


@query(
    "streaming_user_cms",
    _cms_sketch_sql(depth=4, width=64, seed=7),
)
def streaming_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained BY THE STREAMING ENGINE: the sketch
    build (explode hash rows → groupBy (j, bucket) count) IS a
    streaming aggregation, so the state store does the merging
    incrementally per micro-batch — the live twin of the batch
    ``user_count_cms`` pre-aggregate, and the proof that the sketch's
    mergeability and streaming-agg compatibility are the same
    property. Because CMS merge is EXACT (counter sums), the drained
    complete-mode state must equal the batch-built sketch
    bit-for-bit — which is exactly what the oracle checks.

    Scale: state is bounded at depth×width counters regardless of
    stream volume or key cardinality — the smallest possible stateful
    streaming footprint (cf. the per-user/per-window state of the
    other streaming entries)."""
    from ..operators.sketches import cms_table

    out = _drain(
        spark,
        sf_dir,
        lambda s: cms_table(s.select("user_id"), "user_id", depth=4, width=64, seed=7),
        "complete",
    )
    return out.select(
        F.col("j").cast("long").alias("j"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("c").cast("long").alias("c"),
    )


def _stream_ddsketch_sql(alpha: float = 0.01) -> str:
    import math

    g = (1 + alpha) / (1 - alpha)
    lng = math.log(g)
    return f"""
    SELECT event_type,
           CAST(ceil(ln(value) / {lng!r}) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS c
    FROM events WHERE value > 0
    GROUP BY 1, 2
    """


@query(
    "streaming_value_ddsketch",
    _stream_ddsketch_sql(),
)
def streaming_value_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch maintained BY THE STREAMING ENGINE: the bucket build
    (positive filter -> groupBy (type, log-bucket) count) IS a
    streaming aggregation, so the state store merges the quantile
    sketch incrementally per micro-batch — the live twin of the batch
    ``event_value_ddsketch`` pre-aggregate, closing the sketch-family
    symmetry (HLL rollup / CMS batch+stream / DDSketch batch+stream).
    Because DDSketch merge is EXACT (per-bucket counter sums), the
    drained complete-mode state must equal the batch-built sketch
    bit-for-bit — the oracle replays exactly that bucket table (the
    ln-divide uses the same Python double literal both sides; bucket
    ids are integers, so there is nothing to round).

    Scale: state is bounded at ~ln(max/min)/ln(gamma) counters per
    event type (~hundreds at alpha=0.01) regardless of stream volume —
    the same smallest-possible-stateful-footprint posture as the
    streaming CMS; quantile read-out stays a bounded batch window over
    the drained table (see the batch entry)."""
    from ..operators.ddsketch import ddsketch_buckets

    out = _drain(
        spark,
        sf_dir,
        lambda s: ddsketch_buckets(
            s.select("event_type", "value"), "value", ["event_type"], alpha=0.01
        ),
        "complete",
    )
    return out.select(
        F.col("event_type"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("c").cast("long").alias("c"),
    )


@query(
    "streaming_purchase_error_left",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    e AS (SELECT event_id AS error_id, user_id, ts AS e_ts
          FROM events WHERE event_type = 'error'),
    wm AS (SELECT least((SELECT max(p_ts) FROM p),
                        (SELECT max(e_ts) FROM e))
                  - INTERVAL 2 HOUR AS w)
    SELECT p.purchase_id, e.error_id, p.user_id,
           epoch_us(p.p_ts) - epoch_us(e.e_ts) AS lag_us,
           ROUND(p.value, 4) AS purchase_value
    FROM p JOIN e ON e.user_id = p.user_id
      AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
      AND e.e_ts <= p.p_ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT p.purchase_id, NULL AS error_id, p.user_id,
           NULL AS lag_us, ROUND(p.value, 4) AS purchase_value
    FROM p, wm
    WHERE NOT EXISTS (SELECT 1 FROM e
                      WHERE e.user_id = p.user_id
                        AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
                        AND e.e_ts <= p.p_ts + INTERVAL 30 MINUTE)
      AND p.p_ts + INTERVAL 30 MINUTE < wm.w
    """,
)
def streaming_purchase_error_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-extension
    semantics the inner entry cannot exercise: a purchase with no
    same-user error within ±30 min is emitted with null error columns
    only once the GLOBAL watermark (min across both sides) proves no
    future error can match, i.e. strictly after ``p_ts + 30 min``;
    younger unmatched purchases stay withheld in state when a finite
    run ends. The oracle replicates exactly that cutoff (matched rows
    unconditionally; null rows gated on the final watermark
    ``min(max p_ts, max e_ts) − 2 h``); the strict-inequality
    boundary is pinned on a crafted window-end == watermark dataset
    in tests/test_streaming_state.py.

    Scale: same bounded symmetric-hash state as the inner entry (per-
    key 2x30-minute window, eviction by watermark); the null-emission
    pass rides state eviction, adding no extra shuffle."""
    from ..streaming import purchase_error_stream_join

    return _drain(
        spark,
        sf_dir,
        lambda s: purchase_error_stream_join(s, how="left_outer"),
        "append",
    )


@query(
    "streaming_holt_trend",
    """
    WITH per_user AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY 1
    ),
    folded AS (
      SELECT user_id, len(vals) AS n_scored,
             list_reduce(
               list_prepend(
                 [0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
                 list_transform(vals, v ->
                   [v, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
               -- acc = [level, trend, max_res, n]; LIST state, not a
               -- struct: DuckDB's executed (non-constant-folded)
               -- list_reduce REBINDS struct fields sequentially inside
               -- struct_pack, so a field assigned later reads the
               -- UPDATED earlier field — fatal for Holt, whose level
               -- and trend both need the pre-update pair (a genuine
               -- 2-cycle, unlike the EWMA fold where var->mean is
               -- one-directional and field ordering sufficed). List
               -- construction has no named fields to rebind; measured
               -- bit-exact against the Python recurrence.
               (acc, e) -> [
                 CASE WHEN acc[4] = 0.0::DOUBLE THEN e[1]
                      ELSE 0.3::DOUBLE * e[1]
                           + (1.0::DOUBLE - 0.3::DOUBLE)
                             * (acc[1] + acc[2]) END,
                 CASE WHEN acc[4] = 0.0::DOUBLE THEN 0.0::DOUBLE
                      ELSE 0.1::DOUBLE
                           * ((0.3::DOUBLE * e[1]
                               + (1.0::DOUBLE - 0.3::DOUBLE)
                                 * (acc[1] + acc[2]))
                              - acc[1])
                           + (1.0::DOUBLE - 0.1::DOUBLE) * acc[2] END,
                 greatest(acc[3],
                     CASE WHEN acc[4] = 0.0::DOUBLE THEN 0.0::DOUBLE
                          ELSE abs(e[1] - (acc[1] + acc[2])) END),
                 acc[4] + 1.0::DOUBLE]
             ) AS s
      FROM per_user
    )
    SELECT user_id, n_scored::BIGINT AS n_scored,
           s[1] AS last_level, s[2] AS last_trend,
           s[3] AS max_abs_residual
    FROM folded
    """,
)
def streaming_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double exponential smoothing (level + trend,
    Holt 1957) through the arbitrary-state streaming API — the
    trend-aware sibling of streaming_ewma_anomalies: an EWMA lags a
    steadily-trending series forever (and a z-score flags the trend
    itself); Holt folds the slope into the one-step-ahead forecast, so
    the residual measures surprise AGAINST the trend. Rolled up per
    user: final level/trend (the per-key forecast state a serving
    layer would read) and the max one-step-ahead absolute residual.

    FULL oracle, same discipline as the EWMA fold: the recurrence
    replays as a DuckDB list_reduce over the (ts, event_id)-ordered
    per-user values with every float op in the identical IEEE order.
    One hard-won difference: the accumulator is a LIST, not a struct —
    DuckDB's executed list_reduce rebinds struct_pack fields
    SEQUENTIALLY (a later field reads the UPDATED earlier field),
    which the EWMA fold survives by ordering its one-directional
    var→mean dependency but which breaks Holt's genuine level↔trend
    2-cycle; list construction has no named fields to rebind (see the
    oracle's inline comment; measured bit-exact against the Python
    recurrence). Level, trend, and the unrounded max residual are
    bit-identical cross-engine. Stream-vs-replay parity incl.
    cross-micro-batch state carry is pinned in
    tests/test_stateful_streaming.py.

    Scale: O(1) state per user (two doubles + a count); one shuffle
    on user_id; Arrow-batched per-key fold (chunks concatenated then
    sorted once — see _ordered_batch)."""
    from ..streaming.stateful import holt_trend_stream

    out = _drain(spark, sf_dir, holt_trend_stream, "append")
    return out.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_scored"),
        F.max_by("level_after", "n_after").alias("last_level"),
        F.max_by("trend_after", "n_after").alias("last_trend"),
        F.max("abs_residual").alias("max_abs_residual"),
    )


def _cusum_sql() -> str:
    # identical output contract to the batch fold entry: the streaming
    # drain rolls up to the same per-user report, so the SAME oracle
    # verifies both the Catalyst fold AND the stateful streaming path
    from .queries_timeseries import _CUSUM_SQL

    return _CUSUM_SQL


@query("streaming_cusum_drift", _cusum_sql())
def streaming_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM drift detection THROUGH THE STREAMING
    ENGINE (streaming/stateful.py::cusum_drift_stream) — the
    persistent-shift member of the stateful monitoring trio, each now
    with a batch twin and a streaming twin sharing one recurrence:
    EWMA (level surprise), Holt (trend surprise), CUSUM (accumulated
    small shifts). Per-event the stream emits both arm values and the
    alarm decision; this entry rolls the drain up to the identical
    per-user report as the batch fold entry ``user_value_cusum`` —
    and reuses its DuckDB oracle VERBATIM, so the streaming path is
    value-checked against the same spec that checks the Catalyst
    fold (every float op in the same IEEE order across all three
    implementations: fold, stream step, SQL).

    Scale: O(1) state per user (two doubles + a count) in the state
    store; one shuffle on user_id; applyInPandasWithState;
    stream-vs-replay parity incl. cross-micro-batch state carry pinned
    in tests/test_stateful_streaming.py."""
    from ..streaming.stateful import CUSUM_H, cusum_drift_stream

    out = _drain(spark, sf_dir, cusum_drift_stream, "append")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max_by("pos_after", "n_after").alias("final_pos"),
        F.max_by("neg_after", "n_after").alias("final_neg"),
        F.max("pos_after").alias("max_pos"),
        F.max("neg_after").alias("max_neg"),
        F.sum("alarm").cast("long").alias("alarm_steps"),
        (
            (F.max("pos_after") > F.lit(CUSUM_H))
            | (F.max("neg_after") > F.lit(CUSUM_H))
        ).cast("long").alias("alarmed"),
    )
