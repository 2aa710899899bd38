"""Structured Streaming tests: stream==batch parity with AvailableNow,
watermark late-data semantics across micro-batches, sessionization, and
the custom stateful per-user operator.

Mode choices mirror streaming semantics, not convenience:
  * parity checks run UNwatermarked in complete mode — append-mode
    output is by design the finalized-window subset, so equality with
    batch only holds for the full (complete) result;
  * the watermark test runs append mode across ordered micro-batches
    and observes the drop through a finalized window's count.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.sources.catalog import load_table
from nyc_taxi_etl_spark.streaming import (
    read_events_stream,
    run_available_now,
    sliding_value_avg,
    tumbling_event_counts,
    user_running_totals,
    user_session_windows,
)

SF_DIR = "/root/testdata/sf0.001"


def _naive(series: pd.Series) -> pd.Series:
    return series.dt.tz_localize(None) if getattr(series.dt, "tz", None) is not None else series


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage sf0.001 events into a streaming input dir, split into four
    time-ranged files (repartitionByRange) so AvailableNow runs several
    in-order micro-batches like monthly files landing over time."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "events_in")
    (
        load_table(spark, SF_DIR, "events")
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(src)
    )
    return src


def _ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_tumbling_parity_with_batch(spark, events_dir, tmp_path_factory):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_available_now(
        tumbling_event_counts(stream, watermark=None),
        "t_tumbling",
        _ckpt(tmp_path_factory),
        output_mode="complete",
    ).toPandas()

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
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
        .toPandas()
    )
    for frame in (got, batch):
        for c in ("window_start", "window_end"):
            frame[c] = _naive(frame[c])
    key = ["window_start", "window_end", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, batch)


def test_drain_timeout_stops_query_and_raises(spark, events_dir, tmp_path_factory):
    """A drain that outlasts its timeout must not hand back the
    partial memory sink: it stops the query, raises, and restores the
    session's shuffle width."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with pytest.raises(TimeoutError):
        run_available_now(
            tumbling_event_counts(stream, watermark=None),
            "t_timeout",
            _ckpt(tmp_path_factory),
            output_mode="complete",
            timeout_s=0.001,
        )
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_sliding_window_counts(spark, events_dir, tmp_path_factory):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=None)
    got = run_available_now(
        sliding_value_avg(stream, watermark=None),
        "t_sliding",
        _ckpt(tmp_path_factory),
        output_mode="complete",
    ).toPandas()
    # every event falls in exactly 2 overlapping (2h window, 1h slide) windows
    total_events = load_table(spark, SF_DIR, "events").count()
    assert got["event_count"].sum() == 2 * total_events


def _write_events_file(spark, base, src, name, rows):
    """Write one parquet events file (ts as epoch nanos) into src."""
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([r[0] for r in rows]).astype("int64"),
            "user_id": [r[1] for r in rows],
            "event_type": ["purchase"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    tmp = str(base / ("stage_" + name))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.makedirs(src, exist_ok=True)
    shutil.copy(os.path.join(tmp, part), os.path.join(src, name + ".parquet"))
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def test_session_windows_merge_within_gap(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sess")
    src = str(base / "in")
    _write_events_file(
        spark,
        base,
        src,
        "sessions",
        [
            ("2024-01-01 10:00:00", 1),  # u1 session A
            ("2024-01-01 10:10:00", 1),  # u1 session A (gap 10m < 30m)
            ("2024-01-01 12:00:00", 1),  # u1 session B (gap 110m)
            ("2024-01-01 10:05:00", 2),  # u2 session A
            ("2024-01-01 23:00:00", 2),  # u2 session B
        ],
    )
    stream = read_events_stream(spark, src)
    got = run_available_now(
        user_session_windows(stream, gap="30 minutes", watermark=None),
        "t_sessions",
        _ckpt(tmp_path_factory),
        output_mode="complete",
    ).toPandas()
    assert len(got) == 4  # two sessions per user
    u1 = got[got.user_id == 1].sort_values("session_start")
    assert list(u1["events_in_session"]) == [2, 1]
    # session spans first event → last event + gap
    a = u1.iloc[0]
    assert (a["session_end"] - a["session_start"]) == pd.Timedelta("40 minutes")


def test_watermark_drops_late_rows_across_batches(spark, tmp_path_factory):
    """File 1 advances the watermark to 12:00−2h = 10:00 (applied to
    micro-batch filtering one batch later — observed Spark behavior, so
    file 2 keeps the stream busy). File 3's 08:45 row is then late: its
    window [08:00,09:00) closed strictly before the in-effect watermark
    and the row must be dropped, leaving the 08:00 window at the two
    on-time rows. (A window whose end EQUALS the watermark is still
    open — the boundary is strict.)"""
    base = tmp_path_factory.mktemp("late")
    src = str(base / "in")
    _write_events_file(
        spark, base, src, "a_first",
        [("2024-01-01 08:00:00", 1), ("2024-01-01 08:15:00", 1), ("2024-01-01 12:00:00", 1)],
    )
    _write_events_file(spark, base, src, "b_second", [("2024-01-01 12:30:00", 2)])
    _write_events_file(
        spark, base, src, "c_third",
        [("2024-01-01 08:45:00", 3), ("2024-01-01 13:00:00", 3)],
    )

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    got = run_available_now(
        tumbling_event_counts(stream, window="1 hour", watermark="2 hours"),
        "t_late",
        _ckpt(tmp_path_factory),
        output_mode="append",
    ).toPandas()
    got["window_start"] = _naive(got["window_start"])
    by_start = got.set_index(got["window_start"].astype(str))
    assert "2024-01-01 08:00:00" in by_start.index
    # the late 08:45 row was NOT added: 2 on-time rows only
    assert int(by_start.loc["2024-01-01 08:00:00", "event_count"]) == 2
    # windows past the final watermark (10:30) never finalize in append
    assert "2024-01-01 12:00:00" not in by_start.index


def test_user_running_totals_stateful(spark, events_dir, tmp_path_factory):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_available_now(
        user_running_totals(stream),
        "t_running",
        _ckpt(tmp_path_factory),
        output_mode="update",
    ).toPandas()
    # last emission per user == batch totals
    last = got.sort_values("events_seen").groupby("user_id").last()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("events_seen"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("value_total"),
        )
        .toPandas()
        .set_index("user_id")
    )
    joined = last.join(batch, lsuffix="_s", rsuffix="_b")
    assert (joined["events_seen_s"] == joined["events_seen_b"]).all()
    assert (abs(joined["value_total_s"] - joined["value_total_b"]) < 1e-3).all()


def test_streaming_dedup_drops_redeliveries(spark, tmp_path_factory):
    # at-least-once delivery: the same events land twice (two files);
    # the watermarked dedup must emit each event_id exactly once and
    # agree with batch dropDuplicates over the same input
    from nyc_taxi_etl_spark.streaming.events import dedup_events_stream

    base = tmp_path_factory.mktemp("dedupstream")
    src = str(base / "events_in")
    ev = load_table(spark, SF_DIR, "events").limit(500).cache()
    ev.write.parquet(src)  # first delivery
    ev.write.mode("append").parquet(src)  # duplicate redelivery

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    got = run_available_now(
        dedup_events_stream(stream, keys=("event_id",)),
        "dedup_stream_q",
        _ckpt(tmp_path_factory),
        output_mode="append",
    )
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500
    # value-level parity with the batch dedup of the doubled input
    batch = spark.read.parquet(src).dropDuplicates(["event_id"])
    assert got.count() == batch.count()
    ev.unpersist()


def test_streaming_curation_scorers_compose(spark, tmp_path_factory):
    """The row-local curation projections (quality classifier, repeat
    collapse, PII redaction) run unchanged on a readStream source and
    match their batch results exactly — stateless narrow ops need no
    streaming-specific variant."""
    from nyc_taxi_etl_spark.operators.classifier import score_fixed_lexicon
    from nyc_taxi_etl_spark.operators.rules import c4_line_filter, gopher_keep
    from nyc_taxi_etl_spark.operators.text import collapse_repeated_ngrams
    from nyc_taxi_etl_spark.streaming.events import run_available_now

    base = tmp_path_factory.mktemp("docstream")
    src = str(base / "docs_in")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs.repartition(3).write.parquet(src)

    def curation(df):
        scored = score_fixed_lexicon(df)
        derep = df.select(
            "doc_id",
            collapse_repeated_ngrams(F.col("text")).alias("_r"),
            # rule filters are row-local expressions too: same
            # stream/batch parity guarantee
            gopher_keep(F.col("text"), min_stopword_hits=1).alias(
                "gopher_ok"
            ),
        ).select(
            "doc_id",
            F.col("_r.removed_tokens").alias("removed_tokens"),
            "gopher_ok",
        )
        c4 = c4_line_filter(df).select("doc_id", "kept_lines", "doc_kept")
        return scored.join(derep, "doc_id").join(c4, "doc_id")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = (
        run_available_now(
            curation(stream), "t_curation", _ckpt(tmp_path_factory)
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    batch = (
        curation(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, batch)
