"""Stateful streaming detectors (EWMA, Holt, CUSUM on
applyInPandasWithState): multi-batch state carry-over must reproduce
the exact batch recurrence replay."""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_etl_spark.streaming.stateful import (
    ewma_anomaly_stream,
    ewma_replay_pandas,
)

from .conftest import SF_DIR


def _stage_two_batches(tmp_path):
    """Two time-ordered files: a small series per user, with one
    planted 100x outlier per user in the SECOND file (so detection
    requires state carried from batch 1)."""
    rows1, rows2 = [], []
    for uid in range(5):
        for i in range(20):
            val = 10.0 + (i % 5) * 0.5 + uid
            rows1.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))
        for i in range(20, 40):
            val = 10.0 + (i % 5) * 0.5 + uid
            if i == 25:
                val = 1000.0  # planted anomaly
            rows2.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))

    def write(rows, name):
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[2] * 1_000_000 for r in rows], pa.timestamp("us")
                ),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        )
        pq.write_table(t, str(tmp_path / name))

    write(rows1, "batch-000.parquet")
    write(rows2, "batch-001.parquet")
    return [(r[0], r[1], r[2], r[3]) for r in rows1 + rows2]


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_ewma_stream_matches_batch_replay(spark, tmp_path, files_per_trigger):
    rows = _stage_two_batches(tmp_path)
    schema = spark.read.parquet(str(tmp_path)).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    sdf = reader.parquet(str(tmp_path))

    out = ewma_anomaly_stream(sdf)
    name = "ewma_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.event_id: (round(r.deviation_sigma, 9), r.is_anomaly)
        for r in spark.table(name).collect()
    }

    want = ewma_replay_pandas(rows)
    assert len(got) == len(want) == 200
    mismatches = {
        k: (got[k], want[k]) for k in want if got[k] != want[k]
    }
    assert not mismatches, dict(list(mismatches.items())[:5])
    # each user's planted outlier is flagged, and only those
    flagged = [k for k, (_, a) in got.items() if a == 1]
    assert sorted(flagged) == [uid * 1000 + 25 for uid in range(5)]


def test_multi_chunk_key_folds_in_global_order():
    """r7 fix: a key whose micro-batch arrives as SEVERAL Arrow chunks
    must fold in global (ts, event_id) order — the old per-chunk sort
    interleaved chunks out of order. _ordered_batch is the shared
    concat-then-sort every detector runs its fold over."""
    import pandas as pd

    from nyc_taxi_etl_spark.streaming.stateful import _ordered_batch

    def mk(rows):
        return pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts", "value"]
        ).astype({"ts": "datetime64[ns]"})

    rows = [
        (1, i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), v)
        for i, v in enumerate([10.0, 12.0, 11.0, 30.0, 9.0, 10.5, 80.0])
    ]
    # later events arrive in the FIRST chunk; a same-instant pair
    # (event_ids 7 vs 3 at minute 3) must break ties by event_id
    tied = (1, 7, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=3), 5.0)
    batch = _ordered_batch(iter([mk(rows[4:] + [tied]), mk(rows[:4]), mk([])]))
    assert batch["event_id"].tolist() == [0, 1, 2, 3, 7, 4, 5, 6]
    assert _ordered_batch(iter([mk([])])).empty
    assert _ordered_batch(iter([])).empty


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_holt_stream_matches_batch_replay(spark, tmp_path, files_per_trigger):
    """Holt level+trend twin: the streamed per-event residuals and the
    final (level, trend) state must reproduce the exact batch
    recurrence replay — with maxFilesPerTrigger=1 the state crosses a
    real micro-batch boundary. The staged series TRENDS (slope +1 per
    step with a small wiggle), the case an EWMA-based detector
    structurally lags."""
    from nyc_taxi_etl_spark.streaming.stateful import (
        holt_replay_pandas,
        holt_trend_stream,
    )

    rows1, rows2 = [], []
    for uid in range(4):
        for i in range(15):
            val = float(uid * 100 + i) + (0.3 if i % 2 else -0.3)
            rows1.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))
        for i in range(15, 30):
            val = float(uid * 100 + i) + (0.3 if i % 2 else -0.3)
            if i == 20:
                val += 50.0  # level shock against the trend forecast
            rows2.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))

    def write(rows, name):
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[2] * 1_000_000 for r in rows], pa.timestamp("us")
                ),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        )
        pq.write_table(t, str(tmp_path / name))

    write(rows1, "batch-000.parquet")
    write(rows2, "batch-001.parquet")
    rows = rows1 + rows2

    schema = spark.read.parquet(str(tmp_path)).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    sdf = reader.parquet(str(tmp_path))

    out = holt_trend_stream(sdf)
    name = "holt_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name).collect()
    got_events = {r.event_id: round(r.abs_residual, 9) for r in emitted}
    got_finals = {}
    for r in emitted:
        cur = got_finals.get(r.user_id)
        if cur is None or r.n_after > cur[2]:
            got_finals[r.user_id] = (r.level_after, r.trend_after, r.n_after)

    want = holt_replay_pandas(rows)
    assert len(got_events) == len(want["events"]) == 120
    ev_mismatch = {
        k: (got_events[k], want["events"][k])
        for k in want["events"]
        if got_events[k] != want["events"][k]
    }
    assert not ev_mismatch, dict(list(ev_mismatch.items())[:5])
    assert got_finals == want["finals"]
    # the level shock at i=20 must be each user's max residual: Holt
    # tracks the trend, so steady slope is NOT surprising but the
    # shock is
    for uid in range(4):
        shock = got_events[uid * 1000 + 20]
        others = [
            v for k, v in got_events.items()
            if k // 1000 == uid and k != uid * 1000 + 20
        ]
        assert shock > max(others)


@pytest.mark.parametrize("files_per_trigger", [1, None])
def test_cusum_stream_matches_batch_replay(spark, tmp_path, files_per_trigger):
    """CUSUM drift twin: the streamed per-event arm values / alarms
    and the final (pos, neg, n) state must reproduce the exact batch
    recurrence replay — with maxFilesPerTrigger=1 the accumulated arms
    cross a real micro-batch boundary mid-drift. The staged series
    sits at the in-control mean (50) in batch one, then drifts +40 in
    batch two — the small persistent shift CUSUM exists to catch: the
    upper arm must ramp ACROSS the batch boundary and alarm."""
    from nyc_taxi_etl_spark.streaming.stateful import (
        cusum_drift_stream,
        cusum_replay_pandas,
    )

    rows1, rows2 = [], []
    for uid in range(3):
        for i in range(20):
            val = 50.0 + (3.0 if i % 2 else -3.0)
            rows1.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))
        for i in range(20, 40):
            val = 90.0 + (3.0 if i % 2 else -3.0)  # +40 drift
            rows2.append((uid, uid * 1000 + i, 1_700_000_000 + i * 60, val))

    def write(rows, name):
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[2] * 1_000_000 for r in rows], pa.timestamp("us")
                ),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        )
        pq.write_table(t, str(tmp_path / name))

    write(rows1, "batch-000.parquet")
    write(rows2, "batch-001.parquet")
    rows = rows1 + rows2

    schema = spark.read.parquet(str(tmp_path)).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    sdf = reader.parquet(str(tmp_path))

    out = cusum_drift_stream(sdf)
    name = "cusum_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name).collect()
    got_events = {
        r.event_id: (round(r.pos_after, 9), round(r.neg_after, 9), r.alarm)
        for r in emitted
    }
    got_finals = {}
    for r in emitted:
        cur = got_finals.get(r.user_id)
        if cur is None or r.n_after > cur[2]:
            got_finals[r.user_id] = (r.pos_after, r.neg_after, r.n_after)

    want = cusum_replay_pandas(rows)
    assert len(got_events) == len(want["events"]) == 120
    mism = {
        k: (got_events[k], want["events"][k])
        for k in want["events"]
        if got_events[k] != want["events"][k]
    }
    assert not mism, dict(list(mism.items())[:5])
    assert got_finals == want["finals"]
    # in-control phase never alarms; the drift phase must (the upper
    # arm accumulates (90±3 − 75) ≈ +15/step, crossing h=200 around
    # 14 steps into batch two — state carried across the boundary)
    for uid in range(3):
        phase1 = [got_events[uid * 1000 + i][2] for i in range(20)]
        phase2 = [got_events[uid * 1000 + i][2] for i in range(20, 40)]
        assert sum(phase1) == 0
        assert sum(phase2) > 0


def _drain_entry(spark, name):
    from nyc_taxi_etl_spark.plans import QUERIES, QUERIES_EXTRA

    rows = {**QUERIES, **QUERIES_EXTRA}[name](spark, SF_DIR).collect()
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize(
    "name", ["streaming_ewma_anomalies", "streaming_tumbling_counts"]
)
def test_catalog_drain_rows_do_not_depend_on_state_width(spark, monkeypatch, name):
    """A catalog drain gives the same rows on one state partition as on
    the host's width: the per-key fold orders its own input, and the
    windowed sums are rounded before they are compared."""
    from nyc_taxi_etl_spark.streaming import events

    host = _drain_entry(spark, name)
    monkeypatch.setattr(events, "_state_partitions", lambda _spark: 1)
    assert _drain_entry(spark, name) == host


def test_catalog_drain_state_width_is_min_8_cores(spark, monkeypatch):
    """The drained query runs min(8, defaultParallelism) state
    partitions, whatever the session's shuffle width is."""
    from nyc_taxi_etl_spark.plans import queries_streaming
    from nyc_taxi_etl_spark.streaming import events

    progress: list = []
    monkeypatch.setattr(
        queries_streaming,
        "run_available_now",
        lambda *a, **k: events.run_available_now(*a, progress_out=progress, **k),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        _drain_entry(spark, "streaming_ewma_anomalies")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    assert ops
    want = min(8, spark.sparkContext.defaultParallelism)
    assert {op["numShufflePartitions"] for op in ops} == {want}


@pytest.mark.parametrize(
    "name", ["streaming_ewma_anomalies", "streaming_tumbling_counts"]
)
def test_catalog_drain_removes_its_scratch_dirs(spark, duck, monkeypatch, tmp_path, name):
    """A catalog drain removes its staged source and its checkpoint once
    it has drained (the memory sink holds the result), and the returned
    frame still matches the oracle after both are gone."""
    from nyc_taxi_etl_spark.plans import ORACLE, ORACLE_EXTRA, QUERIES, QUERIES_EXTRA
    from nyc_taxi_etl_spark.sources import scratch

    from .compare import assert_frames_match

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        scratch,
        "scratch_dir",
        lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp_path),
    )
    out = {**QUERIES, **QUERIES_EXTRA}[name](spark, SF_DIR)
    left = [d for d in os.listdir(tmp_path) if d.startswith(("ckpt_", "events_src_"))]
    assert not left
    want = duck.execute({**ORACLE, **ORACLE_EXTRA}[name]).df()
    assert_frames_match(out.toPandas(), want, name)
