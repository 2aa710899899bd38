"""Streaming-join state calibration (VERDICT r5 task #6).

``streaming_purchase_error_pairs`` is the noisiest bench entry
(2.3–6.1 s across r5 runs) — these assertions pin its PLAN and STATE
shape so a future bench regression is attributable to a plan change,
not host load:

* exactly ONE stateful operator, the symmetric-hash stream-stream join;
* watermark eviction actually runs: with the input drained in
  time-ordered micro-batches, the final state-store row count is
  bounded by the events inside the eviction horizon (watermark delay +
  join tolerance behind the previous batch's max event time) — the
  "interval width x key domain" contract from the operator docstring —
  and is a small fraction of the full stream.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from nyc_taxi_etl_spark.sources.catalog import load_table
from nyc_taxi_etl_spark.streaming import (
    purchase_error_stream_join,
    read_events_stream,
    run_available_now,
)

SF_DIR = "/root/testdata/sf0.01"
N_CHUNKS = 5
WATERMARK = "2 hours"
TOLERANCE = "30 minutes"
HORIZON_S = 2 * 3600 + 30 * 60  # watermark + tolerance


def _staged_chunks(spark, d):
    """Stage sf0.01 events under ``d`` as N_CHUNKS contiguous-time
    parquet files with increasing mtimes, so maxFilesPerTrigger=1
    replays the stream in event-time order and the watermark advances
    between batches."""
    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).total_seconds()
    os.makedirs(d)
    bounds = []
    for i in range(N_CHUNKS):
        a = lo + __import__("datetime").timedelta(seconds=span * i / N_CHUNKS)
        b = lo + __import__("datetime").timedelta(
            seconds=span * (i + 1) / N_CHUNKS
        )
        chunk = ev.where(
            (F.col("ts") >= F.lit(a))
            & (F.col("ts") < F.lit(b) if i < N_CHUNKS - 1 else F.lit(True))
        )
        tmp = os.path.join(d, f"_stage_{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f_ for f_ in os.listdir(tmp)
            if f_.startswith("part-") and f_.endswith(".parquet")
        )
        path = os.path.join(d, f"chunk_{i}.parquet")
        os.replace(os.path.join(tmp, part), path)
        import shutil

        shutil.rmtree(tmp)
        t = 1_700_000_000 + i * 10
        os.utime(path, (t, t))
        bounds.append((a, b))
    return d, bounds, hi


def test_left_outer_null_emission_boundary_is_strict(spark, tmp_path):
    """Pin the null-emission cutoff of the LEFT OUTER stream-stream
    join (``streaming_purchase_error_left``'s oracle gate): an
    unmatched purchase is emitted with null error columns iff
    ``p_ts + tolerance < final_watermark`` — STRICTLY. A purchase
    whose join-window end lands EXACTLY on the final watermark stays
    withheld in state when the run ends. The batch oracle replicates
    this cutoff, so if Spark ever flips the boundary this test (not a
    flaky sf hash) localizes it."""
    import datetime as dt

    T = dt.datetime(2024, 1, 10, 12, 0, 0)  # advancer event time
    w = T - dt.timedelta(hours=2)  # final global watermark
    rows_early = [
        # boundary purchase: p_ts + 30min == w -> WITHHELD (strict)
        (1, w - dt.timedelta(minutes=30), 1, "purchase", 10.0, None),
        # clearly-expired purchase: p_ts + 30min == w - 1s -> EMITTED
        (2, w - dt.timedelta(minutes=30, seconds=1), 2, "purchase", 20.0, None),
        # matched pair (user 3): emitted as a matched row
        (3, w - dt.timedelta(hours=3), 3, "purchase", 30.0, None),
        (4, w - dt.timedelta(hours=3, minutes=5), 3, "error", 0.0, None),
    ]
    rows_late = [
        # advancers push BOTH sides' max event time to T, so the final
        # global watermark is exactly w = T - 2h
        (5, T, 98, "purchase", 1.0, None),
        (6, T, 99, "error", 0.0, None),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = str(tmp_path / "events")
    os.makedirs(d)
    for i, rows in enumerate([rows_early, rows_late]):
        tmp = os.path.join(d, f"_stage_{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            f_ for f_ in os.listdir(tmp)
            if f_.startswith("part-") and f_.endswith(".parquet")
        )
        os.replace(os.path.join(tmp, part), os.path.join(d, f"c{i}.parquet"))
        import shutil

        shutil.rmtree(tmp)
        os.utime(
            os.path.join(d, f"c{i}.parquet"),
            (1_700_000_000 + i * 10,) * 2,
        )
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    out = run_available_now(
        purchase_error_stream_join(
            stream, tolerance=TOLERANCE, watermark=WATERMARK, how="left_outer"
        ),
        "q_boundary_" + uuid.uuid4().hex[:8],
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {
        (r["purchase_id"], r["error_id"]) for r in out.collect()
    }
    assert got == {
        (3, 4),      # matched pair
        (2, None),   # strictly inside the cutoff -> null-extended
        # purchase 1 (window end == watermark) and 5 (young) withheld
    }, got


def test_stream_join_single_state_operator_and_bounded_state(spark, tmp_path):
    d, bounds, hi = _staged_chunks(spark, str(tmp_path / "events"))
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    joined = purchase_error_stream_join(
        stream, tolerance=TOLERANCE, watermark=WATERMARK
    )
    progress: list = []
    out = run_available_now(
        joined,
        "q_state_" + uuid.uuid4().hex[:8],
        str(tmp_path / "ckpt"),
        output_mode="append",
        progress_out=progress,
    )
    # result parity with the batch interval join (row count level)
    n_out = out.count()
    assert n_out > 0
    assert len(progress) >= N_CHUNKS  # one progress record per batch

    state_batches = [p for p in progress if p["stateOperators"]]
    assert state_batches, "no stateOperators metrics captured"
    # exactly ONE stateful operator in the plan: the stream-stream join
    for p in state_batches:
        assert len(p["stateOperators"]) == 1, p["stateOperators"]
    final = state_batches[-1]["stateOperators"][0]
    assert "symmetricHashJoin" in final["operatorName"], final
    # a direct caller gets the drain's state-width rule, not the
    # session's shuffle width
    assert final["numShufflePartitions"] == min(
        8, spark.sparkContext.defaultParallelism
    ), final
    # Eviction bound: during the final batch the watermark sits at
    # (max ts of chunks 1..N-1) - WATERMARK, so surviving state is the
    # purchase/error rows newer than that minus TOLERANCE. Events are
    # uniform over 30 days => the horizon (~last chunk + 2.5 h) holds
    # ~1/N_CHUNKS of the stream; without eviction state would hold ALL
    # ~4k purchase/error rows.
    ev = load_table(spark, SF_DIR, "events")
    prev_max = (
        ev.where(F.col("ts") < F.lit(bounds[-1][0]))
        .agg(F.max("ts"))
        .first()[0]
    )
    horizon_start = prev_max - __import__("datetime").timedelta(
        seconds=HORIZON_S
    )
    bound = (
        ev.where(F.col("event_type").isin("purchase", "error"))
        .where(F.col("ts") >= F.lit(horizon_start))
        .count()
    )
    total_pe = ev.where(
        F.col("event_type").isin("purchase", "error")
    ).count()
    rows_total = final["numRowsTotal"]
    assert rows_total <= bound + 8, (rows_total, bound)
    # and the bound is meaningful: eviction kept well under half the
    # stream in state
    assert rows_total < 0.5 * total_pe, (rows_total, total_pe)
    # watermark actually dropped buffered rows at some point
    assert any(
        p["stateOperators"][0].get("numRowsRemoved", 0) > 0
        for p in state_batches
    ), "no state rows were ever evicted"
