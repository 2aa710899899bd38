"""Behavioral pins for the time-series entries beyond the DuckDB
oracle match: the gap-fill path must actually fire on the test data
(a dense series would leave LOCF untested), and the pivot layout must
be total-preserving."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_etl_spark.plans.queries_timeseries import (
    hourly_gapfilled_values,
    monthly_status_pivot,
)

from .conftest import SF_DIR


def test_gapfill_materializes_missing_hours(spark):
    out = hourly_gapfilled_values(spark, SF_DIR)
    agg = out.agg(
        F.sum("gap_filled").alias("n_gaps"),
        F.sum(F.when(F.col("gap_filled") == 1, F.col("n_events"))).alias(
            "gap_events"
        ),
        F.sum(
            F.when(
                (F.col("gap_filled") == 1)
                & F.col("total_value_locf").isNull(),
                1,
            ).otherwise(0)
        ).alias("gap_null_locf"),
    ).first()
    # the sf tables leave ~40 empty hours per type — the fill path runs
    assert agg.n_gaps > 0
    # filled rows carry zero events and a non-null carried-forward value
    assert agg.gap_events == 0
    assert agg.gap_null_locf == 0


def test_gapfill_spine_is_contiguous_per_type(spark):
    out = hourly_gapfilled_values(spark, SF_DIR)
    per_type = out.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.min("bucket").alias("b0"),
        F.max("bucket").alias("b1"),
    )
    chk = per_type.select(
        "event_type",
        "n_rows",
        (
            (
                F.unix_timestamp("b1", "yyyy-MM-dd HH:mm:ss")
                - F.unix_timestamp("b0", "yyyy-MM-dd HH:mm:ss")
            )
            / 3600
            + 1
        ).cast("long").alias("span_hours"),
    )
    for row in chk.collect():
        assert row.n_rows == row.span_hours, row


def test_pivot_preserves_order_totals(spark):
    from nyc_taxi_etl_spark.plans.queries import t

    out = monthly_status_pivot(spark, SF_DIR)
    pivot_total = out.agg(
        F.sum(
            F.col("open_orders")
            + F.col("filled_orders")
            + F.col("partial_orders")
        )
    ).first()[0]
    n_orders = t(spark, SF_DIR, "orders").count()
    assert pivot_total == n_orders


def test_cusum_fold_hot_entity_contract(spark):
    """r9 (VERDICT r8 task #4): the per-entity array fold's bound is a
    GUARDED contract — an entity with more events than
    max_events_per_entity fails the job with the hot key named in the
    message (instead of a silent executor OOM at 100 TB), while inputs
    under the bound are untouched."""
    import datetime as dt

    import pytest

    from nyc_taxi_etl_spark.plans.queries_timeseries import cusum_fold

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("hot", i, t0 + dt.timedelta(minutes=i), 50.0) for i in range(10)
    ] + [("cold", 100 + i, t0 + dt.timedelta(minutes=i), 50.0) for i in range(2)]
    ev = spark.createDataFrame(
        rows, "user_id: string, event_id: long, ts: timestamp, value: double"
    )
    # under the bound: normal result, guard invisible
    out = cusum_fold(ev, max_events_per_entity=10).collect()
    assert {r["user_id"]: r["n_events"] for r in out} == {"hot": 10, "cold": 2}
    # over the bound: job fails loudly, naming the hot entity
    with pytest.raises(Exception, match="max_events_per_entity=9"):
        cusum_fold(ev, max_events_per_entity=9).collect()


def test_cusum_fold_precheck_names_hot_entity_before_collecting(spark):
    """r9 review: the in-plan assert fires only after the aggregation
    buffers an entity's array; precheck=True probes counts FIRST (one
    bounded extra pass) and raises before any array is built."""
    import datetime as dt

    import pytest

    from nyc_taxi_etl_spark.plans.queries_timeseries import cusum_fold

    t0 = dt.datetime(2024, 1, 1)
    rows = [("big", i, t0 + dt.timedelta(minutes=i), 50.0) for i in range(8)]
    ev = spark.createDataFrame(
        rows, "user_id: string, event_id: long, ts: timestamp, value: double"
    )
    with pytest.raises(ValueError, match="'big' has 8 events"):
        cusum_fold(ev, max_events_per_entity=5, precheck=True)
    out = cusum_fold(ev, max_events_per_entity=8, precheck=True).collect()
    assert out[0]["n_events"] == 8


def test_cusum_constants_single_sourced():
    """VERDICT r9 task #1: the CUSUM tuning lives in exactly one place
    (streaming/stateful.py) and every leg — batch fold module, the
    embedded DuckDB oracle text, the stream operator's defaults, and
    the pandas replay oracle — resolves to it. Changing CUSUM_H there
    retunes all legs at once; a stray second literal anywhere breaks
    this test, not oracle parity."""
    import inspect

    from nyc_taxi_etl_spark.plans import queries_timeseries as qt
    from nyc_taxi_etl_spark.streaming import stateful as st

    # the batch module's aliases ARE the canonical objects
    assert qt._CUSUM_UP is st.CUSUM_UP
    assert qt._CUSUM_DN is st.CUSUM_DN
    assert qt._CUSUM_H is st.CUSUM_H
    # every streaming-side default reads the canonical names
    for fn in (st.cusum_drift_stream, st.cusum_replay_pandas):
        d = inspect.signature(fn).parameters
        assert d["up"].default == st.CUSUM_UP, fn
        assert d["dn"].default == st.CUSUM_DN, fn
        assert d["h"].default == st.CUSUM_H, fn
    # the oracle SQL was rendered from the same constants
    for sql_name in ("user_value_cusum",):
        from nyc_taxi_etl_spark.plans.queries import ORACLES
        sql = ORACLES[sql_name]
        for v in (st.CUSUM_UP, st.CUSUM_DN, st.CUSUM_H):
            assert repr(v) in sql or str(v) in sql, (sql_name, v)
