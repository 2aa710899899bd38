"""Year-partitioned calendar RANGE frames (operators/rolling.py).

VERDICT r5 task #5: the rolling entries documented the year-partition +
ghost-tail strategy but ran single-partition. These tests pin (a) exact
equality between the partitioned and single-partition forms — including
across year boundaries and calendar gaps — and (b) the absence of any
SinglePartition window in the shipped catalog entries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators.rolling import rolling_calendar_frame
from nyc_taxi_etl_spark.plans import CATALOG

from .compare import assert_frames_match

SF_DIR = "/root/testdata/sf0.01"


def _both_forms(daily, aggs, tail_days):
    part = rolling_calendar_frame(
        daily, dict(aggs), tail_days=tail_days, partition_years=True
    ).toPandas()
    single = rolling_calendar_frame(
        daily, dict(aggs), tail_days=tail_days, partition_years=False
    ).toPandas()
    return part, single


def test_partitioned_equals_single_partition_across_year_boundary(spark):
    """Synthetic daily series spanning two year boundaries with gaps
    (including a gap straddling Dec 31): every frame that crosses a
    boundary must see the previous year's tail via the ghosts."""
    days = (
        pd.date_range("2019-12-20", "2020-01-12").tolist()
        + pd.date_range("2020-12-25", "2021-01-15").tolist()
    )
    # punch gaps, including the year-boundary-adjacent days
    days = [d for i, d in enumerate(days) if i % 4 != 2 and
            str(d.date()) not in ("2020-12-31", "2021-01-02")]
    daily = spark.createDataFrame(
        [(d.date(), float(i + 1)) for i, d in enumerate(days)],
        "d date, v double",
    )
    aggs = {
        "v_7d": F.sum("v"),
        "n_7d": F.count("*"),
        "avg_7d": F.avg("v"),
    }
    part, single = _both_forms(daily, aggs, tail_days=6)
    assert_frames_match(part, single, "rolling year-boundary equality")
    # sanity: some frame actually crossed a year boundary (January rows
    # with more frame-days than January alone could supply)
    jan = part[part["d"].astype(str).str.startswith(("2020-01", "2021-01"))]
    early = jan[jan["d"].astype(str).str.slice(8).astype(int) <= 6]
    assert (early["n_7d"] > early["d"].astype(str).str.slice(8).astype(int)).any()


def test_partitioned_equals_single_on_catalog_data(spark):
    """The two shipped rolling entries, pinned form-vs-form on the real
    sf0.01 tables (7-day sum/count/avg over orders; 14-day corr over
    events)."""
    from nyc_taxi_etl_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("rev")
    )
    part, single = _both_forms(
        daily,
        {"rev_7d": F.sum("rev"), "n_7d": F.count("*")},
        tail_days=6,
    )
    assert_frames_match(part, single, "orders rolling equality")

    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    daily2 = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("pv"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1))).alias("en"),
    )
    part2, single2 = _both_forms(
        daily2,
        {"corr_14d": F.corr("pv", "en"), "n_14d": F.count("*")},
        tail_days=13,
    )
    assert_frames_match(part2, single2, "events rolling corr equality")


def test_rolling_entries_have_no_single_partition_window(spark):
    """The shipped catalog entries must carry the year-partitioned
    window: a Window operator partitioned on _pyear, and no
    SinglePartition exchange anywhere in the plan."""
    for name in ("daily_rolling_revenue", "daily_rolling_purchase_error_corr"):
        df = CATALOG[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in phys, (name, phys)
        assert "_pyear" in plan, (name, plan)
        assert df.rdd.getNumPartitions() >= 1


def test_reserved_internal_names_raise(spark):
    """ADVICE r6: caller columns named like the operator's internals
    must be rejected, not silently overwritten."""
    import pytest
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.operators.rolling import rolling_calendar_frame

    df = spark.createDataFrame(
        [("2024-01-01", 1.0, 7)], "d string, v double, _pyear int"
    ).withColumn("d", F.to_date("d"))
    with pytest.raises(ValueError, match="_pyear"):
        rolling_calendar_frame(df, {"s": F.sum("v")}, date_col="d")
