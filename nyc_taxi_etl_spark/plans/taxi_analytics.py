"""The taxi analytics catalog: every named analysis from the
reference's jobs and notebooks (SURVEY.md §2.4-§2.8) as a function
DataFrame → DataFrame over the unified trip schema.

Sites re-expressed here:
  * the four canonical aggregate tables —
    ``spark_jobs/analytics_yellow_s3.py:15-28``
  * pandas engine result tables — ``scripts/analytics_pandas.py:227-244``
  * monthly/seasonal/yearly rollups — ``scripts/analytics_summary.py:58-60``
  * notebook analyses (hourly dashboards, OD flows, airport/nightlife,
    tip %, speed, unit price, z-score extreme days, segmentation,
    market share) — ``notebooks/cab_wise_analysis.ipynb``,
    ``comprehensive_trip_analysis{,_part2}.ipynb``.

All are single-pass hash aggregations / windows on bounded key
domains; at 100 TB each is one shuffle whose reduce side is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import month_period, season, topk, zscore_over_all

AIRPORT_ZONES = (132, 138, 1, 140)  # JFK, LGA, EWR, Newark-adjacent (part2 cell 19)
NIGHT_HOURS = (20, 21, 22, 23, 0, 1, 2, 3, 4)  # nightlife window (part2 cell 21)


def avg_fare_per_mile_by_hour(df: DataFrame) -> DataFrame:
    """A1 — ``analytics_yellow_s3.py:15-19``."""
    return (
        df.groupBy(F.col("pickup_hour"))
        .agg(
            F.avg("fare_per_mile").alias("avg_fare_per_mile"),
            F.count("*").alias("trip_count"),
        )
    )


def trips_by_dow(df: DataFrame) -> DataFrame:
    """A2 — ``analytics_yellow_s3.py:21-23`` (ISO dow int, O5 ordering
    solved by sorting the integer)."""
    return df.groupBy("pickup_dow").agg(F.count("*").alias("trip_count"))


def busiest_zones(df: DataFrame, which: str = "pickup", k: int = 100) -> DataFrame:
    """A3/O1 — ``analytics_yellow_s3.py:25-28``; deterministic
    tie-break on zone id. ``which`` is ``"pickup"`` or ``"dropoff"``."""
    if which not in ("pickup", "dropoff"):
        raise ValueError(f"which must be 'pickup' or 'dropoff', got {which!r}")
    col = f"{which}_zone"
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count("*").alias("trip_count"))
    )
    return topk(counts, [col], "trip_count", k)


def monthly_fare_trend(df: DataFrame) -> DataFrame:
    """A4 monthly rollup — ``scripts/analytics_pandas.py:227-244``."""
    return (
        df.groupBy(month_period(F.col("pickup_datetime")).alias("month"))
        .agg(
            F.avg("fare_per_mile").alias("avg_fare_per_mile"),
            F.count("*").alias("trip_count"),
        )
    )


def summary_rollup(df: DataFrame) -> DataFrame:
    """A5 — monthly/seasonal/yearly in ONE pass via ``rollup``
    (replaces three groupbys, ``scripts/analytics_summary.py:58-60``)."""
    return (
        df.withColumn("season", season(F.col("month")))
        .rollup("cab_type", "year", "season", "month")
        .agg(
            F.count("*").alias("rows"),
            F.sum("trip_distance").alias("sum_trip_distance"),
            F.sum("fare_amount").alias("sum_fare_amount"),
        )
    )


def per_cab_summary(df: DataFrame) -> DataFrame:
    """A9 — overall per-cab stats incl. exact median
    (``comprehensive_trip_analysis.ipynb cell 20``)."""
    return df.groupBy("cab_type").agg(
        F.count("*").alias("trip_count"),
        F.sum("fare_amount").alias("total_fare"),
        F.avg("trip_distance").alias("avg_distance"),
        F.median("trip_distance").alias("median_distance"),
        F.avg("fare_amount").alias("avg_fare"),
        F.median("fare_amount").alias("median_fare"),
    )


def hourly_dashboard(df: DataFrame) -> DataFrame:
    """A11 — per-(cab, hour) multi-metric dashboard
    (``cab_wise_analysis.ipynb cells 4/7/12``)."""
    return df.groupBy("cab_type", "pickup_hour").agg(
        F.count("*").alias("trip_count"),
        F.avg("fare_amount").alias("avg_fare"),
        F.sum("fare_amount").alias("revenue"),
        F.avg("tip_amount").alias("avg_tip"),
    )


def od_flows(df: DataFrame, k: int = 10) -> DataFrame:
    """A14/O3 — top OD pairs with the concat label
    (``part2 cell 15``: ``PU + '→' + DO``)."""
    pairs = (
        df.filter(F.col("pickup_zone").isNotNull() & F.col("dropoff_zone").isNotNull())
        .groupBy("pickup_zone", "dropoff_zone")
        .agg(F.count("*").alias("trip_count"))
        .withColumn(
            "od_label",
            F.concat_ws("→", F.col("pickup_zone"), F.col("dropoff_zone")),
        )
    )
    return topk(pairs, ["pickup_zone", "dropoff_zone"], "trip_count", k)


def airport_trips(df: DataFrame) -> DataFrame:
    """P5 — airport-zone membership on PU **or** DO (``part2 cell 19``)."""
    return df.filter(
        F.col("pickup_zone").isin(*AIRPORT_ZONES)
        | F.col("dropoff_zone").isin(*AIRPORT_ZONES)
    )


def nightlife_trips(df: DataFrame) -> DataFrame:
    """P5 — nightlife hours 20–23 ∪ 0–4 (``part2 cell 21``)."""
    return df.filter(F.col("pickup_hour").isin(*NIGHT_HOURS))


def tip_pct_by_hour(df: DataFrame, cap: float = 1.0) -> DataFrame:
    """P13 + A11 — tip percentage (clipped at 100%) by hour
    (``part2 cell 11``)."""
    tip_pct = F.least(
        F.when(F.col("fare_amount") > 0, F.col("tip_amount") / F.col("fare_amount")),
        F.lit(cap),
    )
    return (
        df.select("pickup_hour", tip_pct.alias("tip_pct"))
        .groupBy("pickup_hour")
        .agg(F.avg("tip_pct").alias("avg_tip_pct"), F.count("tip_pct").alias("n"))
    )


def median_speed_by_hour(df: DataFrame) -> DataFrame:
    """A13 — congestion proxy: median speed by (cab, hour)
    (``part2 cell 17``)."""
    return df.groupBy("cab_type", "pickup_hour").agg(
        F.median("avg_speed_mph").alias("median_speed_mph")
    )


def unit_price_by_hour(df: DataFrame, cap: float = 150.0) -> DataFrame:
    """A13/P13 — surge proxy: median capped fare-per-mile by hour
    (``part2 cell 27``)."""
    up = F.least(F.col("fare_per_mile"), F.lit(cap))
    return (
        df.select("pickup_hour", up.alias("unit_price"))
        .groupBy("pickup_hour")
        .agg(F.median("unit_price").alias("median_unit_price"))
    )


def extreme_days(df: DataFrame, z_threshold: float = 2.0) -> DataFrame:
    """A15 — z-score extreme days over daily counts (``part2 cell 31``)."""
    daily = df.groupBy("pickup_date").agg(F.count("*").alias("trip_count"))
    scored = daily.select(
        "pickup_date",
        "trip_count",
        zscore_over_all(F.col("trip_count")).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) > z_threshold)


def trip_segmentation(df: DataFrame) -> DataFrame:
    """A16 — distance segments ≤2 / 2–5 / >5 mi with shares
    (``cab_wise_analysis.ipynb cells 5/8``)."""
    seg = (
        F.when(F.col("trip_distance") <= 2, "short")
        .when(F.col("trip_distance") <= 5, "medium")
        .otherwise("long")
    )
    counts = (
        df.filter(F.col("trip_distance").isNotNull())
        .groupBy(seg.alias("segment"))
        .agg(F.count("*").alias("trip_count"))
    )
    w = Window.partitionBy()
    return counts.select(
        "segment",
        "trip_count",
        (F.lit(100.0) * F.col("trip_count") / F.sum("trip_count").over(w)).alias(
            "pct_share"
        ),
    )


def duration_histogram(df: DataFrame, width_min: float = 10.0) -> DataFrame:
    """A18 — duration histogram as distributed groupBy
    (``analytics_yellow.ipynb cell 10`` hist(bins=60))."""
    from ..functions import histogram_bucket

    return (
        df.filter(F.col("trip_duration_min").isNotNull())
        .groupBy(
            histogram_bucket(F.col("trip_duration_min"), width_min).alias("bucket")
        )
        .agg(F.count("*").alias("trip_count"))
    )


def market_share_by_month(df: DataFrame) -> DataFrame:
    """Report §8.9 market-share trend: per-month share of trips by cab
    type (window over the monthly rollup)."""
    m = df.groupBy(
        month_period(F.col("pickup_datetime")).alias("month"), "cab_type"
    ).agg(F.count("*").alias("trip_count"))
    w = Window.partitionBy("month")
    return m.select(
        "month",
        "cab_type",
        "trip_count",
        (F.lit(100.0) * F.col("trip_count") / F.sum("trip_count").over(w)).alias(
            "pct_share"
        ),
    )


def pct_of_baseline(df: DataFrame, baseline_end: str) -> DataFrame:
    """J3 — monthly counts vs pre-``baseline_end`` mean per cab
    (``comprehensive_trip_analysis.ipynb:1015``)."""
    m = df.groupBy(
        "cab_type", month_period(F.col("pickup_datetime")).alias("month")
    ).agg(F.count("*").alias("trip_count"))
    b = (
        m.filter(F.col("month") < baseline_end)
        .groupBy("cab_type")
        .agg(F.avg("trip_count").alias("baseline"))
    )
    return m.join(F.broadcast(b), "cab_type").select(
        "cab_type",
        "month",
        "trip_count",
        (F.lit(100.0) * F.col("trip_count") / F.col("baseline")).alias(
            "pct_of_baseline"
        ),
    )


def zone_enrichment(df: DataFrame, zones: DataFrame) -> DataFrame:
    """J2 — broadcast dimension join onto the zone lookup
    (``scripts/generate_notebooks_auto.py:8``)."""
    z = F.broadcast(zones)
    pu = z.select(
        F.col("LocationID").alias("pickup_zone"),
        F.col("Zone").alias("pickup_zone_name"),
        F.col("Borough").alias("pickup_borough"),
    )
    do = z.select(
        F.col("LocationID").alias("dropoff_zone"),
        F.col("Zone").alias("dropoff_zone_name"),
        F.col("Borough").alias("dropoff_borough"),
    )
    return df.join(pu, "pickup_zone", "left").join(do, "dropoff_zone", "left")


def weather_correlation(df: DataFrame, weather: DataFrame) -> DataFrame:
    """J1 — daily trips ⋈ daily weather (the reference's one relational
    join, ``part2:1141``); both sides tiny post-agg → AQE broadcasts."""
    daily = df.groupBy(F.col("pickup_date").alias("date")).agg(
        F.count("*").alias("trip_count"),
        F.avg("fare_amount").alias("avg_fare"),
    )
    return daily.join(weather, "date", "inner")
