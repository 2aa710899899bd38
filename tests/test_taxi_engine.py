"""Taxi engine tests: normalizer (schema drift), cleaner (planted
violations), ETL round-trip (partitioned curated table + pruning), and
analytics catalog vs DuckDB oracles on the curated parquet."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.etl import read_curated, run_etl
from nyc_taxi_etl_spark.operators.clean import clean
from nyc_taxi_etl_spark.operators.normalize import (
    detect_columns,
    normalize,
    resolve_column,
    unify,
)
from nyc_taxi_etl_spark.plans import taxi_analytics as A
from nyc_taxi_etl_spark.sources.taxi import UNIFIED_FIELDS

from .compare import assert_frames_match
from . import taxi_fixtures


@pytest.fixture(scope="session")
def taxi_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("taxi"))
    paths = taxi_fixtures.write_all(base)
    return base, paths


@pytest.fixture(scope="session")
def curated(spark, taxi_dir):
    base, paths = taxi_dir
    out = os.path.join(base, "curated")
    res = run_etl(spark, paths, out)
    return out, res


def test_resolve_column_matching_order():
    # exact beats case-insensitive beats substring
    assert resolve_column(["pickup_datetime"], ("pickup_datetime",)) == "pickup_datetime"
    assert resolve_column(["dropOff_datetime"], ("dropoff_datetime",)) == "dropOff_datetime"
    assert resolve_column(["my_pickup_datetime_x"], ("pickup_datetime",)) == "my_pickup_datetime_x"
    assert resolve_column(["unrelated"], ("pickup_datetime",)) is None


def test_detect_columns_all_four_schemas(spark, taxi_dir):
    base, paths = taxi_dir
    expect = {
        "yellow": {"pickup": "tpep_pickup_datetime", "distance": "trip_distance",
                   "fare": "fare_amount", "pu": "PULocationID"},
        "green": {"pickup": "lpep_pickup_datetime", "fare": "fare_amount"},
        "fhv": {"pickup": "pickup_datetime", "dropoff": "dropOff_datetime",
                "pu": "PUlocationID", "do": "DOlocationID",
                "distance": None, "fare": None, "tip": None},
        "fhvhv": {"distance": "trip_miles", "tip": "tips", "fare": None},
    }
    for cab, want in expect.items():
        cols = spark.read.parquet(paths[cab]).columns
        det = detect_columns(cols)
        for key, val in want.items():
            assert det[key] == val, f"{cab}.{key}: {det[key]} != {val}"


def test_normalize_unified_schema(spark, taxi_dir):
    base, paths = taxi_dir
    for cab in ["yellow", "green", "fhv", "fhvhv"]:
        out = normalize(spark.read.parquet(paths[cab]), cab)
        assert tuple(out.columns) == UNIFIED_FIELDS
        row = out.first()
        assert row["cab_type"] == cab
    # fhv: no fare/distance → nulls, zones still populated
    fhv = normalize(spark.read.parquet(paths["fhv"]), "fhv")
    agg = fhv.agg(
        F.count("fare_amount").alias("fares"),
        F.count("trip_distance").alias("dists"),
        F.count("pickup_zone").alias("zones"),
    ).collect()[0]
    assert agg["fares"] == 0 and agg["dists"] == 0 and agg["zones"] > 0


def test_fhvhv_fare_is_component_sum(spark, taxi_dir, duck):
    base, paths = taxi_dir
    sp = (
        normalize(spark.read.parquet(paths["fhvhv"]), "fhvhv")
        .agg(F.sum(F.round("fare_amount", 2)).alias("s"))
        .collect()[0]["s"]
    )
    f = glob.glob(os.path.join(paths["fhvhv"], "*.parquet"))[0]
    du = duckdb.sql(
        f"""SELECT sum(round(base_passenger_fare + tips + tolls + bcf + sales_tax
             + congestion_surcharge + airport_fee, 2)) FROM '{f}'"""
    ).fetchone()[0]
    assert abs(sp - du) < 1e-6


def test_clean_counts_match_duckdb(spark, taxi_dir):
    """Cleaning semantics vs an independent SQL spec of utils.py rules."""
    base, paths = taxi_dir
    sp = clean(normalize(spark.read.parquet(paths["yellow"]), "yellow")).count()
    f = glob.glob(os.path.join(paths["yellow"], "*.parquet"))[0]
    du = duckdb.sql(
        f"""
        SELECT count(*) FROM '{f}'
        WHERE fare_amount > 0 AND trip_distance > 0
          AND tpep_pickup_datetime IS NOT NULL
          AND tpep_dropoff_datetime IS NOT NULL
          AND tpep_dropoff_datetime > tpep_pickup_datetime
          AND date_diff('second', tpep_pickup_datetime, tpep_dropoff_datetime) / 60.0
              BETWEEN 0.5 AND 1440
          AND date_diff('second', tpep_pickup_datetime, tpep_dropoff_datetime) / 60.0
              NOT IN (0.5, 1440)
          AND trip_distance < 500
        """
    ).fetchone()[0]
    assert sp == du


def test_etl_partitioned_layout_and_counts(spark, curated):
    out, res = curated
    assert res.rows_out > 0
    assert res.rows_out < res.rows_in  # planted violations removed
    # Hive layout exists for all cabs
    for cab in ["yellow", "green", "fhv", "fhvhv"]:
        dirs = glob.glob(os.path.join(out, f"cab_type={cab}", "year=2025", "month=*"))
        assert dirs, f"missing partitions for {cab}"
    # fhv rows survive cleaning (null fare/distance tolerated)
    counts = {
        r["cab_type"]: r["n"]
        for r in read_curated(spark, out).groupBy("cab_type").agg(F.count("*").alias("n")).collect()
    }
    assert counts["fhv"] > 0


def test_partition_pruning_in_plan(spark, curated):
    out, _ = curated
    df = read_curated(spark, out).filter(
        (F.col("cab_type") == "yellow") & (F.col("year") == 2025) & (F.col("month") == 1)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() > 0


def test_analytics_vs_duckdb_on_curated(spark, curated):
    """The canonical aggregate table (A1) computed by the engine must
    match DuckDB SQL over the same curated parquet."""
    out, _ = curated
    df = read_curated(spark, out)
    sp = (
        A.avg_fare_per_mile_by_hour(df)
        .select("pickup_hour", F.round("avg_fare_per_mile", 4).alias("afpm"), "trip_count")
        .toPandas()
    )
    du = duckdb.sql(
        f"""
        SELECT pickup_hour,
               round(avg(fare_per_mile), 4) AS afpm,
               CAST(count(*) AS BIGINT) AS trip_count
        FROM '{out}/*/*/*/*.parquet' GROUP BY 1
        """
    ).df()
    assert_frames_match(sp, du, "avg_fare_per_mile_by_hour")


def test_analytics_catalog_runs(spark, curated, taxi_dir):
    out, _ = curated
    base, _paths = taxi_dir
    df = read_curated(spark, out)
    zones = spark.read.parquet(os.path.join(base, "zone_lookup.parquet"))
    weather = spark.read.parquet(os.path.join(base, "weather_daily.parquet"))
    results = {
        "trips_by_dow": A.trips_by_dow(df),
        "busiest_pickup": A.busiest_zones(df, "pickup"),
        "busiest_dropoff": A.busiest_zones(df, "dropoff"),
        "monthly_fare_trend": A.monthly_fare_trend(df),
        "summary_rollup": A.summary_rollup(df),
        "per_cab_summary": A.per_cab_summary(df),
        "hourly_dashboard": A.hourly_dashboard(df),
        "od_flows": A.od_flows(df),
        "airport_trips": A.airport_trips(df),
        "nightlife_trips": A.nightlife_trips(df),
        "tip_pct_by_hour": A.tip_pct_by_hour(df),
        "median_speed_by_hour": A.median_speed_by_hour(df),
        "unit_price_by_hour": A.unit_price_by_hour(df),
        "extreme_days": A.extreme_days(df, z_threshold=1.0),
        "trip_segmentation": A.trip_segmentation(df),
        "duration_histogram": A.duration_histogram(df),
        "market_share_by_month": A.market_share_by_month(df),
        "pct_of_baseline": A.pct_of_baseline(df, "2025-02"),
        "zone_enrichment": A.zone_enrichment(df, zones),
        "weather_correlation": A.weather_correlation(df, weather),
    }
    for name, rdf in results.items():
        assert rdf.count() > 0, f"{name} empty"


def test_unify_handles_all_cabs(spark, taxi_dir):
    base, paths = taxi_dir
    u = unify({c: spark.read.parquet(p) for c, p in paths.items()})
    counts = {r["cab_type"]: r["n"] for r in u.groupBy("cab_type").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"yellow", "green", "fhv", "fhvhv"}
    assert all(v == taxi_fixtures.N for v in counts.values())


def test_etl_observed_metrics_match_reality(spark, curated):
    out, res = curated
    actual_out = spark.read.parquet(out).count()
    assert res.rows_out == actual_out
    assert res.metrics["rows_out"] == actual_out
    assert res.rows_in >= res.rows_out  # cleaning only drops
    actual_null_fares = (
        spark.read.parquet(out).filter(F.col("fare_amount").isNull()).count()
    )
    assert res.metrics["null_fares"] == actual_null_fares
    # HLL on a ≤4-value domain is exact
    assert res.metrics["cab_types_out"] == (
        spark.read.parquet(out).select("cab_type").distinct().count()
    )


# run_etl's reference analyses, as the benchmark's taxi_etl workload runs them
REFERENCE_ANALYSES = (
    "summary_rollup",
    "per_cab_summary",
    "hourly_dashboard",
    "od_flows",
    "tip_pct_by_hour",
    "median_speed_by_hour",
    "extreme_days",
    "trip_segmentation",
    "busiest_zones",
    "market_share_by_month",
)


def test_warm_etl_pass_compiles_no_classes(spark, taxi_dir, tmp_path):
    """The generated-class cache (session.get_spark sets
    spark.sql.codegen.cache.maxEntries) holds a whole ETL + analyses
    pass: the second, identical pass compiles nothing with Janino. At
    Spark's default of 100 entries a pass evicts its own classes."""
    _base, paths = taxi_dir
    out = str(tmp_path / "curated")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run_etl(spark, paths, out)
        trips = read_curated(spark, out)
        for name in REFERENCE_ANALYSES:
            getattr(A, name)(trips).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    one_pass()
    assert one_pass() == 0
