"""Schema normalization: four divergent cab schemas → one unified trip
DataFrame.

This is the reference's core semantic content (SURVEY.md §1.3/§1.4):
candidate-name resolution with exact → case-insensitive → substring
matching (``scripts/analytics_pandas.py:30-71``), fare reconstruction
from components when no fare column exists (``:139-153``), column-case
normalization ``PUlocationID → PULocationID``
(``notebooks/comprehensive_trip_analysis_part2.ipynb:128-131``), and
column-presence guards everywhere (``spark_jobs/etl_simple.py:70-81``).

Spark-first design: resolution happens at PLAN TIME in Python against
``df.columns`` (cheap, driver-side, no data touched); the emitted plan
is pure ``select``/``coalesce`` expressions. Missing columns become
typed null literals so ``unionByName`` across cab types is loss-free.
At 100 TB this is a zero-cost projection folded into the parquet scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import epoch_nanos_ts, fare_from_components
from ..sources.taxi import CANDIDATES, FARE_COMPONENTS

__all__ = ["resolve_column", "detect_columns", "normalize", "unify"]


def resolve_column(columns: list[str], candidates: tuple[str, ...]) -> str | None:
    """Resolve a logical column against physical columns.

    Matching order mirrors ``scripts/analytics_pandas.py:30-45``:
    1. exact name; 2. case-insensitive name; 3. substring (candidate
    contained in column name, case-insensitive). First hit wins, in
    candidate order.
    """
    lower = {c.lower(): c for c in columns}
    for cand in candidates:
        if cand in columns:
            return cand
    for cand in candidates:
        hit = lower.get(cand.lower())
        if hit is not None:
            return hit
    for cand in candidates:
        for c in columns:
            if cand.lower() in c.lower():
                return c
    return None


def detect_columns(columns: list[str]) -> dict[str, str | None]:
    """Full detection map for one physical schema (the reference's
    ``detect_columns`` dict: pickup/dropoff/distance/fare/tip/pu/do)."""
    return {k: resolve_column(columns, v) for k, v in CANDIDATES.items()}


def _col_or_null(name: str | None, dtype: str):
    return F.col(name).cast(dtype) if name is not None else F.lit(None).cast(dtype)


def _ts_col(df: DataFrame, name: str | None):
    """Timestamp projection that tolerates physical-type drift: files
    read under ``spark.sql.legacy.parquet.nanosAsLong`` surface
    TIMESTAMP(NANOS) columns as epoch-nanos longs; a long→timestamp
    cast would interpret them as SECONDS and overflow. Strings parse
    null-on-error (ANSI off), matching pandas ``errors="coerce"``."""
    if name is None:
        return F.lit(None).cast("timestamp")
    dtype = dict(df.dtypes).get(name)
    if dtype == "bigint":
        return epoch_nanos_ts(name)
    return F.col(name).cast("timestamp")


def normalize(df: DataFrame, cab_type: str) -> DataFrame:
    """Map one raw cab DataFrame onto the unified trip schema.

    Semantics preserved from the reference:
      * fare = detected fare column, else the null-safe component sum
        (fhvhv: base_passenger_fare + tips + tolls + surcharges,
        ``scripts/analytics_pandas.py:139-153``; null when no
        component exists — fhv);
      * zone IDs cast to nullable int (pandas ``Int64`` normalization,
        ``scripts/analytics_pandas.py:169-184``);
      * missing columns (fhv has no fare/distance/tip) become typed
        nulls — queries degrade gracefully instead of erroring
        (``spark_jobs/etl_simple.py:70-81`` column guards).
    """
    cols = df.columns
    det = detect_columns(cols)

    comps = [F.col(c).cast("double") for c in FARE_COMPONENTS if c in cols]
    component_sum = fare_from_components(*comps) if comps else None

    fare = _col_or_null(det["fare"], "double")
    if det["fare"] is None and component_sum is not None:
        fare = component_sum

    # total cost: explicit total_amount, else component sum, else fare.
    if "total_amount" in cols:
        total = F.col("total_amount").cast("double")
    else:
        total = component_sum if component_sum is not None else fare

    tip = _col_or_null(det["tip"], "double")

    return df.select(
        F.lit(cab_type).alias("cab_type"),
        _ts_col(df, det["pickup"]).alias("pickup_datetime"),
        _ts_col(df, det["dropoff"]).alias("dropoff_datetime"),
        _col_or_null(det["pu"], "int").alias("pickup_zone"),
        _col_or_null(det["do"], "int").alias("dropoff_zone"),
        _col_or_null(det["distance"], "double").alias("trip_distance"),
        fare.cast("double").alias("fare_amount"),
        tip.alias("tip_amount"),
        total.cast("double").alias("total_amount"),
    )


def unify(dfs: dict[str, DataFrame]) -> DataFrame:
    """Normalize each cab frame and union them by name — the engine's
    unified trip table (U1; the reference's planned normalizer,
    SURVEY.md §1.3). ``allowMissingColumns`` keeps the op total even if
    a future schema adds fields."""
    if not dfs:
        raise ValueError("unify requires at least one input frame")
    normed = [normalize(df, cab) for cab, df in dfs.items()]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), normed
    )
