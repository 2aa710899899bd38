"""Driver contract for the spark-graft builder (PySpark target).

The engine lives in ``nyc_taxi_etl_spark``; this module just adapts it
to the driver's verify harness: ``entry`` smoke-runs the flagship query
at sf0.001, ``queries``/``oracle_sql`` expose the full catalog
(nyc_taxi_etl_spark/plans/queries.py) for the DuckDB comparison at
sf0.01.

The harness that calls these functions builds its own session, not
``session.get_spark``, so that session's Python workers run Spark's
stock daemon and import ``pyspark.zip``: the engine's worker daemon
(``nyc_taxi_etl_spark.pydaemon``) is not set there. Results are the
same either way; only the per-task set-up cost differs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_etl_spark.plans import (
    ORACLE,
    ORACLE_EXTRA,
    QUERIES,
    QUERIES_EXTRA,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["events_time_profile"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (and the
    north-star extension families). Ordered: the 50 highest-value
    entries first (the round-1 driver snapshot truncated at 50 in
    registration order), then the overflow registry — every entry is
    oracle-tested locally either way (tests/test_oracle.py)."""
    return {**QUERIES, **QUERIES_EXTRA}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each catalog query (keys missing
    here get the driver's weaker rows-only check — reserved for the
    genuinely non-SQL-expressible ops)."""
    return {**ORACLE, **ORACLE_EXTRA}
