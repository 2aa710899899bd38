"""SQL surface: every catalog table as a temp view, every query also
runnable as ``spark.sql(...)``.

SURVEY.md §7.1's optional ``sql.py``: the reference has no SQL parser,
but because this engine declares all plans through Catalyst, exposing
them as SQL is free — ``register_views`` + the ORACLES strings (which
are ANSI) cover most of the catalog verbatim, and users can write ad
hoc SQL over the same tables.

Scale: temp views are metadata only; queries through them produce the
identical optimized plans as the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.catalog import TABLES, load_table

__all__ = ["register_views", "run_sql"]


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register each test table as a temp view (events with its
    timestamp normalization applied)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run ad hoc SQL over the registered tables."""
    register_views(spark, sf_dir)
    return spark.sql(query)
