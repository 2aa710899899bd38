"""Table catalog over the driver's parquet test tables.

Mirrors the reference's scan layer (SURVEY.md §2.1 S1–S7): plain
``spark.read.parquet`` relations — column pruning and predicate pushdown
are Catalyst's job, not ours (the reference's pandas path hand-pruned
columns, ``scripts/analytics_pandas.py:73-84``; on Spark that is free).

One real normalization lives here: the ``events`` table stores
TIMESTAMP(NANOS) which Spark's parquet reader cannot decode natively, so
we read nanos-as-long (a SQL conf, set defensively at runtime since the
harness may hand us a foreign SparkSession) and convert to a
microsecond TIMESTAMP_NTZ column — lossless for this data and identical
to what DuckDB sees.

Scale note: at 100 TB these reads become partitioned-directory scans;
nothing in this module ever collects or loops over files driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import epoch_nanos_ts

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SESSION_CONFS = {
    # events.ts is parquet TIMESTAMP(NANOS): read as long, convert below.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin UTC + non-ANSI so results line up with the DuckDB oracle
    # (null-on-error casts, naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


def _ensure_confs(spark: SparkSession) -> None:
    for k, v in _SESSION_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes the events timestamp column."""
    _ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos since epoch → microsecond TIMESTAMP_NTZ (UTC session).
        df = df.withColumn("ts", F.to_timestamp_ntz(epoch_nanos_ts("ts")))
    return df
