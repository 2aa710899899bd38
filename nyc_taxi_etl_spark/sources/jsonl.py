"""JSONL (one JSON object per line) source + sink — the interchange
format of training-data pipelines (C4/RedPajama dumps, HF datasets,
text shards). The reference repo moves parquet/CSV only; the charter's
corpus-export surface adds the JSONL leg.

Read posture for 100 TB: ALWAYS an explicit schema — schema inference
is a full extra pass over the data and can silently widen types
between dumps. Parsing is ``text`` scan + ``from_json`` (a narrow
codegen'd projection), not the DataFrameReader's json path, for one
reason: malformed-line capture. The reader's PERMISSIVE
``_corrupt_record`` column cannot be filtered without caching the
whole input (Spark explicitly forbids queries that touch only the
internal corrupt column); ``from_json`` with
``columnNameOfCorruptRecord`` gives the same capture semantics as a
plain column, no cache, no second pass.

Write: ``to_json`` + text sink, laid out with the same deterministic
key-hash shuffle/sharding as the parquet exporter (``operators/
export.py``) — shard i holds a contiguous range of the order key, so
the corpus is globally ordered across shards and byte-stable across
engines, runs, and retries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import width
from ..operators.export import shuffle_order_key

__all__ = ["read_jsonl", "jsonl_parse_audit", "export_jsonl"]

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType | str, corrupt_col: str) -> StructType:
    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    if corrupt_col in st.fieldNames():
        return st
    return StructType(list(st.fields) + [StructField(corrupt_col, StringType())])


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """Parse a JSONL tree into ``schema`` + a ``corrupt_col`` that
    holds the raw line for rows that failed to parse (NULL for good
    rows). Blank lines are dropped. One narrow pass — scan, filter,
    ``from_json`` — that composes with column pruning: unreferenced
    JSON fields are never materialized."""
    full = _with_corrupt(schema, corrupt_col)
    raw = spark.read.text(path).filter(F.trim("value") != "")
    parsed = raw.select(
        F.from_json(
            "value", full, {"columnNameOfCorruptRecord": corrupt_col}
        ).alias("r")
    )
    return parsed.select("r.*")


def jsonl_parse_audit(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> DataFrame:
    """One-row parse audit over a :func:`read_jsonl` frame:
    ``(n_rows, n_good, n_corrupt)`` — the ETL-gate check before a dump
    enters the pipeline. Single conditional aggregation (map-side
    partials), same shape as the reference's row-count audits."""
    bad = F.col(corrupt_col).isNotNull()
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_corrupt"),
    )


def export_jsonl(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seed: int = 0,
    num_shards: int = 8,
    shuffled: bool = True,
) -> None:
    """Write ``df`` as JSONL shards.

    ``shuffled=True`` (the training-export default) lays lines out in
    the deterministic pseudo-random global order shared with
    ``export_shuffled``: one range-repartition on the md5 order key
    (Spark samples range boundaries — the standard total-order
    machinery), then a within-shard sort; shard i is a contiguous,
    disjoint key range. ``shuffled=False`` keeps input order per
    partition and sets exactly ``num_shards`` shards
    (``width.with_partitions``: coalesce, narrow, to shrink;
    repartition to grow).
    """
    line = F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    if shuffled:
        keyed = df.select(
            shuffle_order_key(F.col(id_col), seed).alias("_order"), line
        )
        out = (
            keyed.repartitionByRange(num_shards, "_order")
            .sortWithinPartitions("_order")
            .select("value")
        )
    else:
        out = width.with_partitions(df.select(line), num_shards)
    out.write.mode("overwrite").text(path)
