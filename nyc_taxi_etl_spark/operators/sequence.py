"""Global sequence numbers (dense row_number over a total order)
WITHOUT the single-partition sort.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY is the
classic Spark scale trap: Catalyst satisfies the window's required
distribution by collapsing the whole relation into ONE partition —
one task sorts 100 TB. The standard distributed idiom (this module)
is two-phase:

1. range-partition + sort locally on the order key (one exchange,
   fully parallel — the same machinery as a distributed ORDER BY);
2. count rows per partition (a tiny agg job over the pinned
   partitions), prefix-sum the counts on the driver (#partitions
   scalars — bounded, never data), and add each partition's offset to
   its LOCAL row index.

The local index costs nothing: after the range exchange,
``monotonically_increasing_id()`` is documented as
``partition_id << 33 | row_index_within_partition`` (upper 31 bits =
partition, lower 33 = per-partition counter in iteration order), so
``id & (2^33 − 1)`` IS the local index of the sorted run — no second
exchange, no Python, no per-row state. A ``localCheckpoint`` pins the
partition layout so the counts job and the final pass see the SAME
split (re-evaluating the range exchange in two jobs could legally
re-sample different boundaries, which would desynchronize offsets
from contents).

Determinism: with a total order key the result equals
``row_number() OVER (ORDER BY order_cols)`` exactly, regardless of
where the sampled range boundaries land — boundaries only move rows
between ADJACENT sorted runs, and offsets are computed from the
actual pinned counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import width
from ..pins import pin

__all__ = ["global_sequence"]

_LOCAL_MASK = (1 << 33) - 1
#: above this partition count the literal offset map would bloat the
#: plan; the operator switches to a broadcast equi-join on the
#: partition id (module-level so tests can exercise the join path)
_MAP_LITERAL_MAX = 4096


def global_sequence(
    df: DataFrame,
    order_cols: list[str | Column],
    out_col: str = "seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = 1-based global row number of ``df`` under the
    total order ``order_cols`` (make the key unique — append an id
    column — or equal keys get an arbitrary but stable relative
    order within their range partition).

    One wide exchange (the range repartition), one tiny agg job, zero
    Python on the data path. Scale: every stage is parallel in
    #partitions; driver state is one long per partition.
    """
    if out_col in df.columns:
        raise ValueError(
            f"global_sequence: out_col {out_col!r} already exists in df"
        )
    for reserved in ("_pid", "_local", "_off"):
        # the >4096-partition fallback joins on these internals; a
        # caller column with the same name would be silently replaced
        if reserved in df.columns:
            raise ValueError(
                f"global_sequence: df column {reserved!r} collides with an "
                f"internal column of the partition-offset join"
            )
    spark = df.sparkSession
    n_part = num_partitions or width.shuffle_width(spark)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # pin partition contents (see top)
    ranged = pin(
        df.repartitionByRange(n_part, *cols).sortWithinPartitions(*cols)
    )
    counts = {
        r["_pid"]: r["_n"]
        for r in ranged.groupBy(
            F.spark_partition_id().alias("_pid")
        )
        .agg(F.count("*").alias("_n"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long")).limit(0)
    biggest = max(counts.values())
    if biggest > _LOCAL_MASK:
        # the local index only has 33 bits; the caller must raise
        # num_partitions (the counts are already in hand, so this is
        # an exact check, not a heuristic)
        raise ValueError(
            f"global_sequence: a range partition holds {biggest} rows, "
            f"above the 2^33-1 local-index capacity — raise "
            f"num_partitions (currently {n_part})"
        )
    mid = F.monotonically_increasing_id()
    local = mid.bitwiseAND(F.lit(_LOCAL_MASK))
    if len(offsets) <= _MAP_LITERAL_MAX:
        # plan-time literal map: zero joins. Above ~4k partitions the
        # literal expression bloats the plan, so switch to a broadcast
        # equi-join on the partition id (still #partitions rows).
        off_map = F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        )
        return ranged.withColumn(
            out_col,
            (off_map[F.spark_partition_id()] + local + F.lit(1)).cast("long"),
        )
    off_df = spark.createDataFrame(
        sorted(offsets.items()), "_pid int, _off long"
    )
    return (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_local", local)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_local") + 1).cast("long"))
        .drop("_pid", "_local", "_off")
    )
