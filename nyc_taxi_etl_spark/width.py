"""Partition widths: the one module that decides how many partitions a
frame, an exchange, a state store or a write gets.

The reference hand-tunes every job (``shuffle.partitions`` 2 in v1 and
200 in v2, ``coalesce(1)`` / ``coalesce(10)`` before each write,
``spark_jobs/etl_yellow_s3.py:16,56``). The engine derives every count
from two inputs, each with one reader here:

* the cores (:func:`cores`, ``defaultParallelism``) — how wide CPU-bound
  work spreads (:func:`spread`) and how many state stores a stateful
  drain keeps (:func:`state_partitions`);
* the configured shuffle width (:func:`shuffle_width`, set once per
  session by ``session.get_spark``) — hash exchanges
  (:func:`verify_width`, ``sequence.global_sequence``) and the cap of
  the graph loops' size-derived width (:func:`iter_partitions`).

Every partition or file probe and every change of the session's
shuffle width lives here too (a grep guard in
``tests/test_scale_patterns.py`` keeps it so).
"""

from __future__ import annotations

import contextlib
import math

from pyspark.sql import DataFrame, SparkSession

#: Target edge rows per partition of a graph loop (:func:`iter_partitions`).
#: A row is two longs + a double (≈ 24 B), so 2^18 rows ≈ 6 MB —
#: small on purpose: iterative rounds are SCHEDULING-bound (every round
#: pays tasks × launch cost), so a small graph runs its rounds in a
#: handful of tasks while a cluster-scale edge list hits the cap.
ITER_ROWS_PER_PARTITION = 1 << 18


def cores(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def shuffle_width(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def num_partitions(df: DataFrame) -> int:
    """Partitions of ``df``'s physical plan (plans the frame)."""
    return df.rdd.getNumPartitions()


def input_file_count(df: DataFrame) -> int:
    """Files behind ``df``'s scans: file-index metadata, no job."""
    return len(df.inputFiles())


def spread(df: DataFrame) -> DataFrame:
    """Round-robin an under-partitioned file input to the core count
    before CPU-bound work (one small parquet file reads as ONE
    partition — fine for IO, fatal for 12×md5-per-shingle hashing). At
    real scale inputs arrive as thousands of files and this is a no-op.

    The probe is the file count, not :func:`num_partitions`, which
    would force a DataFrame→RDD conversion at plan build. Files
    lower-bound scan parallelism (large files split further), so a
    skipped repartition is safe; non-file sources (in-memory frames)
    have no files and stay untouched."""
    target = cores(df.sparkSession)
    try:
        n_files = input_file_count(df)
    except Exception:  # pragma: no cover - exotic sources without a file index
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def verify_width(pairs: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition candidate pairs at the configured shuffle width
    before their dedup/verify stage.

    The ``distinct()`` after candidate generation plans an exchange
    that AQE coalesces by BYTES, but every row after it pays an
    expensive verify (banded Levenshtein DP, ``array_intersect`` over
    shingle sets, 64-dim dot folds): a few MB of (id_a, id_b) ran on
    1-2 tasks (r11, sf0.1: fuzzy 14 s vs 4 s). ``repartition(n, cols)``
    is REPARTITION_BY_NUM: it satisfies the distinct's clustering and
    AQE never shrinks it. ``fuzzy_near_pairs`` keeps its 6 exchanges
    (this one replaces the distinct's); ``ppjoin_near_pairs`` goes from
    9 to 10 (its distinct planned no exchange)."""
    return pairs.repartition(shuffle_width(pairs.sparkSession), *cols)


def state_partitions(spark: SparkSession) -> int:
    """State stores of a stateful drain: ``min(8, cores)`` (measured in
    ``streaming.events.run_available_now``)."""
    return min(8, cores(spark))


def iter_partitions(spark: SparkSession, n_rows: int) -> int:
    """Width of a graph loop over ``n_rows`` edges:
    ``ceil(n_rows / ITER_ROWS_PER_PARTITION)``, at least 1, capped by
    the configured shuffle width."""
    cap = shuffle_width(spark)
    return max(1, min(cap, math.ceil(n_rows / ITER_ROWS_PER_PARTITION)))


@contextlib.contextmanager
def shuffle_scope(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the body and
    restore the value found on entry on exit, also on an exception;
    yields ``n``. Nested scopes unwind in LIFO order.

    The conf, not a per-plan ``repartition``, because only the conf
    sets a stateful operator's partition count (the checkpoint bakes
    it in) and the output width of an aggregation inside a graph loop
    (whose zero-exchange rounds need every relation on one count).

    NOT THREAD-SAFE: the conf is session-global, so another query
    planned on the same session while a scope is open plans with ``n``
    (same results, possibly wrong parallelism). Threads that submit
    jobs concurrently need their own ``SparkSession.newSession()``."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def with_partitions(df: DataFrame, n: int) -> DataFrame:
    """``df`` in exactly ``n`` partitions, so a write makes ``n`` files:
    ``coalesce`` (narrow, no shuffle) down to the current count,
    ``repartition`` above it, which ``coalesce`` cannot reach.

    ``n == 1`` coalesces without counting: ``coalesce(1)`` yields one
    partition even from an empty child, and the count plans the frame,
    which under AQE runs each upstream shuffle as a job of its own."""
    if n == 1 or n <= num_partitions(df):
        return df.coalesce(n)
    return df.repartition(n)
