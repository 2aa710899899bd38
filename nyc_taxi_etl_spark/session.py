"""SparkSession factory.

Replaces the reference's ad-hoc session builders
(``spark_jobs/etl_yellow_s3.py:12-33``, ``smoke_test.py``) with one
factory that turns on everything Catalyst/AQE gives us for free and pins
the semantics the DuckDB-oracle comparison needs (UTC session timezone,
ANSI off so casts/divisions are null-on-error like the reference's
``errors="coerce"`` pandas semantics).

Scale posture: these configs are written for a real cluster; on
``local[N]`` they are still correct (AQE coalesces the 200-default
shuffle down, Arrow speeds every pandas-UDF exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_all"]

# the directory that holds this package: Python workers start from the
# JVM's cwd, so they find the worker daemon (``pydaemon``) through it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "nyc_taxi_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults favor the driver's local[..] harness but every setting is
    cluster-appropriate: AQE handles runtime partition coalescing and
    skew joins, so we do not hand-tune ``shuffle.partitions`` per job the
    way the reference did (2 in v1, 200 in v2 — ``etl_yellow_s3.py:16``).
    """
    # default width: $SPARK_GRAFT_CPUS, else the cores this process may
    # run on (its CPU affinity, which taskset or a container can set
    # below os.cpu_count())
    cores = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (one side buildable per partition and
        # ~3x smaller), and let AQE rewrite a planned sort-merge to
        # shuffled-hash at runtime when every post-shuffle partition
        # is under 64 MB. Both are ratio/threshold-guarded, so the
        # choice stays size-driven at any scale — sort-merge remains
        # the fallback whenever a build side could not fit. Failure
        # mode to know (r10 ADVICE): unlike sort-merge, a shuffled-hash
        # join's in-memory build side cannot spill gracefully, so a bad
        # plan-time size UNDERESTIMATE (highly compressed source,
        # post-filter estimate) can OOM an executor where SMJ would
        # have spilled. The threshold guards bound the exposure; a
        # deployment sharing this factory with non-benchmark workloads
        # that hit it should drop the static flag (keep only the AQE
        # runtime-size-guarded rewrite below, which uses OBSERVED map
        # sizes) via extra_conf. Measured
        # r10 on the 12 join-heaviest catalog entries at sf0.1 (same
        # window, 5 interleaved passes, min): 44.78 s -> 38.85 s
        # (-13%), every entry flat or faster — the checkpointed
        # intermediates these plans join on carry no stats, so the
        # static planner was sort-merge-joining (sorting both sides
        # of) frames that fit comfortably in a per-partition hash map.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache. Spark's default of 100 entries is below
        # the working set of one ETL pass (run_etl + the 10 reference
        # analyses), so every warm pass re-compiled ~100 classes with
        # Janino and the JIT compiled them again; 1000 keeps a warm
        # pass at 0 compiles (tests/test_taxi_engine.py). perfbench
        # taxi_etl on a 4-vCPU VM, 3 interleaved pairs: cpu_s
        # 12.42/10.11/11.22 -> 10.64/9.48/8.49, peak RSS flat. A static
        # conf: the cache is built once per JVM, on its first codegen,
        # so it only takes effect for the first session in a JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert
        # (sources/catalog.py) — micro-precision is lossless here.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Null-on-error casts & division semantics (reference relies on
        # pandas errors="coerce" / Spark 3 non-ANSI behavior).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers import the pip-installed pyspark instead of
        # $SPARK_HOME's pyspark.zip and the spark-core jar: every task's
        # importlib.invalidate_caches() made each cached zipimporter
        # re-read its archive directory: 0.22-0.26 s of CPU per task,
        # 0.0001 s without the archives. pydaemon.py keeps them when
        # the installed pyspark's or py4j's version differs.
        # perfbench stateful_streams on a 4-vCPU VM, 10 interleaved
        # pairs: cpu_s median 5.06 -> 3.61 s (lower in 10/10); worker
        # CPU per drain 2.0 -> 1.03 s. The conf is static: it takes
        # effect for the first session in a JVM.
        .config("spark.python.daemon.module", "nyc_taxi_etl_spark.pydaemon")
    )
    extra = dict(extra_conf or {})
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(
            p for p in (_PACKAGE_ROOT, extra.pop("spark.executorEnv.PYTHONPATH", None)) if p
        ),
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
