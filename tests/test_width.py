"""The partition-width module: the rules it applies and the session
state it hands back."""

from __future__ import annotations

import pytest

from nyc_taxi_etl_spark import width

KEY = "spark.sql.shuffle.partitions"


def test_shuffle_scope_sets_then_restores_on_exception(spark):
    prev = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with width.shuffle_scope(spark, 3) as n:
            assert n == 3 and spark.conf.get(KEY) == "3"
            raise RuntimeError("inside the scope")
    assert spark.conf.get(KEY) == prev


def test_nested_shuffle_scopes_restore_lifo(spark):
    prev = spark.conf.get(KEY)
    with width.shuffle_scope(spark, 3):
        with width.shuffle_scope(spark, 5):
            assert spark.conf.get(KEY) == "5"
        assert spark.conf.get(KEY) == "3"
    assert spark.conf.get(KEY) == prev


def test_width_rules(spark):
    cores = spark.sparkContext.defaultParallelism
    assert width.cores(spark) == cores
    assert width.shuffle_width(spark) == int(spark.conf.get(KEY))
    assert width.state_partitions(spark) == min(8, cores)
    rows = width.ITER_ROWS_PER_PARTITION
    assert width.iter_partitions(spark, 0) == 1
    assert width.iter_partitions(spark, rows + 1) == min(2, width.shuffle_width(spark))
    assert width.iter_partitions(spark, 10**12) == width.shuffle_width(spark)


@pytest.mark.parametrize("n", [1, 3, 4, 6, 9])
def test_with_partitions_is_exact(spark, n):
    """Exactly ``n`` partitions: a narrow coalesce up to the current
    count, a round-robin repartition above it."""
    df = spark.range(100, numPartitions=4)
    out = width.with_partitions(df, n)
    assert out.rdd.getNumPartitions() == n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange" in plan) == (n > 4), plan
    assert sorted(r.id for r in out.collect()) == list(range(100))
