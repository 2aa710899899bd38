"""K-Minimum-Values (bottom-k) distinct sketches with set-operation
estimates (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007).

The third mergeable sketch family beside HLL (``sketches.py``) and
Count-Min: keep the k SMALLEST md5-hash values of a column's distinct
values per group. Three properties make it worth carrying next to
HLL:

  * the sketch supports SET OPERATIONS — union (merge the arrays,
    re-truncate to bottom-k) and, unlike HLL, principled
    INTERSECTION/Jaccard estimates between groups (Beyer et al.'s
    ρ·(k−1)/θ estimator) — "how many users did BOTH event types see"
    from two 64-value arrays, no rescan;
  * it is fully DETERMINISTIC given the hash, so a DuckDB oracle
    replays every array element and every estimate bit-for-bit
    (DataSketches HLL estimates are not SQL-reproducible — see the
    hll rollup's companion-column posture);
  * the estimator is exact below k: a group with < k distinct hashes
    stores ALL of them, and the sketch degrades gracefully into the
    true distinct set.

Error envelope: relative standard error ≈ 1/sqrt(k−2) for the
distinct estimate (k=256 ≈ 6%); Jaccard standard error ≈
sqrt(J(1−J)/k).

Scale: the sketch build is the per-partition-truncate-then-final
pattern (the ``dsir``/``global_sequence`` lesson): a first bottom-k
pass within (group, hash-salt) caps every salt bucket at k rows
BEFORE the per-group rank, so no single reducer ever sorts a whole
group's distinct values — the final rank sees ≤ salt_mod·k rows per
group. Downstream set-ops touch only |groups| × k longs.

Reference intent: the reference's only distinct counting is pandas
``nunique`` passes (scripts/analytics_pandas.py:205-214); this is the
storable/mergeable re-expression of those audits plus the
cross-segment overlap question the reference answers by re-scanning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = ["kmv_sketches", "kmv_estimate", "kmv_pair_overlap"]

# md5-prefix hash range: 15 hex chars = 16^15 = 2^60 (fits BIGINT; the
# DuckDB twin is md5_int_sql(v, n=15))
HASH_SPACE = 16 ** 15


def _hash60(col: Column) -> Column:
    return md5_int(col.cast("string"), n=15)


def kmv_sketches(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 256,
    salt_mod: int = 64,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Bottom-k distinct-hash sketch of ``value_col`` per key group:
    ``(key_cols..., sketch array<bigint> ascending, size <= k)``.

    Two-phase exact bottom-k: phase 1 ranks within (group, hash mod
    ``salt_mod``) and keeps <= k per salt cell — correct because the
    global bottom-k of a group is contained in the union of every
    cell's bottom-k — so the per-group final rank never sees more
    than salt_mod*k rows and no reducer sorts a whole group."""
    if sketch_col in df.columns:
        raise ValueError(f"column {sketch_col!r} already exists")
    hashed = (
        df.select(*key_cols, _hash60(F.col(value_col)).alias("_h"))
        .distinct()
    )
    w1 = Window.partitionBy(
        *key_cols, F.pmod(F.col("_h"), F.lit(salt_mod))
    ).orderBy("_h")
    w2 = Window.partitionBy(*key_cols).orderBy("_h")
    return (
        hashed.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") <= k)
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias(sketch_col))
    )


def kmv_estimate(sketch: Column, k: int) -> Column:
    """Distinct-count estimate from a bottom-k sketch column: exact
    ``size`` when the group had fewer than k distinct hashes (the
    sketch then IS the distinct hash set), else the order-statistic
    estimator (k−1)/θ with θ = kth-smallest hash / HASH_SPACE."""
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(HASH_SPACE)
        / F.element_at(sketch, k).cast("double")
    )


def kmv_pair_overlap(
    sketches: DataFrame,
    key_col: str,
    k: int = 256,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Every unordered group pair's union / intersection / Jaccard
    estimates from the sketches alone: ``(key_a, key_b, est_a, est_b,
    est_union, est_jaccard, est_common)``.

    Beyer et al.: combine the two sketches, keep the bottom-k of the
    union — a valid KMV sketch of A∪B — then ρ = (members of that
    combined sketch present in BOTH input sketches)/k estimates
    Jaccard, and est_common = ρ·est_union. When the combined sketch
    holds < k hashes it is the COMPLETE distinct hash set of A∪B, so
    union and intersection fall back to exact sizes.

    Scale: |groups| × k longs per side — the join is a broadcast of
    sketch rows, never of the underlying data."""
    a = sketches.select(
        F.col(key_col).alias("key_a"), F.col(sketch_col).alias("_ska")
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"), F.col(sketch_col).alias("_skb")
    )
    pairs = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("_ska"), F.col("_skb"))), 1, k
    )
    inter = F.array_intersect(F.col("_ska"), F.col("_skb"))
    est_a = kmv_estimate(F.col("_ska"), k)
    est_b = kmv_estimate(F.col("_skb"), k)
    exact_mode = F.size(union_k) < k
    est_union = F.when(
        exact_mode, F.size(union_k).cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(HASH_SPACE)
        / F.element_at(union_k, k).cast("double")
    )
    est_jacc = F.when(
        exact_mode,
        F.size(inter).cast("double") / F.size(union_k).cast("double"),
    ).otherwise(
        F.size(F.array_intersect(union_k, inter)).cast("double")
        / F.lit(float(k))
    )
    return pairs.select(
        "key_a",
        "key_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_union.alias("est_union"),
        est_jacc.alias("est_jaccard"),
        (est_jacc * est_union).alias("est_common"),
    )
