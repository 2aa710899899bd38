"""Mergeable distinct-count sketches (Apache DataSketches HLL, built
into Spark as ``hll_sketch_agg``/``hll_union_agg``).

North-star extension — the reference computes distinct-ish stats only
by full groupBy (`scripts/analytics_pandas.py:205-214` nunique-style
passes). At 100 TB the winning pattern is PRE-AGGREGATED SKETCHES:
compute one small binary sketch per (partition-key) once, store it,
and answer any distinct-count rollup later by MERGING sketches —
no rescan of the raw data, and merging is associative/commutative so
it parallelizes map-side like a sum. That unlocks two queries exact
counts cannot do incrementally:

  * distinct-over-arbitrary-range (union the daily sketches in the
    range — additive counts CANNOT give distinct users over a week);
  * append-only maintenance (a new day's data only produces that
    day's sketch; every historical rollup stays valid).

Error is the standard HLL envelope (~1.04/sqrt(2^lgK); lgK=14 ≈ 0.8%
relative standard error, 16 KiB per sketch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = [
    "cms_estimate",
    "cms_table",
    "keyed_sketches",
    "trailing_union",
    "union_estimate",
]


def keyed_sketches(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lg_k: int = 14,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per key group
    — the storable pre-aggregate. One hash-agg, map-side partials
    (sketch update is commutative), output |keys| rows × 2^lg_k
    bytes."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col)
    )


def union_estimate(
    df: DataFrame,
    keys: list[str],
    sketch_col: str = "sketch",
    out_col: str = "distinct_est",
) -> DataFrame:
    """Merge sketches per key group and estimate the distinct count.
    ``hll_union_agg`` is associative, so Catalyst runs it as partial +
    final merge exactly like a sum — rolling a year of daily sketches
    into a monthly answer touches 365 sketch rows, not the raw data."""
    agg = [F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out_col)]
    return df.groupBy(*keys).agg(*agg) if keys else df.agg(*agg)


def trailing_union(
    daily: DataFrame,
    date_col: str,
    days: int,
    sketch_col: str = "sketch",
    out_col: str = "distinct_est",
) -> DataFrame:
    """Trailing-``days`` distinct estimate per date: each daily sketch
    is replicated to the ``days`` target dates it contributes to
    (sequence+explode — no driver loop), then merged per target date.

    Scale: input is the POST-AGG daily sketch table (365 rows/year ×
    16 KiB), so the days-fold replication is days×|dates| sketch rows
    — trivial next to the raw scan the sketches already absorbed. The
    window-function alternative doesn't exist (no user HLL window
    agg); this explode+re-agg is the standard formulation."""
    contrib = daily.select(
        F.explode(
            F.sequence(
                F.col(date_col),
                F.date_add(F.col(date_col), days - 1),
            )
        ).alias("target_date"),
        F.col(date_col).alias("src_date"),
        sketch_col,
    )
    # only keep target dates that actually exist in the series (the
    # explode also produces dates past the end of the data)
    dates = daily.select(F.col(date_col).alias("target_date")).distinct()
    return (
        contrib.join(dates, "target_date")
        .groupBy("target_date")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out_col),
            F.count("*").alias("days_merged"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (frequencies) — portable md5 hash rows, so the
# whole sketch replays bit-for-bit in any engine with md5 (the
# DuckDB-oracle posture of the LSH/minhash operators)
# ---------------------------------------------------------------------------


def _cms_bucket(key: Column, j: int, width: int, seed: int) -> Column:
    """Row j's bucket for ``key``: md5 of ``"{seed}:{j}:{key}"``, first
    15 hex chars as an integer (< 2^60, no sign issues), mod width —
    identical arithmetic in Spark (``md5_int``) and DuckDB
    (``md5_int_sql``)."""
    h = md5_int(F.concat(F.lit(f"{seed}:{j}:"), key.cast("string")), n=15)
    return F.pmod(h, F.lit(width))


def cms_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
) -> DataFrame:
    """Count-Min sketch of ``key_col`` frequencies as a
    ``(j, bucket, c)`` counter TABLE — the storable, MERGEABLE
    frequency pre-aggregate (merge = sum counters per (j, bucket),
    associative/commutative like the HLL union above).

    Scale: the explode is row-local; the one hash-agg's partial
    (map-side) combine collapses each task's contribution to at most
    depth×width counters, so the exchange moves O(depth·width) rows
    per task regardless of input size — the whole point of sketching
    a 100 TB stream. Standard CMS guarantees: est ≥ true, and
    est ≤ true + εN with prob 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.
    """
    key = F.col(key_col)
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _cms_bucket(key, j, width, seed).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(hashes).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-frequency estimates for ``candidates[key_col]`` against a
    ``cms_table`` sketch: min over the depth counters each key hashes
    to. The sketch side is depth×width rows — broadcast it; the
    candidate side never rescans the sketched data (that's the
    pre-aggregate contract).

    Keys the sketch never saw get the CORRECT estimate 0: the join is
    a left join with ``coalesce(c, 0)``, because an empty bucket means
    "counter 0", not "no information" — an inner join would drop (or,
    on partial collisions, overestimate) unseen keys, which are the
    normal queries against a stored frequency sketch."""
    if out_col in candidates.columns:
        raise ValueError(
            f"cms_estimate: out_col {out_col!r} collides with a "
            "candidates column"
        )
    key = F.col(key_col)
    # reserved internal names so candidate frames that themselves carry
    # j/bucket/c columns (e.g. sketch-shaped tables) can be queried
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("__cms_j"),
                _cms_bucket(key, j, width, seed).alias("__cms_bucket"),
            )
            for j in range(depth)
        ]
    )
    cand_h = candidates.select(
        *candidates.columns, F.explode(hashes).alias("__cms_h")
    ).select(
        *candidates.columns,
        F.col("__cms_h.__cms_j").alias("__cms_j"),
        F.col("__cms_h.__cms_bucket").alias("__cms_bucket"),
    )
    sk = F.broadcast(
        sketch.select(
            F.col("j").alias("__cms_j"),
            F.col("bucket").alias("__cms_bucket"),
            F.col("c").alias("__cms_c"),
        )
    )
    return (
        cand_h.join(sk, ["__cms_j", "__cms_bucket"], "left")
        .groupBy(*candidates.columns)
        .agg(
            F.min(F.coalesce(F.col("__cms_c"), F.lit(0)))
            .cast("long")
            .alias(out_col)
        )
    )
