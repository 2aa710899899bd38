"""Training-corpus export: deterministic splits, global shuffle, shards.

The last step of a curation pipeline: assign every document to
train/val/test, lay the training set out in a pseudo-random order (so
sequential readers see an i.i.d.-looking stream), and write
size-bounded shards. All assignment is **key-hash deterministic** —
the same document lands in the same split with the same shard-order on
every engine, run, and retry, which seeded RNGs cannot promise on
Spark (``rand(seed)`` is partition-layout-dependent).

Scale posture: split assignment is a narrow projection (md5 → CASE),
no shuffle. The shuffled export is ONE range-repartition on the order
key (Spark samples range boundaries — the standard total-order
machinery) followed by within-partition sorts; shard size is bounded
with ``maxRecordsPerFile`` so downstream loaders get uniform files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = [
    "split_label",
    "train_val_test_split",
    "shuffle_order_key",
    "export_shuffled",
    "leakage_safe_split",
]

_PPM = 1_000_000


def _hash_ppm(key: Column, seed: int, salt: str) -> Column:
    """Uniform bucket in [0, 1e6) from md5 over (salt, seed, key) —
    bit-portable (DuckDB: ``md5_int_sql(...) % 1000000``). ``salt``
    decorrelates the split hash from the shuffle hash so split
    membership never biases shard order."""
    return md5_int(F.concat(F.lit(f"{salt}:{seed}:"), key.cast("string"))) % _PPM


def split_label(
    key: Column, fracs: dict[str, float], seed: int = 0
) -> Column:
    """Split name for a key under cumulative parts-per-million
    thresholds. ``fracs`` must sum to 1 (±1 ppm); dict order fixes the
    threshold order, so iterate a deterministic dict."""
    total = sum(fracs.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = _hash_ppm(key, seed, "split")
    names = list(fracs)
    # Cumulative thresholds; wrap innermost-last so the SMALLEST
    # threshold is the outermost WHEN (first-match semantics).
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += fracs[name]
        conds.append((int(round(cum * _PPM)), name))
    expr: Column = F.lit(names[-1])  # remainder absorbs rounding
    for threshold, name in reversed(conds):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    return expr


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    fracs: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """``df`` plus a ``split`` column (default 98/1/1
    train/val/test). Pure projection — composes with scan pruning."""
    fracs = fracs or {"train": 0.98, "val": 0.01, "test": 0.01}
    return df.withColumn("split", split_label(F.col(id_col), fracs, seed))


def shuffle_order_key(key: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random total-order key (md5 hex — uniform,
    collision-safe enough at 128 bits for ordering)."""
    return F.md5(F.concat(F.lit(f"shuffle:{seed}:"), key.cast("string")))


def export_shuffled(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seed: int = 0,
    num_shards: int = 8,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as parquet shards in deterministic shuffled order:
    range-repartition on the order key (shard i holds a contiguous key
    range, so shards are disjoint and globally ordered), sorted within
    each shard."""
    keyed = df.withColumn("_order", shuffle_order_key(F.col(id_col), seed))
    writer = (
        keyed.repartitionByRange(num_shards, "_order")
        .sortWithinPartitions("_order")
        .drop("_order")
        .write.mode("overwrite")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fracs: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Split by duplicate CLUSTER, not by document: near-dup ``pairs``
    (any pair generator — MinHash, SimHash, SemDeDup) are closed into
    connected components and every member hashes its COMPONENT
    REPRESENTATIVE (min id) into the split, so two near-duplicates can
    never straddle train/val — the eval-leakage failure mode a naive
    per-document split invites (a validation doc whose near-twin sits
    in train is a leaked label).

    Adds ``split``; singletons hash their own id (identical to
    :func:`train_val_test_split` for them, so turning this on only
    moves clustered docs). Scale: components via the
    large-star/small-star loop (edges only, no driver graph); the
    re-join to the corpus is on the id key, AQE-sized — dup clusters
    are a small fraction of a deduped corpus."""
    from .dedup import connected_components

    fracs = fracs or {"train": 0.98, "val": 0.01, "test": 0.01}
    comp = connected_components(pairs)
    joined = df.join(comp, df[id_col] == comp["node"], "left")
    rep = F.coalesce(F.col("component"), F.col(id_col))
    return joined.withColumn(
        "split", split_label(rep, fracs, seed)
    ).drop("node", "component")
