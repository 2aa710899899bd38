"""One way to pin a frame: every eager materialization in the engine,
and every driver-side count read off that same job, goes through
:func:`pin`."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def pin(
    df: DataFrame, **metrics: Column
) -> DataFrame | tuple[DataFrame, dict]:
    """Materialize ``df`` once, now, and return the pinned frame.

    A pin is for a subplan with several consumers (or an iterative
    loop whose plan would otherwise grow each round): without it every
    consumer re-executes the subplan from lineage. The pin is an eager
    ``localCheckpoint``, not ``persist``: the frames built on it are
    returned lazily, so a persist could never be unpersisted and its
    cached blocks would accumulate in the CacheManager across repeated
    calls, while checkpoint blocks are released by the ContextCleaner
    once the pinned frame is unreferenced. The returned plan is a leaf
    scan of the checkpointed partitions, and it keeps their
    partitioning and ordering, so a layout built before the pin (e.g.
    ``repartition(n, k).sortWithinPartitions(k)``) still feeds a join
    on ``k`` with no exchange and no sort.

    ``metrics`` (name → aggregate column) ride the checkpoint job via
    ``df.observe``: zero extra jobs. With metrics the call returns
    ``(frame, values)``, where ``values`` maps each name to its
    aggregate over the pinned rows."""
    if not metrics:
        return df.localCheckpoint(eager=True)
    obs = Observation()
    df = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    return df.localCheckpoint(eager=True), obs.get
