"""Incrementally-maintained materialized views over VersionedTables:
a grouped AGGREGATE view (MaterializedAgg — the continuous-aggregate
shape) and an inner equi-JOIN view (MaterializedJoin — the delta-rule
shape ΔV = ΔA⋈B ∪ A⋈ΔB).

At 100 TB the recompute cost of a dashboard aggregate dwarfs the
delta that changed it. This module maintains a grouped aggregate
(count / sum / min / max — the MERGEABLE aggregates; avg derives as
sum/count) by reading ONLY the data directories appended since the
last refresh (``VersionedTable.read_changes_since``) and merging the
delta's partial aggregate into the stored state with one keyed
upsert. Refresh cost follows the APPEND batch, not the table.

The view's state is itself a VersionedTable, so refreshes are atomic,
time-travelable and crash-restartable: the state commit records which
source version it reflects (``source_version``), and a re-run after a
crash resumes from exactly that version — at-least-once refresh
converges because the merge is keyed and the source range is derived
from the recorded watermark, never from wall clock.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import width
from .versioned import VersionedTable, compact_layout

__all__ = ["MaterializedAgg", "MaterializedJoin"]

_MERGE = {
    "count": (F.count, F.sum),  # partial count merges by summing
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _watermarks(rec: dict) -> tuple | None:
    """The two source versions a join-view commit reflects. A commit
    without them (an external / non-refresh write to the state table)
    reads as never refreshed, so refresh() falls back to a full
    recompute instead of comparing integers against None."""
    la = rec.get("source_left_version")
    rb = rec.get("source_right_version")
    return None if la is None or rb is None else (la, rb)


class MaterializedAgg:
    """Materialized ``groupBy(keys).agg(...)`` over ``source``.

    ``aggs`` maps output column → ("count"|"sum"|"min"|"max", input
    column; ignored for count). Only mergeable aggregates are
    accepted — that is what makes delta maintenance sound.
    """

    def __init__(
        self,
        source: VersionedTable,
        root: str,
        keys: Sequence[str],
        aggs: dict[str, tuple],
    ):
        for name, (kind, _col) in aggs.items():
            if kind not in _MERGE:
                raise ValueError(
                    f"{name}: {kind!r} is not a mergeable aggregate "
                    f"(supported: {sorted(_MERGE)})"
                )
        self.source = source
        self.state = VersionedTable(source.spark, root)
        self.keys = list(keys)
        self.aggs = dict(aggs)

    # -- aggregate plumbing ------------------------------------------------

    def _partial(self, df: DataFrame) -> DataFrame:
        cols = []
        for name, (kind, col) in self.aggs.items():
            fn = _MERGE[kind][0]
            cols.append(
                (fn(F.lit(1)) if kind == "count" else fn(col)).alias(name)
            )
        return df.groupBy(*self.keys).agg(*cols)

    def _merge(self, state: DataFrame, delta: DataFrame) -> DataFrame:
        merged = state.unionByName(delta)
        cols = []
        for name, (kind, _col) in self.aggs.items():
            fn = _MERGE[kind][1]
            cols.append(fn(name).alias(name))
        return merged.groupBy(*self.keys).agg(*cols)

    # -- public API --------------------------------------------------------

    def refreshed_source_version(self) -> int | None:
        return self.state.latest_commit().get("source_version")

    def refresh(self) -> int | None:
        """Bring the view up to the source's latest version. Reads the
        appended directories only; one keyed merge shuffle. No-op
        (returns None) when already current."""
        src_latest = self.source.latest_version()
        if src_latest is None:
            return None
        base = self.state.latest_commit()
        done = base.get("source_version")
        if done == src_latest:
            return None
        if done is None:
            merged = self._partial(self.source.read(src_latest))
        else:
            try:
                delta = self.source.read_changes_since(done)
                merged = self._merge(
                    self.state.read(), self._partial(delta)
                )
            except ValueError:
                # a non-append commit (upsert/delete/compact) landed in
                # the range: directory-increment deltas are invalid, so
                # fall back to a full recompute of the new snapshot —
                # correct for ANY history, just not incremental for
                # this one refresh
                merged = self._partial(self.source.read(src_latest))
        return self.state.commit(
            base, "matview_refresh", written=[merged], source_version=src_latest
        )

    def read(self) -> DataFrame:
        return self.state.read()


class MaterializedJoin:
    """Materialized INNER equi-join ``left ⋈ right`` over two
    VersionedTables, maintained by the classic delta rule for
    append-only sources:

        ΔV  =  ΔA ⋈ B_new  ∪  A_old ⋈ ΔB

    (B_new includes B's delta, A_old predates A's delta, so the
    ΔA ⋈ ΔB cross term lands exactly once). Appends keep an inner
    join MONOTONE, so a refresh APPENDS the delta rows to the stored
    view — nothing is rewritten, and refresh cost follows the delta
    joined against ONE full side (bucket that side on the join key at
    scale and the probe is co-located), never A ⋈ B recomputed.
    ``A_old`` is a time-travel read of the source at the view's
    recorded watermark — the commit log is what makes the delta rule
    implementable without keeping a second copy of A.

    Any non-append commit in either source (upsert / delete /
    compact) voids directory-increment deltas; the refresh then falls
    back to a full recompute published as an overwrite — correct for
    any history, just not incremental for that one refresh (same
    contract as MaterializedAgg).

    The view state is itself a VersionedTable: refreshes are atomic
    and crash-restartable (the commit records BOTH source versions;
    an interrupted refresh re-runs from the recorded watermarks and
    converges because the source ranges derive from commits, never
    wall clock).
    """

    def __init__(
        self,
        left: VersionedTable,
        right: VersionedTable,
        root: str,
        on: Sequence[str],
        compact_after: int | None = 16,
    ):
        if not on:
            raise ValueError("MaterializedJoin: join keys must be non-empty")
        if compact_after is not None and compact_after < 2:
            raise ValueError("MaterializedJoin: compact_after must be >= 2")
        self.left = left
        self.right = right
        self.on = list(on)
        self.compact_after = compact_after
        self.state = VersionedTable(left.spark, root)

    def refreshed_source_versions(self) -> tuple | None:
        return _watermarks(self.state.latest_commit())

    def _full(self, la: int, rb: int) -> DataFrame:
        return self.left.read(la).join(self.right.read(rb), self.on)

    def refresh(self) -> int | None:
        """Bring the view up to both sources' latest versions. No-op
        (returns None) when already current or either source is still
        empty."""
        la = self.left.latest_version()
        rb = self.right.latest_version()
        if la is None or rb is None:
            return None
        base = self.state.latest_commit()
        done = _watermarks(base)
        if done == (la, rb):
            return None
        full = done is None
        if full:
            delta = self._full(la, rb)
        else:
            dl, dr = done
            try:
                parts = []
                if la > dl:
                    parts.append(
                        self.left.read_changes_since(dl).join(
                            self.right.read(rb), self.on
                        )
                    )
                if rb > dr:
                    parts.append(
                        self.left.read(dl).join(
                            self.right.read_changes_since(dr), self.on
                        )
                    )
                delta = parts[0]
                for p in parts[1:]:
                    delta = delta.unionByName(p)
            except ValueError:
                # non-append commit in the range: delta rule invalid
                delta = self._full(la, rb)
                full = True
        carried = [] if full else base["active"]
        version = self.state.commit(
            base,
            "join_matview_full" if full else "join_matview_refresh",
            carried,
            [delta],
            source_left_version=la,
            source_right_version=rb,
        )
        if (
            self.compact_after is not None
            and len(carried) + 1 >= self.compact_after
        ):
            # Auto-trigger bounds the FILE count, not just the directory
            # count: at most compact_after files, and never more than
            # the snapshot's partitions, so the rewrite is a coalesce
            # (narrow, no shuffle). Explicit compact() calls choose
            # their own layout/size policy (target_files/cluster_by).
            n_part = width.num_partitions(self.state.read())
            return self.compact(
                target_files=min(n_part, self.compact_after)
            )
        return version

    def compact(
        self,
        target_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
        zorder_bits: int = 8,
    ) -> int:
        """Rewrite the view's active set as ONE data directory and
        commit it as the next version (VERDICT r7 task #3: without
        this, every incremental refresh appends a directory forever —
        after thousands of refreshes the view reads N small files and
        carries N stats entries).

        It runs ``VersionedTable.compact``'s rewrite
        (:func:`compact_layout`), but where that commit record has no
        source watermarks, which would force the NEXT refresh into a
        full recompute, this publishes ``join_matview_compact``
        CARRYING the current source versions forward, so incremental
        maintenance continues across compactions. Auto-triggered by
        ``refresh()`` once the active list reaches ``compact_after``
        directories, which passes ``target_files=min(partitions,
        compact_after)`` so the small-file count is bounded too. An
        explicit call with ``target_files=None`` and no ``cluster_by``
        rewrites the active files as-is — only the directory list is
        consolidated (mirroring ``VersionedTable.compact``); pass
        ``target_files`` for exactly that many files
        (``width.with_partitions``) or ``cluster_by`` for the Morton
        layout."""
        version, base = self.state.snapshot()
        snap = compact_layout(
            self.state.read(version), target_files, cluster_by, zorder_bits
        )
        return self.state.commit(
            base,
            "join_matview_compact",
            written=[snap],
            base_version=version,
            clustered_by=list(cluster_by) if cluster_by else None,
            source_left_version=base.get("source_left_version"),
            source_right_version=base.get("source_right_version"),
        )

    def read(self) -> DataFrame:
        return self.state.read()
