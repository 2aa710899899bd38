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
from .versioned import VersionedTable

__all__ = ["MaterializedAgg", "MaterializedJoin"]

_MERGE = {
    "count": (F.count, F.sum),  # partial count merges by summing
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


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
        v = self.state.latest_version()
        if v is None:
            return None
        return self.state._read_commit(v).get("source_version")

    def refresh(self) -> int | None:
        """Bring the view up to the source's latest version. Reads the
        appended directories only; one keyed merge shuffle. No-op
        (returns None) when already current."""
        src_latest = self.source.latest_version()
        if src_latest is None:
            return None
        done = self.refreshed_source_version()
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
        rel = self.state._write_data_dir(merged)
        base = self.state.latest_version()
        version = 0 if base is None else base + 1
        self.state._publish(
            version,
            {
                "version": version,
                "operation": "matview_refresh",
                "source_version": src_latest,
                "active": [rel],
                "schema": self.state._schema_of(merged),
                "file_stats": self.state._scan_stats(rel),
            },
        )
        return version

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
        v = self.state.latest_version()
        if v is None:
            return None
        rec = self.state._read_commit(v)
        la = rec.get("source_left_version")
        rb = rec.get("source_right_version")
        if la is None or rb is None:
            # an external / non-refresh write to the state table dropped
            # the delta bookkeeping: treat as never-refreshed so
            # refresh() falls back to a full recompute instead of
            # comparing integers against None
            return None
        return (la, rb)

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
        done = self.refreshed_source_versions()
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
        rel = self.state._write_data_dir(delta)
        base = self.state.latest_version()
        version = 0 if base is None else base + 1
        if full or base is None:
            active = [rel]
            stats = self.state._scan_stats(rel)
            op = "join_matview_full"
        else:
            prior_rec = self.state._read_commit(base)
            prior = list(prior_rec.get("active", []))
            active = prior + [rel]
            stats = self.state._carry_stats(prior_rec, prior)
            stats.update(self.state._scan_stats(rel))
            op = "join_matview_refresh"
        self.state._publish(
            version,
            {
                "version": version,
                "operation": op,
                "active": active,
                "schema": self.state._schema_of(delta),
                "file_stats": stats,
                "source_left_version": la,
                "source_right_version": rb,
            },
        )
        if (
            self.compact_after is not None
            and len(active) >= self.compact_after
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

        Unlike ``VersionedTable.compact`` (whose commit record has no
        source watermarks, which would force the NEXT refresh into a
        full recompute), this publishes ``join_matview_compact``
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
        base = self.state.latest_version()
        if base is None:
            raise FileNotFoundError(
                f"materialized join {self.state.root} is empty"
            )
        prior_rec = self.state._read_commit(base)
        # same rewrite as VersionedTable.compact, so read_where footer
        # pruning works on every clustered column
        rel = self.state._compact_dir(base, target_files, cluster_by, zorder_bits)
        version = base + 1
        record = {
            "version": version,
            "operation": "join_matview_compact",
            "base_version": base,
            "active": [rel],
            "schema": prior_rec.get("schema"),
            "file_stats": self.state._scan_stats(rel),
            "source_left_version": prior_rec.get("source_left_version"),
            "source_right_version": prior_rec.get("source_right_version"),
        }
        if cluster_by:
            record["clustered_by"] = list(cluster_by)
        self.state._publish(version, record)
        return version

    def read(self) -> DataFrame:
        return self.state.read()
