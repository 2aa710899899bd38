"""Versioned parquet table: a minimal lakehouse-style commit log that
makes CDC upserts atomic, restartable and time-travelable on plain
parquet — no Delta/Iceberg dependency.

The reference's only at-rest state management is a JSON manifest with
skip-if-exists (`scripts/download_tlc_range_s3.py:127-139`); a pipeline
engine needs crash-safe table mutation. This module applies the same
commit-log idea Delta Lake uses, reduced to what plain parquet + an
atomic file create can guarantee:

Layout::

    <root>/data/<ulid>/part-*.parquet   immutable data directories
    <root>/_log/<version 20d>.json      ordered commit records

Protocol:
  * A writer first materializes a NEW data directory (never mutating
    an existing one), then publishes a commit record naming the active
    directory set. Publication is an ATOMIC CREATE (write temp +
    ``os.link`` — link fails if the version already exists), so:
      - readers only ever see fully-written data (a crash between data
        write and publish leaves an invisible orphan directory);
      - two writers racing to the same version conflict loudly
        (optimistic concurrency) instead of corrupting the log.
  * A reader replays the log: the LATEST record lists the complete
    active set (snapshot isolation without tombstone arithmetic), so
    reads are one listdir + one json load, O(1) in history length.
  * ``vacuum()`` deletes data directories no commit references —
    exactly the orphans crashes leave behind.

Schema contract: every mutation, and the materialized views of
``sources/matview.py``, publish through :meth:`VersionedTable.commit`,
so every commit records the table's ``schema`` (column names and types,
in order) and ``schema_evolved`` (some active file lacks a column).
Every read — ``read``, ``read_where``, ``read_partitions``,
``read_changes_since`` and ``bloom_index.read_eq`` — resolves its files
through one scan that returns exactly that schema: recorded column
order, typed nulls for columns a file lacks, and a typed empty frame
when no file is kept. Records written before schemas were recorded
read as their files do.

Scale posture: the log is tiny metadata (one small JSON per commit —
fine on any DFS); data stays ordinary parquet readable by any engine.
The upsert here rewrites the table (full-recompute merge through ONE
shuffle, operators/merge.py); at 100 TB you partition the table and
rewrite only the partitions the update batch touches (dynamic
partition overwrite) — the commit-log protocol is unchanged, only the
"replaced" set shrinks.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import width
from ..operators.merge import merge_upsert
from ..pins import pin

__all__ = ["VersionedTable", "compact_layout"]

_LOG_DIR = "_log"
_DATA_DIR = "data"


def _schema_of(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _evolve(base: dict, new: list[list[str]]) -> tuple[list[list[str]], bool]:
    """Additive merge of the batch schema ``new`` onto ``base``'s
    recorded schema: the recorded columns in order, then the batch's
    new ones. Returns ``(merged, drift)``, where ``drift`` says the
    column SETS differ (column order is not drift: parquet resolves by
    name). A shared column changing type raises. A base without a
    recorded schema takes ``new`` as it is."""
    prior = base.get("schema")
    if prior is None:
        return new, False
    prior_types, new_types = dict(map(tuple, prior)), dict(map(tuple, new))
    clash = sorted(
        n for n in prior_types.keys() & new_types.keys()
        if prior_types[n] != new_types[n]
    )
    if clash:
        raise ValueError(
            f"commit would change column type(s) {clash}; "
            "schema evolution is additive-only"
        )
    merged = [*map(list, prior), *([n, t] for n, t in new if n not in prior_types)]
    return merged, prior_types.keys() != new_types.keys()


def _footer_bounds(chunk) -> tuple | None:
    """A parquet column chunk's footer ``(min, max)``, or ``None`` when
    the bounds are unusable: missing, non-primitive, NaN, or of a type
    pyarrow cannot extract statistics for (an INT64-backed decimal)."""
    import pyarrow as pa

    st = chunk.statistics
    if st is None or not st.has_min_max:
        return None
    try:
        lo, hi = st.min, st.max
    except pa.ArrowNotImplementedError:
        return None
    if not isinstance(lo, (int, float, str, bool)) or lo != lo or hi != hi:
        return None
    return lo, hi


def _partition_values(df: DataFrame, col: str) -> list[str]:
    """The distinct values of partition column ``col`` in ``df``, as
    strings. A NULL value raises: no partition directory can hold it,
    so its rows would be dropped."""
    values = [r[0] for r in df.select(col).distinct().collect()]
    if None in values:
        raise ValueError(f"partition column {col!r} holds NULL values")
    return sorted(str(v) for v in values)


def _tracked_partitions(rec: dict) -> dict[str, str]:
    """``rec``'s directory → partition value map. Raises when some
    active directory has no partition value (the table was never
    written with :meth:`VersionedTable.write_partitioned`, or was
    appended to since)."""
    parts = rec.get("partitions")
    if parts is None or set(rec["active"]) - set(parts):
        raise ValueError(
            "table has partition-untracked directories: write_partitioned "
            "tracks partitions, append and the full-rewrite writes do not"
        )
    return parts


def _split(df: DataFrame, col: str, values: Sequence[str]) -> dict[str, DataFrame]:
    return {v: df.filter(F.col(col).cast("string") == v) for v in values}


def compact_layout(
    snap: DataFrame,
    target_files: int | None,
    cluster_by: Sequence[str] | None,
    zorder_bits: int,
) -> DataFrame:
    """The compaction rewrite of snapshot ``snap``: the Morton layout of
    ``cluster_by`` (``target_files`` files, default the current file
    count), else exactly ``target_files`` files, else the files as they
    are."""
    if cluster_by:
        from ..functions.zorder import zorder_layout

        n = target_files or width.input_file_count(snap) or 1
        return zorder_layout(snap, cluster_by, n, zorder_bits)
    if target_files is not None:
        return width.with_partitions(snap, target_files)
    return snap


class VersionedTable:
    """Handle to a versioned parquet table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # -- log plumbing ------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:020d}.json")

    def versions(self) -> list[int]:
        names = os.listdir(os.path.join(self.root, _LOG_DIR))
        return sorted(int(n[:-5]) for n in names if n.endswith(".json"))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_commit(self, version: int) -> dict:
        with open(self._log_path(version)) as f:
            return json.load(f)

    def _active_dirs(self, version: int) -> list[str]:
        return list(self._read_commit(version)["active"])

    def snapshot(self, version: int | None = None) -> tuple[int, dict]:
        """``(version, commit record)`` of snapshot ``version``, default
        the latest. Raises ``FileNotFoundError`` on an empty table."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"versioned table {self.root} is empty")
        return v, self._read_commit(v)

    def latest_commit(self) -> dict:
        """The latest commit record, the base a mutation commits on top
        of; ``{}`` while the table is empty."""
        v = self.latest_version()
        return {} if v is None else self._read_commit(v)

    def _publish(self, version: int, record: dict) -> None:
        """Atomically create the commit record for ``version``.

        ``os.link`` of a fully-written temp file is an atomic
        create-if-absent: a concurrent writer publishing the same
        version gets EEXIST (surfaced as a conflict) and neither log
        entry is ever observed half-written. Every record carries a
        ``committed_at`` wall timestamp for AS-OF time travel.
        """
        import time as _time

        record.setdefault("committed_at", _time.time())
        tmp = self._log_path(version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(record, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._log_path(version))
        except FileExistsError as exc:
            raise RuntimeError(
                f"commit conflict: version {version} of {self.root} was "
                "published concurrently; re-read and retry"
            ) from exc
        finally:
            os.unlink(tmp)

    def commit(
        self,
        base: dict,
        operation: str,
        carried: Sequence[str] = (),
        written: Sequence[DataFrame] | Mapping[str, DataFrame] = (),
        **fields,
    ) -> int:
        """Publish the version after ``base`` (a commit record, ``{}`` on
        an empty table) and return it: the one path to the log.

        The new active set is ``carried`` (directories of ``base`` kept
        by reference, with their ``file_stats``) followed by one fresh
        directory per frame of ``written``, whose footers give its
        stats; a mapping ``written`` is partition value → rows, and the
        record's ``partitions`` then covers carried and new directories.
        The recorded ``schema`` is the written frames' (they share one),
        merged additively onto ``base``'s when directories are carried,
        with ``schema_evolved`` set once the column sets differ; with no
        frame it is ``base``'s. ``fields`` are further record fields
        (keys, watermarks, ...); a ``None`` field is left out."""
        frames = list(written.values()) if isinstance(written, Mapping) else list(written)
        prior = base if carried or not frames else {}
        if frames:
            schema, drift = _evolve(prior, _schema_of(frames[0]))
        else:
            schema, drift = base.get("schema"), False
        new = [self._write_data_dir(df) for df in frames]
        if isinstance(written, Mapping):
            parts = {d: base["partitions"][d] for d in carried}
            fields["partitions"] = {**parts, **dict(zip(new, written))}
        stats = self._carry_stats(base, carried)
        for rel in new:
            stats.update(self._scan_stats(rel))
        version = base.get("version", -1) + 1
        record = {
            "version": version,
            "operation": operation,
            "active": [*carried, *new],
            "schema": schema,
            "schema_evolved": drift or bool(prior.get("schema_evolved")),
            "file_stats": stats,
            **fields,
        }
        self._publish(version, {k: v for k, v in record.items() if v is not None})
        return version

    # -- data plumbing -----------------------------------------------------

    def _write_data_dir(self, df: DataFrame) -> str:
        """Materialize ``df`` into a fresh immutable data directory and
        return its table-relative path. Crash after this, before
        publish ⇒ an orphan no reader sees (vacuum reclaims it)."""
        rel = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        df.write.mode("error").parquet(os.path.join(self.root, rel))
        return rel

    def _scan(self, rec: dict, paths: Sequence[str]) -> DataFrame:
        """Frame over ``paths`` (table-relative directories or files of
        the snapshot ``rec``) under its recorded schema. Only an evolved
        table reads with ``mergeSchema``, so unevolved ones skip that
        footer pass; a column a file lacks reads as a typed null;
        columns come in the recorded order whichever file the scan
        infers from; no paths gives a typed empty frame. A record from
        before schemas were recorded reads as its files do."""
        schema = rec.get("schema")
        if not paths and schema is not None:
            ddl = ", ".join(f"`{n}` {t}" for n, t in schema)
            return self.spark.createDataFrame([], ddl)
        reader = self.spark.read
        if rec.get("schema_evolved"):
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(
            *[os.path.join(self.root, p) for p in paths or rec["active"]]
        )
        if schema is None:
            return df if paths else df.limit(0)
        have = set(df.columns)
        return df.select(
            *[n if n in have else F.lit(None).cast(t).alias(n) for n, t in schema]
        )

    # -- data-skipping statistics -----------------------------------------

    def _scan_stats(self, rel_dir: str) -> dict[str, dict]:
        """Per-file min/max column stats for a data directory, read
        from the parquet FOOTERS pyarrow exposes — exact bounds the
        writer already computed, no extra data pass. Only JSON-safe
        primitive types (int/float/str/bool) are recorded; a column a
        row group lacks usable bounds for (``_footer_bounds``) is
        dropped from that file's entry (pruning stays conservative)."""
        import pyarrow.parquet as pq

        stats: dict[str, dict] = {}
        absdir = os.path.join(self.root, rel_dir)
        for name in sorted(os.listdir(absdir)):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(absdir, name)).metadata
            cols: dict[str, list] = {}
            dropped: set[str] = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    col = c.path_in_schema
                    if "." in col or col in dropped:
                        continue  # nested leaves aren't prunable here
                    bounds = _footer_bounds(c)
                    if bounds is None:
                        dropped.add(col)
                        cols.pop(col, None)
                        continue
                    if col in cols:
                        cols[col][0] = min(cols[col][0], bounds[0])
                        cols[col][1] = max(cols[col][1], bounds[1])
                    else:
                        cols[col] = list(bounds)
            stats[os.path.join(rel_dir, name)] = {
                "rows": md.num_rows,
                "cols": cols,
            }
        return stats

    def _carry_stats(
        self, prior: dict, dirs: Sequence[str]
    ) -> dict[str, dict]:
        """Stats entries of a prior commit restricted to carried
        directories (older commits without stats carry nothing — their
        files are simply never pruned)."""
        keep = tuple(d + os.sep for d in dirs)
        return {
            f: s
            for f, s in (prior.get("file_stats") or {}).items()
            if f.startswith(keep)
        }

    def prune_plan(
        self,
        where: dict[str, tuple],
        version: int | None = None,
    ) -> tuple[list[str], list[str]]:
        """Partition the snapshot's files into (kept, skipped) for a
        conjunction of closed ranges ``{col: (lo, hi)}`` (``None`` =
        unbounded side; equality = ``(v, v)``) using ONLY commit
        metadata. Files without recorded stats for a constrained
        column are always kept (conservative)."""
        _, rec = self.snapshot(version)
        fstats = rec.get("file_stats") or {}
        kept, skipped = [], []
        for rel_dir in rec["active"]:
            absdir = os.path.join(self.root, rel_dir)
            for name in sorted(os.listdir(absdir)):
                if not name.endswith(".parquet"):
                    continue
                rel_f = os.path.join(rel_dir, name)
                cols = (fstats.get(rel_f) or {}).get("cols") or {}
                drop = False
                for col, (lo, hi) in where.items():
                    if col not in cols:
                        continue
                    mn, mx = cols[col]
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        drop = True
                        break
                (skipped if drop else kept).append(rel_f)
        return kept, skipped

    def read_where(
        self,
        where: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with FILE-LEVEL DATA SKIPPING: files whose
        footer min/max bounds cannot intersect the ``where`` ranges are
        never handed to Spark (no open, no footer read, no task), and
        the residual range filter is applied to the survivors so the
        result equals ``read().filter(...)`` exactly.

        This is the lakehouse data-skipping pattern (Delta/Iceberg
        manifest pruning) on the commit-log protocol: at 100 TB the
        win is proportional to how well the layout clusters the
        constrained column — pair with :meth:`compact` after a
        range-partitioned write for sorted layouts."""
        v, rec = self.snapshot(version)
        kept, _ = self.prune_plan(where, v)
        cond = F.lit(True)
        for col, (lo, hi) in where.items():
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        return self._scan(rec, kept).filter(cond)

    # -- public API --------------------------------------------------------

    def write(self, df: DataFrame) -> int:
        """Publish ``df`` as the complete new table state (init /
        overwrite). Returns the committed version."""
        return self.commit(self.latest_commit(), "overwrite", written=[df])

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (latest, or time-travel to ``version``) under
        the recorded schema: commits whose history evolved the schema
        (see :meth:`append`) read with ``mergeSchema``, and files
        predating a column surface typed NULLs for it."""
        _, rec = self.snapshot(version)
        return self._scan(rec, rec["active"])

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Publish ``df`` as ADDITIONAL rows (insert-only fast path):
        the new commit's active set = the previous set + one fresh
        directory, so nothing is rewritten — the right shape for
        streaming/batch ingest where updates never touch old rows.
        Accumulated small directories are merged back to one by
        :meth:`compact`.

        ``merge_schema=True`` lets the batch EVOLVE the table schema:
        new columns are appended to the recorded schema (old files
        surface NULLs on read); columns shared with the table must keep
        their type, and a mismatch raises instead of corrupting the
        table — the Delta-style additive evolution contract. Without
        the flag, any schema drift raises."""
        base = self.latest_commit()
        _, drift = _evolve(base, _schema_of(df))
        if drift and not merge_schema:
            raise ValueError(
                "append batch schema differs from the table schema; "
                "pass merge_schema=True for additive evolution"
            )
        return self.commit(base, "append", base.get("active", []), [df])

    def compact(
        self,
        target_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
        zorder_bits: int = 8,
    ) -> int:
        """Rewrite the current snapshot as ONE data directory (with
        ``target_files`` parquet files when given) and commit it as
        the next version — the standard maintenance op after a run of
        appends has accumulated directories/small files. Older versions
        still time-travel to the original directories until
        :meth:`expire_versions` drops them.

        ``target_files`` is exact (``width.with_partitions``: coalesce,
        narrow, to shrink; repartition to grow).

        ``cluster_by`` lays the rewrite out along the Morton curve of
        the given columns (``functions/zorder.py``) so that
        :meth:`read_where` footer pruning works on EVERY clustered
        column at once — the ``OPTIMIZE ZORDER BY`` maintenance op of
        the lakehouse formats, at the cost of one range shuffle."""
        version, base = self.snapshot()
        snap = self._scan(base, base["active"])
        return self.commit(
            base,
            "compact",
            written=[compact_layout(snap, target_files, cluster_by, zorder_bits)],
            base_version=version,
            clustered_by=list(cluster_by) if cluster_by else None,
        )

    def upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        version_col: str | None = None,
    ) -> int:
        """Keep-latest merge of ``updates`` into the current snapshot,
        committed atomically as the next version (restartable: a crash
        anywhere before publish leaves the previous version intact and
        the merge can simply be re-run)."""
        base = self.latest_commit()
        if base:
            snap = self._scan(base, base["active"])
            updates = merge_upsert(snap, updates, keys, version_col)
        return self.commit(
            base, "upsert", written=[updates], keys=list(keys),
            base_version=base.get("version"),
        )

    # -- partition-scoped mutation (the 100 TB path) -----------------------

    def write_partitioned(
        self, df: DataFrame, partition_col: str
    ) -> int:
        """Initial/overwrite publish with PARTITION TRACKING: one data
        directory per distinct ``partition_col`` value, and the commit
        records which directory holds which partition — the metadata
        that lets :meth:`upsert_partitioned` rewrite only touched
        partitions and :meth:`read` prune untouched ones.

        The partition column stays IN the parquet files (directories
        are tracked in the log, not encoded in paths), so snapshots
        read with plain ``spark.read.parquet`` and no basePath tricks.
        The per-partition write loop is a driver loop bounded by the
        partition count of the BATCH (months/days — metadata scale);
        ``df`` is pinned first so the upstream plan runs once, not once
        per partition. A NULL ``partition_col`` value raises
        ``ValueError`` before anything is written (here and in
        :meth:`upsert_partitioned`): no directory could hold its rows."""
        df = pin(df)
        return self.commit(
            self.latest_commit(),
            "write_partitioned",
            written=_split(df, partition_col, _partition_values(df, partition_col)),
            partition_col=partition_col,
        )

    def _rewrite_partitions(
        self,
        base: dict,
        operation: str,
        partition_col: str,
        frames: dict[str, DataFrame],
        **fields,
    ) -> int:
        """Commit ``frames`` (partition value → that partition's new
        rows) as fresh directories and carry every other partition of
        ``base`` by reference: the dynamic partition overwrite behind
        :meth:`upsert_partitioned` and a partitioned
        :meth:`delete_where`."""
        parts = base["partitions"]
        carried = [d for d in base["active"] if parts[d] not in frames]
        return self.commit(
            base, operation, carried, frames, partition_col=partition_col,
            base_version=base["version"], rewritten=list(frames), **fields,
        )

    def upsert_partitioned(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        partition_col: str,
        version_col: str | None = None,
    ) -> int:
        """Keep-latest merge that rewrites ONLY the partitions the
        update batch touches; every other partition's directory is
        carried into the new commit BY REFERENCE (no data movement) —
        dynamic-partition-overwrite semantics on the commit-log
        protocol, which is how the full-rewrite :meth:`upsert` scales
        to 100 TB. Update keys must not move rows across partitions
        (the standard constraint; enforce upstream).

        New partition values in the batch simply become new
        directories. Requires a partition-tracked table
        (:meth:`write_partitioned`)."""
        base = self.latest_commit()
        if not base:
            return self.write_partitioned(updates, partition_col)
        parts = _tracked_partitions(base)
        if base.get("partition_col") not in (None, partition_col):
            raise ValueError(
                f"table is partitioned by {base.get('partition_col')!r}, "
                f"not {partition_col!r}"
            )
        updates = pin(updates)
        touched = _partition_values(updates, partition_col)
        old = self._scan(base, [d for d in base["active"] if parts[d] in touched])
        merged = pin(merge_upsert(old, updates, keys, version_col))
        return self._rewrite_partitions(
            base, "upsert_partitioned", partition_col,
            _split(merged, partition_col, touched), keys=list(keys),
        )

    def read_partitions(
        self, values: Sequence[str], version: int | None = None
    ) -> DataFrame:
        """Snapshot read PRUNED to the given partition values using
        only commit metadata — no file listing or footer reads for
        untouched partitions. Raises on a snapshot with
        partition-untracked directories, whose rows no value selects."""
        _, rec = self.snapshot(version)
        parts = _tracked_partitions(rec)
        wanted = {str(x) for x in values}
        return self._scan(rec, [d for d in rec["active"] if parts[d] in wanted])

    def version_as_of(self, ts: float) -> int:
        """Newest version committed at-or-before wall time ``ts``
        (epoch seconds) — Delta-style timestamp time travel. Raises if
        the table didn't exist yet at ``ts``."""
        best = None
        for v in self.versions():
            if self._read_commit(v).get("committed_at", float("inf")) <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"versioned table {self.root} has no commit at or before {ts}"
            )
        return best

    def read_as_of(self, ts: float) -> DataFrame:
        """Snapshot read of the table as it stood at wall time ``ts``."""
        return self.read(self.version_as_of(ts))

    def table_changes(
        self, keys: Sequence[str], v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots, derived by key
        comparison: one row per key whose presence or content changed,
        with ``_change_type`` ∈ insert/update/delete and the NEW row
        values (delete rows carry the OLD values). Works for any
        operation history because it diffs STATE, not the log.

        Scale: one full-outer join of the two snapshots on the key —
        a single co-partitioned shuffle; update detection hashes the
        non-key columns engine-side (no row comparison in Python).
        For insert-only histories prefer :meth:`read_changes_since`,
        which reads only the appended directories and never touches
        the base snapshot."""
        v_to = self.latest_version() if v_to is None else v_to
        old, new = self.read(v_from), self.read(v_to)
        shared = [c for c in new.columns if c in set(old.columns)]
        value_cols = [c for c in shared if c not in set(keys)]

        def _sig(df: DataFrame) -> Column:
            if not value_cols:
                return F.lit(0).cast("long")
            return F.xxhash64(*[F.col(c) for c in value_cols])

        o = old.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.struct(*[F.col(c) for c in shared]).alias("__old"),
            _sig(old).alias("__osig"),
        )
        n = new.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.struct(*[F.col(c) for c in shared]).alias("__new"),
            _sig(new).alias("__nsig"),
        )
        cond = [o[f"__k_{k}"].eqNullSafe(n[f"__k_{k}"]) for k in keys]
        j = o.join(n, cond, "full_outer")
        change = (
            F.when(o["__osig"].isNull(), F.lit("insert"))
            .when(n["__nsig"].isNull(), F.lit("delete"))
            .when(o["__osig"] != n["__nsig"], F.lit("update"))
        )
        row = F.coalesce(n["__new"], o["__old"])
        return (
            j.select(change.alias("_change_type"), row.alias("__r"))
            .filter(F.col("_change_type").isNotNull())
            .select("_change_type", *[F.col(f"__r.{c}").alias(c) for c in shared])
        )

    def read_changes_since(self, v_from: int) -> DataFrame:
        """Incremental read for APPEND-ONLY history: the rows added
        after snapshot ``v_from``, read from exactly the data
        directories later commits introduced — no scan of the base
        snapshot at all (the consumption side of the streaming-ingest
        path; a downstream refresh processes only the delta).

        Raises if any commit in (v_from, latest] is not an append —
        a rewrite (upsert/compact/delete) invalidates directory-
        increment semantics; use :meth:`table_changes` there."""
        latest, rec = self.snapshot()
        if v_from > latest:
            raise FileNotFoundError(
                f"versioned table {self.root}: bad version range"
            )
        base = set(self._active_dirs(v_from))
        new_dirs: list[str] = []
        for v in self.versions():
            if not v_from < v <= latest:
                continue
            step = self._read_commit(v)
            if step.get("operation") != "append":
                raise ValueError(
                    f"commit {v} is {step.get('operation')!r}, not append; "
                    "directory-increment reads need an append-only range"
                )
            new_dirs += [d for d in step["active"] if d not in base]
            base.update(step["active"])
        return self._scan(rec, new_dirs)

    def delete_where(self, condition) -> int:
        """Row-level delete: remove rows matching ``condition`` (a
        Column or SQL string), committed as the next version.
        Completes the CRUD surface next to append/upsert.

        Scale: on a PARTITION-TRACKED table (write_partitioned) only
        the partitions that actually contain matching rows are
        rewritten — untouched partition directories carry into the new
        commit by reference, so delete cost follows the affected
        partitions, not the table (the dynamic-partition-overwrite
        shape). Untracked tables fall back to a full rewrite."""
        version, base = self.snapshot()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond, F.lit(False))
        snap = self._scan(base, base["active"])
        parts = base.get("partitions")
        if parts and not (set(base["active"]) - set(parts)):
            pcol = base["partition_col"]
            frames = {
                v: self._scan(
                    base, [d for d in base["active"] if parts[d] == v]
                ).filter(~hit)
                for v in _partition_values(snap.filter(hit), pcol)
            }
            return self._rewrite_partitions(base, "delete", pcol, frames)
        return self.commit(
            base, "delete", written=[snap.filter(~hit)], base_version=version
        )

    def expire_versions(self, keep_last: int = 1) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` commit
        records, then :meth:`vacuum` the data directories only expired
        commits referenced. Time travel to expired versions is gone —
        that is the point (bounded storage); the newest ``keep_last``
        snapshots remain fully readable.

        Expiry order is oldest-first and the newest commit is never
        expired, so a crash mid-expiry leaves a contiguous,
        fully-functional suffix of history."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        expired = vs[:-keep_last]
        for v in expired:
            os.unlink(self._log_path(v))
        self.vacuum()
        return expired

    def vacuum(self) -> list[str]:
        """Delete data directories referenced by NO commit (crash
        orphans, never-published writes), plus any bloom-index
        sidecars of removed directories. Returns the removed
        table-relative data paths."""
        import shutil

        referenced: set[str] = set()
        for v in self.versions():
            referenced.update(self._active_dirs(v))
        removed = []
        data_root = os.path.join(self.root, _DATA_DIR)
        for name in sorted(os.listdir(data_root)):
            rel = os.path.join(_DATA_DIR, name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(data_root, name))
                removed.append(rel)
        idx_root = os.path.join(self.root, "_index")
        if removed and os.path.isdir(idx_root):
            gone = {os.path.basename(r) for r in removed}
            for name in os.listdir(idx_root):
                # sidecars are named <dir-uuid>.<col>.json
                if name.split(".", 1)[0] in gone:
                    os.unlink(os.path.join(idx_root, name))
        return removed
