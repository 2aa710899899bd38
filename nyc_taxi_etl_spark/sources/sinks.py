"""Sink helpers (SURVEY.md §2.1 S10–S13).

The reference controls output file counts with ``coalesce(1)`` /
``coalesce(10)`` before every write (``spark_jobs/etl_yellow_s3.py:56``,
``etl_yellow_s3_v2.py:86``) and hand-builds Hive paths
(``year={y}/month={m:02d}`` — ``etl_simple.py:45``). The engine keeps
the file-count knob but replaces path interpolation with
``partitionBy`` so partition pruning works without convention.

``target_files`` sets the number of WRITE TASKS. Unpartitioned, that is
the file count: ``width.with_partitions`` coalesces (narrow, no
shuffle) to shrink and repartitions to grow. With ``partition_by`` the
rows hash-exchange on the partition keys into ``target_files`` tasks,
so every Hive partition lands in ONE task and writes one file; the
directory holds at most ``target_files`` files in total (fewer when
there are fewer keys than tasks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import width

__all__ = ["write_parquet", "write_csv", "write_jsonl", "write_orc"]


def _write(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str,
    partition_by: list[str] | None,
    target_files: int | None,
    options: dict | None = None,
) -> None:
    """Shared sink scaffolding: write-task count → mode →
    partitioning → format dispatch. One copy, so the
    ``target_files`` / ``partitionBy`` interaction is fixed in one
    place for every format (module docstring)."""
    if target_files is not None:
        df = (
            df.repartition(target_files, *partition_by)
            if partition_by
            else width.with_partitions(df, target_files)
        )
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for key, val in (options or {}).items():
        writer = writer.option(key, val)
    writer.save(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """Parquet sink with optional Hive partitioning and file-count
    control (S10/S11/S13)."""
    _write(df, path, "parquet", mode, partition_by, target_files)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    target_files: int | None = 1,
) -> None:
    """CSV sink (S12 — the reference's aggregate→CSV exports,
    ``scripts/analytics_summary.py:63-75``). Defaults to one file, the
    shape those small result tables want."""
    opts = {"header": str(header).lower()}
    _write(df, path, "csv", mode, None, target_files, opts)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
    compression: str | None = None,
) -> None:
    """JSON-Lines sink — the lingua franca of text-corpus interchange
    (one JSON object per line; what most open-data document dumps and
    tokenizer pipelines consume). Spark's json writer IS jsonl: one
    object per line per file. Same partitioning/file-count knobs as
    the parquet sink; ``compression='gzip'`` for shipping."""
    opts = {"compression": compression} if compression else None
    _write(df, path, "json", mode, partition_by, target_files, opts)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    estates). Identical knob surface to ``write_parquet``; Spark ships
    the ORC reader/writer built in, so round-trips need no extra
    packages."""
    _write(df, path, "orc", mode, partition_by, target_files)
