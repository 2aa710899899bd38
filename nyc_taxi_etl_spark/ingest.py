"""Ingestion driver: TLC monthly-file download with a manifest ledger.

Re-expresses the reference's out-of-engine ingestion utilities
(SURVEY.md §2.1 S8/S9/S14/S15 — ``scripts/download_tlc_range_s3.py``):
month-range work-unit discovery, URL construction, chunked download
with retry/backoff, skip-if-exists idempotency, and a JSON manifest
recording per-file status/size/error/timestamp.

Design differences from the reference, on purpose:
  * the HTTP fetch is INJECTED (``fetcher(url) -> bytes``) so the
    pipeline is testable offline and swappable (requests/urllib/s3);
    this container has no network, so the default fetcher raises with
    a clear message instead of silently hanging;
  * the manifest is also loadable as a DataFrame (a small control
    table) for audit queries — the reference's ``check_manifest.py``
    one-liner becomes a groupBy;
  * paths follow the raw-zone layout the reference used:
    ``{base}/{cab}/{year}/{cab}_tripdata_{year}-{month:02d}.parquet``
    (``spark_jobs/etl_yellow_s3.py:43``).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

__all__ = [
    "TLC_BASE_URL",
    "month_range",
    "tlc_url",
    "raw_path",
    "infer_file_meta",
    "Manifest",
    "download_month",
    "ingest_range",
]

TLC_BASE_URL = "https://d37ci6vzurychx.cloudfront.net/trip-data"

_FILE_RE = re.compile(r"(?P<cab>[a-z_]+)_tripdata_(?P<year>\d{4})-(?P<month>\d{2})")


def _year_month(s: str) -> tuple[int, int]:
    ym = re.fullmatch(r"(\d{4})-(\d{2})", s)
    if not ym or not 1 <= int(ym.group(2)) <= 12:
        raise ValueError(f"expected a 'YYYY-MM' month, got {s!r}")
    return int(ym.group(1)), int(ym.group(2))


def month_range(start: str, end: str) -> Iterator[tuple[int, int]]:
    """Inclusive (year, month) work units between 'YYYY-MM' bounds —
    the reference's prefix-listing month discovery (S6) without S3.
    A bound that is not a real month, or an end before the start,
    raises ``ValueError``."""
    (y, m), last = _year_month(start), _year_month(end)
    if (y, m) > last:
        raise ValueError(f"end month {end!r} is before start month {start!r}")
    while (y, m) <= last:
        yield y, m
        m += 1
        if m > 12:
            y, m = y + 1, 1


def tlc_url(cab: str, year: int, month: int, base: str = TLC_BASE_URL) -> str:
    return f"{base}/{cab}_tripdata_{year}-{month:02d}.parquet"


def raw_path(base: str, cab: str, year: int, month: int) -> str:
    return os.path.join(base, cab, str(year), f"{cab}_tripdata_{year}-{month:02d}.parquet")


def infer_file_meta(filename: str) -> dict | None:
    """(cab, year, month) from a filename (S9 —
    ``scripts/download_tlc_range_s3.py:44-60``)."""
    m = _FILE_RE.search(os.path.basename(filename))
    if not m:
        return None
    return {
        "cab": m.group("cab"),
        "year": int(m.group("year")),
        "month": int(m.group("month")),
    }


def _no_network_fetcher(url: str) -> bytes:
    raise RuntimeError(
        "no HTTP fetcher configured (this environment has no network); "
        "pass fetcher=... to download_month/ingest_range"
    )


@dataclass
class Manifest:
    """JSON ingestion ledger (S15): one entry per attempted file, flushed
    after every update so a crashed run loses nothing
    (``scripts/download_tlc_range_s3.py:127-139,243-245``)."""

    path: str
    entries: list[dict] = field(default_factory=list)

    @classmethod
    def load(cls, path: str) -> "Manifest":
        entries = []
        if os.path.exists(path):
            with open(path) as f:
                entries = json.load(f)
        return cls(path=path, entries=entries)

    def record(self, **entry) -> None:
        entry.setdefault("ts", time.time())
        self.entries.append(entry)
        self.flush()

    def flush(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1)
        os.replace(tmp, self.path)

    def done_keys(self) -> set[tuple]:
        return {
            (e["cab"], e["year"], e["month"])
            for e in self.entries
            if e.get("status") == "ok"
        }

    def error_entries(self) -> list[dict]:
        return [e for e in self.entries if e.get("status") == "error"]

    def to_df(self, spark):
        """The ledger as a small control DataFrame for audit queries."""
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("cab", StringType()),
                StructField("year", IntegerType()),
                StructField("month", IntegerType()),
                StructField("status", StringType()),
                StructField("size", LongType()),
                StructField("error", StringType()),
                StructField("ts", DoubleType()),
            ]
        )
        rows = [
            (
                e.get("cab"),
                e.get("year"),
                e.get("month"),
                e.get("status"),
                e.get("size"),
                e.get("error"),
                e.get("ts"),
            )
            for e in self.entries
        ]
        return spark.createDataFrame(rows, schema)


def download_month(
    cab: str,
    year: int,
    month: int,
    dest_base: str,
    manifest: Manifest,
    fetcher: Callable[[str], bytes] = _no_network_fetcher,
    retries: int = 3,
    backoff_s: float = 1.0,
    sleeper: Callable[[float], None] = time.sleep,
) -> str | None:
    """Fetch one monthly file with retry/backoff and skip-if-exists
    idempotency (S8: ``download_tlc_range_s3.py:76-111``). Returns the
    local path, or None on permanent failure (recorded in manifest)."""
    out = raw_path(dest_base, cab, year, month)
    if os.path.exists(out) or (cab, year, month) in manifest.done_keys():
        manifest.record(cab=cab, year=year, month=month, status="skipped", size=None, error=None)
        return out
    url = tlc_url(cab, year, month)
    last_err = None
    for attempt in range(retries):
        try:
            data = fetcher(url)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tmp = out + ".part"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, out)
            manifest.record(
                cab=cab, year=year, month=month, status="ok", size=len(data), error=None, url=url
            )
            return out
        except Exception as e:  # noqa: BLE001 — ingestion must not die per-file
            last_err = str(e)
            if attempt < retries - 1:
                sleeper(backoff_s * (2**attempt))
    manifest.record(
        cab=cab, year=year, month=month, status="error", size=None, error=last_err, url=url
    )
    return None


def ingest_range(
    cabs: list[str],
    start: str,
    end: str,
    dest_base: str,
    manifest_path: str,
    fetcher: Callable[[str], bytes] = _no_network_fetcher,
    retries: int = 3,
    backoff_s: float = 1.0,
    sleeper: Callable[[float], None] = time.sleep,
) -> dict:
    """Batch driver over the (cab × month) grid — the reference's
    ``batch_etl_simple.py`` orchestration loop. Returns summary counts."""
    manifest = Manifest.load(manifest_path)
    counts = {"ok": 0, "skipped": 0, "error": 0}
    for cab in cabs:
        for year, month in month_range(start, end):
            before = len(manifest.entries)
            download_month(
                cab,
                year,
                month,
                dest_base,
                manifest,
                fetcher=fetcher,
                retries=retries,
                backoff_s=backoff_s,
                sleeper=sleeper,
            )
            status = manifest.entries[before]["status"] if len(manifest.entries) > before else "error"
            counts[status] = counts.get(status, 0) + 1
    return counts
