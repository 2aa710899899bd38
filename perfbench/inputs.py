"""Seeded inputs for the benchmark workloads.

Two families of inputs, both generated with NumPy and written with
pyarrow before any Spark session exists, so their cost never lands in
``setup_s``:

* raw TLC trips for ``taxi_etl``: the four cab schemas with planted
  violations (bad fares, dropoff <= pickup, zero or huge distances,
  null dropoffs), modeled on ``tests/taxi_fixtures.py`` but with the
  seed and the row count as arguments. The content depends on the
  seed, so ``taxi_etl`` checks its outputs against DuckDB.
* the read-only catalog table (events) in the schema of the
  repository's sf test tables. Its CONTENT is fixed
  (``CONTENT_SEED``); the run seed only permutes row order and the
  split of rows into files. The catalog output is therefore
  independent of the seed and is checked against the fingerprint
  recorded in ``expected.json``.

Every input directory is cached under the benchmark's work directory,
keyed by tables, size and seed, and published with a rename once
written, so a killed run never leaves a half-written cache entry.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101
CAB_TYPES = ("yellow", "green", "fhv", "fhvhv")
MONTH_STARTS = ("2025-01-01", "2025-02-01", "2025-03-01")
FILES_PER_TABLE = 4

# Input sizes. "full" feeds the timed workloads; "smoke" keeps the
# self-test's runs to a few seconds past session start.
SIZES = {
    "full": {
        "events": 10000,
        "users": 150,
        "taxi_per_cab": 15000,
    },
    "smoke": {
        "events": 600,
        "users": 15,
        "taxi_per_cab": 800,
    },
}


# --------------------------------------------------------------------------
# cache plumbing


def _cached(root: str, key: str, build) -> str:
    final = os.path.join(root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)  # publish only finished inputs
    return final


def _write_split(table: pa.Table, out_dir: str, rng: np.random.Generator, files: int) -> None:
    """Write ``table`` in a seeded row order, cut into ``files`` parts
    of equal size: the seed decides which rows share a file, not how
    big the files are, so task sizes do not change with the seed."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    files = max(1, min(files, n))
    bounds = [n * i // files for i in range(files + 1)]
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# --------------------------------------------------------------------------
# raw taxi trips (seed-dependent content)


def _pickups(rng: np.random.Generator, n: int) -> pd.Series:
    starts = pd.to_datetime(list(MONTH_STARTS))
    base = starts[rng.integers(0, len(starts), n)]
    offset = rng.uniform(0, 27 * 24 * 3600, n)
    return pd.Series(base) + pd.to_timedelta(offset, unit="s")


def _zones(rng: np.random.Generator, n: int) -> np.ndarray:
    z = rng.zipf(1.5, n) % 265 + 1
    boost = rng.random(n) < 0.08
    z[boost] = rng.choice([132, 138, 1, 140], boost.sum())
    return z.astype("int32")


def _money(rng: np.random.Generator, n: int):
    dist = np.round(rng.lognormal(1.0, 0.6, n), 2)
    dist[rng.random(n) < 0.01] = 0.0  # zero distance
    big = rng.random(n) < 0.005  # > 500 mi outliers
    dist[big] = np.round(rng.uniform(500, 900, big.sum()), 2)
    fare = np.round(3.0 + dist * rng.uniform(2.2, 3.2, n), 2)
    fare[rng.random(n) < 0.01] *= -1  # negative fares
    tip = np.round(fare.clip(0) * rng.uniform(0, 0.4, n), 2)
    return dist, fare, tip


def _codes(rng: np.random.Generator, n: int, hi: int) -> list[str]:
    return ["B%05d" % i for i in rng.integers(0, hi, n)]


def _yellow(rng: np.random.Generator, n: int, prefix: str = "tpep") -> pd.DataFrame:
    pu_t = _pickups(rng, n)
    do_t = pu_t + pd.to_timedelta(rng.uniform(30, 3 * 3600, n), unit="s")
    bad = rng.random(n) < 0.02  # dropoff before pickup
    do_t[bad] = pu_t[bad] - pd.to_timedelta(60, unit="s")
    dist, fare, tip = _money(rng, n)
    df = pd.DataFrame(
        {
            "VendorID": rng.choice(["1", "2"], n),
            f"{prefix}_pickup_datetime": pu_t,
            f"{prefix}_dropoff_datetime": do_t,
            "passenger_count": rng.integers(0, 7, n).astype("int32"),
            "trip_distance": dist,
            "RatecodeID": rng.choice(["1", "2", "3", "4", "5", "6"], n),
            "store_and_fwd_flag": rng.choice(["Y", "N"], n),
            "PULocationID": _zones(rng, n),
            "DOLocationID": _zones(rng, n),
            "payment_type": rng.choice(["1", "2", "3", "4"], n),
            "fare_amount": fare,
            "extra": np.round(rng.uniform(0, 2, n), 2),
            "mta_tax": rng.choice([0.0, 0.5], n),
            "tip_amount": tip,
            "tolls_amount": np.where(rng.random(n) < 0.1, 6.55, 0.0),
            "improvement_surcharge": rng.choice([0.3, 1.0], n),
        }
    )
    df["total_amount"] = np.round(
        df.fare_amount + df.extra + df.mta_tax + df.tip_amount
        + df.tolls_amount + df.improvement_surcharge,
        2,
    )
    df.loc[rng.random(n) < 0.015, f"{prefix}_dropoff_datetime"] = pd.NaT
    return df


def _green(rng: np.random.Generator, n: int) -> pd.DataFrame:
    df = _yellow(rng, n, prefix="lpep")
    df["trip_type"] = rng.choice(["1", "2"], n)
    return df


def _fhv(rng: np.random.Generator, n: int) -> pd.DataFrame:
    pu_t = _pickups(rng, n)
    do_t = pu_t + pd.to_timedelta(rng.uniform(60, 2 * 3600, n), unit="s")
    do_t[rng.random(n) < 0.02] = pd.NaT
    return pd.DataFrame(
        {
            "dispatching_base_num": _codes(rng, n, 300),
            "pickup_datetime": pu_t,
            "dropOff_datetime": do_t,
            "PUlocationID": _zones(rng, n),
            "DOlocationID": _zones(rng, n),
            "SR_Flag": pd.array(np.where(rng.random(n) < 0.9, pd.NA, 1), dtype="Int32"),
            "Affiliated_base_number": _codes(rng, n, 300),
        }
    )


def _fhvhv(rng: np.random.Generator, n: int) -> pd.DataFrame:
    pu_t = _pickups(rng, n)
    trip_time = rng.uniform(120, 2 * 3600, n).astype("int64")
    do_t = pu_t + pd.to_timedelta(trip_time, unit="s")
    dist = np.round(rng.lognormal(1.2, 0.6, n), 2)
    dist[rng.random(n) < 0.01] = 0.0
    base = np.round(5.0 + dist * rng.uniform(2.0, 3.0, n), 2)
    base[rng.random(n) < 0.01] *= -1
    flags = ["Y", "N"]
    return pd.DataFrame(
        {
            "hvfhs_license_num": rng.choice(["HV0002", "HV0003", "HV0005"], n),
            "dispatching_base_num": _codes(rng, n, 50),
            "originating_base_num": _codes(rng, n, 50),
            "request_datetime": pu_t - pd.to_timedelta(rng.uniform(60, 600, n), unit="s"),
            "on_scene_datetime": pu_t - pd.to_timedelta(rng.uniform(0, 120, n), unit="s"),
            "pickup_datetime": pu_t,
            "dropoff_datetime": do_t,
            "PULocationID": _zones(rng, n),
            "DOLocationID": _zones(rng, n),
            "trip_miles": dist,
            "trip_time": trip_time,
            "base_passenger_fare": base,
            "tolls": np.where(rng.random(n) < 0.1, 6.55, 0.0),
            "bcf": np.round(base * 0.025, 2),
            "sales_tax": np.round(base * 0.08875, 2),
            "congestion_surcharge": np.where(rng.random(n) < 0.5, 2.75, 0.0),
            "airport_fee": np.where(rng.random(n) < 0.08, 2.5, 0.0),
            "tips": np.round(base.clip(0) * rng.uniform(0, 0.3, n), 2),
            "driver_pay": np.round(base * 0.7, 2),
            "shared_request_flag": rng.choice(flags, n),
            "shared_match_flag": rng.choice(flags, n),
            "access_a_ride_flag": rng.choice(["Y", "N", " "], n),
            "wav_request_flag": rng.choice(flags, n),
            "wav_match_flag": rng.choice(flags, n),
            "cbd_congestion_fee": np.where(rng.random(n) < 0.3, 0.75, 0.0),
        }
    )


_CAB_MAKERS = {"yellow": _yellow, "green": _green, "fhv": _fhv, "fhvhv": _fhvhv}


def taxi_inputs(root: str, seed: int, size: str) -> dict:
    """Raw trips for ``taxi_etl``: ``{"raw": {cab: dir}, "rows": n}``.
    Each cab is written as two files in a seeded row order."""
    n = SIZES[size]["taxi_per_cab"]

    def build(out: str) -> None:
        for i, cab in enumerate(CAB_TYPES):
            rng = np.random.default_rng([seed, i])
            df = _CAB_MAKERS[cab](rng, n)
            table = pa.Table.from_pandas(df, preserve_index=False)
            # micros, like real TLC parquet (Spark rejects NANOS)
            table = table.cast(
                pa.schema(
                    [
                        pa.field(f.name, pa.timestamp("us"))
                        if pa.types.is_timestamp(f.type)
                        else f
                        for f in table.schema
                    ]
                ).with_metadata(None),
                safe=False,  # truncate nanoseconds
            )
            _write_split(table, os.path.join(out, cab), rng, 2)

    path = _cached(root, f"taxi-{size}-seed{seed}", build)
    return {
        "raw": {cab: os.path.join(path, cab) for cab in CAB_TYPES},
        "rows": n * len(CAB_TYPES),
    }


# --------------------------------------------------------------------------
# catalog tables (fixed content, seeded order and file split)


def events(n: int, n_users: int) -> pa.Table:
    """30 days of user events from 2024-01-01, micro-second stamps."""
    rng = np.random.default_rng(CONTENT_SEED + 5)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86400 * 10**6, n
    ).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
            "value": np.round(-50.0 * np.log1p(-rng.random(n)), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_TABLES = {
    "events": lambda s: events(s["events"], s["users"]),
}


def catalog_inputs(root: str, seed: int, size: str, tables: tuple[str, ...]) -> str:
    """A table directory (``{name}.parquet/part-*.parquet``) holding
    ``tables`` in a seeded row order and file split."""

    def build(out: str) -> None:
        for i, name in enumerate(tables):
            rng = np.random.default_rng([seed, 7919, i])
            table = _TABLES[name](SIZES[size])
            _write_split(table, os.path.join(out, f"{name}.parquet"), rng, FILES_PER_TABLE)

    return _cached(root, f"catalog-{size}-{'-'.join(tables)}-seed{seed}", build)
