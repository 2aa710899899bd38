"""The benchmark's workloads: what each iteration calls, and how every
output is checked.

Each workload is a list of steps that run one after another in the
driver (closed loop, one client). Every iteration rebuilds its plans
from the engine's public entry points; no DataFrame outlives the step
that built it.

* catalog steps call an entry of ``plans.QUERIES ∪ QUERIES_EXTRA``
  (``plans.build``: the call, including any eager pins) and materialize
  the returned plan through the noop sink (``final.run``). The same job
  computes the row count and an order-insensitive content fingerprint
  through ``DataFrame.observe``, which is compared with
  ``expected.json``.
* ``taxi_etl`` calls ``etl.run_etl`` and then each reference analysis
  of ``plans.taxi_analytics`` over ``etl.read_curated``; analysis
  results are collected and compared with DuckDB over the curated
  files.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from typing import Callable
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))

ANALYSES = (
    "summary_rollup",
    "per_cab_summary",
    "hourly_dashboard",
    "od_flows",
    "tip_pct_by_hour",
    "median_speed_by_hour",
    "extreme_days",
    "trip_segmentation",
    "busiest_zones",
    "market_share_by_month",
)

# workload -> (catalog entries, tables they read)
CATALOG_WORKLOADS = {
    "stateful_streams": (
        ("streaming_ewma_anomalies",),
        ("events",),
    ),
}
WORKLOADS = ("taxi_etl", *CATALOG_WORKLOADS)


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# fingerprint


def fingerprint_columns(df):
    """Row count and order-insensitive content hash as aggregate
    columns. Floats are rounded to 6 decimals so last-ulp differences
    between shuffle orders cannot change the hash; the per-row hash is
    reduced mod a prime before summing, so the sum never overflows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f"`{f.name}`"), 6) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash), F.lit(0)).cast("long").alias("fp"),
    ]


def materialize(df, tag: str) -> tuple[int, int]:
    """Run ``df`` through the noop sink; return (rows, fingerprint)
    observed by that same job."""
    from pyspark.sql import Observation

    obs = Observation(tag)
    df.observe(obs, *fingerprint_columns(df)).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["rows"]), int(got["fp"])


# --------------------------------------------------------------------------
# DuckDB reference for the taxi analyses


def _season(col: str) -> str:
    return (
        f"CASE WHEN {col} IN (12, 1, 2) THEN 'Winter' WHEN {col} IN (3, 4, 5) "
        f"THEN 'Spring' WHEN {col} IN (6, 7, 8) THEN 'Summer' ELSE 'Fall' END"
    )


DUCKDB_ANALYSES = {
    "summary_rollup": f"""
        SELECT cab_type, year, {_season('month')} AS season, month,
               count(*), sum(trip_distance), sum(fare_amount)
        FROM trips GROUP BY ROLLUP (cab_type, year, season, month)""",
    "per_cab_summary": """
        SELECT cab_type, count(*), sum(fare_amount), avg(trip_distance),
               median(trip_distance), avg(fare_amount), median(fare_amount)
        FROM trips GROUP BY cab_type""",
    "hourly_dashboard": """
        SELECT cab_type, pickup_hour, count(*), avg(fare_amount),
               sum(fare_amount), avg(tip_amount)
        FROM trips GROUP BY cab_type, pickup_hour""",
    "od_flows": """
        SELECT pickup_zone, dropoff_zone, count(*) AS c,
               concat_ws('→', pickup_zone, dropoff_zone)
        FROM trips
        WHERE pickup_zone IS NOT NULL AND dropoff_zone IS NOT NULL
        GROUP BY pickup_zone, dropoff_zone
        ORDER BY c DESC, pickup_zone, dropoff_zone LIMIT 10""",
    # Spark's least() skips nulls, so a null ratio becomes the cap
    "tip_pct_by_hour": """
        SELECT pickup_hour, avg(tp), count(tp) FROM (
          SELECT pickup_hour,
                 CASE WHEN fare_amount > 0 AND tip_amount IS NOT NULL
                      THEN least(tip_amount / fare_amount, 1.0) ELSE 1.0 END AS tp
          FROM trips) GROUP BY pickup_hour""",
    "median_speed_by_hour": """
        SELECT cab_type, pickup_hour, median(avg_speed_mph)
        FROM trips GROUP BY cab_type, pickup_hour""",
    "extreme_days": """
        SELECT pickup_date, c, z FROM (
          SELECT pickup_date, c,
                 (c - avg(c) OVER ()) / stddev_samp(c) OVER () AS z
          FROM (SELECT pickup_date, count(*) AS c FROM trips GROUP BY pickup_date))
        WHERE abs(z) > 2.0""",
    "trip_segmentation": """
        SELECT segment, c, 100.0 * c / sum(c) OVER () FROM (
          SELECT CASE WHEN trip_distance <= 2 THEN 'short'
                      WHEN trip_distance <= 5 THEN 'medium' ELSE 'long' END AS segment,
                 count(*) AS c
          FROM trips WHERE trip_distance IS NOT NULL GROUP BY segment)""",
    "busiest_zones": """
        SELECT pickup_zone, count(*) AS c FROM trips
        WHERE pickup_zone IS NOT NULL GROUP BY pickup_zone
        ORDER BY c DESC, pickup_zone LIMIT 100""",
    "market_share_by_month": """
        SELECT m, cab_type, c, 100.0 * c / sum(c) OVER (PARTITION BY m) FROM (
          SELECT strftime(pickup_date, '%Y-%m') AS m, cab_type, count(*) AS c
          FROM trips GROUP BY m, cab_type)""",
}


def _norm(v):
    return float(v) if isinstance(v, Decimal) else v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (v is None, "" if v is None else f"{v:.6e}" if isinstance(v, float) else str(v))
        for v in row
    )


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive equality with a float tolerance."""
    if len(got) != len(want):
        return False
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def duckdb_reference(curated: str) -> dict:
    """Row count and every analysis result, computed by DuckDB over
    the curated parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW trips AS SELECT * FROM read_parquet("
            f"'{curated}/*/*/*/*.parquet', hive_partitioning = true)"
        )
        ref = {"rows": con.execute("SELECT count(*) FROM trips").fetchone()[0]}
        for name, sql in DUCKDB_ANALYSES.items():
            ref[name] = [tuple(r) for r in con.execute(sql).fetchall()]
        return ref
    finally:
        con.close()


# --------------------------------------------------------------------------
# steps


@dataclass
class Context:
    """What one run's steps need: the session, the tracer, the inputs
    and the per-run reference results."""

    spark: object
    tracer: object
    work: str
    inputs: dict
    expected: dict = field(default_factory=dict)
    reference: dict | None = None


@dataclass
class Outcome:
    """A step's result. ``check`` runs after the iteration's clock has
    stopped and returns "" when the output is right, else what is wrong."""

    step: str
    check: Callable[[], str]


def _failed(step: str, err: Exception) -> Outcome:
    msg = f"{type(err).__name__}: {err}"
    return Outcome(step, lambda: msg)


def catalog_step(ctx: Context, name: str) -> Outcome:
    from nyc_taxi_etl_spark import plans

    queries = {**plans.QUERIES, **plans.QUERIES_EXTRA}
    tr = ctx.tracer
    with tr.span("step", step=name):
        with tr.span("plans.build", step=name):
            df = queries[name](ctx.spark, ctx.inputs["tables"])
        with tr.span("final.run", step=name) as rec:
            rows, fp = materialize(df, f"pb_{name}")
            rec["rows"] = rows
    want = ctx.expected.get(name)

    def check() -> str:
        got = {"rows": rows, "fp": fp}
        return "" if got == want else f"got {got}, want {want}"

    return Outcome(name, check)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _reference(ctx: Context, curated: str) -> dict:
    # once per run: every iteration writes the same curated table
    if ctx.reference is None:
        ctx.reference = duckdb_reference(curated)
    return ctx.reference


def taxi_steps(ctx: Context) -> list[Outcome]:
    from nyc_taxi_etl_spark import etl
    from nyc_taxi_etl_spark.plans import taxi_analytics as ta

    tr = ctx.tracer
    curated = os.path.join(ctx.work, "curated")
    raw = ctx.inputs["raw"]
    out: list[Outcome] = []
    with tr.span("step", step="etl"), tr.span("etl.run", step="etl") as rec:
        res = etl.run_etl(ctx.spark, raw, curated)
    rec["rows_in"], rec["rows_out"] = res.rows_in, res.rows_out
    rec["files_written"], rec["bytes_written"] = _dir_stats(curated)
    rec["bytes_in"] = sum(_dir_stats(p)[1] for p in raw.values())

    def check_etl() -> str:
        want_in, want_out = ctx.inputs["rows"], _reference(ctx, curated)["rows"]
        if (res.rows_in, res.rows_out) == (want_in, want_out):
            return ""
        return f"rows_in={res.rows_in}/{want_in} rows_out={res.rows_out}/{want_out}"

    out.append(Outcome("etl", check_etl))
    with tr.span("step", step="read_curated"), tr.span("plans.build", step="read_curated"):
        trips = etl.read_curated(ctx.spark, curated)
    for name in ANALYSES:
        with tr.span("step", step=name):
            with tr.span("plans.build", step=name, analysis=True):
                df = getattr(ta, name)(trips)
            with tr.span("final.run", step=name, analysis=True) as rec:
                got = [tuple(r) for r in df.collect()]
                rec["rows"] = len(got)

        def check(name=name, got=got) -> str:
            want = _reference(ctx, curated)[name]
            return "" if rows_match(got, want) else f"{len(got)} rows differ from DuckDB's {len(want)}"

        out.append(Outcome(name, check))
    return out


def run_steps(workload: str, ctx: Context) -> list[Outcome]:
    """One iteration of ``workload``. A step that raises counts as a
    failed step; the remaining steps still run."""
    if workload == "taxi_etl":
        try:
            return taxi_steps(ctx)
        except Exception as e:  # boundary: report and keep the run going
            return [_failed("taxi_etl", e)]
    out = []
    for name in CATALOG_WORKLOADS[workload][0]:
        try:
            out.append(catalog_step(ctx, name))
        except Exception as e:  # boundary: report and keep the run going
            out.append(_failed(name, e))
    return out


def steps_per_iteration(workload: str) -> int:
    if workload == "taxi_etl":
        return 1 + len(ANALYSES)
    return len(CATALOG_WORKLOADS[workload][0])
