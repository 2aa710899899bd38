"""Temporal catalog queries: backward as-of join and gap-based
sessionization over the ``events`` table (operators/temporal.py).

North-star extension — the reference (AdityaShah123/nyc-taxi-etl) has
no as-of/session operators; its closest shape is the month-file batch
loop (`scripts/batch_etl_simple.py:45-56`). These are the two temporal
primitives an event pipeline needs at 100 TB, each one shuffle wide.

Oracle portability: all timestamp math is integer microseconds
(``unix_micros`` ↔ DuckDB ``epoch_us``), floats are r4-rounded, and
ties among equal timestamps are broken by max event_id on both sides,
so the cross-engine hash is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import r4
from ..operators.temporal import asof_join, epoch_us, interval_join, sessionize
from .queries import query, t

_GAP_US = 4 * 3600 * 1_000_000  # 4-hour session gap


@query(
    "purchase_asof_prior_error",
    """
    WITH purch AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'purchase'),
    err AS (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'error'),
    best AS (
      SELECT p.event_id, max(e.ts) AS m_ts
      FROM purch p JOIN err e ON e.user_id = p.user_id AND e.ts <= p.ts
      GROUP BY 1),
    pick AS (
      SELECT p.event_id, b.m_ts, max(e.event_id) AS prior_error_id
      FROM purch p JOIN best b ON b.event_id = p.event_id
      JOIN err e ON e.user_id = p.user_id AND e.ts = b.m_ts
      GROUP BY 1, 2)
    SELECT p.event_id, p.user_id, ROUND(p.value, 4) AS value,
           CAST(k.prior_error_id AS BIGINT) AS prior_error_id,
           ROUND(e.value, 4) AS prior_error_value,
           epoch_us(p.ts) - epoch_us(k.m_ts) AS lag_us
    FROM purch p
    LEFT JOIN pick k ON k.event_id = p.event_id
    LEFT JOIN err e ON e.event_id = k.prior_error_id
    """,
)
def purchase_asof_prior_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase gets the latest error by the
    same user at-or-before it (left-outer; purchases with no prior
    error keep nulls).

    Scale: the union-marker formulation is ONE shuffle on user_id +
    per-partition sort — the oracle's range-join formulation would be
    O(|purchases|·|errors|) per user. Equal-timestamp and duplicate-
    timestamp winners are pinned (right-before-left, max event_id).
    """
    ev = t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purch,
        err,
        on="user_id",
        ts_col="ts",
        right_cols=["event_id", "ts", "value"],
        tiebreak_col="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        r4(F.col("value")).alias("value"),
        F.col("asof_event_id").cast("long").alias("prior_error_id"),
        r4(F.col("asof_value")).alias("prior_error_value"),
        (epoch_us("ts") - epoch_us("asof_ts")).alias("lag_us"),
    )


@query(
    "user_sessions",
    f"""
    WITH o AS (
      SELECT event_id, user_id, ts, value, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    s AS (
      SELECT *,
             sum(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > {_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM o)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(epoch_us(ts)) AS start_us,
           max(epoch_us(ts)) AS end_us,
           ROUND(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END), 4) AS purchase_value
    FROM s GROUP BY 1, 2
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (4-hour inactivity gap) + per-session
    rollup: event count, span in epoch-µs, purchase revenue.

    Scale: lag + running sum over one (user_id, ts) sort — the batch
    twin of the streaming session windows (streaming/events.py); no
    per-session state beyond the sort, so skew degrades gracefully.
    """
    ev = t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_us=_GAP_US, tiebreak_col="event_id")
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(epoch_us("ts")).alias("start_us"),
        F.max(epoch_us("ts")).alias("end_us"),
        r4(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0)))
        ).alias("purchase_value"),
    )


@query(
    "events_time_rollup",
    """
    SELECT CAST(year(ts) AS BIGINT) AS event_year,
           CAST(month(ts) AS BIGINT) AS event_month,
           CAST(day(ts) AS BIGINT) AS event_day,
           CAST(hour(ts) AS BIGINT) AS event_hour,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 4) AS total_value
    FROM events GROUP BY ROLLUP(1, 2, 3, 4)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate: hourly → daily → monthly
    → yearly → grand-total event rollup in ONE shuffle (GROUP BY
    ROLLUP), instead of one scan+agg per granularity. The month-grain
    rows subsume A19's month-period Counter loop
    (``dt.to_period('M')``, ``analytics_yellow.ipynb cells 8-9``).

    Scale: partial aggregation happens map-side for every grouping
    set; at 100 TB this replaces 5 full scans with 1. Time parts are
    integers, so rollup NULL markers are unambiguous."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("event_year", F.year("ts").cast("long"))
        .withColumn("event_month", F.month("ts").cast("long"))
        .withColumn("event_day", F.dayofmonth("ts").cast("long"))
        .withColumn("event_hour", F.hour("ts").cast("long"))
        .rollup("event_year", "event_month", "event_day", "event_hour")
        .agg(
            F.count("*").alias("n_events"),
            r4(F.sum("value")).alias("total_value"),
        )
    )


@query(
    "purchases_in_error_windows",
    """
    WITH err AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'error'),
    p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT e.event_id, e.user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           ROUND(sum(p.value), 4) AS total_value
    FROM err e JOIN p ON p.user_id = e.user_id
      AND epoch_us(p.ts) BETWEEN epoch_us(e.ts) - 1800000000
                             AND epoch_us(e.ts) + 1800000000
    GROUP BY 1, 2
    """,
)
def purchases_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases falling inside ±30-minute incident
    windows around each error by the same user, rolled up per window.

    Scale: operators/temporal.py::interval_join buckets both sides on
    1-hour windows so this is a plain equi-join on (user_id, bucket)
    plus an exact range filter — the oracle's BETWEEN join is the
    per-key nested loop the bucketing avoids."""
    ev = t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.timestamp_micros(epoch_us("ts") - F.lit(1_800_000_000)).alias("w_start"),
        F.timestamp_micros(epoch_us("ts") + F.lit(1_800_000_000)).alias("w_end"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = interval_join(
        purch, err, on="user_id", ts_col="ts", start_col="w_start", end_col="w_end"
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_purchases"),
        r4(F.sum("value")).alias("total_value"),
    )


@query(
    "event_value_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.75), 4) AS p75,
           ROUND(quantile_cont(value, 0.90), 4) AS p90
    FROM events GROUP BY 1
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile profile per event type (A16 quantiles; p50
    IS the grouped exact median of A13 — the congestion/surge medians
    of ``comprehensive_trip_analysis_part2.ipynb cells 17/27`` — using
    Spark 4's exact ``percentile``, since approx_percentile would not
    hash-match a pandas/DuckDB oracle, SURVEY §7.3): one pass computes
    the 25/50/75/90th percentiles with linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the R-7
    interpolation rule; results r4-rounded to absorb formula-order ulp.

    Scale: exact percentile needs the per-group sorted values; at
    100 TB swap to ``approx_percentile`` (t-digest sketch, bounded
    memory, mergeable map-side) — same plan shape, documented
    trade-off."""
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        *[
            r4(F.percentile("value", F.lit(p)).cast("double")).alias(n)
            for p, n in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.90, "p90")]
        ]
    )
    return agg


@query(
    "orders_priority_point_in_time",
    """
    WITH log AS (
      SELECT CAST(o_custkey AS BIGINT) AS custkey,
             o_orderpriority AS priority,
             o_orderdate AS d, o_orderkey AS k
      FROM orders),
    flagged AS (
      SELECT custkey, priority, d, k,
             CASE WHEN (lag(d) OVER w IS NULL)
                    OR (lag(priority) OVER w IS DISTINCT FROM priority)
                  THEN 1 ELSE 0 END AS new_run
      FROM log WINDOW w AS (PARTITION BY custkey ORDER BY d, k)),
    hist AS (
      SELECT custkey, priority,
             CAST(row_number() OVER w2 AS INT) AS version,
             d AS effective_from
      FROM (SELECT * FROM flagged WHERE new_run = 1)
      WINDOW w2 AS (PARTITION BY custkey ORDER BY d, k)),
    pit AS (
      SELECT o.o_orderpriority AS actual,
             (SELECT h.priority FROM hist h
              WHERE h.custkey = o.o_custkey
                AND h.effective_from <= o.o_orderdate
              ORDER BY h.effective_from DESC, h.version DESC
              LIMIT 1) AS reconstructed
      FROM orders o)
    SELECT actual AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE reconstructed = actual) AS BIGINT)
             AS n_reconstructed
    FROM pit GROUP BY 1
    """,
)
def orders_priority_point_in_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time join (``operators/temporal.py::point_in_time_join``)
    — the consumer side of SCD2: rebuild each order's priority from
    the ``customer_priority_scd2`` history AS OF the order date and
    count, per priority, how many orders the date-grain history
    reconstructs exactly. Joining the CURRENT dimension instead of the
    point-in-time version is the classic silent-leakage bug in BI and
    feature pipelines; this entry makes the fidelity measurable — the
    gap between n_orders and n_reconstructed is exactly the orders
    involved in same-day priority flips, which a DATE-grained history
    cannot resolve (the tiebreak awards the whole day to the
    last-written version).

    Scale: history build is the single-exchange SCD2 plan; the PIT
    join is ``asof_join``'s union + key-window (no interval-expansion
    range join). The oracle replays history + a correlated
    latest-version lookup (DuckDB decorrelates it to the same
    window)."""
    from ..operators.scd import scd2_history
    from ..operators.temporal import point_in_time_join

    od = t(spark, sf_dir, "orders")
    log = od.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    hist = scd2_history(log, ["custkey"], ["priority"], "d", tiebreak=["k"])
    facts = od.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderpriority").alias("actual"),
        F.col("o_orderdate").alias("d"),
    )
    pit = point_in_time_join(
        facts, hist, on="custkey", fact_ts="d", attrs=["priority"]
    )
    return pit.groupBy(F.col("actual").alias("priority")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(
            F.when(F.col("pit_priority") == F.col("actual"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_reconstructed"),
    )
