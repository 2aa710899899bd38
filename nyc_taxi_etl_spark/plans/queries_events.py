"""Event-analytics catalog queries: ordered funnel conversion, cohort
retention, and event-type transition matrices.

North-star extension — the product-analytics staples over an event
stream. The reference's closest shapes are the hourly/dow dashboards
(A1/A12); these entries add the ORDERED and COHORT dimensions those
rollups can't express: "did A happen, then B after it, then C after
that", "of the users who first appeared in week W, how many were
still active k weeks later", and "what follows what".

Oracle portability: conversion/retention/transition RATIOS are pure
divisions of exact integers — bit-identical IEEE doubles in both
engines, deliberately left UNROUNDED (r4 would introduce the
midpoint-rounding divergence it usually absorbs). Week grain is
date_trunc('week') — ISO Monday start in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money_sum, money_sum_sql
from .queries import query, t

_FUNNEL = ("signup", "view", "purchase")


@query(
    "event_funnel",
    f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts >= s1.t1 GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts >= s2.t2 GROUP BY 1),
    counts AS (
      SELECT 1 AS stage_idx, '{_FUNNEL[0]}' AS stage,
             CAST(count(*) AS BIGINT) AS users FROM s1
      UNION ALL SELECT 2, '{_FUNNEL[1]}', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL SELECT 3, '{_FUNNEL[2]}', CAST(count(*) AS BIGINT) FROM s3)
    SELECT stage_idx, stage, users,
           users / first_value(users) OVER (ORDER BY stage_idx)
             AS conversion_from_start
    FROM counts
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → purchase: a user counts at
    stage k only if stage k's FIRST qualifying event is at-or-after
    their stage-(k−1) time — strictly ordered conversion, not mere
    co-occurrence (the product-analytics semantics a plain groupBy
    cannot express).

    Scale: one filtered min-agg per stage, each stage's user set
    shrinking monotonically; joins are equi-joins on user_id so the
    whole funnel is a chain of key-local steps. Output is |stages|
    rows."""
    ev = t(spark, sf_dir, "events")
    # ONE scan, ONE shuffle: all three stage times are windows over
    # the same user_id partitioning (Catalyst reuses the exchange), so
    # the per-stage-filter-and-rejoin formulation's 3 scans + 3
    # shuffles collapse. Each stage time is the conditional min over
    # the user's whole partition, gated on the previous stage's time.
    wu = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == _FUNNEL[0], F.col("ts"))
    ).over(wu)
    s1 = ev.select("user_id", "event_type", "ts", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == _FUNNEL[1]) & (F.col("ts") >= F.col("t1")),
            F.col("ts"),
        )
    ).over(wu)
    s2 = s1.select("user_id", "event_type", "ts", "t1", t2.alias("t2"))
    t3 = F.min(
        F.when(
            (F.col("event_type") == _FUNNEL[2]) & (F.col("ts") >= F.col("t2")),
            F.col("ts"),
        )
    ).over(wu)
    per_user = (
        s2.select("user_id", "t1", "t2", t3.alias("t3"))
        .groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
    )
    counts = per_user.agg(
        F.count("t1").alias("u1"),
        F.count("t2").alias("u2"),
        F.count("t3").alias("u3"),
    )
    stacked = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage_idx"),
                        F.lit(name).alias("stage"),
                        F.col(f"u{i}").cast("long").alias("users"),
                    )
                    for i, name in enumerate(_FUNNEL, start=1)
                ]
            )
        ).alias("c")
    ).select("c.stage_idx", "c.stage", "c.users")
    w = Window.orderBy("stage_idx")
    return stacked.withColumn(
        "conversion_from_start",
        F.col("users") / F.first("users").over(w),
    )


@query(
    "weekly_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', f.cohort_week,
                       date_trunc('week', e.ts)) // 7 AS week_offset
      FROM events e JOIN firsts f USING (user_id)),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY 1)
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS active_users,
           s.cohort_size,
           count(*) / CAST(s.cohort_size AS DOUBLE) AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY 1, 2, s.cohort_size
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of
    their FIRST event; retention at offset k = the share of the
    cohort active k weeks later — the triangular retention matrix.

    Scale: first-seen is one min-agg; the activity join is key-local
    on user_id; distinct (user, offset) and the final cohort agg are
    two more shuffles on bounded keys. Cohort×offset output is
    weeks² — metadata scale no matter the corpus."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("active_users"))
        .join(sizes, "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.col("week_offset").cast("long"),
            F.col("active_users").cast("long"),
            F.col("cohort_size").cast("long"),
            (
                F.col("active_users")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    pairs AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, transitions,
           transitions / CAST(sum(transitions) OVER (PARTITION BY prev_type)
                              AS DOUBLE) AS probability
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream (what follows what): lag over each user's time-ordered
    events, bigram counts, row-normalized probabilities.

    Scale: ONE shuffle on user_id for the lag window (per-user sort,
    same partitioning the sessionize entry uses), then a hash-agg on
    the |types|² key domain; normalization is a window over that
    bounded matrix."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("transitions"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("transitions").cast("long"),
        (
            F.col("transitions")
            / F.sum("transitions").over(wn).cast("double")
        ).alias("probability"),
    )


@query(
    "monthly_revenue_growth",
    f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             {money_sum_sql("o_totalprice")} AS revenue
      FROM orders GROUP BY 1)
    SELECT strftime(mo, '%Y-%m') AS order_month, revenue,
           ROUND(revenue - lag(revenue) OVER w, 4) AS mom_delta,
           revenue / lag(revenue) OVER w - 1 AS mom_growth,
           revenue / lag(revenue, 12) OVER w - 1 AS yoy_growth
    FROM m WINDOW w AS (ORDER BY mo)
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth: lag(1) and
    lag(12) over the bounded monthly series — the finance-dashboard
    deltas the reference's monthly tables display side by side but
    never derive (`scripts/analytics_summary.py:58-60`).

    Portability: monthly revenue sums as exact integer cents (the sf1
    oracle sweep showed ~1e9-magnitude double sums drifting into their
    rounding grain), so the growth ratios divide bit-identical inputs
    and stay UNROUNDED; the delta subtraction is exact. Scale: post-agg month table, bounded
    rows — the single-partition window is the established posture."""
    orders = t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mo")
    ).agg(
        money_sum(F.col("o_totalprice")).alias("revenue")
    )
    w = Window.orderBy("mo")
    return m.select(
        F.date_format("mo", "yyyy-MM").alias("order_month"),
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 4).alias(
            "mom_delta"
        ),
        (F.col("revenue") / F.lag("revenue").over(w) - 1).alias(
            "mom_growth"
        ),
        (F.col("revenue") / F.lag("revenue", 12).over(w) - 1).alias(
            "yoy_growth"
        ),
    )


@query(
    "cumulative_new_users",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day
      FROM events GROUP BY 1),
    daily AS (
      SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1)
    SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS total_users
    FROM daily
    """,
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth curve: users by day of FIRST activity plus the
    running cumulative total — the acquisition companion to the
    retention triangle (weekly_cohort_retention shares the same
    first-seen aggregate).

    Scale: first-seen is one min-agg on user_id; everything after
    operates on the bounded day table (running sum over post-agg
    rows)."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    daily = firsts.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long"),
        F.sum("new_users").over(w).cast("long").alias("total_users"),
    )
