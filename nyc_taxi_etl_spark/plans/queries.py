"""The engine's query catalog, mapped onto the driver's test tables.

Every named analysis from the reference (SURVEY.md §2 inventory — the
operator IDs like A1/P5/J2 cited in each docstring) is re-expressed as a
declarative DataFrame plan over the TPC-H-ish test tables, with a
semantically identical ANSI-SQL oracle that DuckDB runs on the same
parquet. The driver hash-compares the two at sf=0.01.

Conventions that keep the cross-engine hash stable:
  * every float column is rounded to 4 decimals on BOTH sides (``r4`` /
    ``ROUND(x, 4)``) — absorbs aggregation-order ulp noise;
  * every top-k orders by (metric DESC, key ASC) so tie membership is
    deterministic;
  * time parts are extracted as integers (ISO weekday, hour, year) or
    'yyyy-MM' strings, never raw timestamps;
  * count-like outputs are BIGINT on both sides;
  * money sums are exact integer cents (``money_sum`` /
    ``money_sum_sql``, on ``cents`` / ``cents_sql``);
  * hashes are an md5 hex prefix read as an integer (``md5_int`` /
    ``md5_int_sql`` / ``md5_int_py``).
The last two are written once, in ``functions.core``: a Spark
function and its DuckDB twin each (winnow's Spark-SQL-text hash is the
one inline copy).

Scale notes live on each query: what shuffles, what broadcasts, and why
the plan survives 1000 executors on 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    money_sum,
    money_sum_sql,
    r4,
    safe_cast_double,
    topk,
    zscore_over_all,
)
from ..sources.catalog import load_table

CATALOG: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a catalog query and (optionally) its DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Hourly / daily / monthly rollups (reference A1, A2, A11, A12, A19;
# spark_jobs/analytics_yellow_s3.py:15-23, notebooks/cab_wise_analysis.ipynb)
# ---------------------------------------------------------------------------


@query(
    "events_time_profile",
    """
    WITH b AS (
      SELECT CAST(hour(ts) AS BIGINT) AS event_hour,
             CAST(isodow(ts) AS BIGINT) AS dow,
             value
      FROM events
    )
    SELECT event_hour, dow,
           CAST(count(*) AS BIGINT) AS event_count,
           ROUND(avg(value), 4) AS avg_value,
           ROUND(sum(value), 4) AS sum_value
    FROM b GROUP BY GROUPING SETS ((event_hour), (dow))
    """,
)
def events_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly AND day-of-week multi-metric dashboards in ONE pass
    (A1+A11: avg fare-per-mile & trip count by pickup_hour,
    ``spark_jobs/analytics_yellow_s3.py:15-19``; A2/A12: trips by dow,
    ``:21-23``; A19's hour Counter, ``analytics_yellow.ipynb cell 8``).
    The reference ran these as separate jobs over separate scans;
    GROUPING SETS ((hour),(dow)) computes both grains from one scan
    and one shuffle.

    ISO weekday integer (Mon=1) rather than the locale-dependent
    ``date_format('E')`` label — O5's ordering concern solved by
    sorting on the integer. Scale: grouping-set expansion replicates
    each partial-agg row once per grain, but both key domains are
    bounded (24+7) so the exchange stays ≤ 31 rows per task.
    """
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        F.hour("ts").cast("long").alias("event_hour"),
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        "value",
    )
    return base.groupingSets([["event_hour"], ["dow"]], "event_hour", "dow").agg(
        F.count("*").alias("event_count"),
        r4(F.avg("value")).alias("avg_value"),
        r4(F.sum("value")).alias("sum_value"),
    )


@query(
    "top_users_by_events",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS event_count
    FROM events GROUP BY 1
    ORDER BY event_count DESC, user_id ASC
    LIMIT 20
    """,
)
def top_users_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Busiest-zones top-k (A3/A10/O1: ``groupBy(PULocationID).count()
    .orderBy(desc).limit``, ``analytics_yellow_s3.py:25-28``).

    Scale: agg shuffles on user_id; the sort+limit compiles to
    TakeOrderedAndProject (per-partition top-k, then k·P rows to one
    reducer) — no global sort materializes.
    """
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("event_count"))
    return topk(counts, ["user_id"], "event_count", 20)


# ---------------------------------------------------------------------------
# Revenue / rollups over orders+lineitem (A5, A8, A6, A9)
# ---------------------------------------------------------------------------


@query(
    "orders_rollup",
    f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
           CAST(count(*) AS BIGINT) AS order_count,
           {money_sum_sql("o_totalprice")} AS total_revenue
    FROM orders GROUP BY ROLLUP(1, 2)
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass (A5: the reference computed
    monthly/seasonal/yearly as three separate groupbys,
    ``scripts/analytics_summary.py:58-60``; ``rollup`` is the idiomatic
    single-shuffle replacement). The year-grain rows ARE the annual
    revenue table (A8: ``groupby(['cab_type','year']).total_fare.sum()``,
    ``comprehensive_trip_analysis.ipynb cell 16``) — one pass instead of
    a separate job; the discount-adjusted lineitem revenue formula is
    exercised in top_suppliers_per_nation."""
    od = t(spark, sf_dir, "orders")
    return (
        od.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .withColumn("order_quarter", F.quarter("o_orderdate").cast("long"))
        .rollup("order_year", "order_quarter")
        .agg(
            F.count("*").alias("order_count"),
            # exact integer cents: the grand-total row (~1e11 at sf1)
            # sits within double sum-order noise of its ROUND grain
            money_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


@query(
    "monthly_order_summary",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS order_count,
           {money_sum_sql("o_totalprice")} AS sum_price,
           ROUND(avg(o_totalprice), 4) AS avg_price,
           ROUND(median(o_totalprice), 4) AS median_price
    FROM orders GROUP BY 1
    """,
)
def monthly_order_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month summary stats incl. exact median (A6:
    ``comprehensive_trip_analysis.ipynb cell 6`` per-file count/sum/
    mean/median table)."""
    od = t(spark, sf_dir, "orders")
    return od.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.count("*").alias("order_count"),
        money_sum(F.col("o_totalprice")).alias("sum_price"),
        r4(F.avg("o_totalprice")).alias("avg_price"),
        r4(F.median("o_totalprice")).alias("median_price"),
    )


@query(
    "returnflag_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS line_count,
           ROUND(sum(l_quantity), 2) AS sum_qty,
           ROUND(avg(l_quantity), 4) AS avg_qty,
           ROUND(stddev_samp(l_quantity), 4) AS std_qty,
           ROUND(min(l_quantity), 2) AS min_qty,
           ROUND(max(l_quantity), 2) AS max_qty
    FROM lineitem GROUP BY 1, 2
    """,
)
def returnflag_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group describe() (A9/A17: overall per-cab stats table /
    per-cluster describe) — TPC-H Q1-shaped single hash agg."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("line_count"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        r4(F.avg("l_quantity")).alias("avg_qty"),
        r4(F.stddev_samp("l_quantity")).alias("std_qty"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J3) + anti/semi + window top-k per group (§2.5)
# ---------------------------------------------------------------------------


@query(
    "region_order_revenue",
    f"""
    SELECT r.r_name AS region_name,
           CAST(count(*) AS BIGINT) AS order_count,
           {money_sum_sql("o.o_totalprice")} AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def region_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment join chain (J2: the zone-lookup broadcast
    join, ``scripts/generate_notebooks_auto.py:8``).

    Scale: nation (25 rows) and region (5 rows) are fixed-cardinality
    dimensions — explicit ``broadcast()`` is always safe.  customer is
    NOT: it scales with SF (150K rows/SF), so a forced broadcast would
    OOM executors at large SF.  No hint on customer — AQE picks
    broadcast vs sort-merge from its measured size at runtime, which
    gives the same broadcast plan at small SF and a safe shuffle join
    at cluster scale.
    """
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    re = t(spark, sf_dir, "region")
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("order_count"),
            money_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


@query(
    "customers_without_urgent_orders",
    """
    SELECT CAST(c.c_nationkey AS BIGINT) AS nation_key,
           CAST(count(*) AS BIGINT) AS customer_count
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY 1
    """,
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY §2.3: 'all join families free from Spark').

    Scale: left_anti on the customer key; the filter on the right side
    pushes into the orders scan before the join.
    """
    cu = t(spark, sf_dir, "customer")
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cu.join(urgent, cu.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nation_key"))
        .agg(F.count("*").alias("customer_count"))
    )


@query(
    "daily_purchase_vs_errors",
    """
    WITH p AS (
      SELECT ts::date AS day, CAST(count(*) AS BIGINT) AS purchases,
             ROUND(sum(value), 4) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), e AS (
      SELECT ts::date AS day, CAST(count(*) AS BIGINT) AS errors
      FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT p.day AS day, p.purchases AS purchases,
           p.purchase_value AS purchase_value, e.errors AS errors,
           ROUND(corr(p.purchases, e.errors) OVER (), 4)
             AS corr_purchases_errors
    FROM p JOIN e ON p.day = e.day
    """,
)
def daily_purchase_vs_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-aggregate equi-join on date + Pearson correlation between
    the two daily series (J1: the weather⋈daily-trips merge AND the
    weather-correlation headline number,
    ``comprehensive_trip_analysis_part2.ipynb:1141`` — the driver
    tables carry no weather, so purchases-vs-errors is the same
    two-series-by-day analysis; the fixture-weather variant is
    DuckDB-checked in tests/test_taxi_engine.py::weather_correlation).

    Scale: both sides are post-aggregation daily frames (tiny) — AQE
    picks a broadcast join at runtime; no hint needed. The corr window
    is unpartitioned but runs over the bounded post-agg daily frame —
    the same bounded-window argument as extreme_days_zscore.
    """
    ev = t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("purchases"),
            r4(F.sum("value")).alias("purchase_value"),
        )
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("errors"))
    )
    w = Window.partitionBy()
    return p.join(e, "day", "inner").select(
        "day",
        "purchases",
        "purchase_value",
        "errors",
        r4(F.corr("purchases", "errors").over(w)).alias("corr_purchases_errors"),
    )


@query(
    "daily_pct_of_baseline",
    """
    WITH d AS (
      SELECT event_type, ts::date AS day,
             CAST(count(*) AS BIGINT) AS event_count
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, avg(event_count) AS baseline
      FROM d WHERE day < DATE '2024-01-11' GROUP BY 1
    )
    SELECT d.event_type AS event_type, d.day AS day,
           d.event_count AS event_count,
           100.0 * d.event_count / b.baseline AS pct_of_baseline
    FROM d JOIN b ON d.event_type = b.event_type
    """,
)
def daily_pct_of_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-vs-baseline scalar join (J3: pct-of-pre-COVID-baseline,
    ``comprehensive_trip_analysis.ipynb:1015``), baseline = first 10
    days per event_type.

    Scale: baseline is a per-group scalar — broadcast join of a
    #event_types-row frame back onto the daily rollup.
    """
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("event_count")
    )
    b = (
        d.filter(F.col("day") < F.lit("2024-01-11").cast("date"))
        .groupBy("event_type")
        .agg(F.avg("event_count").alias("baseline"))
    )
    return d.join(F.broadcast(b), "event_type").select(
        "event_type",
        "day",
        "event_count",
        # counts and avg-of-counts are exact in double → ratio is
        # bit-identical across engines; rounding would be riskier.
        (F.lit(100.0) * F.col("event_count") / F.col("baseline")).alias(
            "pct_of_baseline"
        ),
    )


@query(
    "top_suppliers_per_nation",
    f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nation_key, l.l_suppkey AS supp_key,
             {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
               AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    )
    SELECT CAST(nation_key AS BIGINT) AS nation_key,
           CAST(supp_key AS BIGINT) AS supp_key, revenue,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY nation_key ORDER BY revenue DESC, supp_key ASC
      ) AS rnk FROM rev
    ) WHERE rnk <= 3
    """,
)
def top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window rank (§2.5: the reference's two-phase
    'top-N groups then per-group breakdown' pandas pattern,
    ``comprehensive_trip_analysis_part2.ipynb:571,633``).

    Scale: one shuffle for the agg, one for the window partition; k·G
    rows out. Deterministic tiebreak on supp_key.  supplier scales with
    SF (10K rows/SF), so no forced broadcast — AQE size-picks the join
    strategy (broadcast at small SF, shuffle join at cluster scale).

    Revenue sums as exact integer cents (the
    orders_upsert_status_totals convention): the sf1 oracle rehearsal
    caught the plain double Σ flipping a ROUND(,2) cent at ~600 lines
    per supplier — and an inexact revenue also makes the DESC rank
    order itself load-dependent, which integer cents forecloses.
    """
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("nation_key"),
            F.col("l_suppkey").cast("long").alias("supp_key"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nation_key").orderBy(
        F.desc("revenue"), F.asc("supp_key")
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Filters / projections / derived columns (P1-P14)
# ---------------------------------------------------------------------------


@query(
    "valid_lines_unit_price",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS order_key,
           CAST(l_linenumber AS BIGINT) AS line_number,
           ROUND(l_quantity, 2) AS quantity,
           CASE WHEN l_quantity > 0
                THEN l_extendedprice / l_quantity END AS unit_price,
           ROUND(LEAST(l_extendedprice, 50000.0), 2) AS capped_price,
           ROUND(ln(1 + l_extendedprice), 4) AS log_price
    FROM lineitem
    WHERE l_quantity > 0 AND l_extendedprice > 0
      AND l_discount BETWEEN 0 AND 0.1
    """,
)
def valid_lines_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity filter + guarded division + clip + log1p (P1, P3, P8,
    P13, P14 — ``spark_jobs/etl_yellow_s3.py:51``, ``utils.py:67-76``,
    ``part2 cells 11/25/27``).

    Row-level plan: filter and projection both push into the parquet
    scan (PushedFilters in explain); stays in one codegen stage.
    """
    li = t(spark, sf_dir, "lineitem")
    from ..functions import safe_div

    return (
        li.filter(
            (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & F.col("l_discount").between(0, 0.1)
        )
        .select(
            F.col("l_orderkey").cast("long").alias("order_key"),
            F.col("l_linenumber").cast("long").alias("line_number"),
            F.round("l_quantity", 2).alias("quantity"),
            # No rounding: a/b on identical doubles is IEEE-bit-identical
            # across engines, while ROUND itself is not (midpoint ties).
            safe_div(F.col("l_extendedprice"), F.col("l_quantity")).alias(
                "unit_price"
            ),
            F.round(F.least(F.col("l_extendedprice"), F.lit(50000.0)), 2).alias(
                "capped_price"
            ),
            r4(F.log1p(F.col("l_extendedprice"))).alias("log_price"),
        )
    )


@query(
    "priority_nation_filter",
    f"""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS order_count,
           {money_sum_sql("o.o_totalprice")} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey IN (1, 8, 14, 24)
       OR o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def priority_nation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership OR-filter (P5: airport zones on PU **or** DO,
    nightlife hour sets — ``part2 cells 19/21``).

    Scale: customer is SF-scaled — no broadcast hint; AQE size-picks
    the join strategy."""
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .filter(
            F.col("c_nationkey").isin(1, 8, 14, 24)
            | F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("order_count"),
            money_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@query(
    "props_safe_cast",
    """
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS parsed_count,
           avg(k) AS avg_k
    FROM (
      SELECT event_type,
             CASE WHEN regexp_extract(props, '"k": (-?\\d+)', 1) ~ '^-?\\d+$'
                  THEN CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS DOUBLE)
             END AS k
      FROM events
    ) GROUP BY 1
    """,
)
def props_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-validated safe cast out of a raw string payload (P9/P10:
    ``spark_jobs/utils.py:30-32`` safe_cast; pandas errors='coerce').

    Stays JVM-side: regexp_extract + conditional cast, no UDF, despite
    being 'JSON parsing' — at 100 TB this matters.
    """
    ev = t(spark, sf_dir, "events")
    k_str = F.regexp_extract("props", '"k": (-?\\d+)', 1)
    return (
        ev.select("event_type", safe_cast_double(k_str).alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("parsed_count"),
            # avg over exact ints-as-doubles: exact sum → identical bits.
            F.avg("k").alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution analytics: z-score days, histogram, segmentation (A15-A18)
# ---------------------------------------------------------------------------


@query(
    "extreme_days_zscore",
    """
    WITH d AS (
      SELECT ts::date AS day, CAST(count(*) AS BIGINT) AS event_count
      FROM events GROUP BY 1
    ), z AS (
      SELECT day, event_count,
             ROUND((event_count - avg(event_count) OVER ())
                   / stddev_samp(event_count) OVER (), 4) AS z
      FROM d
    )
    SELECT day, event_count, z FROM z WHERE abs(z) > 1.5
    """,
)
def extreme_days_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score extreme days (A15: daily counts → scipy zscore → top/
    bottom, ``part2 cell 31``) as an unpartitioned window over the tiny
    daily aggregate (≤ 3.6k rows for 10 years — safe single partition).
    """
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("event_count")
    )
    z = d.select("day", "event_count", r4(zscore_over_all(F.col("event_count"))).alias("z"))
    return z.filter(F.abs(F.col("z")) > 1.5)


@query(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS bucket_count
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (A18: ``plt.hist(dur, bins=60)``) as a
    groupBy on the bucket expression — fully distributed, unlike a
    driver-side matplotlib hist."""
    from ..functions import histogram_bucket

    ev = t(spark, sf_dir, "events")
    return ev.groupBy(histogram_bucket(F.col("value"), 50.0).alias("bucket")).agg(
        F.count("*").alias("bucket_count")
    )


@query(
    "quantity_segmentation",
    """
    SELECT CASE WHEN l_quantity <= 10 THEN 'small'
                WHEN l_quantity <= 25 THEN 'medium'
                ELSE 'large' END AS segment,
           CAST(count(*) AS BIGINT) AS line_count,
           100.0 * count(*) / sum(count(*)) OVER () AS pct_share
    FROM lineitem GROUP BY 1
    """,
)
def quantity_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trip segmentation shares (A16: ≤2 / 2–5 / >5 mi buckets,
    ``cab_wise_analysis.ipynb cells 5/8``)."""
    li = t(spark, sf_dir, "lineitem")
    seg = (
        F.when(F.col("l_quantity") <= 10, "small")
        .when(F.col("l_quantity") <= 25, "medium")
        .otherwise("large")
    )
    counts = li.groupBy(seg.alias("segment")).agg(F.count("*").alias("line_count"))
    w = Window.partitionBy()
    return counts.select(
        "segment",
        "line_count",
        # Exact-int ratio → bit-identical across engines; don't round.
        (F.lit(100.0) * F.col("line_count") / F.sum("line_count").over(w)).alias(
            "pct_share"
        ),
    )


# ---------------------------------------------------------------------------
# Set operations (U1, U2)
# ---------------------------------------------------------------------------


@query(
    "union_heterogeneous",
    """
    SELECT kind, CAST(count(*) AS BIGINT) AS n, ROUND(sum(amount), 2) AS total
    FROM (
      SELECT 'order' AS kind, o_totalprice AS amount FROM orders
        WHERE year(o_orderdate) = 1995
      UNION ALL
      SELECT 'line' AS kind, l_extendedprice AS amount FROM lineitem
        WHERE year(l_shipdate) = 1995
    ) GROUP BY 1
    """,
)
def union_heterogeneous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of heterogeneous frames by name (U1: ``pd.concat`` across
    cab samples — the engine's unified-table op is
    ``unionByName(allowMissingColumns=True)``)."""
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    a = od.filter(F.year("o_orderdate") == 1995).select(
        F.lit("order").alias("kind"), F.col("o_totalprice").alias("amount")
    )
    b = li.filter(F.year("l_shipdate") == 1995).select(
        F.lit("line").alias("kind"), F.col("l_extendedprice").alias("amount")
    )
    return (
        a.unionByName(b, allowMissingColumns=True)
        .groupBy("kind")
        .agg(F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("total"))
    )
