"""Catalog queries completing the SURVEY.md §2 inventory: sampling
(M1–M3), set operations beyond union (intersect/except), seasonality
mean-of-group (A7), ETL row-count audits (A20), and a grouping-sets
cube (the idiomatic superset of A5's three-granularity rollup).

Sampling note (SURVEY §7.3 "hard parts"): the reference samples with
pandas/numpy RNGs whose sequences Spark cannot reproduce; chasing that
RNG would pin tests to an implementation detail. The engine therefore
exposes BOTH ``DataFrame.sample`` (seeded Bernoulli — the scale path,
used in ml.py and exercised in tests) and this catalog's deterministic
hash-mod sample, which IS cross-engine reproducible and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents, md5_int_sql, money_sum, money_sum_sql, season
from .queries import query, t


@query(
    "buyer_lifecycle_segments",
    """
    SELECT 'repeat' AS segment, custkey FROM (
      SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
      WHERE year(o_orderdate) = 1997
      INTERSECT
      SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
      WHERE year(o_orderdate) = 1998
    )
    UNION ALL
    SELECT 'lapsed' AS segment, custkey FROM (
      SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
      WHERE year(o_orderdate) = 1997
      EXCEPT
      SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
      WHERE year(o_orderdate) = 1998
    )
    """,
)
def buyer_lifecycle_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection AND set difference (§2.7 — 'available free') in
    one labeled result: 'repeat' = customers active in both 1997 and
    1998 (INTERSECT), 'lapsed' = active in 1997 but not 1998 (EXCEPT —
    the set-op twin of the anti-join in customers_without_urgent_orders).

    Scale: Catalyst plans INTERSECT/EXCEPT as left-semi/left-anti
    aggregate joins on the grouped keys — one shuffle per side on
    custkey; AQE broadcast-converts if one year is small. ``subtract``
    is set-semantics EXCEPT (exceptAll would keep bag multiplicity and
    retain customers with MORE 1997 than 1998 orders)."""
    o = t(spark, sf_dir, "orders")
    y97 = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").cast("long").alias("custkey")
    )
    y98 = o.filter(F.year("o_orderdate") == 1998).select(
        F.col("o_custkey").cast("long").alias("custkey")
    )
    repeat = y97.intersect(y98).select(
        F.lit("repeat").alias("segment"), "custkey"
    )
    lapsed = y97.subtract(y98).select(
        F.lit("lapsed").alias("segment"), "custkey"
    )
    return repeat.unionByName(lapsed)


@query(
    "monthly_seasonality_profile",
    """
    WITH per_month AS (
      SELECT year(ts) AS y, month(ts) AS m, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(m AS BIGINT) AS month_of_year,
           CASE WHEN m IN (12, 1, 2) THEN 'Winter'
                WHEN m IN (3, 4, 5) THEN 'Spring'
                WHEN m IN (6, 7, 8) THEN 'Summer'
                ELSE 'Fall' END AS season,
           ROUND(avg(n), 4) AS avg_events,
           CAST(count(*) AS BIGINT) AS months_observed
    FROM per_month GROUP BY 1, 2
    """,
)
def monthly_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: mean-of-group over months — per-(year,month) totals, then the
    average across years per calendar month (the reference's
    ``summary.groupby(['cab_type','month']).trip_count.mean()``), each
    month labeled with its season via the reference's month→season map
    (``scripts/analytics_summary.py:13-14``) as a pure ``when`` chain —
    no UDF.

    Scale: two hash aggregates; the second runs on ≤ 12×years rows —
    negligible. The first is the standard partial+final count."""
    ev = t(spark, sf_dir, "events")
    per_month = ev.groupBy(
        F.year("ts").alias("y"), F.month("ts").alias("m")
    ).agg(F.count("*").alias("n"))
    return per_month.groupBy(
        F.col("m").cast("long").alias("month_of_year"),
        season(F.col("m")).alias("season"),
    ).agg(
        F.round(F.avg("n"), 4).alias("avg_events"),
        F.count("*").alias("months_observed"),
    )


@query(
    "etl_filter_audit",
    """
    SELECT CAST(count(*) AS BIGINT) AS rows_in,
           CAST(count(*) FILTER (WHERE l_quantity > 0 AND l_extendedprice > 0
                                   AND l_shipdate IS NOT NULL) AS BIGINT)
             AS rows_out
    FROM lineitem
    """,
)
def etl_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: the before/after row-count audit the reference logs around
    its validity filter (``spark_jobs/etl_yellow_s3.py:48-53``) — as ONE
    conditional aggregate instead of two table scans (the double
    ``count()`` inefficiency SURVEY §3.1 flags).

    Scale: single scan, two counters per task."""
    li = t(spark, sf_dir, "lineitem")
    valid = (
        (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
        & F.col("l_shipdate").isNotNull()
    )
    return li.agg(
        F.count("*").alias("rows_in"),
        F.count(F.when(valid, 1)).alias("rows_out"),
    )


@query(
    "orders_status_cube",
    f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o_totalprice")} AS revenue
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1994 AND 1996
    GROUP BY CUBE (o_orderstatus, year(o_orderdate))
    """,
)
def orders_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, year) for the 1994–1996 window — all four
    grouping-set granularities in one pass (the idiomatic
    generalization of A5's three stacked groupbys; the reference
    computed monthly/seasonal/yearly as three separate jobs,
    ``scripts/analytics_summary.py:58-60``). The year-range predicate
    is P4 (``analytics_yellow_s3.py:13``): on a year-partitioned table
    it is pure partition pruning; here it pushes to row-group stats.

    Scale: Spark expands the cube by replicating each input row per
    grouping set into one hash aggregate — one shuffle, 4× partial-agg
    rows, still partial+final so the exchange stays small."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").between(1994, 1996)
    )
    return (
        o.cube(F.col("o_orderstatus"), F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            # exact integer cents: the sf1 oracle sweep caught the
            # plain double SUM (~1e11 at the ALL grain) drifting past
            # the 4-decimal rounding between engines
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias(
                "order_year"
            ),
            "n_orders",
            "revenue",
        )
    )


@query(
    "orders_cdc_delete_totals",
    f"""
    WITH feed AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             'U' AS op
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'D' AS op
      FROM orders WHERE o_orderkey % 13 = 0),
    merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM feed WHERE op = 'U'
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM orders o
      LEFT JOIN feed f ON o.o_orderkey = f.o_orderkey
      WHERE f.o_orderkey IS NULL)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total_price
    FROM merged GROUP BY 1
    """,
)
def orders_cdc_delete_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge WITH TOMBSTONES (operators/merge.py ``op_col`` — the
    delete half of a Debezium-style feed the upsert-only entry cannot
    exercise): one deterministic change batch carries both updates
    (10% price correction, every 7th key) and deletes (every 13th
    key), merged in ONE shuffle — the tombstone wins its key like any
    change and then erases it, no extra anti-join pass. Rolled up per
    status in exact integer cents (the upsert entry's convention).

    The oracle replays the feed as updates + anti-joined base minus
    deleted keys — same result through a two-join plan, cross-checking
    the single-shuffle window formulation."""
    from ..operators.merge import merge_upsert

    od = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = od.select(*cols)
    feed = (
        base.filter((k % 7 == 0) & (k % 13 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("op", F.lit("U"))
        .unionByName(
            base.filter(k % 13 == 0).withColumn("op", F.lit("D"))
        )
    )
    merged = merge_upsert(
        base, feed, keys=["o_orderkey"], op_col="op"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("total_price"),
    )


@query(
    "orders_upsert_status_totals",
    f"""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1
               AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT o.* FROM orders o
      LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
      WHERE u.o_orderkey IS NULL)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total_price
    FROM merged GROUP BY 1
    """,
)
def orders_upsert_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style upsert (operators/merge.py): a deterministic update
    batch (10% price correction on every 7th order key) merged
    keep-latest over the base table, then rolled up per status. The
    oracle replays the merge as updates + anti-joined base — same
    result, different plan: merge_upsert does it in ONE shuffle via
    window row_number instead of shuffling base twice.

    The price total sums as INTEGER CENTS: a double sum over ~10⁵ rows
    accumulates order-dependent error past any post-hoc ROUND at this
    magnitude (first seen at sf0.1: Σ ≈ 1.3e10 diverged in the 4th
    decimal between engines), and per-row double→DECIMAL casts diverge
    at half-cent ties (Spark rounds the double's shortest string repr,
    DuckDB its binary value). ``money_sum`` (``functions.core``)
    rounds x·100 to the nearest integer on the SAME IEEE double in
    both engines (exact .5 ties are measure-zero for *1.1-scaled
    prices), integer addition is exact, and /100 of an exact integer
    is deterministic — identical totals at every scale."""
    from ..operators.merge import merge_upsert

    od = t(spark, sf_dir, "orders")
    updates = od.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    merged = merge_upsert(od, updates, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("total_price"),
    )


@query(
    "stratified_order_sample",
    f"""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS total
    FROM orders
    WHERE {md5_int_sql("CAST(o_orderkey AS VARCHAR)", n=6)}
            % 1000
          < CASE o_orderstatus WHEN 'P' THEN 500
                               WHEN 'F' THEN 50
                               WHEN 'O' THEN 50
                               ELSE 0 END
    """,
)
def stratified_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample (operators/sampling.py): 5% of
    F/O orders, 50% of the rare P stratum — class rebalancing via a
    portable md5 key hash instead of layout-dependent seeded RNG.
    Narrow filter, no shuffle; identical subset on every engine.

    This is the catalog face of the M1–M3 sampling family (``df.sample
    (min(10000,...))``, seeded ML samples — ``comprehensive_trip_
    analysis.ipynb cell 12``, ``part2:926``): the uniform single-stratum
    case (operators/sampling.py::deterministic_hash_sample) is the same
    machinery with one rate and is property-tested in
    tests/test_sampling.py alongside seeded Bernoulli ``.sample``."""
    from ..operators.sampling import stratified_hash_sample

    sampled = stratified_hash_sample(
        t(spark, sf_dir, "orders"),
        key_col="o_orderkey",
        strata_col="o_orderstatus",
        rates_permille={"P": 500, "F": 50, "O": 50},
    )
    return sampled.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("total"),
    )


@query(
    "events_drift_profile",
    """
    WITH per AS (
      SELECT ts::date AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             ROUND(avg(value), 4) AS avg_value,
             ROUND(stddev_samp(value), 4) AS sd_value,
             ROUND(quantile_cont(value, 0.50), 4) AS p50_value
      FROM events GROUP BY 1)
    SELECT day, n_events, avg_value, sd_value, p50_value,
           avg_value - lag(avg_value) OVER (ORDER BY day) AS delta_avg,
           CAST(n_events - lag(n_events) OVER (ORDER BY day) AS BIGINT)
             AS delta_n
    FROM per
    """,
)
def events_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift monitor: per-day distribution profile of the
    event value stream (count, mean, stddev, exact median) plus
    day-over-day deltas — the table a pipeline-health dashboard reads
    to catch schema/volume/distribution drift before it poisons
    downstream training data.

    Scale: one hash-agg to the day grain; the lag window orders the
    BOUNDED post-agg daily frame (same bounded-window argument as
    extreme_days_zscore). Deltas subtract already-rounded operands, so
    both engines subtract identical doubles.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    per = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.percentile("value", F.lit(0.5)).cast("double"), 4).alias(
            "p50_value"
        ),
    )
    w = Window.orderBy("day")
    return per.select(
        "day",
        "n_events",
        "avg_value",
        "sd_value",
        "p50_value",
        (F.col("avg_value") - F.lag("avg_value").over(w)).alias("delta_avg"),
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("long")
        .alias("delta_n"),
    )


@query(
    "winsorized_event_values",
    """
    WITH b AS (
      SELECT ROUND(quantile_cont(value, 0.01), 4) AS p01,
             ROUND(quantile_cont(value, 0.99), 4) AS p99
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN value < p01 OR value > p99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           ROUND(sum(CASE WHEN value < p01 THEN p01
                          WHEN value > p99 THEN p99
                          ELSE value END), 4) AS winsorized_sum,
           ROUND(avg(CASE WHEN value < p01 THEN p01
                          WHEN value > p99 THEN p99
                          ELSE value END), 4) AS winsorized_avg
    FROM events, b
    GROUP BY event_type
    """,
)
def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (P13's clip/cap with DATA-DRIVEN
    bounds): clip event values to the corpus p01/p99 and report
    per-type clipped counts and winsorized sums/means — the standard
    outlier-robust aggregation for metrics poisoned by heavy tails.

    Scale: the bounds are a 1-row aggregate riding the broadcast
    scalar-join pattern (never a shuffle of the fact table for a
    2-value frame); clipping is a row-local CASE fused into the same
    scan as the final hash-agg.
    """
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.round(F.percentile("value", F.lit(0.01)).cast("double"), 4).alias(
            "p01"
        ),
        F.round(F.percentile("value", F.lit(0.99)).cast("double"), 4).alias(
            "p99"
        ),
    )
    clipped = F.when(F.col("value") < F.col("p01"), F.col("p01")).when(
        F.col("value") > F.col("p99"), F.col("p99")
    ).otherwise(F.col("value"))
    outlier = (F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(outlier.cast("int")).cast("long").alias("n_clipped"),
            F.round(F.sum(clipped), 4).alias("winsorized_sum"),
            F.round(F.avg(clipped), 4).alias("winsorized_avg"),
        )
    )


@query(
    "kanon_daily_user_activity",
    """
    WITH g AS (
      SELECT ts::date AS day, user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             ROUND(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2),
    released AS (
      SELECT day, user_id, n_events, sum_value, FALSE AS suppressed
      FROM g WHERE n_events >= 3),
    rolled AS (
      SELECT day, CAST(NULL AS BIGINT) AS user_id,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             ROUND(sum(sum_value), 4) AS sum_value,
             TRUE AS suppressed
      FROM g WHERE n_events < 3 GROUP BY 1)
    SELECT * FROM released UNION ALL SELECT * FROM rolled
    """,
)
def kanon_daily_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous aggregate release (k=3) of per-user daily activity:
    cells smaller than k are never published individually — they roll
    into one per-day ``suppressed`` bucket (user_id NULL), so the
    released table leaks no small-population cells while totals stay
    reconcilable. The governance gate a curation platform applies
    before sharing usage aggregates.

    Scale: one hash-agg to the release grain, then a row-local
    partition into released/suppressed and a per-day re-agg of ONLY
    the suppressed residue — no second scan of the fact table.
    """
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    released = g.where(F.col("n_events") >= 3).select(
        "day", "user_id", "n_events", "sum_value",
        F.lit(False).alias("suppressed"),
    )
    rolled = (
        g.where(F.col("n_events") < 3)
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
        .select(
            "day", F.lit(None).cast("long").alias("user_id"),
            "n_events", "sum_value", F.lit(True).alias("suppressed"),
        )
    )
    return released.unionByName(rolled)


@query(
    "weighted_doc_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             ln(({md5_int_sql("'7|' || CAST(doc_id AS VARCHAR)", n=13)}
                 + 0.5) / 4503599627370496.0)
               / CAST(n_chars AS DOUBLE) AS sample_key
      FROM documents WHERE n_chars > 0),
    ranked AS (
      SELECT doc_id, lang, sample_key,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sample_key DESC, doc_id ASC) AS rk
      FROM keyed)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           ROUND(sample_key, 4) AS sample_key
    FROM ranked WHERE rk <= 10
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES): 10 documents per language, inclusion probability tracking
    document length — quality/length-weighted corpus subsampling with
    no hard cutoff (operators/sampling.py::weighted_sample, seed=7).

    Deterministic cross-engine: u derives from md5 of (seed | doc_id)
    — the portable-hash posture of every sampling entry — and with
    static inputs the ln-keyed ranking either matches the oracle or
    never does, so the hash check is exact, not flaky. Scale: narrow
    per-row key + one per-group top-k window (two_phase_topk swaps in
    for hot groups)."""
    from ..operators.sampling import weighted_sample

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
    )
    out = weighted_sample(docs, "doc_id", "w", k=10, seed=7,
                          group_cols=["lang"])
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.round("sample_key", 4).alias("sample_key"),
    )


@query(
    "props_variant_stats",
    """
    WITH j AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             json_extract(props, '$.absent') AS miss
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           ROUND(avg(k), 4) AS avg_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(CASE WHEN miss IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_absent
    FROM j GROUP BY 1
    """,
)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse_json
    once, then typed path extraction (`variant_get('$.k', 'bigint')`)
    and a missing-path probe (`try_variant_get` → NULL, never an
    error) — the engine-native upgrade over P9's regex scraping
    (props_safe_cast), with the same null-on-absence semantics.

    Scale: VARIANT stores a parsed binary encoding, so each path
    access is a tree walk, not a re-parse; here parse + both
    extractions fuse into the scan project (zero shuffles before the
    24-key hash-agg). At rest, write the variant column to parquet
    once and every later query skips parsing entirely."""
    ev = t(spark, sf_dir, "events")
    j = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
        F.try_variant_get(F.parse_json("props"), "$.absent", "string").alias(
            "miss"
        ),
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.col("miss").isNull().cast("long")).alias("n_absent"),
    )


@query(
    "orders_matview_monthly_revenue",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o_totalprice")} AS revenue,
           ROUND(min(o_totalprice), 4) AS min_price,
           ROUND(max(o_totalprice), 4) AS max_price
    FROM orders GROUP BY 1
    """,
)
def orders_matview_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate, driver-
    verified end-to-end: orders arrive as three append batches into a
    VersionedTable; after each append the MaterializedAgg refresh
    merges ONLY that batch's partial aggregate into the stored state
    (sources/matview.py) — and the final state must hash-match the
    oracle's single-pass GROUP BY over everything.

    Scale: this is the 100 TB dashboard-maintenance pattern — refresh
    cost follows the append batch; the stored view is |months| rows.
    Mergeable aggregates only (count/sum/min/max); the r4 display
    rounding absorbs merge-order ulp on the float sum."""
    from ..pins import pin
    from ..sources.matview import MaterializedAgg
    from ..sources.scratch import scratch_dirs
    from ..sources.versioned import VersionedTable

    od = (
        t(spark, sf_dir, "orders")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        # exact integer cents BEFORE the matview: partial sums then
        # merge as longs, so refresh order can never perturb the total
        .withColumn("o_cents", cents(F.col("o_totalprice")))
    )
    # scratch on tmpfs when present: the versioned source and matview
    # state are per-run demo roots, so their parquet round-trips are
    # pure fixed cost on a disk-backed /tmp (guide §6). The final view
    # is pinned, so both roots are removed before the frame returns.
    with scratch_dirs("mv_src_", "mv_state_") as (src_root, state_root):
        src = VersionedTable(spark, src_root)
        mv = MaterializedAgg(
            src,
            state_root,
            ["order_month"],
            {
                "n_orders": ("count", None),
                "revenue_cents": ("sum", "o_cents"),
                "min_price": ("min", "o_totalprice"),
                "max_price": ("max", "o_totalprice"),
            },
        )
        for i in range(3):
            batch = od.filter(F.col("o_orderkey") % 3 == i)
            src.append(batch)
            mv.refresh()
        return pin(
            mv.read().select(
                "order_month",
                F.col("n_orders").cast("long").alias("n_orders"),
                (F.col("revenue_cents").cast("double") / 100).alias("revenue"),
                F.round("min_price", 4).alias("min_price"),
                F.round("max_price", 4).alias("max_price"),
            )
        )


@query(
    "returning_customers_semi",
    """
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_mktsegment,
           ROUND(c.c_acctbal, 4) AS c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
    """,
)
def returning_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join chain (the J-family member the catalog's anti-
    join entry mirrors): customers with at least one RETURNED line
    item — existence, not multiplicity, so the semi join never
    duplicates customers no matter how many returns they have.

    Scale: the returned-orders key set shrinks through the
    lineitem filter BEFORE the semi probe; both joins are key-local
    equi-joins and the semi side short-circuits on first match (no
    row expansion, unlike inner-join-then-distinct)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    returned_orders = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey"
    )
    returning_cust = (
        o.join(returned_orders, o["o_orderkey"] == returned_orders["l_orderkey"], "left_semi")
        .select("o_custkey")
    )
    return (
        c.join(returning_cust, c["c_custkey"] == returning_cust["o_custkey"], "left_semi")
        .select(
            F.col("c_custkey").cast("long"),
            "c_mktsegment",
            F.round("c_acctbal", 4).alias("c_acctbal"),
        )
    )


@query(
    "daily_purchase_error_full_outer",
    """
    WITH p AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_p,
                      ROUND(sum(value), 4) AS v_p
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
    e AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_e
          FROM events WHERE event_type = 'error'
            AND isodow(ts) <= 2 GROUP BY 1)
    SELECT strftime(COALESCE(p.d, e.d), '%Y-%m-%d') AS day,
           COALESCE(p.n_p, 0) AS purchases,
           COALESCE(p.v_p, 0) AS purchase_value,
           COALESCE(e.n_e, 0) AS errors,
           CAST(p.d IS NULL OR e.d IS NULL AS BIGINT) AS one_sided
    FROM p FULL OUTER JOIN e ON e.d = p.d
    """,
)
def daily_purchase_error_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily series with different coverage
    (errors restricted to Mon/Tue so one side genuinely has days the
    other lacks): neither series loses days, absences coalesce to
    zero, and ``one_sided`` marks them — the union-of-calendars merge
    an inner or left join silently truncates.

    Scale: both sides are bounded post-agg day tables; the full-outer
    is one co-partitioned shuffle on the date key."""
    ev = t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count("*").alias("n_p"),
            F.round(F.sum("value"), 4).alias("v_p"),
        )
    )
    e = (
        ev.filter(
            (F.col("event_type") == "error") & ((F.weekday("ts") + 1) <= 2)
        )
        .groupBy(F.to_date("ts").alias("ed"))
        .agg(F.count("*").alias("n_e"))
    )
    j = p.join(e, p["d"] == e["ed"], "full_outer")
    return j.select(
        F.date_format(F.coalesce(p["d"], e["ed"]), "yyyy-MM-dd").alias("day"),
        F.coalesce("n_p", F.lit(0).cast("long")).alias("purchases"),
        F.coalesce("v_p", F.lit(0.0)).alias("purchase_value"),
        F.coalesce("n_e", F.lit(0).cast("long")).alias("errors"),
        (p["d"].isNull() | e["ed"].isNull()).cast("long").alias("one_sided"),
    )


@query(
    "cheapest_supplier_per_part",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS min_price
      FROM lineitem GROUP BY 1, 2),
    ranked AS (
      SELECT l_partkey, l_suppkey, min_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY min_price, l_suppkey) AS rk,
             CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT)
               AS n_suppliers
      FROM ps)
    SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey, p.p_brand,
           CAST(r.l_suppkey AS BIGINT) AS best_suppkey, s.s_name,
           r.min_price AS best_unit_price, r.n_suppliers
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rk = 1
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape on this schema: the minimum-cost supplier per
    part (per-(part,supplier) minimum unit price, then the per-part
    argmin with a supplier tiebreak), enriched with part brand and
    supplier name — the correlated-min-subquery class, expressed as
    one window over the pre-aggregated (part, supplier) table.

    Determinism: min-of-divisions picks an ELEMENT (each per-row
    division is bit-identical cross-engine), so ranking and the
    displayed price are exact and deliberately UNROUNDED — an avg
    here hit a .57875 midpoint where Spark HALF_UP and DuckDB
    diverge.
    Scale: the argmin runs on the post-agg |part × supplier-pairs|
    table, not raw lineitem; part/supplier enrichment joins are
    AQE-sized (dimension-like growth)."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "min_price"
        )
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    wc = W.partitionBy("l_partkey")
    ranked = ps.select(
        "l_partkey",
        "l_suppkey",
        "min_price",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wc).cast("long").alias("n_suppliers"),
    ).filter(F.col("rk") == 1)
    part = t(spark, sf_dir, "part")
    supp = t(spark, sf_dir, "supplier")
    return (
        ranked.join(part, ranked["l_partkey"] == part["p_partkey"])
        .join(supp, ranked["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("p_partkey").cast("long"),
            "p_brand",
            F.col("l_suppkey").cast("long").alias("best_suppkey"),
            "s_name",
            F.col("min_price").alias("best_unit_price"),
            "n_suppliers",
        )
    )


@query(
    "part_basket_affinity",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n
                 FROM items),
    isup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_a
             FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS together
      FROM items a JOIN items b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3)
    SELECT p.part_a, p.part_b, p.together,
           ua.n_a AS orders_a, ub.n_a AS orders_b,
           p.together * (SELECT n FROM n_orders) / (ua.n_a * ub.n_a)
             AS lift
    FROM pairs p
    JOIN isup ua ON ua.l_partkey = p.part_a
    JOIN isup ub ON ub.l_partkey = p.part_b
    """,
)
def part_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-purchased in the same
    order with support count and lift (together·N/(nₐ·n_b)) — the
    association-rules shape over the order⇄part bipartite relation,
    with a support floor pruning the pair tail. The FULL-TABLE sibling
    of ``part_pair_lift`` (queries_basket.py — the top-k ranked rules
    with confidence); both share the basket machinery there.

    Determinism: lift is an exact-int rational (counts only) —
    bit-identical, unrounded. Scale (r10 restructure, measured): the
    shared two-shuffle basket-array plan — collect_set folds the
    (order, part) dedup into one groupBy(order) exchange, pairs
    explode array-locally (Σ_o C(items_o,2), bounded per order:
    linear in orders, never |parts|²) into one hash agg — replaces
    the first-cut DISTINCT + sort-merge self-join that measured
    α* 1.35 sf1→sf10 from spill (now 0.98: linear, matching the pair
    data — SCALING.md round-10); marginals broadcast."""
    from .queries_basket import (
        basket_pair_counts,
        basket_part_counts,
        baskets_of,
    )

    li = t(spark, sf_dir, "lineitem")
    baskets = baskets_of(li)
    n_orders = baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    isup = basket_part_counts(baskets).withColumnRenamed("part_n", "n_a")
    pairs = basket_pair_counts(baskets, 3).withColumnRenamed(
        "pair_n", "together"
    )
    return (
        pairs.join(
            F.broadcast(isup.withColumnRenamed("l_partkey", "part_a")
                        .withColumnRenamed("n_a", "orders_a")), "part_a")
        .join(
            F.broadcast(isup.withColumnRenamed("l_partkey", "part_b")
                        .withColumnRenamed("n_a", "orders_b")), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("together").cast("long"),
            F.col("orders_a").cast("long"),
            F.col("orders_b").cast("long"),
            (
                F.col("together") * F.col("n")
                / (F.col("orders_a") * F.col("orders_b"))
            ).alias("lift"),
        )
    )


@query(
    "customer_rfm_segments",
    f"""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             {money_sum_sql("o_totalprice")} AS monetary
      FROM orders GROUP BY 1),
    scored AS (
      SELECT o_custkey, last_order, frequency, monetary,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM rfm)
    SELECT CAST(r AS BIGINT) AS r_quartile, CAST(f AS BIGINT) AS f_quartile,
           CAST(m AS BIGINT) AS m_quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           {money_sum_sql("monetary")} AS segment_revenue
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quartiles per
    customer (ntile with deterministic custkey tiebreaks), rolled up
    to the 4³ segment grid with headcount and revenue — the classic
    customer-value matrix.

    Scale note — the honest caveat: global ntile serializes the
    per-customer table through one partition; that table is already
    ONE ROW PER CUSTOMER (post-agg), which buys headroom but is not
    bounded. At true 100 TB swap each ntile for a two-pass
    range-partitioned rank or percentile-threshold buckets (the
    winsorization entry's pattern); monetary ranks on the r4'd
    aggregate so both engines order identical values."""
    orders = t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        # exact integer cents: monetary feeds BOTH the published
        # segment totals and the ntile ORDERING — sum-order ulp noise
        # in a raw double sum could flip quartile membership
        money_sum(F.col("o_totalprice")).alias("monetary"),
    )
    wr = Window.orderBy(F.col("last_order").desc(), F.col("o_custkey"))
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    wm = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    scored = rfm.select(
        "monetary",
        F.ntile(4).over(wr).alias("r"),
        F.ntile(4).over(wf).alias("f"),
        F.ntile(4).over(wm).alias("m"),
    )
    return scored.groupBy(
        F.col("r").cast("long").alias("r_quartile"),
        F.col("f").cast("long").alias("f_quartile"),
        F.col("m").cast("long").alias("m_quartile"),
    ).agg(
        F.count("*").alias("n_customers"),
        money_sum(F.col("monetary")).alias("segment_revenue"),
    )


@query(
    "shipping_delay_by_priority",
    """
    WITH d AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS delay_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           ROUND(avg(delay_days), 4) AS avg_delay,
           ROUND(quantile_cont(delay_days, 0.5), 4) AS p50_delay,
           ROUND(quantile_cont(delay_days, 0.9), 4) AS p90_delay,
           CAST(max(delay_days) AS BIGINT) AS max_delay
    FROM d GROUP BY 1
    """,
)
def shipping_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority (count /
    mean / exact p50 / p90 / max of datediff) — the SLA dashboard: is
    URGENT actually shipping faster? The latency-percentile shape the
    reference's notebooks compute for trip durations, on the orders
    side of the schema.

    Scale: the join is key-local on orderkey; delays are small ints so
    the exact percentile's per-group sort is cheap — at hypertable
    scale swap approx_percentile (documented trade of the quantile
    entries)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    d = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("delay_days"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.avg("delay_days"), 4).alias("avg_delay"),
        F.round(F.percentile("delay_days", F.lit(0.5)).cast("double"), 4).alias("p50_delay"),
        F.round(F.percentile("delay_days", F.lit(0.9)).cast("double"), 4).alias("p90_delay"),
        F.max("delay_days").cast("long").alias("max_delay"),
    )


@query(
    "brand_revenue_share",
    """
    WITH b AS (
      SELECT p.p_brand,
             ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1)
    SELECT p_brand, revenue,
           revenue / sum(revenue) OVER () AS revenue_share,
           CAST(rank() OVER (ORDER BY revenue DESC, p_brand) AS BIGINT)
             AS revenue_rank
    FROM b
    """,
)
def brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue with share-of-total (ratio_to_report — each
    brand's discounted revenue over the grand total via an
    unpartitioned window over the bounded post-agg brand table) and a
    deterministic revenue rank.

    Portability: shares divide the same r4-rounded aggregates both
    engines computed — quotients identical, deliberately unrounded;
    the rank orders those exact values with a brand tiebreak. Scale:
    part enrichment joins before one brand-key hash-agg; the window
    runs over |brands| rows."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    b = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
    )
    from pyspark.sql import Window as W

    return b.select(
        "p_brand",
        "revenue",
        (F.col("revenue") / F.sum("revenue").over(W.partitionBy())).alias(
            "revenue_share"
        ),
        F.rank()
        .over(W.orderBy(F.col("revenue").desc(), F.col("p_brand")))
        .cast("long")
        .alias("revenue_rank"),
    )


@query(
    "nation_account_balances",
    """
    WITH sides AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS side,
             c_acctbal AS bal
      FROM customer
      UNION ALL
      SELECT CAST(s_nationkey AS BIGINT), 'supplier', s_acctbal
      FROM supplier)
    SELECT n.n_name, s.side,
           CAST(count(*) AS BIGINT) AS n_accounts,
           ROUND(sum(s.bal), 4) AS total_balance,
           ROUND(avg(s.bal), 4) AS avg_balance,
           CAST(sum(CASE WHEN s.bal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM sides s JOIN nation n ON n.n_nationkey = s.nationkey
    GROUP BY 1, 2
    """,
)
def nation_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer vs supplier account-balance book per nation: the
    two-fact union rollup (both acctbal columns had no catalog
    exercise) with negative-balance counts — the AR/AP health table.

    Scale: union of two narrow projections → one hash-agg on the
    bounded (nation × side) domain; nation enrichment is a true
    fixed-cardinality broadcast (25 rows)."""
    cu = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.lit("customer").alias("side"),
        F.col("c_acctbal").alias("bal"),
    )
    su = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.lit("supplier").alias("side"),
        F.col("s_acctbal").alias("bal"),
    )
    na = t(spark, sf_dir, "nation")
    sides = cu.unionByName(su)
    return (
        sides.join(F.broadcast(na), sides["nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "side")
        .agg(
            F.count("*").alias("n_accounts"),
            F.round(F.sum("bal"), 4).alias("total_balance"),
            F.round(F.avg("bal"), 4).alias("avg_balance"),
            F.sum((F.col("bal") < 0).cast("long")).alias("n_negative"),
        )
    )


@query(
    "jsonl_roundtrip_source_counts",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM documents GROUP BY source
    UNION ALL
    SELECT NULL AS source, CAST(2 AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS n_corrupt
    """,
)
def jsonl_roundtrip_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end JSONL ingest check through the oracle gate: the
    documents table is exported to JSON-Lines (sources/sinks.py::
    write_jsonl), two malformed lines are planted, and the quarantine
    reader (sources/jsonl.py::read_jsonl) ingests the directory back. Per-source clean counts must equal the parquet
    truth and both corrupt lines must land in the NULL-source
    quarantine bucket — proving the round-trip loses nothing and the
    front door never turns one bad byte into a task failure.

    Staging discipline: the export is an ACTION, so it runs once per
    (application, sf_dir) into a deterministic staging directory and
    is skipped when the marker file says it's already there — repeated
    bench runs and plan-build-only contexts (plan-hygiene tests) do not
    pay a corpus export each call. The directory lives under the
    application's ``SparkFiles`` root, which Spark deletes at
    ``spark.stop()``, so no copy outlives the session."""
    import hashlib
    import os

    from pyspark import SparkFiles

    from ..sources.sinks import write_jsonl
    from ..sources.jsonl import CORRUPT_COL, read_jsonl

    docs = t(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join(SparkFiles.getRootDirectory(), f"jsonl_rt_{tag}")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        write_jsonl(docs, out, target_files=4)
        with open(os.path.join(out, "part-corrupt.json"), "w") as f:
            f.write('{"doc_id": 1, "text": "truncat\n')
            f.write("not json at all\n")
        with open(marker, "w") as f:
            f.write("ok\n")
    back = read_jsonl(spark, out, docs.schema)
    corrupt = F.col(CORRUPT_COL).isNotNull()
    return back.groupBy(
        F.when(corrupt, F.lit(None)).otherwise(F.col("source")).alias("source")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(corrupt, 1).otherwise(0)).cast("long").alias("n_corrupt"),
    )


@query(
    "customer_priority_scd2",
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
    starts AS (SELECT * FROM flagged WHERE new_run = 1)
    SELECT custkey, priority,
           CAST(row_number() OVER w2 AS INT) AS version,
           d AS effective_from,
           lead(d) OVER w2 AS effective_to,
           CASE WHEN lead(d) OVER w2 IS NULL THEN 1 ELSE 0
             END AS is_current
    FROM starts WINDOW w2 AS (PARTITION BY custkey ORDER BY d, k)
    """,
)
def customer_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history (``operators/scd.py``): each
    customer's order-priority change log (observations = orders,
    ordered by order date with orderkey tiebreaks) collapsed into
    versioned validity intervals — consecutive orders with the same
    priority form one version; ``effective_to`` of a version is the
    next version's ``effective_from``; the open version carries
    ``is_current = 1``. The Kimball point-in-time primitive the
    CDC/upsert family applies changes WITH — this builds the history
    those changes describe.

    Scale: ONE exchange (both windows partition by custkey — the
    gaps-and-islands groupBy rewrite would shuffle twice); per-key
    ordered scan is inherent to run semantics. Plan-asserted in
    tests/test_plan_quality.py."""
    from ..operators.scd import scd2_history

    od = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    return scd2_history(
        od, ["custkey"], ["priority"], "d", tiebreak=["k"]
    ).select(
        "custkey",
        "priority",
        "version",
        "effective_from",
        "effective_to",
        "is_current",
    )


@query(
    "orders_snapshot_diff",
    """
    WITH b AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS p
      FROM orders),
    r AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN p * 1.1 ELSE p END AS p
      FROM b WHERE k % 13 <> 0
      UNION ALL
      SELECT -k AS k, p FROM b WHERE k % 11 = 0)
    SELECT coalesce(b.k, r.k) AS orderkey,
           CASE WHEN b.k IS NULL THEN 'added'
                WHEN r.k IS NULL THEN 'removed'
                WHEN b.p IS DISTINCT FROM r.p THEN 'changed'
                ELSE 'unchanged' END AS status,
           b.p AS old_price, r.p AS new_price
    FROM b FULL OUTER JOIN r ON b.k = r.k
    WHERE NOT (b.k IS NOT NULL AND r.k IS NOT NULL
               AND b.p IS NOT DISTINCT FROM r.p)
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (``operators/diff.py``): diff the
    orders table against a deterministically-revised version (every
    7th key gets the 10% price correction, every 13th key is deleted,
    every 11th key is re-inserted under a fresh negative key) and
    emit one row per added / removed / changed key with old and new
    prices — the audit artifact behind "what did this batch actually
    touch". Prices pass through UNROUNDED: both engines read the same
    parquet bits and apply the same *1.1 multiply, so the doubles are
    bit-identical and a ROUND could only introduce divergence.

    Scale: one full-outer join on the key (AQE-skew-safe), unchanged
    keys filtered before materialization — two 100 TB snapshots with
    a small delta emit only the delta."""
    from ..operators.diff import snapshot_diff

    od = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_totalprice").alias("p"),
    )
    k = F.col("k")
    revised = (
        od.filter(k % 13 != 0)
        .withColumn(
            "p",
            F.when(k % 7 == 0, F.col("p") * 1.1).otherwise(F.col("p")),
        )
        .unionAll(od.filter(k % 11 == 0).select((-k).alias("k"), "p"))
    )
    return snapshot_diff(od, revised, ["k"], ["p"]).select(
        F.col("k").alias("orderkey"),
        "status",
        "old_p",
        "new_p",
    ).withColumnsRenamed({"old_p": "old_price", "new_p": "new_price"})


@query(
    "local_supplier_revenue",
    f"""
    SELECT n.n_name AS nation,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
    GROUP BY 1
    """,
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5's shape — the 6-table join chain (lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region) with the classic
    "local supplier" twist: the supplier join carries BOTH the
    equi-key and the same-nation predicate, so revenue counts only
    lines a customer bought from a supplier in their own nation. The
    widest join tree in the catalog — the entry that exercises
    Catalyst's join reordering + AQE runtime strategy choice end to
    end.

    Scale: nation/region are fixed-cardinality → explicit broadcast;
    customer/supplier scale with SF → NO hint, AQE picks broadcast vs
    shuffle from measured sizes (region_order_revenue's documented
    posture). Revenue sums as exact integer cents (the
    orders_upsert_status_totals convention — a double Σ over 10⁵⁺
    rows is order-dependent past the 4th decimal)."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    re = t(spark, sf_dir, "region")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(
            su,
            (li.l_suppkey == su.s_suppkey)
            & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .filter((F.col("r_name") == "ASIA") & (F.year("o_orderdate") == 1996))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "shipping_priority_top10",
    f"""
    SELECT CAST(l.l_orderkey AS BIGINT) AS orderkey,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3's shape: the 10 highest-revenue orders from BUILDING
    customers placed before a cutoff with lines still unshipped after
    it — the "what should we expedite" dashboard.

    Scale: two equi-joins with filters pushed below them (segment
    filter prunes customer before the join; both date predicates reach
    the scans — plan-asserted pushdown family), one hash-agg on the
    order grain, TakeOrdered(10) instead of a global sort. Revenue in
    exact integer cents makes the DESC order deterministic (ties
    broken by orderkey), so the top-10 cut is stable cross-engine."""
    cu = t(spark, sf_dir, "customer")
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cutoff = "1996-03-15"
    return (
        cu.filter(F.col("c_mktsegment") == "BUILDING")
        .join(od, cu.c_custkey == od.o_custkey)
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .join(li, li.l_orderkey == od.o_orderkey)
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .groupBy(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "priority")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@query(
    "customer_order_join_matview",
    f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o.o_totalprice")} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def customer_order_join_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized JOIN view, driver-verified
    end-to-end: customers and orders each arrive as three interleaved
    append batches into VersionedTables; after every batch pair the
    MaterializedJoin refresh appends ONLY the delta-rule rows
    (ΔA ⋈ B_new ∪ A_old ⋈ ΔB — sources/matview.py, with A_old a
    time-travel read at the view's recorded watermark), so each
    refresh from round two on exercises the two-sided delta INCLUDING
    the ΔA⋈ΔB cross term (batch-i customers matching batch-i orders).
    The final view rolled up per market segment must hash-match the
    oracle's one-shot join + GROUP BY over everything.

    Scale: this is the 100 TB denormalization-maintenance pattern —
    refresh cost follows the append batch joined against one side
    (bucket that side on the key and the probe co-locates), never the
    full A ⋈ B recompute; revenue in exact integer cents so append
    order can never perturb the total."""
    from ..pins import pin
    from ..sources.matview import MaterializedJoin
    from ..sources.scratch import scratch_dirs
    from ..sources.versioned import VersionedTable

    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    od = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey"),
        cents(F.col("o_totalprice")).alias("o_cents"),
    )
    # scratch on tmpfs when present (guide §6 — see the agg-matview
    # entry's sizing note; these roots live one invocation, and the
    # pinned rollup outlives them)
    roots = scratch_dirs("jmv_cust_", "jmv_ord_", "jmv_view_")
    with roots as (cust_root, ord_root, view_root):
        left = VersionedTable(spark, cust_root)
        right = VersionedTable(spark, ord_root)
        mv = MaterializedJoin(left, right, view_root, ["c_custkey"])
        for i in range(3):
            cb = cu.filter(F.col("c_custkey") % 3 == i)
            ob = od.filter(F.col("o_orderkey") % 3 == i)
            left.append(cb)
            right.append(ob)
            mv.refresh()
        return pin(
            mv.read().groupBy("c_mktsegment").agg(
                F.count("*").cast("long").alias("n_orders"),
                (F.sum("o_cents").cast("double") / 100).alias("revenue"),
            )
        )
