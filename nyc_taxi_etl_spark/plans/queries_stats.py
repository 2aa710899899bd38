"""Statistical catalog queries: correlation/covariance matrix,
chi-square independence, and range-frame rolling windows.

North-star extension — the reference's notebooks compute pandas
``df.corr()`` heatmaps (`notebooks/advanced_visualizations.ipynb`,
correlation cell) and eyeball seasonal co-movement; these entries are
the engine-side versions: one-pass moment aggregates for the
correlation matrix, a contingency chi-square for categorical
independence, and a calendar-range rolling window (RANGE frame, not
ROWS — gaps in the date series must still span 7 calendar days).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    cents,
    cents_sql,
    money_sum,
    money_sum_sql,
    normal_p_sql,
    normal_two_sided_p,
    r4,
)
from ..pins import pin
from .queries import query, t

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_sql() -> str:
    pieces = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            an, bn = a.removeprefix("l_"), b.removeprefix("l_")
            pieces.append(f"ROUND(corr({a}, {b}), 4) AS corr_{an}_{bn}")
            pieces.append(
                f"ROUND(covar_samp({a}, {b}), 4) AS cov_{an}_{bn}"
            )
    cols = ",\n           ".join(pieces)
    return f"SELECT CAST(count(*) AS BIGINT) AS n_rows,\n           {cols}\nFROM lineitem"


@query("lineitem_correlations", _corr_sql())
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation + sample covariance over the four
    lineitem measures — the engine-side ``df.corr()`` matrix of the
    reference's notebook heatmap, as ONE aggregation pass (every
    corr/covar is a co-moment partial agg; 12 statistics cost one
    scan, map-side combined).

    Scale: co-moment aggregates are associative (Welford/Chan
    merging) — the same single-shuffle shape as a sum at any size."""
    li = t(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            an, bn = a.removeprefix("l_"), b.removeprefix("l_")
            aggs.append(r4(F.corr(a, b)).alias(f"corr_{an}_{bn}"))
            aggs.append(r4(F.covar_samp(a, b)).alias(f"cov_{an}_{bn}"))
    return li.agg(*aggs)


@query(
    "lang_source_chisq",
    """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents GROUP BY 1, 2),
    langs AS (SELECT lang, sum(o) AS rl FROM obs GROUP BY 1),
    srcs AS (SELECT source, sum(o) AS cs FROM obs GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM obs),
    cells AS (
      SELECT l.lang, s.source, COALESCE(obs.o, 0) AS o,
             l.rl * s.cs / (SELECT n FROM n) AS e
      FROM langs l CROSS JOIN srcs s
      LEFT JOIN obs ON obs.lang = l.lang AND obs.source = s.source)
    SELECT ROUND(sum((o - e) * (o - e) / e), 4) AS chi2,
           CAST((SELECT count(*) FROM langs) - 1 AS BIGINT)
             * CAST((SELECT count(*) FROM srcs) - 1 AS BIGINT) AS dof,
           CAST((SELECT n FROM n) AS BIGINT) AS n_docs
    FROM cells
    HAVING (SELECT n FROM n) IS NOT NULL
    """,
)
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the lang × source
    contingency table (is language mix independent of crawl source?) —
    including the ZERO-observed cells, which still contribute (0−e)²/e
    and which a naive groupBy-only formulation silently drops.

    Scale: observed cells come from one hash-agg; the full grid is
    |langs| × |sources| (metadata scale) built by crossing the two
    marginal tables, both broadcastable; the statistic is one final
    sum. dof and N ride along for the caller's significance lookup."""
    docs = t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count("*").cast("double").alias("o")
    )
    # marginals + cells share it
    obs = pin(obs)
    langs = obs.groupBy("lang").agg(F.sum("o").alias("rl"))
    srcs = obs.groupBy("source").agg(F.sum("o").alias("cs"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        langs.crossJoin(F.broadcast(srcs))
        .join(obs, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce("o", F.lit(0.0)).alias("o"),
            (F.col("rl") * F.col("cs") / F.col("n")).alias("e"),
        )
    )
    nl = langs.agg(F.count("*").alias("nl"))
    ns = srcs.agg(F.count("*").alias("ns"))
    return (
        cells.agg(
            r4(
                F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
            ).alias("chi2")
        )
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(n))
        # empty corpus ⇒ no contingency table at all (empty-in →
        # empty-out), not a degenerate all-null row
        .filter(F.col("n").isNotNull())
        .select(
            "chi2",
            ((F.col("nl") - 1) * (F.col("ns") - 1))
            .cast("long")
            .alias("dof"),
            F.col("n").cast("long").alias("n_docs"),
        )
    )


@query(
    "daily_rolling_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_orders,
             ROUND(sum(o_totalprice), 4) AS revenue
      FROM orders GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS day, n_orders, revenue,
           ROUND(sum(revenue) OVER w, 4) AS revenue_7d,
           CAST(count(*) OVER w AS BIGINT) AS days_present_7d,
           ROUND(avg(revenue) OVER w, 4) AS avg_daily_revenue_7d
    FROM daily
    WINDOW w AS (ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def daily_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-CALENDAR-day rolling revenue over the daily series —
    a RANGE frame keyed on the date value, so missing days still
    shrink the window (a ROWS frame would silently span more than a
    week across gaps); ``days_present_7d`` exposes exactly that.

    Scale (r6): the frame runs YEAR-PARTITIONED with each year's 6-day
    tail prepended as ghost frame-members (operators/rolling.py) — one
    hash exchange on year, no SinglePartition window, results pinned
    identical to the single-partition form in tests/test_rolling.py.
    The raw scan is one hash-agg either way."""
    from ..operators.rolling import rolling_calendar_frame

    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders"),
        r4(F.sum("o_totalprice")).alias("revenue"),
    )
    rolled = rolling_calendar_frame(
        daily,
        {
            "revenue_7d": F.sum("revenue"),
            "days_present_7d": F.count("*"),
            "avg_daily_revenue_7d": F.avg("revenue"),
        },
        date_col="d",
        tail_days=6,
    )
    return rolled.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_orders",
        "revenue",
        r4(F.col("revenue_7d")).alias("revenue_7d"),
        F.col("days_present_7d").cast("long").alias("days_present_7d"),
        r4(F.col("avg_daily_revenue_7d")).alias("avg_daily_revenue_7d"),
    )


@query(
    "value_psi_drift",
    """
    WITH ref AS (SELECT value FROM events
                 WHERE CAST(ts AS DATE) < DATE '2024-01-16'),
    cur AS (SELECT value FROM events
            WHERE CAST(ts AS DATE) >= DATE '2024-01-16'),
    bks AS (SELECT quantile_cont(value,
              [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS b
            FROM ref),
    rbin AS (
      SELECT 1 + len(list_filter((SELECT b FROM bks), x -> value > x))
               AS bin
      FROM ref),
    cbin AS (
      SELECT 1 + len(list_filter((SELECT b FROM bks), x -> value > x))
               AS bin
      FROM cur),
    rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rbin GROUP BY 1),
    cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM cbin GROUP BY 1),
    tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ref) AS tr,
                   (SELECT CAST(count(*) AS DOUBLE) FROM cur) AS tc)
    SELECT CAST(rc.bin AS BIGINT) AS bin, rc.n_ref,
           COALESCE(cc.n_cur, 0) AS n_cur,
           rc.n_ref / tot.tr AS ref_share,
           COALESCE(cc.n_cur, 0) / tot.tc AS cur_share,
           ROUND((rc.n_ref / tot.tr - COALESCE(cc.n_cur, 0) / tot.tc)
                 * ln((rc.n_ref / tot.tr)
                      / (COALESCE(cc.n_cur, 0) / tot.tc)), 4) AS psi_term
    FROM rc LEFT JOIN cc ON cc.bin = rc.bin CROSS JOIN tot
    """,
)
def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month: decile breakpoints fit on the REFERENCE window (exact
    percentiles), both windows binned against them, per-bin
    PSI term (p−q)·ln(p/q) — the model-monitoring drift score beside
    the day-over-day drift profile (>0.2 summed ⇒ investigate).

    Scale: breakpoints are a 9-element array riding a 1-row broadcast
    (the scalar-join pattern); binning is a row-local array fold
    (``aggregate`` HOF, codegen'd); two hash-aggs on a 10-key domain.
    Shares are exact-int divisions (unrounded); only the ln-bearing
    psi_term is r4."""
    ev = t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    ref = ev.filter(F.to_date("ts") < split).select("value")
    cur = ev.filter(F.to_date("ts") >= split).select("value")
    qs = [i / 10.0 for i in range(1, 10)]
    bks = ref.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("b")
    )

    def _binned(df):
        return (
            df.crossJoin(F.broadcast(bks))
            .select(
                (
                    F.lit(1)
                    + F.expr(
                        "aggregate(b, 0, (acc, x) -> acc + "
                        "CASE WHEN value > x THEN 1 ELSE 0 END)"
                    )
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    # each <=10-row bin table feeds two plan sites
    rc = pin(_binned(ref).withColumnRenamed("n", "n_ref"))
    cc = pin(_binned(cur).withColumnRenamed("n", "n_cur"))
    # window totals derive from the 10-row bin tables (every row lands
    # in exactly one bin) — not from two more full-window scans
    tot = rc.agg(F.sum("n_ref").cast("double").alias("tr")).crossJoin(
        cc.agg(F.sum("n_cur").cast("double").alias("tc"))
    )
    j = (
        rc.join(cc, "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long"),
            F.col("n_ref").cast("long"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
            (F.col("n_ref") / F.col("tr")).alias("ref_share"),
            (F.coalesce("n_cur", F.lit(0)) / F.col("tc")).alias("cur_share"),
        )
    )
    return j.withColumn(
        "psi_term",
        F.round(
            (F.col("ref_share") - F.col("cur_share"))
            * F.log(F.col("ref_share") / F.col("cur_share")),
            4,
        ),
    )


@query(
    "weighted_median_price",
    """
    WITH g AS (
      SELECT l_returnflag AS f, l_extendedprice AS v,
             sum(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2),
    t AS (SELECT f, sum(w) AS tw FROM g GROUP BY 1),
    c AS (
      SELECT g.f, g.v, t.tw,
             sum(g.w) OVER (PARTITION BY g.f ORDER BY g.v) AS cw
      FROM g JOIN t USING (f))
    SELECT f AS l_returnflag, ROUND(min(v), 4) AS weighted_median_price
    FROM c WHERE cw >= tw / 2.0 GROUP BY 1
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag via the
    pandas GROUPED_AGG UDAF (functions/udaf.py::weighted_median) —
    the §2.11 aggregate-UDAF surface, for a statistic with no Spark
    built-in. The oracle replays the definition as a cumulative-weight
    window (smallest value whose cum weight reaches half the total).

    Scale: the raw table is FIRST compressed to distinct
    (flag, price, Σqty) rows in Catalyst's hash agg — the UDAF sees
    |distinct prices| rows per group, not the raw group; integer-
    valued weights keep every cumulative sum exact in doubles, so the
    selected element is deterministic cross-engine."""
    from ..functions.udaf import weighted_median

    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag"), F.col("l_extendedprice").alias("v")
    ).agg(F.sum("l_quantity").alias("w"))
    return g.groupBy("l_returnflag").agg(
        r4(weighted_median("v", "w")).alias("weighted_median_price")
    )


@query(
    "orders_global_seq",
    """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS seq
    FROM orders
    """,
)
def orders_global_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense 1-based sequence numbers for every order under the
    total order (o_orderdate, o_orderkey) — WITHOUT the single-partition
    sort that ``row_number() OVER (ORDER BY ...)`` costs in Spark.

    Scale: ``operators/sequence.py::global_sequence`` — one range
    exchange (parallel distributed sort), a #partitions-row counts
    job, driver-side prefix sum of #partitions longs, and the
    documented ``monotonically_increasing_id`` bit layout for the
    local index. The oracle is the very window the operator refuses
    to run: DuckDB evaluates it happily at sf0.01, Spark would
    evaluate it on ONE task at 100 TB — identical results, opposite
    plan shapes."""
    from ..operators.sequence import global_sequence

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return global_sequence(
        orders, ["o_orderdate", "o_orderkey"], out_col="seq"
    ).select("o_orderkey", "seq")


@query(
    "customer_revenue_gini",
    f"""
    WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
                 FROM orders GROUP BY 1),
    rk AS (SELECT rev, CAST(row_number() OVER (ORDER BY rev, o_custkey)
                            AS BIGINT) AS seq
           FROM rev)
    SELECT CAST(max(seq) AS BIGINT) AS n_customers,
           {money_sum_sql("rev")}
             AS total_revenue,
           ROUND(2.0 * sum(seq * rev) / (max(seq) * sum(rev))
                 - (max(seq) + 1.0) / max(seq), 4) AS gini
    FROM rk
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the inequality statistic behind "what share of revenue do our top
    customers carry" dashboards, via the rank formulation
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with x ascending.

    Scale: the ranks come from ``global_sequence`` (distributed range
    sort + offset add), so the only global sort in the pipeline is a
    PARALLEL one; the moments are a single hash agg. Σ(i·xᵢ) is an
    order-dependent double sum — but it only ever appears inside the
    gini RATIO (relative error ~1e-12, safely inside r4), while
    total_revenue is PUBLISHED and sums as exact integer cents: the
    sf1 oracle rehearsal caught the plain double Σ (~3.8e11) drifting
    past the 4th decimal between engines."""
    from ..operators.sequence import global_sequence

    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    ranked = global_sequence(rev, ["rev", "o_custkey"], out_col="seq")
    return ranked.agg(
        F.max("seq").cast("long").alias("n_customers"),
        money_sum(F.col("rev")).alias("total_revenue"),
        r4(
            F.lit(2.0)
            * F.sum(F.col("seq") * F.col("rev"))
            / (F.max("seq") * F.sum("rev"))
            - (F.max("seq") + F.lit(1.0)) / F.max("seq")
        ).alias("gini"),
    )


@query(
    "daily_value_trend",
    """
    WITH d AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             sum(value) AS day_value
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           ROUND(regr_slope(day_value, day_idx), 4) AS slope,
           ROUND(regr_intercept(day_value, day_idx), 4) AS intercept,
           ROUND(regr_r2(day_value, day_idx), 4) AS r2
    FROM d GROUP BY 1
    """,
)
def daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of the daily value series: slope,
    intercept, and R² of day-total value against the day index — the
    "is this metric growing and how fast" line every dashboard fits,
    as ONE pass of moment aggregates (``regr_slope``/``regr_r2`` are
    covariance/variance ratios Catalyst computes map-side partial).

    Scale: two hash aggs (daily rollup, then per-type moments over the
    tiny daily series); no window, no sort, no driver math. Floats are
    order-dependent sums — r4-rounded for the cross-engine hash."""
    ev = t(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            .cast("long")
            .alias("day_idx"),
            "value",
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("value").alias("day_value"))
    )
    return d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        r4(F.expr("regr_slope(day_value, day_idx)")).alias("slope"),
        r4(F.expr("regr_intercept(day_value, day_idx)")).alias("intercept"),
        r4(F.expr("regr_r2(day_value, day_idx)")).alias("r2"),
    )


@query(
    "purchase_click_value_ttest",
    """
    WITH m AS (
      SELECT CAST(count(value) FILTER (event_type = 'purchase')
                  AS BIGINT) AS n1,
             CAST(count(value) FILTER (event_type = 'click')
                  AS BIGINT) AS n2,
             avg(value) FILTER (event_type = 'purchase') AS m1,
             avg(value) FILTER (event_type = 'click') AS m2,
             var_samp(value) FILTER (event_type = 'purchase') AS v1,
             var_samp(value) FILTER (event_type = 'click') AS v2
      FROM events WHERE event_type IN ('purchase', 'click'))
    SELECT n1, n2,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
           ROUND(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1)
                    + pow(v2 / n2, 2) / (n2 - 1)), 4) AS welch_df
    FROM m
    """,
)
def purchase_click_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between purchase and click
    values — the A/B-comparison statistic (t and Welch–Satterthwaite
    degrees of freedom) from ONE conditional-aggregation pass: both
    groups' moments come out of a single global agg (count/avg/var
    over ``when(type, value)``), so there is ONE scan, one partial+
    final agg, and no join of any kind — the same single-pass
    conditional-agg posture as etl_filter_audit."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    cv = F.when(F.col("event_type") == "click", F.col("value"))
    m = ev.agg(
        F.count(pv).cast("long").alias("n1"),
        F.count(cv).cast("long").alias("n2"),
        F.avg(pv).alias("m1"),
        F.avg(cv).alias("m2"),
        F.var_samp(pv).alias("v1"),
        F.var_samp(cv).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return m.select(
        "n1",
        "n2",
        r4(F.col("m1") - F.col("m2")).alias("mean_diff"),
        r4((F.col("m1") - F.col("m2")) / F.sqrt(se2)).alias("t_stat"),
        r4(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            )
        ).alias("welch_df"),
    )


@query(
    "daily_rolling_purchase_error_corr",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             sum(value) FILTER (event_type = 'purchase') AS pv,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS en
      FROM events WHERE event_type IN ('purchase', 'error') GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           ROUND(pv, 4) AS purchase_value,
           en AS n_errors,
           CAST(count(*) OVER w AS BIGINT) AS days_in_window,
           ROUND(corr(pv, en) OVER w, 4) AS corr_14d
    FROM daily
    WINDOW w AS (ORDER BY d
                 RANGE BETWEEN INTERVAL 13 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def daily_rolling_purchase_error_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-14-calendar-day rolling Pearson correlation between
    daily purchase revenue and daily error count — the drifting
    version of daily_purchase_vs_errors' single corr number: a
    relationship that holds in January and inverts in March averages
    to zero in the static statistic but shows up here.

    Scale (r6): one conditional-agg scan builds the daily two-series
    table, then corr as a windowed aggregate over a calendar RANGE
    frame on the integer day number (missing days shrink the window, a
    ROWS frame would silently stretch it; ``days_in_window`` exposes
    that). The frame runs YEAR-PARTITIONED with a 13-day ghost tail
    (operators/rolling.py) — no SinglePartition window; equality with
    the single-partition form pinned in tests/test_rolling.py."""
    from ..operators.rolling import rolling_calendar_frame

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("pv"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1)))
        .cast("long")
        .alias("en"),
    )
    rolled = rolling_calendar_frame(
        daily,
        {
            "days_in_window": F.count("*"),
            "corr_14d": F.corr("pv", "en"),
        },
        date_col="d",
        tail_days=13,
    )
    return rolled.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        r4(F.col("pv")).alias("purchase_value"),
        F.col("en").alias("n_errors"),
        F.col("days_in_window").cast("long").alias("days_in_window"),
        r4(F.col("corr_14d")).alias("corr_14d"),
    )


def _auc_sql() -> str:
    from .queries_training import _classifier_sql

    return f"""
    WITH scored AS ({_classifier_sql()}),
    j AS (SELECT s.quality_prob AS score,
                 CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM scored s JOIN documents d USING (doc_id)
          WHERE s.quality_prob IS NOT NULL AND d.lang IS NOT NULL),
    g AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
                 CAST(sum(1 - y) AS BIGINT) AS neg
          FROM j GROUP BY 1),
    c AS (SELECT score, pos, neg,
                 COALESCE(sum(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS neg_below,
                 sum(pos) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_pos,
                 sum(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_neg
          FROM g),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                   CAST(sum(neg) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_scores
            FROM g),
    stats AS (
      SELECT sum(pos::HUGEINT * (2 * neg_below::HUGEINT + neg::HUGEINT))
               AS u2,
             max(abs(cum_pos::HUGEINT * tot.n - cum_neg::HUGEINT * tot.p))
               AS ksn
      FROM c, tot GROUP BY ALL HAVING TRUE)
    SELECT tot.p AS n_pos, tot.n AS n_neg, tot.n_scores,
           CASE WHEN tot.p > 0 AND tot.n > 0
                THEN stats.u2::DOUBLE / (2.0 * tot.p::DOUBLE * tot.n::DOUBLE)
           END AS auc,
           CASE WHEN tot.p > 0 AND tot.n > 0
                THEN stats.ksn::DOUBLE / (tot.p::DOUBLE * tot.n::DOUBLE)
           END AS ks
    FROM tot, stats
    """


@query("classifier_lang_auc", _auc_sql())
def classifier_lang_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC + Kolmogorov-Smirnov of the fixed-lexicon quality
    classifier (``operators/classifier.py``) at separating English
    from non-English documents — the model-evaluation row a curation
    pipeline publishes next to its filters. On THIS corpus the result
    is honestly ~0.5/near-0: the synthetic ``lang`` column is a
    metadata label over a shared token distribution (verified: per-
    lang stopword rates are indistinguishable), so the entry doubles
    as a no-signal calibration check — the metric must report chance
    instead of hallucinating separation. Known-signal cases (perfect
    separation, analytic tie cases) are pinned in
    tests/test_evalmetrics.py.

    Computed at score-HISTOGRAM grain (``operators/evalmetrics.py``):
    one hash-agg to per-score pos/neg counts, Mann-Whitney rank sum
    over the <=10k-row histogram — never a global row sort (the
    textbook per-row rank is exactly the single-partition window
    ``global_sequence`` exists to avoid). Ties count 1/2 via the
    2*neg_below + neg formulation; every intermediate is integer
    (decimal128 / HUGEINT), so both engines reach bit-identical
    doubles with two final divisions — a FULL oracle with no float-
    order sensitivity."""
    from ..operators.classifier import score_fixed_lexicon
    from ..operators.evalmetrics import binary_rank_metrics

    docs = t(spark, sf_dir, "documents")
    scored = score_fixed_lexicon(docs).select("doc_id", "quality_prob")
    lab = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return binary_rank_metrics(
        scored.join(lab, "doc_id"), "quality_prob", "is_en"
    )


_BENFORD_SQL = """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS observed
      FROM orders GROUP BY 1)
    SELECT digit,
           CAST(observed AS BIGINT) AS n_orders,
           CAST(observed AS DOUBLE) / sum(CAST(observed AS DOUBLE)) OVER ()
             AS obs_share,
           log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS exp_share
    FROM d
"""


@query("orders_benford_profile", _BENFORD_SQL)
def orders_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit profile of order totals:
    observed share per leading digit next to the Benford expectation
    log10(1 + 1/d) — the classic forensic-accounting / synthetic-data
    screen (naturally-arising multiplicative amounts follow Benford;
    uniform generators and fabricated figures don't). On this
    synthetic catalog the profile correctly REJECTS Benford (digits
    1–4 are ~10x over-represented) — the entry's value is that the
    report exposes it.

    Scale: one hash agg to the 9-row digit table; the share
    normalization is an unpartitioned window over those ≤9 rows
    (bounded post-agg grain, the scalar-table pattern) — the data
    itself is never windowed."""
    od = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    d = od.groupBy(digit.alias("digit")).agg(
        F.count("*").alias("observed")
    )
    from pyspark.sql import Window as W

    total = F.sum(F.col("observed").cast("double")).over(
        W.partitionBy()
    )
    return d.select(
        "digit",
        F.col("observed").cast("long").alias("n_orders"),
        (F.col("observed").cast("double") / total).alias("obs_share"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
        .alias("exp_share"),
    )


def _skew_profile_sql_one(table: str, key: str) -> str:
    # one keyspace: per-key group table -> bounded count-of-counts ->
    # exact rank-based p99 + heaviest key (ties to smallest key)
    return f"""
      SELECT '{table}.{key}' AS keyspace,
             CAST(t.n_rows AS BIGINT) AS n_rows,
             CAST(t.n_keys AS BIGINT) AS n_keys,
             CAST(t.n_rows AS DOUBLE) / CAST(t.n_keys AS DOUBLE)
               AS avg_per_key,
             CAST(t.max_n AS BIGINT) AS max_per_key,
             CAST(p.p99 AS BIGINT) AS p99_per_key,
             tk.top_key,
             CAST(t.max_n AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
               / CAST(t.n_rows AS DOUBLE) AS skew_ratio
      FROM (SELECT count(*) AS n_keys,
                   COALESCE(sum(n), 0) AS n_rows,
                   max(n) AS max_n
            FROM g_{key}) t
      CROSS JOIN (
        SELECT min(n) AS p99
        FROM (SELECT n, sum(keys) OVER (ORDER BY n) AS cum
              FROM (SELECT n, count(*) AS keys FROM g_{key} GROUP BY 1))
        CROSS JOIN (SELECT count(*) AS n_keys FROM g_{key})
        WHERE cum >= CAST(ceil(0.99 * CAST(n_keys AS DOUBLE)) AS BIGINT)) p
      CROSS JOIN (
        SELECT min(CAST(key AS VARCHAR)) AS top_key
        FROM g_{key}
        CROSS JOIN (SELECT max(n) AS max_n FROM g_{key}) m
        WHERE n = m.max_n) tk
    """


_SKEW_SQL = f"""
    WITH g_o_custkey AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
    g_l_suppkey AS (
      SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
    g_user_id AS (
      SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1)
    {_skew_profile_sql_one("orders", "o_custkey")}
    UNION ALL
    {_skew_profile_sql_one("lineitem", "l_suppkey")}
    UNION ALL
    {_skew_profile_sql_one("events", "user_id")}
"""


@query("key_skew_profiles", _SKEW_SQL)
def key_skew_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew profiles for the three join/agg keys a
    planner actually worries about on this schema — orders.o_custkey,
    lineitem.l_suppkey, events.user_id: rows, key cardinality,
    mean/max/exact-p99 rows per key, the heaviest key, and the
    max/avg skew ratio. This is the MEASUREMENT step in the skew
    toolkit (``functions/skew.py``): the output of this profile is
    what chooses between a plain shuffle, ``salted_agg``, a broadcast,
    or AQE skew-join handling — measure, don't guess, before burning a
    1000-executor shuffle on a hot key.

    Scale: one hash agg per keyspace builds the per-key group table;
    the exact p99 rides the COUNT-OF-COUNTS table (distinct group
    sizes — bounded no matter the cardinality) through a tiny
    cumulative window, and every scalar joins back as a 1-row
    broadcast. Exact integer outputs; the oracle replays rank-based
    p99 and the tie-broken heaviest key verbatim."""
    from ..functions.skew import key_skew_profile

    od = key_skew_profile(t(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey")
    li = key_skew_profile(t(spark, sf_dir, "lineitem"), "l_suppkey", "lineitem.l_suppkey")
    ev = key_skew_profile(t(spark, sf_dir, "events"), "user_id", "events.user_id")
    return od.unionByName(li).unionByName(ev)


def _join_audit_sql_one(
    name: str, lt: str, lk: str, rt: str, rk: str, top: int = 3
) -> str:
    return f"""
      SELECT '{name}' AS join_name,
             CAST((SELECT count(*) FROM {lt}) AS BIGINT) AS left_rows,
             CAST((SELECT count(*) FROM {rt}) AS BIGINT) AS right_rows,
             CAST((SELECT count(*) FROM p_{name}) AS BIGINT)
               AS matching_keys,
             CAST((SELECT COALESCE(sum(p), 0) FROM p_{name}) AS BIGINT)
               AS join_rows,
             CAST((SELECT COALESCE(max(p), 0) FROM p_{name}) AS BIGINT)
               AS max_key_rows,
             CAST((SELECT COALESCE(sum(p), 0) FROM
                   (SELECT p FROM p_{name}
                    ORDER BY p DESC, k ASC LIMIT {top})) AS BIGINT)
               AS top_key_rows,
             CAST((SELECT COALESCE(sum(p), 0) FROM p_{name}) AS DOUBLE)
               / CAST(greatest((SELECT count(*) FROM {lt}),
                               (SELECT count(*) FROM {rt})) AS DOUBLE)
               AS amplification
    """


_JOIN_AUDIT_SQL = f"""
    WITH p_orders_lineitem AS (
      SELECT a.k, a.ln * b.rn AS p
      FROM (SELECT o_orderkey AS k, count(*) AS ln FROM orders GROUP BY 1) a
      JOIN (SELECT l_orderkey AS k, count(*) AS rn FROM lineitem GROUP BY 1) b
        USING (k)),
    p_customer_orders AS (
      SELECT a.k, a.ln * b.rn AS p
      FROM (SELECT c_custkey AS k, count(*) AS ln FROM customer GROUP BY 1) a
      JOIN (SELECT o_custkey AS k, count(*) AS rn FROM orders GROUP BY 1) b
        USING (k)),
    p_part_lineitem AS (
      SELECT a.k, a.ln * b.rn AS p
      FROM (SELECT p_partkey AS k, count(*) AS ln FROM part GROUP BY 1) a
      JOIN (SELECT l_partkey AS k, count(*) AS rn FROM lineitem GROUP BY 1) b
        USING (k))
    {_join_audit_sql_one("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")}
    UNION ALL
    {_join_audit_sql_one("customer_orders", "customer", "c_custkey", "orders", "o_custkey")}
    UNION ALL
    {_join_audit_sql_one("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey")}
"""


@query("join_size_audits", _JOIN_AUDIT_SQL)
def join_size_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-join cardinality audits for the schema's three big
    equi-joins (orders⋈lineitem, customer⋈orders, part⋈lineitem):
    |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k) computed from the two per-key
    GROUP TABLES — never by materializing the join — plus the hottest
    key's contribution, the top-3 keys' combined share, and the
    row-amplification factor. The companion to ``key_skew_profiles``:
    the profile says a key is hot; this says exactly how many rows a
    join would emit and who dominates it, which is the number that
    picks broadcast vs sort-merge vs salting BEFORE a 1000-executor
    shuffle materializes a 10¹²-row mistake.

    Scale (``functions/skew.py::join_size_audit``): per audit, two
    hash aggs + one equi-join of key-cardinality-sized group tables +
    one global agg; the hot-key cut is a TakeOrdered top-3, never a
    sort. Exact integers; the oracle replays Σ products verbatim."""
    from ..functions.skew import join_size_audit

    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cu = t(spark, sf_dir, "customer")
    pa = t(spark, sf_dir, "part")
    return (
        join_size_audit(od, "o_orderkey", li, "l_orderkey", "orders_lineitem")
        .unionByName(
            join_size_audit(cu, "c_custkey", od, "o_custkey", "customer_orders")
        )
        .unionByName(
            join_size_audit(pa, "p_partkey", li, "l_partkey", "part_lineitem")
        )
    )


_ADAPTIVE_SQL = f"""
    WITH o AS (
      SELECT CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE o_custkey END AS k,
             o_totalprice
      FROM orders)
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o.o_totalprice")})
                AS BIGINT) AS revenue_cents,
           'salted' AS strategy
    FROM o JOIN customer c ON c.c_custkey = o.k
    GROUP BY 1
"""


@query("adaptive_join_revenue", _ADAPTIVE_SQL)
def adaptive_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew toolkit's CLOSED LOOP (r9, VERDICT r8 task #8):
    measure, then choose, then run. A deliberately skewed join key
    (every 5th order remapped to custkey 1 — one customer carrying 20%
    of all orders, the power-user shape) joins orders to the customer
    dim; ``functions/skew.py::adaptive_join`` first runs the bounded
    pre-flight (the ``join_size_audit``/``key_skew_profile``
    arithmetic: per-key group table → max/avg skew ratio, plus the dim
    row-count ratio), then picks the physical strategy from the
    MEASUREMENTS — broadcast when the dim is tiny relative to the
    fact, salted (deterministic xxhash64 salt, dim replicated per
    salt) when the key is hot and the dim too big to broadcast, plain
    shuffle otherwise. Here the measured shape (dim/fact ≈ 0.1 > the
    0.05 broadcast cap; skew ratio ≈ 0.2·|keys| ≫ 4) picks SALTED at
    every scale factor — thresholds are ratios, so the choice is
    scale-invariant and the oracle can pin it as a literal.

    All three strategies emit identical rows (the choice is purely
    physical), so the single SQL oracle validates the result no matter
    the path; the chosen strategy is surfaced as a column and the
    physical plan is asserted in tests/test_scale_patterns.py (salt
    join condition present; broadcast/plain signatures on the forced
    paths).

    Scale: pre-flight is two bounded 1-row collects (the
    dedup_components contract pattern); the salted join spreads the
    hot key over 16 reducers at the cost of replicating the dim 16× —
    exactly the trade a planner should take when the audit says one
    key would otherwise pin a reducer at 100 TB."""
    from ..functions.skew import adaptive_join

    orders = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("k"),
        F.col("o_orderkey"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined, decision = adaptive_join(
        orders,
        "k",
        cust,
        "c_custkey",
        broadcast_max_ratio=0.05,
        skew_ratio_threshold=4.0,
        salt_seed_col="o_orderkey",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    ).select(
        F.col("c_mktsegment").alias("mktsegment"),
        "n_orders",
        "revenue_cents",
        F.lit(decision["strategy"]).alias("strategy"),
    )


_ADAPTIVE_LEFT_SQL = f"""
    WITH o AS (
      SELECT CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE o_custkey END AS k,
             o_totalprice
      FROM orders),
    d AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE c_custkey % 3 <> 0)
    SELECT COALESCE(d.c_mktsegment, 'UNMATCHED') AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o.o_totalprice")})
                AS BIGINT) AS revenue_cents,
           'salted' AS strategy
    FROM o LEFT JOIN d ON d.c_custkey = o.k
    GROUP BY 1
"""


@query("adaptive_left_enrich", _ADAPTIVE_LEFT_SQL)
def adaptive_left_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adaptive join's LEFT-OUTER path (r10, VERDICT r9 task #2):
    the most common real-world skewed join is the left fact→dim
    ENRICH — the reference's own J2 zone lookup is ``how="left"``
    (SURVEY §2.3) — where dropping unmatched fact rows would silently
    lose data. Same skewed fact as ``adaptive_join_revenue`` (every
    5th order remapped to the power-user key), but the dim now misses
    a third of its keys (c_custkey % 3 == 0 filtered out), so ~1/3 of
    orders have no match and must survive the join exactly once with
    nulls — reported here under the 'UNMATCHED' segment.

    The measured shape (dim/fact ≈ 0.067 > the 0.05 broadcast cap;
    skew ratio ≫ 4) picks SALTED at every scale factor. Salted LEFT
    stays exact by construction: each left row carries exactly ONE
    deterministic salt and the replicated dim holds one copy per
    salt, so matches meet once and non-matches survive once — no
    null-salt special case. All three strategies emit identical rows,
    so the single oracle pins both the values and the decision.

    Scale: identical posture to adaptive_join_revenue — two bounded
    1-row pre-flight collects, dim replicated salt_buckets×, the hot
    key spread over 16 reducers."""
    from ..functions.skew import adaptive_join

    orders = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("k"),
        F.col("o_orderkey"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select("c_custkey", "c_mktsegment")
    )
    joined, decision = adaptive_join(
        orders,
        "k",
        cust,
        "c_custkey",
        how="left",
        broadcast_max_ratio=0.05,
        skew_ratio_threshold=4.0,
        salt_seed_col="o_orderkey",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNMATCHED")).alias(
                "mktsegment"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .select(
            "mktsegment",
            "n_orders",
            "revenue_cents",
            F.lit(decision["strategy"]).alias("strategy"),
        )
    )


# --------------------------------------------------------------------------
# Shared (nation, month, exact-cents-revenue) grain for the four trend
# entries (OLS, Theil-Sen, Mann-Kendall, ACF). ONE definition for the
# Spark builder and ONE for the oracle CTE (r10 review: four pasted
# copies of each meant a month-index or cents-rounding fix had to land
# in eight places or the entries silently disagreed on their grain —
# the basket family's baskets_of() precedent).

_MONTHLY_M_CTE = f"""m AS (
      SELECT n.n_name AS nation,
             CAST((EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o.o_orderdate) - 1 AS BIGINT)
               AS x,
             CAST(sum({cents_sql("o.o_totalprice")})
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2)"""


def _monthly_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, x, y): month index x (months since 1995-01) and exact
    monthly revenue cents y per nation — the bounded post-agg grain
    (nations × months) every trend entry runs its pair/moment math on.
    The one row-scale operation the four entries share: orders joined
    to the customer→nation dims (nation broadcast), one hash agg.

    Entries that consume it from 3-4 independent subtrees (Theil-Sen's
    pair sides + month counts, Mann-Kendall's pair sides + tie
    spectrum, ACF's lag sides + moments) wrap it in ``pin`` — lazily
    each subtree re-executes the row-scale join+agg (r10; the grain
    is nations×months rows, so the pin is metadata-sized).
    Single-consumer entries (the OLS moments) do not — a pin job
    would only add a driver barrier."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("long").alias("x"),
        )
        .agg(
            F.sum(cents(F.col("o_totalprice")))
            .cast("long")
            .alias("y")
        )
    )


_TREND_SQL = """    WITH {m_cte},
    mom AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                  AS DECIMAL(38, 0)) AS syy
      FROM m GROUP BY 1),
    d AS (
      SELECT nation, n,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den,
             CAST(n AS DECIMAL(38, 0)) * syy
               - CAST(sy AS DECIMAL(38, 0)) * CAST(sy AS DECIMAL(38, 0))
               AS deny,
             sx, sy
      FROM mom)
    SELECT nation,
           n AS n_months,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
             AS slope_cents_per_month,
           (CAST(sy AS DOUBLE)
              - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             AS intercept_cents,
           (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) AS r2
    FROM d
    WHERE den <> 0 AND deny <> 0
""".format(m_cte=_MONTHLY_M_CTE)


@query("nation_revenue_trend", _TREND_SQL)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordinary-least-squares revenue trend: slope
    (cents/month), intercept, and R² of monthly revenue against a
    month index — grouped linear regression, the per-segment trend
    line every revenue dashboard fits.

    BIT-EXACT by construction, no rounding: the regression is computed
    from exact integer moment sums (Σx, Σy, Σxy, Σx² in longs; Σy² in
    decimal(38,0) — y is exact cents, so y² overflows a long), and
    doubles appear only at the FINAL casts, products and divisions
    (including num² in r2 — a double product, since a
    decimal(38,0)² would silently NULL past ~1e19 under Spark's
    non-ANSI overflow while DuckDB errors), which both engines
    perform identically on identical integers. The builtin
    regr_slope/regr_avg* aggregates would instead accumulate
    order-dependent floating partials — the same trap the catalog's
    cents convention exists to avoid.

    Scale: one hash agg to the (nation, month) grain (bounded:
    nations × months), one tiny agg to nation grain, closed-form
    arithmetic. No windows, no collects."""
    monthly = _monthly_nation_revenue(spark, sf_dir)
    mom = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(19,0)")
            * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("syy"),
    )
    d = mom.select(
        "nation",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("syy")
            - F.col("sy").cast("decimal(38,0)")
            * F.col("sy").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("deny"),
        "sx",
        "sy",
    ).filter((F.col("den") != 0) & (F.col("deny") != 0))
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    return d.select(
        "nation",
        F.col("n").alias("n_months"),
        slope.alias("slope_cents_per_month"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
        (
            # num² as a DOUBLE product, not decimal(38,0)×decimal(38,0):
            # Spark's non-ANSI decimal multiply silently NULLs past
            # ~1e19 while DuckDB errors (r9 ADVICE). The bigint→double
            # cast and the multiply are IEEE-identical in both engines,
            # so parity is preserved at every magnitude — r2 is a
            # quotient of doubles regardless.
            (F.col("num").cast("double") * F.col("num").cast("double"))
            / (F.col("den").cast("double") * F.col("deny").cast("double"))
        ).alias("r2"),
    )


_MW_SQL = """
    WITH q AS (
      SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_r,
             CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT)
               AS n_n
      FROM lineitem
      WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
      GROUP BY 1),
    c AS (
      SELECT qty, n_r, n_n,
             COALESCE(sum(n_n) OVER (ORDER BY qty
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below_n
      FROM q),
    u AS (
      SELECT CAST(sum(n_r) AS BIGINT) AS n_r,
             CAST(sum(n_n) AS BIGINT) AS n_n,
             sum(CAST(n_r AS DOUBLE) * (CAST(below_n AS DOUBLE)
                 + 0.5 * CAST(n_n AS DOUBLE))) AS u_r,
             CAST(sum(CAST(n_r + n_n AS HUGEINT)
                      * CAST(n_r + n_n AS HUGEINT)
                      * CAST(n_r + n_n AS HUGEINT)
                      - CAST(n_r + n_n AS HUGEINT))
                  AS DECIMAL(38, 0)) AS tie_cubes
      FROM c),
    zc AS (
      SELECT n_r, n_n, u_r,
             (u_r - (CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE)) / 2.0)
               / sqrt(NULLIF(
                   ((CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE)) / 12.0)
                   * ((CAST(n_r + n_n AS DOUBLE) + 1.0)
                      - CAST(tie_cubes AS DOUBLE)
                        / (CAST(n_r + n_n AS DOUBLE)
                           * (CAST(n_r + n_n AS DOUBLE) - 1.0))),
                   0.0)) AS z
      FROM u
      WHERE n_r > 0 AND n_n > 0)
    SELECT n_r, n_n, u_r,
           CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE) - u_r AS u_n,
           (2.0 * u_r) / (CAST(n_r AS DOUBLE) * CAST(n_n AS DOUBLE)) - 1.0
             AS rank_biserial,
           z,
           round({p_sql}, 4) AS p_two_sided
    FROM zc
""".format(p_sql=normal_p_sql("z"))


@query("mw_quantity_shift", _MW_SQL)
def mw_quantity_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test of distribution shift: does returned ('R')
    lineitem quantity stochastically dominate non-returned ('N')? —
    the standard nonparametric two-sample location test (Mann &
    Whitney 1947), here in its tie-corrected counting form. Output:
    group sizes, both U statistics, the rank-biserial effect size
    r = 2U_R/(n_R·n_N) − 1 (P(R>N) − P(N>R)), and (r10, VERDICT r9
    task #7) the significance readout a real analyst needs: the
    tie-corrected normal-approximation z statistic
    z = (U_R − n_R·n_N/2) / sqrt((n_R·n_N/12)·(N+1 − Σ(t³−t)/(N(N−1))))
    (no continuity correction; the tie spectrum Σ(t³−t) is one extra
    integer sum over the same count table) and the two-sided p-value
    2(1−Φ(|z|)) = erfc(|z|/√2) via the Abramowitz & Stegun 7.1.26
    polynomial (|error| < 1.5e-7 — both engines lack a builtin erf,
    so both evaluate the SAME closed form; p is rounded to 4 decimals
    because exp() is the one libm call whose last ulp may differ
    between the JVM and DuckDB's C runtime).

    Scale shape: U is computed from the COUNT-OF-VALUES table, never
    from ranks over the data — one conditional hash agg to the
    (quantity, side-counts) grain (bounded by the value domain: 50
    rows here; quantized buckets in general), a cumulative window over
    that bounded table, one final fold. The textbook rank-sum
    formulation would need a data-sized global sort; this is the
    identity U_R = Σ_q n_R(q)·(N_below(q) + ½·n_N(q)). Counts are
    exact integers; the ×0.5 terms are dyadic, so every double
    through u_r is exact, and z is bit-identical cross-engine (IEEE
    ops in one shared order; sqrt is correctly rounded)."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
        & F.col("l_quantity").isNotNull()
    )
    # floor, not cast: Spark cast truncates toward zero while DuckDB
    # CAST rounds-to-nearest — floor/floor makes the value bucketing
    # convention explicit and engine-identical (r10 review; integral
    # quantities are unaffected)
    qty = F.floor(F.col("l_quantity")).cast("long").alias("qty")
    q = li.groupBy(qty).agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("long")
        .alias("n_r"),
        F.count(F.when(F.col("l_returnflag") == "N", 1))
        .cast("long")
        .alias("n_n"),
    )
    w = (
        Window.orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = q.select(
        "qty",
        "n_r",
        "n_n",
        F.coalesce(F.sum("n_n").over(w), F.lit(0)).alias("below_n"),
    )
    _td = (F.col("n_r") + F.col("n_n")).cast("decimal(19,0)")
    u = c.agg(
        F.sum("n_r").cast("long").alias("n_r"),
        F.sum("n_n").cast("long").alias("n_n"),
        F.sum(
            F.col("n_r").cast("double")
            * (
                F.col("below_n").cast("double")
                + F.lit(0.5) * F.col("n_n").cast("double")
            )
        ).alias("u_r"),
        # decimal(38,0), not long: at sf10 a single value bucket holds
        # ~10⁶ rows, so Σ(t³−t) tops 10¹⁹ — past long, where Spark's
        # non-ANSI sum would silently wrap and DuckDB's HUGEINT sum
        # refuses the BIGINT cast (caught by the sf10 oracle sweep).
        # Same pattern as the OLS entry's Σy².
        F.sum(
            _td * _td * _td - _td
        ).cast("decimal(38,0)").alias("tie_cubes"),
    )
    prod = F.col("n_r").cast("double") * F.col("n_n").cast("double")
    nd = (F.col("n_r") + F.col("n_n")).cast("double")
    # identical op order to the oracle SQL: z is bit-exact cross-engine
    var_u = F.nullif(
        (prod / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - F.col("tie_cubes").cast("double")
            / (nd * (nd - F.lit(1.0)))
        ),
        F.lit(0.0),
    )
    zc = (
        u.filter((F.col("n_r") > 0) & (F.col("n_n") > 0))
        .withColumn("z", (F.col("u_r") - prod / F.lit(2.0)) / F.sqrt(var_u))
    )
    return zc.select(
        "n_r",
        "n_n",
        "u_r",
        (
            F.col("n_r").cast("double") * F.col("n_n").cast("double")
            - F.col("u_r")
        ).alias("u_n"),
        (
            F.lit(2.0) * F.col("u_r")
            / (F.col("n_r").cast("double") * F.col("n_n").cast("double"))
            - F.lit(1.0)
        ).alias("rank_biserial"),
        "z",
        F.round(normal_two_sided_p(F.col("z")), 4).alias("p_two_sided"),
    )


_KS_SQL = """
    WITH q AS (
      SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_r,
             CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT)
               AS n_n
      FROM lineitem
      WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
      GROUP BY 1),
    c AS (
      SELECT qty,
             sum(n_r) OVER (ORDER BY qty) AS cum_r,
             sum(n_n) OVER (ORDER BY qty) AS cum_n
      FROM q),
    tot AS (
      SELECT CAST(sum(n_r) AS BIGINT) AS n_r,
             CAST(sum(n_n) AS BIGINT) AS n_n
      FROM q),
    d AS (
      SELECT qty,
             abs(CAST(cum_r AS DOUBLE) / CAST(t.n_r AS DOUBLE)
                 - CAST(cum_n AS DOUBLE) / CAST(t.n_n AS DOUBLE)) AS dd
      FROM c CROSS JOIN tot t
      WHERE t.n_r > 0 AND t.n_n > 0),
    best AS (
      SELECT dd AS d_stat, qty AS d_at_qty
      FROM d ORDER BY dd DESC, qty LIMIT 1),
    lam AS (
      SELECT t.n_r, t.n_n, b.d_stat, b.d_at_qty,
             b.d_stat * sqrt(CAST(t.n_r AS DOUBLE)
                             * CAST(t.n_n AS DOUBLE)
                             / (CAST(t.n_r AS DOUBLE)
                                + CAST(t.n_n AS DOUBLE))) AS lambda_stat
      FROM tot t CROSS JOIN best b
      WHERE t.n_r > 0 AND t.n_n > 0)
    SELECT n_r, n_n, d_stat, d_at_qty, lambda_stat,
           round(least(1.0, 2.0
                 * (exp(-2.0 * (lambda_stat * lambda_stat))
                    - exp(-8.0 * (lambda_stat * lambda_stat))
                    + exp(-18.0 * (lambda_stat * lambda_stat)))), 4)
             AS p_asym
    FROM lam
"""


@query("ks_quantity_shift", _KS_SQL)
def ks_quantity_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test of returned ('R') vs
    non-returned ('N') lineitem quantity — the distribution-SHAPE
    companion to ``mw_quantity_shift``'s location test: D = max over
    the value domain of |F_R − F_N| (the largest CDF gap, with the
    quantity where it occurs), the scaled statistic
    λ = D·√(n_R·n_N/N), and the asymptotic two-sided p from the
    Kolmogorov distribution 2·Σ_{k≥1}(−1)^{k−1}e^{−2k²λ²} truncated
    at k=3 (remaining terms < e^{−32λ²}, far below the 4-decimal
    rounding; both engines evaluate the SAME truncated form, rounded
    because exp() may differ in the last ulp between libms).

    Scale shape (Kolmogorov 1933; Smirnov 1939): like the MW-U entry,
    everything derives from the COUNT-OF-VALUES table — one
    conditional hash agg bounded by the value domain, cumulative
    windows over that bounded table, a 1-row broadcast of the totals,
    and an argmax (ties to the smallest quantity). The empirical CDFs
    are ratios of exact integers, so D and λ are bit-identical
    cross-engine; no data-sized sort exists anywhere."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
        & F.col("l_quantity").isNotNull()
    )
    # floor, not cast: Spark cast truncates toward zero while DuckDB
    # CAST rounds-to-nearest — floor/floor makes the value bucketing
    # convention explicit and engine-identical (r10 review; integral
    # quantities are unaffected)
    qty = F.floor(F.col("l_quantity")).cast("long").alias("qty")
    q = li.groupBy(qty).agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("long")
        .alias("n_r"),
        F.count(F.when(F.col("l_returnflag") == "N", 1))
        .cast("long")
        .alias("n_n"),
    )
    w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, 0)
    c = q.select(
        "qty",
        F.sum("n_r").over(w).alias("cum_r"),
        F.sum("n_n").over(w).alias("cum_n"),
    )
    tot = q.agg(
        F.sum("n_r").cast("long").alias("t_r"),
        F.sum("n_n").cast("long").alias("t_n"),
    )
    d = (
        c.crossJoin(F.broadcast(tot))
        .filter((F.col("t_r") > 0) & (F.col("t_n") > 0))
        .select(
            "qty",
            "t_r",
            "t_n",
            F.abs(
                F.col("cum_r").cast("double") / F.col("t_r").cast("double")
                - F.col("cum_n").cast("double") / F.col("t_n").cast("double")
            ).alias("dd"),
        )
    )
    best = d.agg(
        F.max(F.struct(F.col("dd"), (-F.col("qty")).alias("nq"))).alias("b"),
        # t_r/t_n are constant across rows (1-row broadcast); max = the value
        F.max("t_r").alias("n_r"),
        F.max("t_n").alias("n_n"),
    ).select(
        "n_r",
        "n_n",
        F.col("b.dd").alias("d_stat"),
        (-F.col("b.nq")).cast("long").alias("d_at_qty"),
    )
    lam = (
        F.col("d_stat")
        * F.sqrt(
            F.col("n_r").cast("double")
            * F.col("n_n").cast("double")
            / (
                F.col("n_r").cast("double")
                + F.col("n_n").cast("double")
            )
        )
    )
    # empty input ⇒ the aggregate above yields one all-null row; drop
    # it so empty-in → empty-out matches the oracle (chi2 pattern)
    withlam = best.filter(F.col("d_stat").isNotNull()).withColumn(
        "lambda_stat", lam
    )
    l2 = F.col("lambda_stat") * F.col("lambda_stat")
    return withlam.select(
        "n_r",
        "n_n",
        "d_stat",
        "d_at_qty",
        "lambda_stat",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * (
                    F.exp(F.lit(-2.0) * l2)
                    - F.exp(F.lit(-8.0) * l2)
                    + F.exp(F.lit(-18.0) * l2)
                ),
            ),
            4,
        ).alias("p_asym"),
    )


_THEILSEN_SQL = """
    WITH {m_cte},
    pairs AS (
      SELECT a.nation,
             (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
               / (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) AS slope,
             a.x AS x1, b.x AS x2
      FROM m a JOIN m b ON b.nation = a.nation AND b.x > a.x),
    ranked AS (
      SELECT nation, slope,
             row_number() OVER (PARTITION BY nation
                                ORDER BY slope, x1, x2) AS rn,
             count(*) OVER (PARTITION BY nation) AS m_cnt
      FROM pairs),
    months AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_months
      FROM m GROUP BY 1),
    med AS (
      SELECT nation,
             CAST(max(m_cnt) AS BIGINT) AS n_pairs,
             avg(slope) AS theil_sen_slope_cents
      FROM ranked
      WHERE rn IN ((m_cnt + 1) // 2, (m_cnt + 2) // 2)
      GROUP BY nation)
    SELECT med.nation, months.n_months, med.n_pairs,
           med.theil_sen_slope_cents
    FROM med JOIN months ON months.nation = med.nation
""".format(m_cte=_MONTHLY_M_CTE)


@query("nation_revenue_theilsen", _THEILSEN_SQL)
def nation_revenue_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation: the MEDIAN of all pairwise
    slopes (y_j−y_i)/(x_j−x_i) over each nation's monthly revenue
    series (Theil 1950; Sen 1968) — the robust companion to
    ``nation_revenue_trend``'s OLS: one wild month (a backfill, an
    outage) drags a least-squares slope arbitrarily far but moves the
    pairwise-slope median almost not at all (29% breakdown point).

    Exactness: monthly y is exact cents, x an exact month index, so
    every pairwise slope is one IEEE division of exact integers —
    bit-identical cross-engine — and the exact median (mean of the two
    middle slopes under a deterministic (slope, x1, x2) total order)
    is bit-identical too. No rounding anywhere.

    Scale shape: the pair join runs at the (nation, month) POST-AGG
    grain — ≤ C(months,2) ≈ 7k pairs per nation for a decade of
    months, bounded regardless of row scale — so the O(n²) that makes
    textbook Theil-Sen infeasible on raw data never touches the data:
    one hash agg to the bounded grain, a grain-local self-join, a
    grain-local rank window. The same posture as the OLS entry: the
    100-TB cost is the first aggregation, everything after is
    metadata-sized."""
    monthly = pin(_monthly_nation_revenue(spark, sf_dir))
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(
        b,
        (F.col("b.nation") == F.col("a.nation"))
        & (F.col("b.x") > F.col("a.x")),
    ).select(
        F.col("a.nation").alias("nation"),
        (
            (F.col("b.y").cast("double") - F.col("a.y").cast("double"))
            / (F.col("b.x").cast("double") - F.col("a.x").cast("double"))
        ).alias("slope"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    )
    wr = Window.partitionBy("nation").orderBy("slope", "x1", "x2")
    wc = Window.partitionBy("nation")
    ranked = pairs.select(
        "nation",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("m_cnt"),
    )
    months = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_months")
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("m_cnt") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("m_cnt") + 2) / 2))
        )
        .groupBy("nation")
        .agg(
            F.max("m_cnt").cast("long").alias("n_pairs"),
            F.avg("slope").alias("theil_sen_slope_cents"),
        )
    )
    return med.join(months, "nation").select(
        "nation", "n_months", "n_pairs", "theil_sen_slope_cents"
    )


_MK_SQL = """
    WITH {m_cte},
    pairs AS (
      SELECT a.nation,
             CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      FROM m a JOIN m b ON b.nation = a.nation AND b.x > a.x),
    s AS (
      SELECT nation, CAST(sum(sgn) AS BIGINT) AS s_stat
      FROM pairs GROUP BY 1),
    nm AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_months
      FROM m GROUP BY 1),
    ties AS (
      SELECT nation,
             CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tt
      FROM (SELECT nation, y, count(*) AS t FROM m GROUP BY 1, 2)
      GROUP BY 1),
    v AS (
      SELECT nm.nation, nm.n_months, s.s_stat,
             CAST(nm.n_months * (nm.n_months - 1)
                  * (2 * nm.n_months + 5) - ties.tt AS DOUBLE) / 18.0
               AS var_s
      FROM nm
      JOIN s ON s.nation = nm.nation
      JOIN ties ON ties.nation = nm.nation),
    zc AS (
      SELECT nation, n_months, s_stat,
             CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END AS z
      FROM v WHERE var_s > 0)
    SELECT nation, n_months, s_stat, z,
           round({p_sql}, 4) AS p_two_sided,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM zc
""".format(p_sql=normal_p_sql("z"), m_cte=_MONTHLY_M_CTE)


@query("nation_revenue_mannkendall", _MK_SQL)
def nation_revenue_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per nation (Mann 1945; Kendall 1975):
    S = Σ_{i<j} sign(y_j − y_i) over each monthly revenue series, the
    tie-corrected variance Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18,
    the continuity-corrected z, the two-sided p (shared A&S erfc,
    ``functions/core.py::normal_two_sided_p``), and the trend verdict
    — the SIGNIFICANCE companion to ``nation_revenue_theilsen``'s
    robust slope: Theil-Sen says how steep, Mann-Kendall says whether
    the monotone trend is real, and both are immune to the outlier
    months that poison the OLS pair.

    Exactness: S and both tie/variance polynomials are exact integer
    arithmetic (y is exact cents, so sign comparisons are exact); the
    single division by 18 and the z quotient are IEEE-identical
    cross-engine; only p is rounded (r4, exp ulp).

    Scale shape: identical to Theil-Sen — the pair comparison runs at
    the bounded (nation, month) POST-AGG grain (≤ C(months,2) pairs
    per nation), after one hash agg that is the only row-scale work.
    The tie spectrum is a second tiny agg at the (nation, y) grain."""
    monthly = pin(_monthly_nation_revenue(spark, sf_dir))
    a = monthly.alias("a")
    b = monthly.alias("b")
    sgn = (
        F.when(F.col("b.y") > F.col("a.y"), F.lit(1))
        .when(F.col("b.y") < F.col("a.y"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(
            b,
            (F.col("b.nation") == F.col("a.nation"))
            & (F.col("b.x") > F.col("a.x")),
        )
        .groupBy(F.col("a.nation").alias("nation"))
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    nm = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_months")
    )
    ties = (
        monthly.groupBy("nation", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("nation")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = (
        nm.join(s, "nation")
        .join(ties, "nation")
        .select(
            "nation",
            "n_months",
            "s_stat",
            (
                (
                    F.col("n_months")
                    * (F.col("n_months") - 1)
                    * (2 * F.col("n_months") + 5)
                    - F.col("tt")
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
        .filter(F.col("var_s") > 0)
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0))
            / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0))
            / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    zc = v.withColumn("z", z)
    return zc.select(
        "nation",
        "n_months",
        "s_stat",
        "z",
        F.round(normal_two_sided_p(F.col("z")), 4).alias("p_two_sided"),
        F.when(F.col("s_stat") > 0, F.lit("increasing"))
        .when(F.col("s_stat") < 0, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


_ACF_MAX_LAG = 3

_ACF_SQL = f"""
    WITH {_MONTHLY_M_CTE},
    mom AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                  AS DECIMAL(38, 0)) AS syy
      FROM m GROUP BY 1),
    cross_k AS (
      SELECT a.nation,
             CAST(b.x - a.x AS BIGINT) AS lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(a.y AS HUGEINT) * CAST(b.y AS HUGEINT))
                  AS DECIMAL(38, 0)) AS sxy,
             CAST(sum(a.y) AS BIGINT) AS s_head,
             CAST(sum(b.y) AS BIGINT) AS s_tail
      FROM m a
      JOIN m b ON b.nation = a.nation
               AND b.x - a.x BETWEEN 1 AND {_ACF_MAX_LAG}
      GROUP BY 1, 2),
    j AS (
      SELECT c.nation, c.lag, c.n_pairs,
             CAST(mom.sy AS DOUBLE) / CAST(mom.n AS DOUBLE) AS ybar,
             CAST(c.sxy AS DOUBLE) AS sxy,
             CAST(c.s_head AS DOUBLE) AS s_head,
             CAST(c.s_tail AS DOUBLE) AS s_tail,
             CAST(mom.n AS DOUBLE) AS nd,
             CAST(mom.syy AS DOUBLE) AS syy,
             CAST(mom.sy AS DOUBLE) AS sy
      FROM cross_k c JOIN mom ON mom.nation = c.nation)
    SELECT nation, lag, n_pairs,
           (sxy - ybar * s_head - ybar * s_tail
              + CAST(n_pairs AS DOUBLE) * (ybar * ybar))
             / (syy - sy * ybar) AS acf
    FROM j
    WHERE syy - sy * ybar > 0
"""


@query("nation_revenue_acf", _ACF_SQL)
def nation_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{L} autocorrelation of each nation's monthly revenue
    (Box & Jenkins ACF, exact-moment form): r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ)
    / Σ(y_t−ȳ)², expanded so every data-dependent sum is EXACT integer
    arithmetic — the lagged cross products Σy_t·y_{t+k} and Σy² in
    decimal(38,0) (y is exact cents; products top 10³⁰ at scale), the
    partial head/tail sums in longs — and the mean-centering happens
    in a closed-form double expression both engines evaluate in the
    same IEEE order, so the result is bit-identical with no rounding.
    Lag pairs come from the calendar month index: a missing month
    contributes no pair at that lag (documented; the series here are
    dense).

    The seasonality readout the monthly dashboards hint at but never
    quantify: r_12 ≫ 0 would say "this December looks like last
    December"; r_1 says how sticky month-over-month revenue is.

    Scale shape: one hash agg to the bounded (nation, month) grain,
    then a grain-local range self-join (≤ {L} pairs per month) and two
    tiny aggs — the Theil-Sen/Mann-Kendall posture: row-scale work is
    exactly one aggregation, everything after is metadata-sized."""
    monthly = pin(_monthly_nation_revenue(spark, sf_dir))
    y19 = F.col("y").cast("decimal(19,0)")
    mom = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(y19 * y19).cast("decimal(38,0)").alias("syy"),
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    ay19 = F.col("a.y").cast("decimal(19,0)")
    by19 = F.col("b.y").cast("decimal(19,0)")
    cross_k = (
        a.join(
            b,
            (F.col("b.nation") == F.col("a.nation"))
            & (F.col("b.x") - F.col("a.x")).between(1, _ACF_MAX_LAG),
        )
        .groupBy(
            F.col("a.nation").alias("nation"),
            (F.col("b.x") - F.col("a.x")).cast("long").alias("lag"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(ay19 * by19).cast("decimal(38,0)").alias("sxy"),
            F.sum("a.y").cast("long").alias("s_head"),
            F.sum("b.y").cast("long").alias("s_tail"),
        )
    )
    j = cross_k.join(mom, "nation").select(
        "nation",
        "lag",
        "n_pairs",
        (F.col("sy").cast("double") / F.col("n").cast("double")).alias(
            "ybar"
        ),
        F.col("sxy").cast("double").alias("sxyd"),
        F.col("s_head").cast("double").alias("s_headd"),
        F.col("s_tail").cast("double").alias("s_taild"),
        F.col("syy").cast("double").alias("syyd"),
        F.col("sy").cast("double").alias("syd"),
    )
    denom = F.col("syyd") - F.col("syd") * F.col("ybar")
    return (
        j.filter(denom > 0)
        .select(
            "nation",
            "lag",
            "n_pairs",
            (
                (
                    F.col("sxyd")
                    - F.col("ybar") * F.col("s_headd")
                    - F.col("ybar") * F.col("s_taild")
                    + F.col("n_pairs").cast("double")
                    * (F.col("ybar") * F.col("ybar"))
                )
                / denom
            ).alias("acf"),
        )
    )


nation_revenue_acf.__doc__ = nation_revenue_acf.__doc__.replace(
    "{L}", str(_ACF_MAX_LAG)
)
